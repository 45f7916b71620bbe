"""Correctness checks, run after each timed region and never inside one.

- exactly-once accounting: the rows named by the commit markers equal the
  input rows, the committed data holds that many rows, and no
  (doc_id, seq_no) key appears twice;
- a seeded sample of committed rows is recomputed with
  `reference_kernels.remove_watermark_multi_pass` and compared token for
  token;
- the headline queries are compared row for row with their DuckDB oracles
  over views of the same parquet files.

Every check reads the engine's output with pyarrow or DuckDB, not Spark,
so it adds no load to the session being measured.
"""

from __future__ import annotations

import glob
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_watermark_removal_otsu_inpaint_spark import reference_kernels as rk


def committed_dirs(out_dir: str) -> list[str]:
    markers = glob.glob(os.path.join(out_dir, "_commits", "*.json"))
    ids = sorted(int(os.path.basename(m)[:-5]) for m in markers)
    return [os.path.join(out_dir, "data", f"batch_id={b}") for b in ids]


def read_committed(out_dir: str, columns: list[str], filters=None):
    """Committed rows of an ExactlyOnceParquetSink directory as one Arrow
    table (batches without a marker are invisible, as for any reader),
    optionally only those matching pyarrow `filters`."""
    tables = []
    for d in committed_dirs(out_dir):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        tables.extend(pq.read_table(f, columns=columns, filters=filters)
                      for f in files)
    if not tables:
        return None
    return pa.concat_tables(tables)


def stream_accounting(out_dir: str, expected_rows: int) -> list[str]:
    """Problems with an exactly-once output directory (empty when sound)."""
    problems = []
    marker_rows = 0
    for m in glob.glob(os.path.join(out_dir, "_commits", "*.json")):
        with open(m) as f:
            marker_rows += int(json.load(f)["rows"])
    if marker_rows != expected_rows:
        problems.append(f"commit markers name {marker_rows} rows, "
                        f"input has {expected_rows}")
    keys = read_committed(out_dir, ["doc_id", "seq_no"])
    n = 0 if keys is None else keys.num_rows
    if n != expected_rows:
        problems.append(f"committed data holds {n} rows, "
                        f"input has {expected_rows}")
    if keys is not None:
        distinct = keys.group_by(["doc_id", "seq_no"]).aggregate([]).num_rows
        if distinct != n:
            problems.append(f"{n - distinct} duplicate (doc_id, seq_no) keys")
    return problems


def _sample_keys(keys, seed: int, k: int) -> list[tuple]:
    rng = np.random.default_rng([seed, 4])
    idx = rng.choice(keys.num_rows, size=min(k, keys.num_rows),
                     replace=False)
    docs = keys.column("doc_id").to_pylist()
    seqs = keys.column("seq_no").to_pylist()
    return sorted((docs[i], seqs[i]) for i in idx)


def _index(table, value_col: str):
    """((doc_id, seq_no) -> row index, the value column)."""
    docs = table.column("doc_id").to_pylist()
    seqs = table.column("seq_no").to_pylist()
    vals = table.column(value_col)
    return {(d, s): i for i, (d, s) in enumerate(zip(docs, seqs))}, vals


def reference_sample_packed(input_dir: str, out_dir: str, seed: int,
                            k: int, passes: int) -> tuple[int, int]:
    """(rows sampled, mismatches) for the Arrow-packed kernel's output:
    each sampled row must equal remove_watermark_multi_pass on its input."""
    keys = read_committed(out_dir, ["doc_id", "seq_no"])
    if keys is None:
        return 0, 0
    sample = _sample_keys(keys, seed, k)
    # read the token blobs of the sampled docs only
    docs = [("doc_id", "in", sorted({d for d, _ in sample}))]
    cols = ["doc_id", "seq_no", "tokens_bin"]
    out = read_committed(out_dir, cols, filters=docs)
    inp = pq.read_table(input_dir, columns=cols, filters=docs)
    in_idx, in_vals = _index(inp, "tokens_bin")
    out_idx, out_vals = _index(out, "tokens_bin")
    bad = 0
    for key in sample:
        tokens = np.frombuffer(in_vals[in_idx[key]].as_py(), dtype="<i4")
        got = np.frombuffer(out_vals[out_idx[key]].as_py(), dtype="<i4")
        want = rk.remove_watermark_multi_pass(tokens, passes=passes)[0]
        bad += int(not np.array_equal(got, want))
    return len(sample), bad


def reference_sample_chain(input_dir: str, out_dir: str, seed: int,
                           k: int) -> tuple[int, int]:
    """(rows sampled, mismatches) for the stateful chain's output. The
    chain caches each doc's watermark token in state, so the reference
    runs one pass with the token the row was committed with; a row
    committed without one must come out of a fresh detection unchanged."""
    out = read_committed(out_dir, ["doc_id", "seq_no", "tokens", "wm_token"])
    if out is None:
        return 0, 0
    inp = pq.read_table(input_dir, columns=["doc_id", "seq_no", "tokens"])
    in_idx, in_vals = _index(inp, "tokens")
    out_idx, out_vals = _index(out, "tokens")
    wms = out.column("wm_token").to_pylist()
    bad = 0
    sample = _sample_keys(out, seed, k)
    for key in sample:
        tokens = np.asarray(in_vals[in_idx[key]].as_py(), dtype=np.int32)
        got = np.asarray(out_vals[out_idx[key]].as_py(), dtype=np.int32)
        want = rk.remove_watermark_multi_pass(
            tokens, passes=1, wm_token=wms[out_idx[key]])[0]
        bad += int(not np.array_equal(got, want))
    return len(sample), bad


def reference_sample_text(tables_dir: str, q40_rows: list[dict], seed: int,
                          k: int, passes: int, min_run: int
                          ) -> tuple[int, int]:
    """(docs sampled, mismatches) for the fused text kernel (headline query
    q40): its per-doc token sum, watermark token and pass count must equal
    the reference run over the doc's UTF-8 bytes as char tokens."""
    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pylist()
    text = {d["doc_id"]: d["text"] for d in docs}
    by_doc = {r["doc_id"]: r for r in q40_rows}
    rng = np.random.default_rng([seed, 5])
    ids = sorted(by_doc)
    sample = [ids[i] for i in rng.choice(len(ids), min(k, len(ids)),
                                         replace=False)]
    bad = 0
    for d in sample:
        toks = np.frombuffer(text[d].encode("utf-8"),
                             dtype=np.uint8).astype(np.int32)
        rep, n_pass, _, wm = rk.remove_watermark_multi_pass(
            toks, passes=passes, min_run=min_run)
        r = by_doc[d]
        ok = (int(rep.sum()) == r["token_sum"] and n_pass == r["pass_count"]
              and wm == r["wm_token"])
        bad += int(not ok)
    return len(sample), bad


# --- headline oracles -------------------------------------------------------
def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalized(rows, cols) -> list[tuple]:
    """Order-insensitive, column-order-insensitive row set with floats
    printed to 6 decimals (the repository's oracle comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows),
                  key=repr)


def duckdb_views(tables_dir: str, tables):
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    return con


def sample_docs(con, tables_dir: str, rows, cols, seed: int,
                k: int) -> list:
    """Point the `documents` view at a seeded sample of `k` documents and
    return the rows of `rows` (one per doc_id) for those documents."""
    ids = sorted(r[cols.index("doc_id")] for r in rows)
    rng = np.random.default_rng([seed, 6])
    keep = sorted(int(ids[i]) for i in rng.choice(len(ids), min(k, len(ids)),
                                                  replace=False))
    path = os.path.join(tables_dir, "documents.parquet")
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"'{path}' WHERE doc_id IN ({', '.join(map(str, keep))})")
    keep = set(keep)
    return [r for r in rows if r[cols.index("doc_id")] in keep]


def all_docs(con, tables_dir: str) -> None:
    """Point the `documents` view back at every document."""
    path = os.path.join(tables_dir, "documents.parquet")
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{path}'")


def oracle_mismatch(con, oracle_sql: str, rows, cols) -> str | None:
    """None when the Spark rows equal the oracle's, else a short reason."""
    res = con.execute(oracle_sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    if normalized(rows, cols) != normalized(orows, ocols):
        return "row values differ from the oracle"
    return None
