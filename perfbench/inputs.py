"""Seeded benchmark inputs, generated outside every timed region.

Each generator is a pure function of (seed, size): the same seed gives the
same bytes. Results are cached on disk under the work root keyed by
(kind, seed, size), with a `.complete` marker written last so a killed
generator never leaves a half-written input behind, and the cache is pruned
to the few most recent entries so runs over many seeds do not fill the disk.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEEP_CACHED = 3          # most-recent entries kept per input kind
N_TOK = 2048             # tokens per row of the packed table
ROWS_PER_DOC = 16        # the packed table has about 16 rows per doc
EPOCH_S = 1767225600     # 2026-01-01 00:00:00 UTC


def _cached(work: str, kind: str, seed: int, size: str, build) -> str:
    """Directory holding input `kind` for (seed, size), built on a miss."""
    root = os.path.join(work, "inputs")
    path = os.path.join(root, f"{kind}_s{seed}_{size}")
    marker = os.path.join(path, ".complete")
    if os.path.exists(marker):
        os.utime(marker)          # mark as recently used for pruning
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    open(marker, "w").close()
    _prune(root, kind)
    return path


def _prune(root: str, kind: str) -> None:
    entries = []
    for name in os.listdir(root):
        marker = os.path.join(root, name, ".complete")
        if name.startswith(kind + "_s") and os.path.exists(marker):
            entries.append((os.path.getmtime(marker), name))
    for _, name in sorted(entries, reverse=True)[KEEP_CACHED:]:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)


# ---------------------------------------------------------------------------
# Packed 2048-token table (exactly_once)
# ---------------------------------------------------------------------------
def token_matrix(rng: np.random.Generator, n_rows: int,
                 n_tok: int = N_TOK) -> np.ndarray:
    """(n_rows, n_tok) int32 rows in the shape of `sources.synth`: a
    251..255 noise background, one watermark span of 20% of the row and
    two short text spans of token 0 inside it. The seed moves the span, picks
    the watermark token from {190, 200, 210} and draws the noise, so every
    row is contaminated and detection has work on every row."""
    toks = rng.integers(251, 256, size=(n_rows, n_tok), dtype=np.int32)
    span = int(0.20 * n_tok)
    lo = rng.integers(int(0.02 * n_tok), int(0.06 * n_tok), n_rows)
    wm = rng.choice(np.array([190, 200, 210], dtype=np.int32), n_rows)
    pos = np.arange(n_tok)[None, :]
    rel = pos - lo[:, None]
    toks = np.where((rel >= 0) & (rel < span), wm[:, None], toks)
    for a, b in ((0.30, 0.335), (0.70, 0.735)):
        toks[(rel >= int(a * span)) & (rel < int(b * span))] = 0
    return toks


def _packed(rows: np.ndarray) -> pa.BinaryArray:
    """Row-major int32 matrix -> little-endian `tokens_bin` blobs."""
    n, n_tok = rows.shape
    offsets = np.arange(n + 1, dtype=np.int32) * (n_tok * 4)
    data = np.ascontiguousarray(rows, dtype="<i4")
    return pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def packed_table(work: str, seed: int, n_rows: int, files: int) -> str:
    """Parquet directory of `files` equal files with the columns the
    Arrow-packed kernel and the exactly-once sink read:
    (doc_id, n_tok, source, event_ts, seq_no, tokens_bin). (doc_id, seq_no)
    is unique. File modification times increase with the file number, so a
    file stream reads them in order."""
    def build(path):
        rng = np.random.default_rng([seed, 1])
        n_docs = max(1, n_rows // ROWS_PER_DOC)
        ids = rng.permutation(n_rows)
        doc, seq = ids % n_docs, ids // n_docs
        heavy = rng.random(n_rows) < 0.6
        per = n_rows // files
        for f in range(files):
            sl = slice(f * per, n_rows if f == files - 1 else (f + 1) * per)
            d, s = doc[sl], seq[sl]
            n = d.size
            table = pa.table({
                "doc_id": pa.array([f"doc{x:06d}" for x in d]),
                "n_tok": pa.array(np.full(n, N_TOK, dtype=np.int32)),
                "source": pa.array(
                    np.where(heavy[sl], "web",
                             np.char.add("src", (d % 10).astype(str)))),
                "event_ts": pa.array(
                    (EPOCH_S + d * 997 + s * 7).astype("datetime64[s]")
                    .astype("datetime64[us]")),
                "seq_no": pa.array(s.astype(np.int64)),
                "tokens_bin": _packed(token_matrix(rng, n)),
            })
            _write_ordered(table, path, f)
    return _cached(work, "packed", seed, f"{n_rows}x{files}", build)


def _write_ordered(table: pa.Table, path: str, f: int) -> None:
    out = os.path.join(path, f"part-{f:04d}.parquet")
    pq.write_table(table, out)
    stamp = 1_000_000_000 + f
    os.utime(out, (stamp, stamp))


def bare_batch(seed: int, n_rows: int = 1024):
    """One seeded in-memory batch for the Spark-free kernel call:
    (flat int32 tokens, int64 row offsets)."""
    rng = np.random.default_rng([seed, 2])
    rows = token_matrix(rng, n_rows)
    offsets = np.arange(n_rows + 1, dtype=np.int64) * rows.shape[1]
    return rows.reshape(-1), offsets


# ---------------------------------------------------------------------------
# Mixed-scenario backlog (stateful_chain)
# ---------------------------------------------------------------------------
def chain_backlog(work: str, seed: int, n_rows: int, files: int) -> str:
    """`sources.sequences.generate_rows` rows (the 11 scenarios plus clean
    rows, 256..4096 tokens, about 4 rows per doc) in the stream schema
    `pipeline.SEQ_SCHEMA`, sorted by event time and cut into `files`
    files. A file stream with one file per trigger then runs `files` data
    micro-batches, and no row is behind the watermark when it arrives, so
    every input row must reach the sink."""
    from pdf_watermark_removal_otsu_inpaint_spark.sources.sequences import (
        generate_rows)

    def build(path):
        rows = generate_rows(n_rows, seed=seed)
        rows.sort(key=lambda r: (r["event_ts"], r["doc_id"], r["seq_no"]))
        per = -(-n_rows // files)
        for f in range(files):
            part = rows[f * per:(f + 1) * per]
            table = pa.table({
                "doc_id": pa.array([r["doc_id"] for r in part]),
                "tokens": pa.array([r["tokens"] for r in part],
                                   type=pa.list_(pa.int32())),
                "n_tok": pa.array([r["n_tok"] for r in part],
                                  type=pa.int32()),
                "source": pa.array([r["source"] for r in part]),
                "event_ts": pa.array([r["event_ts"] for r in part],
                                     type=pa.timestamp("us")),
                "seq_no": pa.array([r["seq_no"] for r in part],
                                   type=pa.int64()),
            })
            _write_ordered(table, path, f)
    return _cached(work, "chain", seed, f"{n_rows}x{files}", build)


# ---------------------------------------------------------------------------
# Star-schema tables for the headline queries (headline_sql)
# ---------------------------------------------------------------------------
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big customer "
         "query group stream filter vector").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
HEADLINE_TABLES = ("nation", "customer", "orders", "lineitem", "events",
                   "embeddings", "documents")


def _days(rng, n, start: datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def headline_tables(work: str, seed: int, scale: int) -> str:
    """The seven tables the 12 headline queries read, with the schemas and
    value ranges of the repository's TPC-H-like test data: `scale` lineitem
    rows, a quarter as many orders, a fortieth as many customers, a sixth as
    many events, a 120th as many documents and a 300th as many embeddings
    (scale=600000 gives the row counts of the sf0.1 data set)."""
    def build(path):
        rng = np.random.default_rng([seed, 3])
        n_li = scale
        n_ord, n_cust = scale // 4, scale // 40
        n_ev, n_doc, n_emb = scale // 6, max(50, scale // 120), scale // 300

        def put(name, cols):
            pq.write_table(pa.table(cols), os.path.join(path,
                                                       f"{name}.parquet"))

        put("nation", {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
        put("customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust,
                                                 dtype=np.int32)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
        put("orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
        put("lineitem", {
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, 2000, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, 100, n_li, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li,
                                                  dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), 2498)})
        # unique microsecond timestamps over January 2024
        span_us = 30 * 86400 * 10**6
        ts_us = np.sort(rng.choice(span_us, n_ev, replace=False))
        put("events", {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us")
                           + rng.permutation(ts_us).astype("timedelta64[us]")),
            "user_id": rng.integers(0, 150, n_ev, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
        emb = rng.normal(0.0, 0.15, (n_emb, 64)).astype(np.float32)
        put("embeddings", {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), 64).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
        texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 110))))
                 for _ in range(n_doc)]
        put("documents", {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc).tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return _cached(work, "headline", seed, str(scale), build)


def parquet_bytes(path: str) -> int:
    """Total size of the parquet files under `path`."""
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names
                     if n.endswith(".parquet"))
    return total


def parquet_rows(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
                     for n in names if n.endswith(".parquet"))
    return total

