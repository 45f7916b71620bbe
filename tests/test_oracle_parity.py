"""Local replica of the driver's correctness gate: run every registered
Spark query at sf0.01 and diff it against its DuckDB oracle (row count,
sorted column names, order-insensitive values)."""

import math
import os

import duckdb
import pytest

from pdf_watermark_removal_otsu_inpaint_spark.plans.queries import ORACLES, QUERIES

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS "
                    f"SELECT * FROM '{SF_DIR}/{tbl}.parquet'")
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style value normalization: fixed decimal print
        return f"{v:.6f}"
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def _type_class(t):
    """Arrow type -> driver-visible class. The driver's canonical hash is
    type-sensitive (a DuckDB HUGEINT/decimal sum renders differently than an
    int64), so decimal must NOT normalize to integer here."""
    import pyarrow.types as pt
    for cls, pred in (("int", pt.is_integer), ("float", pt.is_floating),
                      ("decimal", pt.is_decimal), ("bool", pt.is_boolean),
                      ("str", pt.is_string), ("ts", pt.is_timestamp),
                      ("date", pt.is_date), ("bin", pt.is_binary),
                      ("list", lambda x: pt.is_list(x) or pt.is_large_list(x))):
        if pred(t):
            return cls
    return str(t)


def _assert_matches_oracle(sdf, con, name):
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    ores = con.execute(ORACLES[name])
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    # Arrow-level type classes must agree (reproduces the driver gate's
    # type-sensitive hash: HUGEINT vs BIGINT is a FAIL even if values match)
    stypes = {f.name: _type_class(f.type) for f in sdf.toArrow().schema}
    otypes = {f.name: _type_class(f.type)
              for f in con.execute(ORACLES[name]).fetch_arrow_table().schema}
    bad = {c: (stypes[c], otypes[c]) for c in stypes
           if stypes[c] != otypes.get(c)}
    assert not bad, f"{name}: arrow type-class mismatch {bad}"
    assert len(srows) == len(orows), (
        f"{name}: row count {len(srows)} vs oracle {len(orows)}")
    sn, on = _norm(srows, scols), _norm(orows, ocols)
    mism = [i for i, (a, b) in enumerate(zip(sn, on)) if a != b]
    assert not mism, (f"{name}: {len(mism)} mismatched rows; first: "
                      f"{sn[mism[0]]} vs {on[mism[0]]}")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    _assert_matches_oracle(QUERIES[name](spark, SF_DIR), ddb, name)


CHAR_TOKEN_DOCS = [
    (1, "ABC 123 " * 40 + "\u0170" * 25, "a"),     # 'Ű' 368: wm 112
    (2, "", "a"),
    (3, "", "b"),                                 # a source's first doc
    (4, "LOREM IPSUM 42 " * 20 + "\u2084" * 30 + " DOLOR SIT 7" * 20, "b"),
    (5, "\U0001F680" * 20 + "PLAIN ASCII TEXT " * 10, "c"),
    (6, None, "c"),
]


def _assert_matches_oracle_on_docs(spark, tmp_path, name, docs):
    """`name` over a documents table holding only `docs`, (doc_id, text,
    source) triples, against its oracle over the same file."""
    path = str(tmp_path / "documents.parquet")
    (spark.createDataFrame(
        [(i, text, "en", src, len(text or "")) for i, text, src in docs],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
     .coalesce(1).write.parquet(path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    try:
        _assert_matches_oracle(QUERIES[name](spark, str(tmp_path)), con,
                               name)
    finally:
        con.close()


@pytest.mark.parametrize("name", ["q36_auto_detect_masks",
                                  "q37_profiled_repair",
                                  "q38_otsu_repair",
                                  "q40_repair_char_tokens",
                                  "q41_detect_char_masks",
                                  "q42_doc_profiles",
                                  "q50_marker_merged_repair"])
def test_char_token_oracle_on_non_ascii_and_empty_text(spark, tmp_path,
                                                       name):
    """The char-token oracles tokenize as the engine does: ascii() code
    points, value classes mod 256 (the inpaint keeps the full values), an
    empty text as one token 0 and a NULL text as no tokens. The test data
    is ASCII with no empty text, so the 50/50 gate cannot see this."""
    _assert_matches_oracle_on_docs(spark, tmp_path, name, CHAR_TOKEN_DOCS)


def test_multimodal_features_on_null_and_empty_text(spark, tmp_path):
    """q43 keeps a NULL text's row with NULL features (NULL in, NULL out)
    and gives an empty or short text's empty buckets mean 0, in the engine
    and in the oracle alike. ASCII only: the payload is UTF-8 bytes."""
    docs = [(1, "PLAIN ASCII TEXT " * 12, "a"), (2, "", "a"),
            (3, None, "b"), (4, "abc", "b"), (5, "watermark hash 42", "c")]
    _assert_matches_oracle_on_docs(spark, tmp_path,
                                   "q43_multimodal_features", docs)


def test_every_registered_query_has_an_oracle():
    """Since round 4 the rows-only set is EMPTY: all 50 registered queries
    carry full DuckDB oracles (q37/q40/q47 were the last holdouts). This
    replaces the old rows-only smoke test, whose parameter set is now
    empty — a regression that reintroduces an oracle-less query fails
    here loudly instead of silently skipping."""
    assert set(QUERIES) == set(ORACLES), (
        f"queries without oracles: {sorted(set(QUERIES) - set(ORACLES))}")
    assert len(QUERIES) == 50


def test_q24_zero_norm_vector_matches_oracle(spark, tmp_path):
    """q24 on data CONTAINING a zero-norm vector must still hash-match the
    oracle. Naive cos = dot/na/nb yields NaN there, and the two engines
    rank NaN incompatibly (pandas NaN crosses the Arrow boundary as SQL
    NULL, which Spark's DESC ranks LAST, while DuckDB's NaN ranks FIRST) —
    both sides therefore pin the zero-norm convention cos = 0.0."""
    import math

    import duckdb

    zero = [0.0, 0.0, 0.0, 0.0]
    rows = [(i, [float(i + 1), 1.0, 0.0, 0.0] if i != 7 else zero, i % 3)
            for i in range(10)]
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>, "
                                 "label int")
     .coalesce(2).write.mode("overwrite")
     .parquet(str(tmp_path / "embeddings.parquet")))
    sdf = QUERIES["q24_cosine_topk"](spark, str(tmp_path))
    srows = sorted(tuple(r) for r in sdf.collect())
    assert all(not math.isnan(r[2]) for r in srows), "NaN leaked into cos"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{tmp_path}/embeddings.parquet/*.parquet'")
    orows = sorted(tuple(r) for r in
                   con.execute(ORACLES["q24_cosine_topk"]).fetchall())
    con.close()
    assert srows == orows
