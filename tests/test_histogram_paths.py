"""A1 vs A1b: the explode+partial-agg histogram and the bincount-vector
mapInArrow histogram must produce identical results — same groups, same
bins, same counts — on real tables and synthetic sequences."""

from pyspark.sql import functions as F

from pdf_watermark_removal_otsu_inpaint_spark.operators.histogram import (
    token_histogram, token_histogram_bincount)
from pdf_watermark_removal_otsu_inpaint_spark.sources.sequences import (
    sequences_df)


def _as_dict(rows, keys):
    return {tuple(getattr(r, k) for k in keys) + (r.tok,): r.cnt
            for r in rows}


def test_bincount_path_matches_explode_path(spark):
    df = sequences_df(spark, 120, seed=21)
    a = _as_dict(token_histogram(df, ["source"]).collect(), ["source"])
    b = _as_dict(token_histogram_bincount(df, ["source"]).collect(),
                 ["source"])
    assert a == b and len(a) > 0


def test_bincount_path_multi_group_cols(spark):
    df = sequences_df(spark, 80, seed=22)
    keys = ["source", "doc_id"]
    a = _as_dict(token_histogram(df, keys).collect(), keys)
    b = _as_dict(token_histogram_bincount(df, keys).collect(), keys)
    assert a == b and len(a) > 0


def test_q29_dominant_token_same_via_both_histogram_paths(spark):
    """The q29 flagship chain (A1 -> A2 -> A3) yields identical dominant
    tokens whether the grouped histogram comes from the explode path or the
    A1b bincount path."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.histogram import (
        dominant_token)
    from pdf_watermark_removal_otsu_inpaint_spark.plans.queries import (
        _char_tokens)
    df = _char_tokens(spark, "/root/testdata/sf0.001")
    # dominant_token's DEFAULT path is now bincount-backed, so the explode
    # side must be fed explicitly via from_hist (otherwise this test would
    # compare bincount against itself)
    hist_a = token_histogram(df, ["source"])
    a = {(r.source): (r.wm_token, round(r.coverage_pct, 9))
         for r in dominant_token(hist_a, ["source"],
                                 from_hist=True).collect()}
    b = {(r.source): (r.wm_token, round(r.coverage_pct, 9))
         for r in dominant_token(df, ["source"]).collect()}
    assert a == b and len(a) > 0


def test_bincount_path_handles_empty_and_negative_tokens(spark):
    import datetime as dt
    rows = [("d0", [], 0, "web", dt.datetime(2026, 1, 1), 0),
            ("dn", None, 0, "web", dt.datetime(2026, 1, 1), 2),
            ("d1", [-1, -256, 255, 256, 300], 5, "web",
             dt.datetime(2026, 1, 1), 1)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, "
              "event_ts timestamp, seq_no long")
    a = _as_dict(token_histogram(df, ["source"]).collect(), ["source"])
    b = _as_dict(token_histogram_bincount(df, ["source"]).collect(),
                 ["source"])
    # pmod semantics for negatives: -1 -> 255, -256 -> 0, 256 -> 0, 300 -> 44
    assert a == b == {("web", 255): 2, ("web", 0): 2, ("web", 44): 1}


def test_text_kernel_matches_explode_path(spark):
    """token_histogram_bincount_text == transform(split(text, ''), ascii)
    through the explode path, with NULL texts (no tokens), empty texts
    (one token 0 each — leading, consecutive and trailing), and repeated
    spaces, and 2-, 3- and 4-byte UTF-8 characters, which count their
    code points as ascii() does ('é' 233, '€' 8364, '😀' 128512), bucketed
    mod 256 on both sides."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.histogram import (
        token_histogram_bincount_text)

    def both(texts):
        """(explode path, kernel) histograms; two sources alternate so
        group keys cross batches."""
        df = spark.createDataFrame(
            [("ab"[i % 2], t) for i, t in enumerate(texts)],
            "source string, text string")
        toks = F.transform(F.split("text", ""), lambda c: F.ascii(c))
        explode = token_histogram(df.select("source", toks.alias("tokens")),
                                  ["source"])
        return tuple(_as_dict(h.collect(), ["source"]) for h in (
            explode, token_histogram_bincount_text(df, ["source"])))

    a, b = both(["", None, "abc", "", "", "a  b   c", None, "zz ", "  ",
                 "Hello, World!", ""])
    assert a == b
    assert a[("a", 0)] == 3 and a[("b", 0)] == 1
    assert both(["", ""]) == ({("a", 0): 1, ("b", 0): 1},) * 2
    assert both([None, None]) == ({}, {})
    assert both(["é"]) == ({("a", 233): 1},) * 2
    a, b = both(["é", "a€b", "😀", "", None, "xé€😀 ", "plain"])
    assert a == b
    assert a[("b", 8364 % 256)] == 2 and a[("a", 128512 % 256)] == 1


def test_float_kernel_matches_explode_path(spark):
    """token_histogram_bincount_floats == the explode path over
    clip(floor(v*128+128), 0, 255), with empty and NULL lists."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.histogram import (
        token_histogram_bincount_floats)
    rows = [("x", [0.0, -1.0, 1.0, 0.5, -0.0078125]), ("y", []),
            ("x", None), ("y", [2.5, -3.0, 0.999, 0.25]), ("x", []),
            ("y", [0.25, 0.25])]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    q = F.transform("embedding", lambda v: F.least(
        F.lit(255.0), F.greatest(F.lit(0.0), F.floor(v.cast("double") * 128
                                                     + 128))).cast("int"))
    a = _as_dict(token_histogram(df.select("label", q.alias("tokens")),
                                 ["label"]).collect(), ["label"])
    b = _as_dict(token_histogram_bincount_floats(df, ["label"]).collect(),
                 ["label"])
    assert a == b == {("x", 128): 1, ("x", 0): 1, ("x", 255): 1,
                      ("x", 192): 1, ("x", 127): 1, ("y", 255): 2,
                      ("y", 0): 1, ("y", 160): 3}


def test_bincount_group_keys_keep_null_and_separator_apart(spark):
    """Group keys within one Arrow batch stay distinct: a NULL source and
    the string 'None', the pairs ('a\\x1fb', 'c') and ('a', 'b\\x1fc'), and
    'a\\x00b' and 'a\\x00c', are separate groups on the bincount paths, as
    on the explode path."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.histogram import (
        token_histogram_bincount_text)
    rows = [(None, "c", "aa"), ("None", "c", "b"), ("x", "c", "cc"),
            ("a\x1fb", "c", "d"), ("a", "b\x1fc", "ee"),
            ("a\x00b", "c", "f"), ("a\x00c", "c", "g")]
    df = spark.createDataFrame(rows, "source string, part string, "
                                     "text string").coalesce(1)
    toks = F.transform(F.split("text", ""), lambda c: F.ascii(c))
    ex = df.select("source", "part", toks.alias("tokens"))
    for keys in (["source"], ["source", "part"]):
        a = _as_dict(token_histogram(ex, keys).collect(), keys)
        b = _as_dict(token_histogram_bincount_text(df, keys).collect(), keys)
        c = _as_dict(token_histogram_bincount(ex, keys).collect(), keys)
        assert a == b == c
    assert a[(None, "c", ord("a"))] == 2 and a[("None", "c", ord("b"))] == 1
    assert a[("a\x1fb", "c", ord("d"))] == 1
    assert a[("a", "b\x1fc", ord("e"))] == 2
    assert a[("a\x00b", "c", ord("f"))] == a[("a\x00c", "c", ord("g"))] == 1
