"""Batch-vectorized kernel == per-row reference kernel, token-array equality
on every fixture scenario plus randomized arrays, and each mapInArrow
operator == the reference kernel row by row on Spark, NULL, empty and
1-token rows included."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_watermark_removal_otsu_inpaint_spark import reference_kernels as rk
from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (
    repair_batch)
from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
from pdf_watermark_removal_otsu_inpaint_spark.sources.sequences import (
    SCENARIOS, generate_rows, scenario_tokens)


def _flat(rows):
    arrs = [np.asarray(r, dtype=np.int32) for r in rows]
    offsets = np.zeros(len(arrs) + 1, dtype=np.int64)
    offsets[1:] = np.cumsum([a.size for a in arrs])
    return np.concatenate(arrs) if arrs else np.empty(0, np.int32), offsets


def _expected(rows, params, wm_in=None):
    outs, covs, wms, nps = [], [], [], []
    for i, r in enumerate(rows):
        w = None if wm_in is None or wm_in[i] < 0 else wm_in[i]
        out, n, cov, wm = rk.remove_watermark_multi_pass(
            np.asarray(r, dtype=np.int32), params.passes,
            w, params.color_tolerance, params.kernel_size,
            params.protect_text, params.text_expand, params.min_run,
            params.max_run, params.inpaint_radius, params.inpaint_strength)
        outs.append(out.astype(np.int32))
        covs.append(cov)
        wms.append(-1 if wm is None else wm)
        nps.append(n)
    return outs, covs, wms, nps


def _check(rows, params):
    flat, offsets = _flat(rows)
    out, cov, wm, npass = repair_batch(flat, offsets, params)
    exp_out, exp_cov, exp_wm, exp_np = _expected(rows, params)
    for i in range(len(rows)):
        got = out[offsets[i]:offsets[i + 1]]
        assert got.tolist() == exp_out[i].tolist(), f"row {i} tokens differ"
        assert wm[i] == exp_wm[i], f"row {i} wm"
        assert npass[i] == exp_np[i], f"row {i} pass_count"
        assert abs(cov[i] - exp_cov[i]) < 1e-12, f"row {i} coverage"


@pytest.mark.parametrize("passes", [1, 2, 3])
def test_all_scenarios_batch_equal(passes):
    rows = [scenario_tokens(s, 2000) for s in SCENARIOS if s != "wm_runs"]
    rows.append(scenario_tokens("wm_runs", 12000))
    _check(rows, DEFAULT_PARAMS.with_(passes=passes))


def test_generated_mix_batch_equal():
    rows = [r["tokens"] for r in generate_rows(80, seed=13)]
    _check(rows, DEFAULT_PARAMS.with_(passes=2))


def test_non_default_params_batch_equal():
    rows = [r["tokens"] for r in generate_rows(40, seed=14)]
    _check(rows, DEFAULT_PARAMS.with_(passes=2, color_tolerance=18,
                                      kernel_size=5, inpaint_strength=1.3,
                                      min_run=50, max_run=800))
    _check(rows, DEFAULT_PARAMS.with_(passes=1, inpaint_strength=0.5))
    _check(rows, DEFAULT_PARAMS.with_(passes=2, protect_text=False,
                                      inpaint_strength=1.5))


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=0, max_value=255),
                         min_size=1, max_size=80),
                min_size=1, max_size=8),
       st.integers(min_value=1, max_value=3))
def test_random_rows_batch_equal(rows, passes):
    _check(rows, DEFAULT_PARAMS.with_(passes=passes, min_run=3, max_run=40))


def _seq_frame(spark, rows, packed=False):
    """Sequences DataFrame over token lists (None = a NULL row), doc_id
    "d<i>", plus an unrelated `text` column no operator should read."""
    import datetime as dt

    def enc(r):
        if r is None or not packed:
            return r
        return np.asarray(r, dtype="<i4").tobytes()
    col = "tokens_bin binary" if packed else "tokens array<int>"
    return spark.createDataFrame(
        [(f"d{i}", enc(r), 0 if r is None else len(r), "web",
          dt.datetime(2026, 1, 1), i, "unrelated")
         for i, r in enumerate(rows)],
        f"doc_id string, {col}, n_tok int, source string, "
        "event_ts timestamp, seq_no long, text string")


def _check_operator(out, rows, params, wms=None, packed=False):
    """Operator output rows == the reference kernel per input row; a NULL
    input row comes out NULL with the fields an empty row gets."""
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == len(rows)
    live = [i for i, r in enumerate(rows) if r is not None]
    exp_t, exp_c, exp_w, exp_p = _expected(
        [rows[i] for i in live], params,
        None if wms is None else [wms[i] for i in live])
    for j, i in enumerate(live):
        g = got[f"d{i}"]
        toks = (np.frombuffer(g.tokens_bin, "<i4").tolist() if packed
                else g.tokens)
        assert toks == exp_t[j].tolist(), f"row {i} tokens"
        assert g.wm_token == (None if exp_w[j] < 0 else exp_w[j]), f"row {i}"
        assert g.pass_count == exp_p[j] and abs(g.coverage - exp_c[j]) < 1e-12
    for i, r in enumerate(rows):
        if r is None:
            g = got[f"d{i}"]
            assert (g.tokens_bin if packed else g.tokens) is None
            _, _, empty_w, _ = _expected([[]], params,
                                         None if wms is None else [wms[i]])
            assert (g.coverage, g.wm_token, g.pass_count) == (
                0.0, None if empty_w[0] < 0 else empty_w[0], 0)


def _tiny_batch():
    """Normal rows with a NULL, an empty and a 1-token row between them."""
    return ([scenario_tokens("wm_basic", 600).tolist(), None, [],
             scenario_tokens("wm_multipass", 700).tolist(), [200],
             [255] * 10])


def test_spark_repair_operators_match_reference(spark):
    """Both layouts of the fused detect+repair operator == the reference
    kernel row by row on a generated scenario mix."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences, repair_sequences_arrow_packed)
    rows = [r["tokens"] for r in generate_rows(50, seed=15)]
    params = DEFAULT_PARAMS.with_(passes=2)
    _check_operator(repair_sequences(_seq_frame(spark, rows), params),
                    rows, params)
    _check_operator(repair_sequences_arrow_packed(
        _seq_frame(spark, rows, packed=True), params), rows, params,
        packed=True)


def test_empty_and_tiny_rows(spark):
    """repair_sequences on a NULL, an empty and a 1-token row in one batch
    with normal rows: NULL stays NULL, the rest equal the reference."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences)
    rows = _tiny_batch()
    params = DEFAULT_PARAMS.with_(passes=2)
    _check_operator(repair_sequences(_seq_frame(spark, rows).coalesce(1),
                                     params), rows, params)


def test_packed_empty_and_tiny_rows(spark):
    """repair_sequences_arrow_packed on the same degenerate batch: a NULL
    tokens_bin stays NULL instead of becoming b''."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences_arrow_packed)
    rows = _tiny_batch()
    params = DEFAULT_PARAMS.with_(passes=2)
    out = repair_sequences_arrow_packed(
        _seq_frame(spark, rows, packed=True).coalesce(1), params)
    assert out.columns == ["doc_id", "seq_no", "source", "tokens_bin",
                           "coverage", "wm_token", "pass_count"]
    _check_operator(out, rows, params, packed=True)


def test_repair_sequences_given_wm_token(spark):
    """Per-row wm_token: given, NULL (self-detect) and tokens that do not
    occur in their row, mixed in one batch, == the reference kernel with
    the same wm_token argument."""
    from pyspark.sql import functions as F

    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences)
    rows = [scenario_tokens(s, 900).tolist()
            for s in ("wm_basic", "wm_multipass", "wm_gap", "wm_basic",
                      "wm_none", "wm_textlike")] + [None]
    detected = [rk.detect_wm_token(np.asarray(r)) for r in rows[:4]]
    assert 77 not in rows[3] and 240 not in rows[4]
    wms = [detected[0], None, detected[2], 77, 240, None, 200]
    df = _seq_frame(spark, rows).coalesce(1).withColumn(
        "_given", F.element_at(F.array(*[F.lit(w).cast("int") for w in wms]),
                               F.col("seq_no").cast("int") + 1))
    params = DEFAULT_PARAMS.with_(passes=2)
    _check_operator(repair_sequences(df, params, wm_token=F.col("_given")),
                    rows, params,
                    wms=[-1 if w is None else w for w in wms])


def test_apply_masks_empty_and_tiny_rows(spark):
    """apply_masks on both mask layouts (array<boolean>, packbits
    mask_bin): masked rows, empty-mask rows, a NULL tokens row, an empty row
    and a 1-token row in one batch == the reference inpaint + blend; NULL
    tokens stay NULL and every other column passes through."""
    import datetime as dt

    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        apply_masks)
    rows = _tiny_batch()
    masks = [None if r is None else np.zeros(len(r), dtype=bool)
             for r in rows]
    masks[0][100:300] = True
    masks[3][:40] = masks[3][333:350] = True   # one-sided and two-sided runs
    masks[4][0] = True                         # the 1-token row, masked
    # masks[5]: a non-empty row with an empty mask
    exp = {}
    for i, (r, m) in enumerate(zip(rows, masks)):
        if r is not None and m.any():
            a = np.asarray(r)
            radius = rk.dynamic_radius(rk.coverage(m), 2, 1.0)
            r = rk.blend(a, rk.inpaint_1d(a, m, radius), m, 1.0).tolist()
        exp[f"d{i}"] = r
    ts = dt.datetime(2026, 1, 1)
    for layout, enc in (("mask array<boolean>",
                         lambda m: m.tolist()),
                        ("mask_bin binary",
                         lambda m: np.packbits(m).tobytes())):
        df = spark.createDataFrame(
            [(f"d{i}", r, None if m is None else enc(m), ts)
             for i, (r, m) in enumerate(zip(rows, masks))],
            f"doc_id string, tokens array<int>, {layout}, event_ts timestamp"
        ).coalesce(1)
        out = apply_masks(df)
        assert out.columns == df.columns, layout
        got = {r.doc_id: r for r in out.collect()}
        assert {k: g.tokens for k, g in got.items()} == exp, layout
        assert all(g.event_ts == ts for g in got.values()), layout


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=0, max_value=255),
                         min_size=0, max_size=80),
                min_size=1, max_size=8))
def test_detect_auto_batch_matches_reference(rows):
    """detect_auto_batch == rk.detect_mask_auto + rk.filter_runs per row
    (mask equality + coverage), including empty rows in the batch."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        detect_auto_batch)
    params = DEFAULT_PARAMS.with_(min_run=3, max_run=40)
    flat, offsets = _flat(rows)
    mask_flat, cov = detect_auto_batch(flat, offsets, params)
    for i, r in enumerate(rows):
        exp = rk.detect_mask_auto(np.asarray(r, dtype=np.int32),
                                  params.kernel_size, params.protect_text,
                                  params.text_expand)
        exp = rk.filter_runs(exp, params.min_run, params.max_run)
        got = mask_flat[offsets[i]:offsets[i + 1]]
        assert got.tolist() == exp.tolist(), f"row {i} mask"
        exp_cov = rk.coverage(exp) if len(r) else 0.0
        assert abs(cov[i] - exp_cov) < 1e-12, f"row {i} cov"


def test_empty_rows_in_batch_kernels():
    """Zero-length rows anywhere in a batch (head / middle / tail) flow
    through repair_batch, detect_batch and apply_mask_batch without crashing
    and with per-row results equal to the reference kernels (empty row ->
    empty output, zero coverage). Regression: a trailing empty row used to
    put m.size into _spans_rowwise's start-boundary scatter (IndexError)."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        apply_mask_batch, detect_batch)
    wm_row = scenario_tokens("wm_basic", 600)
    for layout in ([[], list(wm_row)], [list(wm_row), []],
                   [[], list(wm_row), [], [200] * 30, []], [[], []]):
        _check(layout, DEFAULT_PARAMS.with_(passes=2))
        flat, offsets = _flat(layout)
        mask, wm, cov = detect_batch(flat, offsets, DEFAULT_PARAMS)
        assert mask.size == flat.size
        for i, r in enumerate(layout):
            if not r:
                assert wm[i] == -1 and cov[i] == 0.0
        out = apply_mask_batch(flat, mask, offsets, DEFAULT_PARAMS)
        assert out.size == flat.size


def test_fused_text_path_matches_split_ascii(spark):
    """repair_text_arrow (tokenization fused into the Arrow decode) == the
    split+ascii token lists through repair_sequences, per doc: length,
    coverage, wm_token, pass_count, changed tokens and token sum. Covers
    the real documents table plus upper-case texts whose watermark runs
    are 2-, 3- and 4-byte UTF-8 characters ('Ű' 368, '₄' 8324, '🚀'
    128640: text-like tokens mod 256, so no text halo keeps the run) and
    an empty text between them."""
    from pyspark.sql import functions as F

    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences, repair_text_arrow)
    sf = "/root/testdata/sf0.001"
    params = DEFAULT_PARAMS.with_(passes=2, min_run=5)
    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .select("doc_id", "source", "text")
    extra = spark.createDataFrame(
        [(-1, "x", "LOREM IPSUM 42 " * 20 + "Ű" * 30 + " DOLOR SIT 7" * 20),
         (-2, "x", ""),
         (-3, "y", "ABC 123 " * 40 + "₄" * 25),
         (-4, "y", "🚀" * 20 + "PLAIN ASCII TEXT " * 10)],
        "doc_id long, source string, text string")
    docs = docs.unionByName(extra)
    new = {r.doc_id: (r.n_out, round(r.coverage, 6), r.wm_token,
                      r.pass_count, r.changed_tokens, r.token_sum)
           for r in repair_text_arrow(docs, params).collect()}
    toks = docs.select("doc_id", "source", F.lit(0).cast("long")
                       .alias("seq_no"),
                       F.transform(F.split("text", ""),
                                   lambda c: F.ascii(c)).alias("tokens"))
    before = {r.doc_id: np.array(r.tokens) for r in toks.collect()}
    old = {}
    for r in repair_sequences(toks, params).collect():
        t = np.array(r.tokens)
        old[r.doc_id] = (t.size, round(r.coverage, 6), r.wm_token,
                         r.pass_count, int((t != before[r.doc_id]).sum()),
                         int(t.sum()))
    assert new == old and len(new) > 4
    assert old[-2][0] == 1                         # '' is one token 0
    assert [old[d][2] for d in (-1, -3, -4)] == [368 % 256, 8324 % 256,
                                                 128640 % 256]
    assert all(old[d][4] > 0 for d in (-1, -3, -4))


def _doc_frame(spark, rows, sources=None):
    """_seq_frame over `rows`, each row its own source s<i> when
    `sources` is set (so per-source operators see every row)."""
    from pyspark.sql import functions as F
    df = _seq_frame(spark, rows).coalesce(1)
    if sources:
        df = df.withColumn("source", F.concat(F.lit("s"), F.col("seq_no")))
    return df


def _given_wm_col(wms):
    from pyspark.sql import functions as F
    return F.element_at(F.array(*[F.lit(w).cast("int") for w in wms]),
                        F.col("seq_no").cast("int") + 1)


def test_detect_masks_empty_and_tiny_rows(spark):
    """detect_masks, self-detecting and with a given wm_token, on a NULL,
    an empty and a 1-token row between normal rows == rk.detect_refine
    per row; the NULL row gets a NULL mask and an empty row's fields."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        detect_masks)
    rows = _tiny_batch()
    params = DEFAULT_PARAMS.with_(min_run=3)
    for wms in ([None] * len(rows), [200, 200, None, None, 200, 255]):
        wm_col = None if wms[0] is None else _given_wm_col(wms)
        out = detect_masks(_doc_frame(spark, rows), params, wm_col)
        assert out.columns == ["doc_id", "seq_no", "event_ts", "source",
                               "n_tok", "mask", "wm_token", "coverage"]
        got = {r.doc_id: r for r in out.collect()}
        for i, r in enumerate(rows):
            mask, wm = rk.detect_refine(
                np.asarray(r or [], dtype=np.int32), wms[i],
                params.color_tolerance, params.kernel_size,
                params.protect_text, params.text_expand, params.min_run,
                params.max_run)
            g = got[f"d{i}"]
            assert g.mask == (None if r is None else mask.tolist()), i
            assert (g.wm_token, g.coverage) == (wm, rk.coverage(mask)), i


def test_detect_masks_auto_empty_and_tiny_rows(spark):
    """detect_masks_auto on the same degenerate batch == rk.detect_mask_auto
    + rk.filter_runs per row; the NULL row gets a NULL mask."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        detect_masks_auto)
    rows = _tiny_batch()
    params = DEFAULT_PARAMS.with_(min_run=3, protect_text=False)
    out = detect_masks_auto(_doc_frame(spark, rows), params)
    assert out.columns == ["doc_id", "seq_no", "event_ts", "source", "n_tok",
                           "mask", "coverage"]
    got = {r.doc_id: r for r in out.collect()}
    for i, r in enumerate(rows):
        mask = rk.filter_runs(rk.detect_mask_auto(
            np.asarray(r or [], dtype=np.int32), params.kernel_size,
            params.protect_text, params.text_expand),
            params.min_run, params.max_run)
        g = got[f"d{i}"]
        assert g.mask == (None if r is None else mask.tolist()), i
        assert g.coverage == rk.coverage(mask), i


def test_otsu_repair_empty_and_tiny_rows(spark):
    """otsu_repair on the degenerate batch, one source: the Otsu threshold
    of the non-NULL rows drives rk.detect_mask_threshold + filter_runs +
    inpaint per row; the NULL row stays NULL."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.otsu import (
        otsu_repair)
    rows = _tiny_batch()
    hist = sum(rk.histogram256(rk.bucket256(np.asarray(r)))
               for r in rows if r is not None)
    thr = rk.otsu_threshold(hist)
    got = {r.doc_id: r for r in otsu_repair(_doc_frame(spark, rows))
           .collect()}
    assert len(got) == len(rows)
    for i, r in enumerate(rows):
        g = got[f"d{i}"]
        assert g.otsu_threshold == thr
        if r is None:
            assert (g.tokens, g.coverage) == (None, 0.0)
            continue
        a = np.asarray(r)
        mask = rk.filter_runs(rk.detect_mask_threshold(a, thr), 100, 5000)
        exp = a
        if mask.any():
            radius = rk.dynamic_radius(rk.coverage(mask), 2, 1.0)
            exp = rk.blend(a, rk.inpaint_1d(a, mask, radius), mask, 1.0)
        assert g.tokens == exp.astype(np.int32).tolist(), i
        assert g.coverage == rk.coverage(mask), i


def _profile(r):
    """(doc_type, confidence) the reference classifier gives a row."""
    return rk.decide_type(rk.classify_metrics(np.asarray(r, dtype=np.int64)))


def test_classify_sources_empty_and_tiny_rows(spark):
    """classify_sources with every degenerate row its own source ==
    rk.classify_metrics + rk.decide_type per row; a NULL row is not
    classified, so its source gets no profile."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.classify import (
        classify_sources)
    rows = _tiny_batch()
    got = {r.source: (r.doc_type, r.confidence) for r in
           classify_sources(_doc_frame(spark, rows, sources=True)).collect()}
    assert got == {f"s{i}": _profile(r) for i, r in enumerate(rows)
                   if r is not None}


def test_repair_with_profiles_empty_and_tiny_rows(spark):
    """repair_with_profiles with every degenerate row its own source: each
    row == the reference kernel run with its own profile's parameters (a
    NULL row has none, so it stays NULL with the base parameters' empty-row
    fields)."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        repair_with_profiles)
    from pdf_watermark_removal_otsu_inpaint_spark.params import (
        PROFILE_PARAMS)
    rows = _tiny_batch()
    got = {r.doc_id: r for r in repair_with_profiles(
        _doc_frame(spark, rows, sources=True)).collect()}
    assert len(got) == len(rows)
    for i, r in enumerate(rows):
        g = got[f"d{i}"]
        if r is None:
            assert (g.doc_type, g.tokens, g.coverage, g.wm_token,
                    g.pass_count) == (None, None, 0.0, None, 0)
            continue
        typ = _profile(r)[0]
        prof = PROFILE_PARAMS[typ]
        params = DEFAULT_PARAMS.with_(
            color_tolerance=prof.color_tolerance,
            kernel_size=prof.kernel_size,
            inpaint_strength=prof.inpaint_strength, passes=prof.passes)
        exp_t, exp_c, exp_w, exp_p = _expected([r], params)
        assert g.doc_type == typ
        assert g.tokens == exp_t[0].tolist(), i
        assert (g.coverage, g.wm_token, g.pass_count) == (
            exp_c[0], None if exp_w[0] < 0 else exp_w[0], exp_p[0]), i


def test_pack_tokens_empty_and_tiny_rows(spark):
    """pack_tokens keeps every other column and appends each row's
    little-endian int32 blob; a NULL row gets a NULL blob, an empty row
    b''. repair_sequences_arrow_packed over it == the reference kernel."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        pack_tokens)
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences_arrow_packed)
    rows = _tiny_batch()
    df = _doc_frame(spark, rows)
    packed = pack_tokens(df)
    assert packed.columns == [c for c in df.columns if c != "tokens"] + [
        "tokens_bin"]
    got = {r.doc_id: r.tokens_bin for r in packed.collect()}
    assert got == {f"d{i}": None if r is None
                   else np.asarray(r, "<i4").tobytes()
                   for i, r in enumerate(rows)}
    params = DEFAULT_PARAMS.with_(passes=2)
    _check_operator(repair_sequences_arrow_packed(packed, params), rows,
                    params, packed=True)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(
           st.lists(st.integers(min_value=0, max_value=255),
                    min_size=1, max_size=60),
           st.one_of(st.none(), st.integers(min_value=0, max_value=255))),
       min_size=1, max_size=6))
def test_detect_batch_random_with_given_wm(rows_wm):
    """detect_batch == rk.detect_refine per row, for self-detect AND
    caller-supplied wm tokens mixed in one batch."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        detect_batch)
    params = DEFAULT_PARAMS.with_(min_run=3, max_run=40)
    rows = [r for r, _ in rows_wm]
    wms = [w for _, w in rows_wm]
    flat, offsets = _flat(rows)
    wm_in = np.array([-1 if w is None else w for w in wms], dtype=np.int32)
    mask_flat, wm_out, cov = detect_batch(flat, offsets, params, wm_in=wm_in)
    for i, (r, w) in enumerate(rows_wm):
        exp_mask, exp_wm = rk.detect_refine(
            np.asarray(r, dtype=np.int32), w, params.color_tolerance,
            params.kernel_size, params.protect_text, params.text_expand,
            params.min_run, params.max_run)
        got = mask_flat[offsets[i]:offsets[i + 1]]
        assert got.tolist() == exp_mask.tolist(), f"row {i} mask"
        exp_w = -1 if exp_wm is None else exp_wm
        assert wm_out[i] == exp_w, f"row {i} wm"
        assert abs(cov[i] - rk.coverage(exp_mask)) < 1e-12, f"row {i} cov"
