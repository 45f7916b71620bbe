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
    """repair_text_arrow (zero-copy UTF-8 tokenization) == the split+ascii
    token lists through repair_sequences on the real documents table."""
    from pyspark.sql import functions as F

    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (
        repair_sequences, repair_text_arrow)
    from pdf_watermark_removal_otsu_inpaint_spark.plans.queries import (
        _char_tokens)
    sf = "/root/testdata/sf0.001"
    params = DEFAULT_PARAMS.with_(passes=2, min_run=5)
    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .select("doc_id", "source", "text")
    new = {r.doc_id: (round(r.coverage, 6), r.wm_token, r.pass_count)
           for r in repair_text_arrow(docs, params).collect()}
    old_df = repair_sequences(
        _char_tokens(spark, sf).withColumn("seq_no", F.lit(0).cast("long")),
        params)
    old = {r.doc_id: (round(r.coverage, 6), r.wm_token, r.pass_count)
           for r in old_df.collect()}
    assert new == old and len(new) > 0


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
