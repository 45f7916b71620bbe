"""Engine-vs-kernel parity: the Spark operators must produce token-array
equality against reference_kernels row by row (BASELINE.json input_hint
invariant), and the relational histogram/dominant-token/Otsu paths must match
the NumPy versions exactly.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_watermark_removal_otsu_inpaint_spark import reference_kernels as rk
from pdf_watermark_removal_otsu_inpaint_spark.functions import mask_exprs as mx
from pdf_watermark_removal_otsu_inpaint_spark.operators import histogram as oh
from pdf_watermark_removal_otsu_inpaint_spark.operators import otsu as oo
from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
    detect_masks)
from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
    apply_masks, repair_sequences, repair_sequences_arrow_packed)
from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
from pdf_watermark_removal_otsu_inpaint_spark.sources.sequences import (
    generate_rows, sequences_df)


@pytest.fixture(scope="module")
def seq_df(spark):
    return sequences_df(spark, n_rows=60, seed=7).cache()


@pytest.fixture(scope="module")
def seq_rows():
    return generate_rows(60, seed=7)


def test_repair_token_array_equality(spark, seq_df, seq_rows):
    """The per-row invariant: engine repaired tokens == kernel repaired
    tokens, for every row and scenario mix."""
    params = DEFAULT_PARAMS.with_(passes=2)
    out = (repair_sequences(seq_df, params)
           .select("doc_id", "seq_no", "tokens", "coverage", "wm_token",
                   "pass_count")
           .collect())
    got = {(r.doc_id, r.seq_no): r for r in out}
    assert len(out) == len(seq_rows)
    checked = 0
    for row in seq_rows:
        exp_t, exp_p, exp_c, exp_w = rk.remove_watermark_multi_pass(
            np.array(row["tokens"]), passes=2)
        g = got[(row["doc_id"], row["seq_no"])]
        assert g.tokens == exp_t.astype(np.int32).tolist(), (
            f"token mismatch for {row['doc_id']}/{row['seq_no']} "
            f"scenario={row['scenario']}")
        assert g.pass_count == exp_p and g.wm_token == exp_w
        assert abs(g.coverage - exp_c) < 1e-12
        checked += 1
    assert checked == len(seq_rows)


def test_detect_mask_equality(spark, seq_df, seq_rows):
    out = detect_masks(seq_df).select("doc_id", "seq_no", "mask", "wm_token").collect()
    got = {(r.doc_id, r.seq_no): r for r in out}
    for row in seq_rows:
        mask, wm = rk.detect_refine(np.array(row["tokens"]))
        g = got[(row["doc_id"], row["seq_no"])]
        assert g.mask == mask.tolist()
        assert g.wm_token == (wm if wm is not None else None)


def test_apply_mask_matches_single_pass_repair(spark, seq_df, seq_rows):
    """detect -> apply_mask (the stream-join shape) == fused single-pass."""
    masked = detect_masks(seq_df).join(
        seq_df.select("doc_id", "seq_no", "tokens"), ["doc_id", "seq_no"])
    out = apply_masks(masked).select("doc_id", "seq_no", "tokens").collect()
    got = {(r.doc_id, r.seq_no): r.tokens for r in out}
    for row in seq_rows:
        exp, _, _ = rk.remove_watermark(np.array(row["tokens"]))
        assert got[(row["doc_id"], row["seq_no"])] == exp.astype(np.int32).tolist()


def test_native_mask_exprs_match_kernel(spark, seq_df, seq_rows):
    """Catalyst-side raw mask + protections == kernel intermediates."""
    df = (seq_df
          .withColumn("raw", mx.raw_color_mask(F.col("tokens"), F.lit(200), F.lit(30)))
          .withColumn("bg", mx.background_mask(F.col("tokens")))
          .withColumn("prot", mx.mask_and_not(F.col("raw"), F.col("bg")))
          .withColumn("cov", mx.mask_coverage(F.col("prot"), F.col("n_tok")))
          .select("doc_id", "seq_no", "raw", "prot", "cov"))
    got = {(r.doc_id, r.seq_no): r for r in df.collect()}
    for row in seq_rows:
        g = rk.bucket256(np.array(row["tokens"]))
        raw = rk.raw_color_mask(g, 200, 30)
        prot = raw & ~rk.background_mask(g)
        r = got[(row["doc_id"], row["seq_no"])]
        assert r.raw == raw.tolist()
        assert r.prot == prot.tolist()
        assert abs(r.cov - prot.sum() / g.size) < 1e-12


def test_relational_dominant_token_matches_kernel(spark, seq_df, seq_rows):
    """A1-A3 relational path: per-(doc_id,seq_no) dominant token == kernel.

    Grouped per row so the kernel's per-row detection is the exact oracle."""
    dom = oh.dominant_token(seq_df, ["doc_id", "seq_no"]).collect()
    got = {(r.doc_id, r.seq_no): r.wm_token for r in dom}
    for row in seq_rows:
        exp = rk.detect_wm_token(np.array(row["tokens"]))
        assert got.get((row["doc_id"], row["seq_no"])) == exp


def test_otsu_sql_matches_kernel(spark, seq_df, seq_rows):
    hist = oh.token_histogram(seq_df, ["doc_id", "seq_no"])
    got = {(r.doc_id, r.seq_no): r.otsu_threshold
           for r in oo.otsu_sql(hist, ["doc_id", "seq_no"]).collect()}
    for row in seq_rows:
        h = rk.histogram256(rk.bucket256(np.array(row["tokens"])))
        assert got[(row["doc_id"], row["seq_no"])] == rk.otsu_threshold(h)


def test_repair_plan_shape(spark, seq_df):
    """The fused path is one MapInArrow over the cached input — no shuffle,
    no other Python stage, and only the columns it reads or passes through
    cross into Python (seq_df's `scenario` column stays behind)."""
    from tests.test_plan_hygiene import assert_single_arrow_map
    assert_single_arrow_map(
        repair_sequences(seq_df),
        ["doc_id", "seq_no", "event_ts", "source", "n_tok", "tokens"])


def test_packed_path_matches_list_path(spark, seq_df, seq_rows):
    """The packed-binary physical layout gives the reference kernel's
    tokens, coverage, wm_token and pass_count row by row, as the
    array<int32> layout does (test_repair_token_array_equality)."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        pack_tokens)
    params = DEFAULT_PARAMS.with_(passes=2)
    packed_in = pack_tokens(seq_df)
    got = {(r.doc_id, r.seq_no): r for r in
           repair_sequences_arrow_packed(packed_in, params).collect()}
    assert len(got) == len(seq_rows)
    for row in seq_rows:
        exp_t, exp_p, exp_c, exp_w = rk.remove_watermark_multi_pass(
            np.array(row["tokens"]), passes=2)
        g = got[(row["doc_id"], row["seq_no"])]
        assert np.frombuffer(g.tokens_bin, dtype="<i4").tolist() == \
            exp_t.astype(np.int32).tolist()
        assert abs(g.coverage - exp_c) < 1e-12 and g.wm_token == exp_w
        assert g.pass_count == exp_p


def test_repair_with_profiles_matches_kernel(spark, seq_df, seq_rows):
    """J2 end-to-end: per-source classified params drive the kernel; engine
    output == kernel run with the same per-source parameters."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.classify import (
        classify_sources)
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        repair_with_profiles)
    prof = {r.source: r for r in classify_sources(seq_df).collect()}
    out = {(r.doc_id, r.seq_no): r
           for r in repair_with_profiles(seq_df).collect()}
    assert len(out) == len(seq_rows)
    for row in seq_rows:
        p = prof[row["source"]]
        exp_t, exp_p, _, _ = rk.remove_watermark_multi_pass(
            np.array(row["tokens"]), passes=int(p.passes),
            tolerance=int(p.color_tolerance), kernel_size=int(p.kernel_size),
            inpaint_strength=float(p.inpaint_strength))
        g = out[(row["doc_id"], row["seq_no"])]
        assert g.tokens == exp_t.astype(np.int32).tolist()
        assert g.pass_count == exp_p
        assert g.doc_type == p.doc_type


def test_otsu_repair_matches_kernel(spark, seq_df, seq_rows):
    """north_star composition: per-source histogram -> Otsu -> threshold
    mask -> repair == kernel run with the same per-source threshold."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.otsu import (
        otsu_repair)
    out = {(r.doc_id, r.seq_no): r
           for r in otsu_repair(seq_df, ["source"]).collect()}
    # per-source thresholds from the kernel
    by_source = {}
    for row in seq_rows:
        h = by_source.setdefault(row["source"], np.zeros(256, dtype=np.int64))
        h += rk.histogram256(rk.bucket256(np.array(row["tokens"])))
    thr = {s: rk.otsu_threshold(h) for s, h in by_source.items()}
    for row in seq_rows:
        g = out[(row["doc_id"], row["seq_no"])]
        assert g.otsu_threshold == thr[row["source"]]
        a = np.array(row["tokens"])
        mask = rk.filter_runs(
            rk.detect_mask_threshold(a, thr[row["source"]]), 100, 5000)
        if not mask.any():
            exp = a
        else:
            radius = rk.dynamic_radius(rk.coverage(mask), 2, 1.0)
            exp = rk.blend(a, rk.inpaint_1d(a, mask, radius), mask, 1.0)
        assert g.tokens == exp.astype(np.int32).tolist()


def test_marker_span_merge_properties(spark, seq_df, seq_rows):
    """J3 merged-mask semantics (reference tests/test_qr_detection.py:104-123
    analogue): merged ⊇ detect mask, merged ⊇ span mask, repair touches only
    merged positions, untouched positions are identical to the input."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        repair_with_marker_spans)
    # deterministic marker span per row: [10, 40) on every row
    df = seq_df.withColumn("marker_lo", F.lit(10)) \
               .withColumn("marker_hi", F.lit(40))
    out = {(r.doc_id, r.seq_no): r
           for r in repair_with_marker_spans(df).collect()}
    assert len(out) == len(seq_rows)
    for row in seq_rows:
        g = out[(row["doc_id"], row["seq_no"])]
        det = np.array(g.detect_mask, dtype=bool)
        merged = np.array(g.merged_mask, dtype=bool)
        n = det.size
        span = np.zeros(n, dtype=bool)
        span[10:40] = True
        # merged is exactly the OR, hence superset of both inputs
        assert (merged == (det | span)).all()
        assert g.detect_cnt == int(det.sum())
        assert g.span_cnt == 30
        assert g.merged_cnt == int(merged.sum())
        # repair only inside the merged mask: outside positions untouched
        orig = np.array(row["tokens"])
        rep = np.array(g.tokens)
        assert (rep[~merged] == orig[~merged]).all()
        # and equals the kernel's single-pass repair with the merged mask
        if merged.any():
            radius = rk.dynamic_radius(rk.coverage(merged), 2, 1.0)
            exp = rk.blend(orig, rk.inpaint_1d(orig, merged, radius),
                           merged, 1.0)
        else:
            exp = orig
        assert rep.tolist() == exp.astype(np.int64).tolist()


def test_packed_mask_join_path_matches_unpacked(spark, seq_df, seq_rows):
    """X6 wire format: bit-packed masks (packbits, (n_tok + 7) // 8 bytes)
    joined back to the tokens and repaired by apply_masks give the
    reference single-pass repair, as the array<boolean> layout does
    (test_apply_mask_matches_single_pass_repair)."""
    masks = spark.createDataFrame(
        [(row["doc_id"], row["seq_no"],
          np.packbits(rk.detect_refine(np.array(row["tokens"]))[0]).tobytes())
         for row in seq_rows],
        "doc_id string, seq_no long, mask_bin binary")
    joined = masks.join(seq_df.select("doc_id", "seq_no", "tokens"),
                        ["doc_id", "seq_no"])
    got = {(r.doc_id, r.seq_no): r.tokens
           for r in apply_masks(joined).collect()}
    assert len(got) == len(seq_rows)
    for row in seq_rows:
        exp, _, _ = rk.remove_watermark(np.array(row["tokens"]))
        assert got[(row["doc_id"], row["seq_no"])] == \
            exp.astype(np.int32).tolist()


def test_windowed_otsu_repair_matches_kernel(spark, seq_df, seq_rows):
    """north_star window-keyed: per-(event-time window, source) histograms
    feed the Otsu threshold that repairs exactly that window's rows."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.otsu import (
        otsu_repair_windowed)
    out = {(r.doc_id, r.seq_no): r
           for r in otsu_repair_windowed(seq_df, "1 minute").collect()}
    # kernel thresholds per (minute-window, source)
    by_key = {}
    rows_key = {}
    for row in seq_rows:
        wstart = row["event_ts"].replace(second=0, microsecond=0)
        k = (wstart, row["source"])
        h = by_key.setdefault(k, np.zeros(256, dtype=np.int64))
        h += rk.histogram256(rk.bucket256(np.array(row["tokens"])))
        rows_key[(row["doc_id"], row["seq_no"])] = k
    thr = {k: rk.otsu_threshold(h) for k, h in by_key.items()}
    assert len(out) == len(seq_rows)
    for row in seq_rows:
        g = out[(row["doc_id"], row["seq_no"])]
        t = thr[rows_key[(row["doc_id"], row["seq_no"])]]
        assert g.otsu_threshold == t
        a = np.array(row["tokens"])
        mask = rk.filter_runs(rk.detect_mask_threshold(a, t), 100, 5000)
        if not mask.any():
            exp = a
        else:
            radius = rk.dynamic_radius(rk.coverage(mask), 2, 1.0)
            exp = rk.blend(a, rk.inpaint_1d(a, mask, radius), mask, 1.0)
        assert g.tokens == exp.astype(np.int32).tolist()
