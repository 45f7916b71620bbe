"""X5 carry-over without Spark: the shard batch body
(`streaming.state.detect_source_batch` + `DocCache.expire`) against a
sequential per-row NumPy reference, over several micro-batches and shards."""

import datetime as dt
import zlib

import numpy as np
import pandas as pd

from pdf_watermark_removal_otsu_inpaint_spark import reference_kernels as rk
from pdf_watermark_removal_otsu_inpaint_spark.streaming.state import (
    STATE_HORIZON_MS, DocCache, detect_source_batch)

N = 2000
N_SHARDS = 3
DELAY_MS = 600_000   # the operator's 10-minute watermark delay


def _fill(token, lo, hi):
    a = np.full(N, 255, dtype=np.int32)
    a[lo:hi] = token
    return a


DET_200 = _fill(200, 100, 460)   # 18% coverage: self-detects 200
DET_205 = _fill(205, 100, 440)   # self-detects 205
AMB = _fill(200, 100, 700)       # 30% coverage: per-row detection fails


def _ms(ts) -> int:
    return int(pd.Timestamp(ts).value // 1_000_000)


def reference(batches):
    """Sequential per-row spec: per doc, rows in order; a cached token is
    used if present, otherwise the row self-detects and its first hit is
    cached. After each batch, docs seen in it refresh their last event time,
    then every doc more than STATE_HORIZON_MS behind the watermark is
    dropped."""
    cache: dict = {}   # (source, doc) -> [token, last_ms]
    out, max_ms = {}, 0
    for batch in batches:
        wm = max_ms - DELAY_MS if max_ms else 0
        seen: dict = {}
        for doc, toks, src, ts, seq in batch:
            k = (src, doc)
            seen[k] = max(seen.get(k, 0), _ms(ts))
            if k in cache:
                wm_tok, from_state = cache[k][0], True
            else:
                wm_tok, from_state = rk.detect_wm_token(toks), False
                if wm_tok is not None:
                    cache[k] = [wm_tok, 0]
            mask, _ = rk.detect_refine(toks, wm_tok)
            out[(src, doc, seq)] = (wm_tok, from_state, mask.tolist())
        for k, last in seen.items():
            if k in cache:
                cache[k][1] = max(cache[k][1], last)
        if wm > 0:
            cache = {k: v for k, v in cache.items()
                     if v[1] + STATE_HORIZON_MS >= wm}
        max_ms = max([max_ms] + [_ms(r[3]) for r in batch])
    return out


def engine(batches):
    """The same batches through detect_source_batch, one DocCache per
    (source, shard) key, each expired once per batch."""
    caches: dict = {}
    out, max_ms = {}, 0
    for batch in batches:
        wm = max_ms - DELAY_MS if max_ms else 0
        pdf = pd.DataFrame(batch, columns=["doc_id", "tokens", "source",
                                           "event_ts", "seq_no"])
        pdf["n_tok"] = N
        pdf["event_ts"] = pd.to_datetime(pdf["event_ts"])
        pdf["_shard"] = [zlib.crc32(d.encode()) % N_SHARDS
                         for d in pdf["doc_id"]]
        for key, grp in pdf.groupby(["source", "_shard"], sort=False):
            res, caches[key] = detect_source_batch(
                grp.drop(columns="_shard").reset_index(drop=True),
                caches.get(key, DocCache.empty()))
            for r in res.itertuples():
                wm_tok = None if pd.isna(r.wm_token) else int(r.wm_token)
                out[(r.source, r.doc_id, r.seq_no)] = (
                    wm_tok, bool(r.from_state), r.mask.tolist())
        caches = {k: c.expire(wm) for k, c in caches.items()}
        max_ms = max([max_ms] + [_ms(r[3]) for r in batch])
    return out


def test_detect_source_batch_matches_sequential_reference():
    t0 = dt.datetime(2026, 1, 1, 0, 0, 10)
    late = dt.datetime(2026, 1, 1, 2, 0, 0)   # watermark >> t0 + horizon

    def r(doc, toks, src, secs, seq, base=t0):
        return (doc, toks, src, base + dt.timedelta(seconds=secs), seq)

    batches = [
        # docA on two sources; docB never detects; docF detects mid-batch
        [r("docF", AMB, "web", 0, 0), r("docA", DET_200, "web", 0, 0),
         r("docB", AMB, "web", 1, 0), r("docA", DET_205, "pdf", 0, 0),
         r("docF", DET_205, "web", 2, 1), r("docE", DET_200, "web", 3, 0),
         r("docF", AMB, "web", 4, 2)],
        # carry-over from batch 0, and another mid-batch first detection
        [r("docA", AMB, "web", 10, 1), r("docC", AMB, "web", 11, 0),
         r("docB", AMB, "web", 12, 1), r("docA", AMB, "pdf", 13, 1),
         r("docC", DET_200, "web", 14, 1), r("docF", AMB, "web", 15, 3),
         r("docC", AMB, "web", 16, 2)],
        # event time jumps two hours ahead
        [r("docG", DET_200, "web", 0, 0, late),
         r("docH", AMB, "pdf", 0, 0, late)],
        # watermark now past every t0 horizon: docA(web) present, so kept
        [r("docA", AMB, "web", 10, 2, late),
         r("docG", AMB, "web", 11, 1, late)],
        # docE expired and re-detects a DIFFERENT token; docA(pdf) expired
        [r("docE", AMB, "web", 20, 1, late),
         r("docE", DET_205, "web", 21, 2, late),
         r("docE", AMB, "web", 22, 3, late),
         r("docA", AMB, "pdf", 23, 2, late),
         r("docA", AMB, "web", 24, 3, late),
         r("docF", AMB, "web", 25, 4, late)],
    ]
    shards = {(src, zlib.crc32(d.encode()) % N_SHARDS)
              for b in batches for d, _, src, _, _ in b}
    assert len({s for _, s in shards}) >= 2 and len(shards) >= 4

    exp, got = reference(batches), engine(batches)
    assert len(exp) == sum(len(b) for b in batches)
    assert got == exp
    # the scenario exercises every rule, not just mutual agreement
    assert exp[("web", "docB", 1)][:2] == (None, False)        # never detects
    assert exp[("web", "docF", 0)][:2] == (None, False)        # before 1st hit
    assert exp[("web", "docF", 2)][:2] == (205, True)          # after 1st hit
    assert exp[("web", "docC", 2)][:2] == (200, True)
    assert exp[("web", "docA", 1)][:2] == (200, True)          # carry-over
    assert exp[("pdf", "docA", 1)][:2] == (205, True)
    assert exp[("web", "docA", 3)][:2] == (200, True)          # kept alive
    assert exp[("pdf", "docA", 2)][:2] == (None, False)        # expired
    assert exp[("web", "docF", 4)][:2] == (None, False)        # expired
    assert exp[("web", "docE", 1)][:2] == (None, False)        # expired ...
    assert exp[("web", "docE", 2)][:2] == (205, False)         # re-detected
    assert exp[("web", "docE", 3)][:2] == (205, True)
    assert any(any(m) for _, _, m in exp.values())


def test_doc_cache_expire_and_empty_batch():
    cache = DocCache(np.array(["a", "b"], dtype=object),
                     np.array([200, 205], dtype=np.int32),
                     np.array([1_000, 900_000], dtype=np.int64))
    assert cache.expire(0) is cache                     # no watermark yet
    kept = cache.expire(700_000)
    assert kept.doc.tolist() == ["b"] and kept.tok.tolist() == [205]
    empty = pd.DataFrame({"doc_id": pd.Series(dtype=object)})
    out, same = detect_source_batch(empty, cache, packed=True,
                                    with_tokens=True)
    assert len(out) == 0 and "tokens" in out.columns and same is cache
