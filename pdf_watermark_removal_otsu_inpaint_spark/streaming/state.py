"""Stateful detection carry-over (X5): the detected watermark token cached
per document across its rows — the reference caches self.watermark_color
after the first detecting page (watermark_detector.py:562-568, :188); here
that cache is streaming state with an event-time horizon.

One operator: `DetectProcessor` on transformWithStateInPandas, keyed by
(source, xxhash64(doc_id) % N_SHARDS). Keying by shard instead of by
document means one Python dispatch per shard per micro-batch, and the whole
shard batch runs through ONE vectorized detect_batch call; the per-doc
cache-once rule is NumPy segment arithmetic (`detect_source_batch`).

The shard's per-doc cache is one typed ValueState holding parallel arrays
(doc array<string>, tok array<int>, ts array<long>) plus the shard's timer,
so the checkpoint holds Spark-typed rows the engine can read, not an opaque
Python object. Per-doc expiry runs in-function after each batch the shard
receives rows in: a doc whose last event is more than STATE_HORIZON_MS behind
the watermark is dropped. The shard's own event-time timer clears a shard
silent past the horizon.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql.streaming.stateful_processor import (StatefulProcessor,
                                                      StatefulProcessorHandle)
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..params import DEFAULT_PARAMS, EngineParams

DETECT_STATE_OUTPUT = ("doc_id string, seq_no long, event_ts timestamp, "
                       "source string, mask array<boolean>, wm_token int, "
                       "coverage double, from_state boolean")
# X6 wire format: bit-packed masks divide the mask's bytes by ~8 across the
# stream-stream join SHUFFLE and inside the join's STATE STORE (each side
# of an interval join buffers its rows in state until the watermark closes
# them out) — at 2048 tokens that is ~2 KB -> 256 B per buffered row. The
# post-join repair reads either mask layout by column name
# (pipeline.repair_joined -> repair_vectorized.apply_masks).
DETECT_STATE_OUTPUT_PACKED = (
    "doc_id string, seq_no long, event_ts timestamp, "
    "source string, mask_bin binary, wm_token int, "
    "coverage double, from_state boolean")
# Join-free chain flavor: the state op already holds each row's tokens, so
# it can pass them through alongside the mask and feed the K2 repair
# DIRECTLY — no X6 stream-stream join, so neither stream is buffered in
# join state (at 10^12 rows the join buffers BOTH sides until the
# watermark closes them). X6 stays the spec'd default composition; this is
# the measured alternative for the carry-over-without-rejoin shape.
DETECT_STATE_OUTPUT_JOINFREE = (
    "doc_id string, seq_no long, event_ts timestamp, "
    "source string, tokens array<int>, n_tok int, mask_bin binary, "
    "wm_token int, coverage double, from_state boolean")

STATE_HORIZON_MS = 600_000   # per-doc silence horizon
WATERMARK = "10 minutes"
# ~2x the core count of a 32-core host: enough groups to fill every core,
# ~100-1000x fewer dispatches than one group per document
N_SHARDS = 64

STATE_SCHEMA = StructType([
    StructField("doc", ArrayType(StringType(), False), True),
    StructField("tok", ArrayType(IntegerType(), False), True),
    StructField("ts", ArrayType(LongType(), False), True),
    StructField("tmr", LongType(), True)])

# Canonical RocksDB state-store configuration (pipeline.py applies the same
# dict). Changelog checkpointing is ON: the provider commits each
# micro-batch by uploading the batch's state CHANGELOG and snapshots in the
# background every `...rocksdb.minDeltasForSnapshot` batches — without it
# every commit uploads a full store snapshot per partition, which at 10^12
# state keys (the X6 join buffering both streams to the watermark horizon)
# is the checkpoint bottleneck, not the state writes themselves. A
# checkpoint written with changelog mode must be resumed with it.
ROCKSDB_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        ("org.apache.spark.sql.execution.streaming.state."
         "RocksDBStateStoreProvider"),
    "spark.sql.streaming.stateStore.rocksdb."
    "changelogCheckpointing.enabled": "true",
}


class DocCache(NamedTuple):
    """One shard's per-doc cache as parallel arrays: doc ids (unique),
    cached wm token, last event time in ms."""
    doc: np.ndarray
    tok: np.ndarray
    ts: np.ndarray

    @classmethod
    def empty(cls) -> DocCache:
        return cls(np.empty(0, dtype=object), np.empty(0, dtype=np.int32),
                   np.empty(0, dtype=np.int64))

    def expire(self, wm_ms: int) -> DocCache:
        """Drop docs whose last event is more than STATE_HORIZON_MS behind
        the watermark (no-op before the first watermark)."""
        if wm_ms <= 0:
            return self
        keep = self.ts + STATE_HORIZON_MS >= wm_ms
        return DocCache(*(a[keep] for a in self))


def _out_schema(packed: bool, with_tokens: bool) -> str:
    if with_tokens and not packed:
        raise ValueError("with_tokens requires packed=True "
                         "(the join-free wire format)")
    return (DETECT_STATE_OUTPUT_JOINFREE if with_tokens
            else DETECT_STATE_OUTPUT_PACKED if packed
            else DETECT_STATE_OUTPUT)


def assemble_detect_output(pdf: pd.DataFrame, mask_flat, offsets, wm_out,
                           covs, froms, packed: bool = False,
                           with_tokens: bool = False) -> pd.DataFrame:
    """Builds the detect-output frame. packed=True emits the bit-packed
    `mask_bin` (np.packbits wire format, DETECT_STATE_OUTPUT_PACKED) instead
    of `mask array<boolean>`; with_tokens=True additionally passes the input
    tokens/n_tok through (DETECT_STATE_OUTPUT_JOINFREE, packed only)."""
    B = len(pdf)
    if packed:
        mask_col = ("mask_bin",
                    [np.packbits(mask_flat[offsets[i]:offsets[i + 1]])
                     .tobytes() for i in range(B)])
    else:
        mask_col = ("mask",
                    [mask_flat[offsets[i]:offsets[i + 1]] for i in range(B)])
    out = {"doc_id": pdf["doc_id"], "seq_no": pdf["seq_no"],
           "event_ts": pdf["event_ts"], "source": pdf["source"]}
    if with_tokens:
        assert packed, "with_tokens implies the packed wire format"
        out["tokens"] = pdf["tokens"]
        out["n_tok"] = pdf["n_tok"]
    out[mask_col[0]] = mask_col[1]
    out["wm_token"] = [None if w < 0 else int(w) for w in wm_out]
    out["coverage"] = covs
    out["from_state"] = froms
    return pd.DataFrame(out)


def detect_source_batch(pdf: pd.DataFrame, cache: DocCache,
                        p: EngineParams = DEFAULT_PARAMS,
                        packed: bool = False,
                        with_tokens: bool = False
                        ) -> tuple[pd.DataFrame, DocCache]:
    """Whole-batch X5 body for ALL documents of one shard.

    Per document: rows of a doc with a cached token use it
    (from_state=True); otherwise rows after the doc's FIRST self-detecting
    row inherit its token. Per-row detection only runs over the rows of
    uncached docs — in carry-over steady state most docs are cached.
    Returns the output frame and the updated cache (cached docs get their
    last event time refreshed, newly detecting docs are appended)."""
    from ..operators.repair_vectorized import (_detect_wm_batch, detect_batch,
                                               flatten_arrays)
    B = len(pdf)
    if B == 0:
        cols = [f.split()[0]
                for f in _out_schema(packed, with_tokens).split(", ")]
        return pd.DataFrame({c: pd.Series(dtype=object) for c in cols}), cache

    gid, _ = pd.factorize(pdf["doc_id"], sort=False)
    order = np.argsort(gid, kind="stable")  # docs contiguous, row order kept
    pdf = pdf.iloc[order].reset_index(drop=True)
    gid = gid[order]
    starts = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
    ends = np.r_[starts[1:], B]

    flat, offsets = flatten_arrays(pdf["tokens"])
    flat = np.ascontiguousarray(flat, dtype=np.int32)
    lengths = np.diff(offsets)

    # per-segment cache lookup: one hash-index probe for the whole batch
    seg_docs = pdf["doc_id"].to_numpy(dtype=object)[starts]
    idx = pd.Index(cache.doc).get_indexer(seg_docs)
    has_cache = idx >= 0
    hit = idx[has_cache]
    cache_tok = np.full(starts.size, -1, dtype=np.int32)
    cache_tok[has_cache] = cache.tok[hit]

    seg_of_row = np.repeat(np.arange(starts.size), ends - starts)
    row_cached = has_cache[seg_of_row]

    det = np.full(B, -1, dtype=np.int32)
    if not has_cache.all():
        # per-row detection only over the rows of UNCACHED docs
        row_mask = ~row_cached
        sub_rows = np.flatnonzero(row_mask)
        sub_flat = flat[np.repeat(row_mask, lengths)]
        det[sub_rows] = _detect_wm_batch(sub_flat.astype(np.uint8),
                                         lengths[sub_rows])

    wm_used = det.copy()
    froms = np.zeros(B, dtype=bool)
    ts_ms = pdf["event_ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
    seg_ts_max = np.maximum.reduceat(ts_ms, starts)

    # cached segments: every row uses the cached token
    wm_used[row_cached] = cache_tok[seg_of_row[row_cached]]
    froms[row_cached] = True

    # uncached segments: rows AFTER the first self-detecting row inherit
    # its token (cache-once within the batch). first_idx per segment via a
    # reduceat-min over detection positions (B = "none found"); cached
    # segments have det == -1 everywhere so they read B here too.
    pos = np.arange(B, dtype=np.int64)
    first_idx = np.minimum.reduceat(np.where(det >= 0, pos, B), starts)
    found = first_idx < B
    tok_first = np.where(found, det[np.minimum(first_idx, B - 1)],
                         -1).astype(np.int32)
    after = found[seg_of_row] & (pos > first_idx[seg_of_row])
    wm_used[after] = tok_first[seg_of_row[after]]
    froms[after] = True

    # merge: cached docs refresh their timestamp (token unchanged), docs
    # that detected for the first time (`found` is never a cached doc) are
    # appended
    ts = cache.ts.copy()
    ts[hit] = np.maximum(ts[hit], seg_ts_max[has_cache])
    cache = DocCache(np.concatenate([cache.doc, seg_docs[found]]),
                     np.concatenate([cache.tok, tok_first[found]]),
                     np.concatenate([ts, seg_ts_max[found]]))

    mask_flat, wm_out, covs = detect_batch(flat, offsets, p, wm_in=wm_used)
    out = assemble_detect_output(pdf, mask_flat, offsets, wm_out, covs,
                                 froms, packed=packed,
                                 with_tokens=with_tokens)
    return out, cache


class DetectProcessor(StatefulProcessor):
    """X5 on transformWithStateInPandas: state keyed by (source, shard),
    the shard's DocCache in one typed ValueState, one event-time timer per
    shard. The shard timer only clears a shard silent past the horizon —
    by which time every doc in its cache has lapsed too."""

    def __init__(self, params: EngineParams = DEFAULT_PARAMS,
                 packed: bool = False, with_tokens: bool = False):
        self.p = params
        self.packed = packed
        self.with_tokens = with_tokens

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.docs = handle.getValueState("docs", STATE_SCHEMA)

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame],
                        timerValues) -> Iterator[pd.DataFrame]:
        got = self.docs.get()        # None when absent: no exists() RPC
        if got is None:
            cache, last_timer = DocCache.empty(), 0
        else:
            cache = DocCache(np.array(got[0], dtype=object),
                             np.array(got[1], dtype=np.int32),
                             np.array(got[2], dtype=np.int64))
            last_timer = got[3]
        last_ms = 0
        for pdf in rows:
            if len(pdf):
                last_ms = max(last_ms,
                              int(pdf["event_ts"].max().value // 1_000_000))
            out, cache = detect_source_batch(pdf, cache, self.p,
                                             packed=self.packed,
                                             with_tokens=self.with_tokens)
            yield out
        # per-doc expiry AFTER processing: a doc present in this batch keeps
        # its cached token even if its horizon just lapsed (its ts was
        # refreshed above); only absent-and-silent docs are dropped
        wm_ms = timerValues.getCurrentWatermarkInMs()
        cache = cache.expire(wm_ms)
        # the shard's TTL timer rides in the state: timer upkeep is a precise
        # deleteTimer(old) + registerTimer(new) pair (skipped when
        # unchanged) instead of a listTimers iterator RPC. Anchored at
        # max(watermark, last event) so a first-batch shard (watermark
        # still 0) gets a timer too.
        anchor = max(wm_ms, last_ms)
        new_timer = anchor + STATE_HORIZON_MS if anchor > 0 else last_timer
        # plain lists: the state encoder cannot take NumPy arrays
        self.docs.update((cache.doc.tolist(), cache.tok.tolist(),
                          cache.ts.tolist(), new_timer))
        if new_timer != last_timer:
            if last_timer:
                self.handle.deleteTimer(last_timer)
            self.handle.registerTimer(new_timer)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        self.docs.clear()
        return iter(())

    def close(self) -> None:
        pass


def detect_stream_stateful(seq, params: EngineParams = DEFAULT_PARAMS, *,
                           packed: bool = False, with_tokens: bool = False,
                           event_time_col: str = ""):
    """sequences stream -> stateful detect stream (X5), one output row per
    input row. Sets ROCKSDB_CONF on the stream's session (the state API
    requires the RocksDB provider).

    packed=True emits bit-packed `mask_bin` masks (the X6 join wire
    format); with_tokens=True also passes tokens/n_tok through (the
    join-free chain; packed only).

    `event_time_col`: pass the output's event-time column name ("event_ts")
    when a DOWNSTREAM stateful operator (the X6 stream-stream join) consumes
    this stream — the operator re-declares event time on its output so the
    watermark propagates, instead of the consumer calling withWatermark
    again (which Spark rejects as watermark redefinition past a stateful
    op). Leave empty when the output feeds only stateless stages."""
    from pyspark.sql import functions as F

    out_schema = _out_schema(packed, with_tokens)
    spark = seq.sparkSession
    for k, v in ROCKSDB_CONF.items():
        spark.conf.set(k, v)
    return (seq.withWatermark("event_ts", WATERMARK)
            .withColumn("_shard", F.pmod(F.xxhash64("doc_id"),
                                         F.lit(N_SHARDS)))
            .groupBy("source", "_shard")
            .transformWithStateInPandas(
                DetectProcessor(params, packed=packed,
                                with_tokens=with_tokens),
                outputStructType=out_schema,
                outputMode="append",
                timeMode="eventTime",
                eventTimeColumnName=event_time_col))
