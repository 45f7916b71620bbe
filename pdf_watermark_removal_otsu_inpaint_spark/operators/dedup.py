"""Duplicate-cluster resolution: exact connected components over a
candidate-pair graph (the step after MinHash/LSH pair generation in a
training-data dedup pipeline — pairs say "a matches b", clusters decide
which rows to keep).

Algorithm: iterative min-label propagation with pointer-jumping (each
round pulls the min neighbor label — one equi-join + partial-aggregated
groupBy — then shortcuts every label to its label's label, so covered hop
distance doubles per round: O(log diameter) rounds, not O(diameter), even
on path-shaped components). The driver-side loop runs a convergence ACTION
per round, which is inherent to iterative fixpoints (GraphX/Pregel do the
same); every per-row operation stays distributed. `localCheckpoint`
truncates the lineage each round so plans don't grow. Exhausting
max_iterations without convergence RAISES rather than silently returning
partial clusters.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .repair_vectorized import _decode_text, _decoded, _passthrough


def _word_hashes_flat(g, offs, pw_box, p):
    """Shared word-segmentation + polynomial-hash core for the NumPy text
    kernels (minhash / shingle bands).

    g: flat char tokens (_decode_text: code points, uint8 on an ASCII
    batch); offs: int64 row offsets (n+1).
    Returns (wh, wlen, words_per_row): per-word hash
    fold((acc*31 + ascii(char)) % p), word length in chars, and words per
    row — word list == split(text, ' ') with Java limit=-1 (empty words
    from consecutive/leading/trailing spaces kept, hashing to 0).

    pw_box is a 1-element list holding the 31^j % p power table, grown on
    demand and carried across batches by the caller. int64 is exact:
    contributions < 256 * p < 2^38 on a uint8 batch (each is reduced mod p
    otherwise: a code point up to 0x10FFFF times 31^j % p reaches 2^51),
    and a batch holds < 2^24 chars, so the cumsum peaks < 2^62."""
    nb = offs.size - 1
    sp = np.flatnonzero(g == 32)             # space = word delimiter
    row_of_sp = np.searchsorted(offs, sp, side="right") - 1
    words_per_row = np.bincount(row_of_sp, minlength=nb) + 1
    ws = np.sort(np.concatenate([offs[:-1], sp + 1]))
    we = np.sort(np.concatenate([sp, offs[1:]]))
    wlen = we - ws
    nwords = ws.size
    maxlen = int(wlen.max()) if nwords else 1
    pw = pw_box[0]
    while pw.size < maxlen + 1:              # +1: shingle combine uses 31^len
        nxt = np.empty(max(maxlen + 1, 2 * pw.size), dtype=np.int64)
        nxt[:pw.size] = pw
        for j in range(pw.size, nxt.size):
            nxt[j] = (nxt[j - 1] * 31) % p
        pw_box[0] = pw = nxt
    total = int(wlen.sum())
    wi = np.repeat(np.arange(nwords, dtype=np.int64), wlen)
    basew = np.zeros(nwords, dtype=np.int64)
    np.cumsum(wlen[:-1], out=basew[1:])
    pos = np.arange(total, dtype=np.int64) - basew[wi] + ws[wi]
    contrib = g[pos].astype(np.int64) * pw[we[wi] - 1 - pos]
    if g.dtype != np.uint8:
        contrib %= p
    c = np.empty(total + 1, dtype=np.int64)
    c[0] = 0
    np.cumsum(contrib, out=c[1:])
    wh = (c[basew + wlen] - c[basew]) % p
    return wh, wlen, words_per_row


def minhash_signatures_text(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            a_vals: tuple = (3, 5, 7, 11, 13, 17, 19, 23),
                            p: int = 1_000_000_007) -> DataFrame:
    """MinHash signatures computed in NumPy straight off the text's Arrow
    buffer (round-6 rewrite of q25's feed; guide §4.2). NULL texts emit
    nothing, as the oracle's UNNEST drops them.

    Semantics are exactly the round-5 Catalyst in-row form: words =
    split(text, ' ') with Java's limit=-1 (empty words from consecutive /
    trailing spaces KEPT, hashing to 0), word hash = the sequential fold
    ((acc*31 + ascii(char)) % p), signature slot i = min over words of
    (a_i * wh + (i+1)) % p. The fold's per-step mod equals the polynomial
    sum mod p, so the hash is computed here as one gather of 31^j % p
    powers + one cumsum + per-word range differences — modular integer
    arithmetic, exact, no summation-order sensitivity (unlike floats).
    The Catalyst version evaluated an interpreted per-char aggregate HOF
    ~15M times per sf1 pass; this is three vectorized passes over the
    char-token buffer. min() is duplicate-insensitive, so the round-5
    array_distinct(words) step is dropped — identical results (the
    sf0.01 oracle gate and tests/test_dedup.py pin this).

    Stays a pure map (partial rows per batch, no shuffle); int64 is exact
    throughout (see _word_hashes_flat)."""
    src = df.select(id_col, text_col)
    id_type = dict(src.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, hash_i int, minhash long"
    K = len(a_vals)

    def fn(batches):
        A = np.asarray(a_vals, dtype=np.int64)
        B = np.arange(1, K + 1, dtype=np.int64)
        pw_box = [np.ones(1, dtype=np.int64)]    # 31^j % p, grown on demand
        for b, g, offs in _decoded(batches, text_col, _decode_text):
            nb = b.num_rows
            wh, _, words_per_row = _word_hashes_flat(g, offs, pw_box, p)
            doc_starts = np.zeros(nb, dtype=np.int64)
            np.cumsum(words_per_row[:-1], out=doc_starts[1:])
            mh = np.empty((nb, K), dtype=np.int64)
            for k in range(K):
                mh[:, k] = np.minimum.reduceat((A[k] * wh + B[k]) % p,
                                               doc_starts)
            ids = _passthrough(b, id_col)
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(np.repeat(np.arange(nb), K))),
                 pa.array(np.tile(np.arange(K, dtype=np.int32), nb)),
                 pa.array(mh.ravel())],
                [id_col, "hash_i", "minhash"])

    return src.mapInArrow(fn, out_schema)


def simhash_text(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n_bits: int = 16,
                 p: int = 1_000_000_007) -> DataFrame:
    """q27's SimHash in NumPy off the text's Arrow buffer: per-word polynomial
    hashes (shared _word_hashes_flat core — frequency-weighted: duplicate
    words count each time, empty words hash to 0, exactly like the
    round-5 in-row form), then one (words x n_bits) signed-bit matrix and
    an add.reduceat per doc; bit j of the signature is set iff the signed
    sum is > 0. Pure map, same values (oracle-parity tested); replaces 16
    interpreted per-word Catalyst folds per document."""
    src = df.select(id_col, text_col)
    id_type = dict(src.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, simhash16 long"

    def fn(batches):
        pw_box = [np.ones(1, dtype=np.int64)]
        bits = np.arange(n_bits, dtype=np.int64)
        for b, g, offs in _decoded(batches, text_col, _decode_text):
            nb = b.num_rows
            wh, _, wpr = _word_hashes_flat(g, offs, pw_box, p)
            doc_starts = np.zeros(nb, dtype=np.int64)
            np.cumsum(wpr[:-1], out=doc_starts[1:])
            signed = (((wh[:, None] >> bits) & 1) * 2 - 1)
            sums = np.add.reduceat(signed, doc_starts, axis=0)
            sim = (((sums > 0).astype(np.int64)) << bits).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [_passthrough(b, id_col), pa.array(sim)],
                [id_col, "simhash16"])

    return src.mapInArrow(fn, out_schema)


def shingle_band_signatures_text(df: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 a_vals: tuple = (3, 5, 7, 11, 13, 17, 19,
                                                  23),
                                 p: int = 1_000_000_007) -> DataFrame:
    """q53's signature stage in NumPy: word 3-gram shingle hashes + 4
    bands x 2 minhash rows per doc, off the text's Arrow buffer.

    Semantics match the round-5 Catalyst form exactly: shingle string =
    concat_ws(' ', w_i, w_i+1, w_i+2), its polynomial 31-hash composed
    from the word hashes via h(concat(a,b)) = (h(a) * 31^len(b) + h(b))
    mod p (so the joining spaces contribute token 32 like any other char);
    band b keys = min over shingles of (a_2b * h + 2b+1) % p and
    (a_2b+1 * h + 2b+2) % p. Docs with fewer than 3 words emit nothing
    (the round-5 plan's size(hs) > 0 filter; array_distinct on shingles
    is dropped — min() is duplicate-insensitive, values unchanged).
    Products stay < (p-1)^2 ~ 1e18 < 2^63: exact int64.

    The Catalyst version folded an interpreted per-char aggregate over
    every shingle's ~33 chars (~60M interpreted steps on the 50k-doc
    stress corpus — the bench's slowest dedup leg); this is a handful of
    vectorized passes."""
    src = df.select(id_col, text_col)
    id_type = dict(src.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, band int, mh1 long, mh2 long"
    n_bands = len(a_vals) // 2

    def fn(batches):
        A = np.asarray(a_vals, dtype=np.int64)
        pw_box = [np.ones(1, dtype=np.int64)]
        for b, g, offs in _decoded(batches, text_col, _decode_text):
            nb = b.num_rows
            wh, wlen, wpr = _word_hashes_flat(g, offs, pw_box, p)
            pw = pw_box[0]
            doc_w0 = np.zeros(nb, dtype=np.int64)
            np.cumsum(wpr[:-1], out=doc_w0[1:])
            shc = np.maximum(wpr - 2, 0)         # shingles per doc
            keep_doc = shc > 0
            if not keep_doc.any():
                continue
            nsh = int(shc.sum())
            si = np.repeat(np.arange(nb, dtype=np.int64), shc)
            bases = np.zeros(nb, dtype=np.int64)
            np.cumsum(shc[:-1], out=bases[1:])
            w0 = np.arange(nsh, dtype=np.int64) - bases[si] + doc_w0[si]
            h = wh[w0]
            for step in (1, 2):                  # append ' ' + next word
                h = (h * 31 + 32) % p
                h = (h * pw[wlen[w0 + step]] + wh[w0 + step]) % p
            kept_idx = np.flatnonzero(keep_doc)
            starts = bases[kept_idx]             # per-kept-doc shingle start
            nk = kept_idx.size
            mh = np.empty((nk, 2 * n_bands), dtype=np.int64)
            for k in range(2 * n_bands):
                mh[:, k] = np.minimum.reduceat((A[k] * h + (k + 1)) % p,
                                               starts)
            ids = _passthrough(b, id_col)
            rep = np.repeat(kept_idx, n_bands)
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(rep)),
                 pa.array(np.tile(np.arange(n_bands, dtype=np.int32), nk)),
                 pa.array(mh[:, 0::2].ravel()),
                 pa.array(mh[:, 1::2].ravel())],
                [id_col, "band", "mh1", "mh2"])

    return src.mapInArrow(fn, out_schema)


def lsh_candidate_pairs(sig: DataFrame, min_matches: int = 4,
                        max_bucket: int = 64,
                        s1_filter=None) -> DataFrame:
    """MinHash-LSH candidate pairs with a HOT-BUCKET CEILING.

    sig(doc_id, i, mh) -> (a_id, b_id, matches >= min_matches). The
    self-equi-join on (i, mh) is quadratic PER BUCKET, so one degenerate
    bucket (many docs sharing a signature component — boilerplate corpora
    do this) can explode the join. Standard LSH practice caps the bucket:
    buckets wider than `max_bucket` are dropped BEFORE the join (they
    carry no discriminative signal — a component shared by thousands of
    docs doesn't identify near-duplicates). The cap bounds join output at
    #buckets * max_bucket^2 BY CONSTRUCTION; a corpus of n identical docs
    yields 0 pairs from this path instead of n^2 (and is exactly what
    exact-dedup (q20) catches first). The bucket-width window partitions
    by (i, mh) — the same keys the join shuffles on, so the guard rides
    the join's own Exchange.

    `s1_filter`: optional Column predicate applied to the LEFT side only,
    AFTER the bucket cap (bucket width must be measured over the full
    signature table — capping a prefiltered side would under-count bucket
    membership and let a degenerate bucket through). Used by callers that
    restrict one side of the pair space (q21's doc_id % 2 probe slice)."""
    wide = F.count("*").over(Window.partitionBy("i", "mh"))
    kept = sig.withColumn("_bw", wide).where(F.col("_bw") <= max_bucket) \
              .drop("_bw")
    s1 = (kept.where(s1_filter) if s1_filter is not None else kept) \
        .alias("s1")
    s2 = kept.alias("s2")
    return (s1.join(s2, (F.col("s1.i") == F.col("s2.i"))
                    & (F.col("s1.mh") == F.col("s2.mh"))
                    & (F.col("s1.doc_id") < F.col("s2.doc_id")))
            .groupBy(F.col("s1.doc_id").alias("a_id"),
                     F.col("s2.doc_id").alias("b_id"))
            .agg(F.count("*").alias("matches"))
            .where(F.col("matches") >= min_matches))


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iterations: int = 20) -> DataFrame:
    """vertices(id) + edges(u, v) -> (id, cluster_id = min id reachable).

    Singleton vertices cluster to themselves. Edges may be directed pairs
    (u < v); propagation symmetrizes them.

    Precondition: every edge endpoint is a vertex id (q52's edges are
    pairs of its documents). Labels are seeded from edge endpoints, so an
    edge naming an absent id still donates that id: a vertex connected
    to it can get a `cluster_id` that is not a vertex, and the absent id
    itself gets no output row."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.repartition("v").localCheckpoint()
    # Iterate ONLY over edge-incident vertices (round 6): an isolated
    # vertex can neither receive nor donate a label (propagation reads
    # labels through sym), so it is a singleton by construction and needs
    # no rounds. On a dedup graph edges cover a small fraction of the
    # corpus (~5k of 50k docs on the bench stress corpus), so every
    # per-round join/checkpoint moves ~10x fewer rows; the result is
    # identical — singletons are restored by the final left join.
    touched = (sym.select(F.col("u").alias("id")).distinct()
               .localCheckpoint())
    labels = touched.select(F.col("id"),
                            F.col("id").alias("lbl")).localCheckpoint()
    converged = False
    for _ in range(max_iterations):
        # pull the smallest neighbor label across each edge
        prop = (sym.join(labels, sym.v == labels.id)
                .groupBy("u").agg(F.min("lbl").alias("nlbl")))
        new_labels = (labels.join(prop, labels.id == prop.u, "left")
                      .select(F.col("id"),
                              F.least(F.col("lbl"),
                                      F.coalesce(F.col("nlbl"), F.col("lbl")))
                              .alias("lbl")))
        # pointer-jumping: lbl <- min(lbl, lbl(lbl)). lbl(lbl) is always a
        # reachable label, so the fixpoint is unchanged, but the covered
        # hop distance doubles each round (chains converge in O(log d))
        jump = new_labels.select(F.col("id").alias("jid"),
                                 F.col("lbl").alias("jlbl"))
        new_labels = (new_labels.join(jump, new_labels.lbl == jump.jid,
                                      "left")
                      .select(F.col("id"),
                              F.least(F.col("lbl"),
                                      F.coalesce(F.col("jlbl"), F.col("lbl")))
                              .alias("lbl")))
        new_labels = new_labels.localCheckpoint()
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
                   .where(F.col("n.lbl") != F.col("o.lbl")).limit(1).count())
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds; raise max_iterations (rounds needed is "
            "O(log(component diameter)))")
    vv, ll = vertices.alias("vv"), labels.alias("ll")
    return (vv.join(ll, F.col("vv.id") == F.col("ll.id"), "left")
            .select(F.col("vv.id").alias("id"),
                    F.coalesce(F.col("ll.lbl"), F.col("vv.id"))
                    .alias("cluster_id")))
