"""Document deduplication suite for web-scale training-data pipelines.

Six dedup families over a documents(doc_id, text, ...) table:

  exact          — md5 hash-groupBy (one shuffle, keep min id)
  minhash_lsh    — shingle -> MinHash -> band keys -> bucket join,
                   verified by true Jaccard on candidates
  simhash        — 64-bit SimHash, banded Hamming blocking
  winnow         — winnowing fingerprints (Schleimer et al. SIGMOD'03)
                   as inverted-index block keys, exact fingerprint-
                   Jaccard verify
  ngram_jaccard  — direct n-gram Jaccard over candidate pairs
  embedding      — cosine near-dup over an embedding column

Everything shuffles on compact keys (hashes / band keys), never on the
document text itself, and the expensive verification similarity only
runs on LSH-candidate pairs — the usual 100-TB-safe shape.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as TX
from ..functions.similarity import norm_expr, pair_cosine_expr, token_jaccard
from ..functions.sketches import (
    hamming64,
    lsh_band_keys,
    make_char_shingle_hash_udf,
    make_minhash_text_udf,
    simhash_band_keys,
    simhash_udf,
    winnow_fingerprint_udf,
)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(text_hash, canonical_id, dup_count) for every distinct text;
    dup groups = rows with dup_count > 1."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("dup_count"))
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per distinct text (min id wins) — the standard
    exact-dedup pass before anything fuzzy."""
    w_hash = docs.withColumn("_h", F.md5(F.col(text_col)))
    keep = w_hash.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return w_hash.join(keep, on=["_h", id_col], how="left_semi").drop("_h")


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    max_block: int = 5000,
) -> DataFrame:
    """LSH candidate pairs (id1 < id2) from banded MinHash over
    character shingles. Arrow-vectorized sketching (numpy MinHash);
    signature materialized before the band explode."""
    mh = make_minhash_text_udf(num_hashes, shingle_size)
    staged = docs.select(
        F.col(id_col).alias("doc"),
        mh(F.col(text_col)).alias("_sig"),
    )
    keys = staged.select(
        "doc",
        F.explode(lsh_band_keys(F.col("_sig"), num_hashes, bands)).alias("block_key"),
    )
    hot = keys.groupBy("block_key").count().filter(F.col("count") > max_block).select("block_key")
    keys = keys.join(F.broadcast(hot), on="block_key", how="left_anti")
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(b, on="block_key")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id1"), F.col("b.doc").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )


def _exact_est_min_agree(threshold: float, num_hashes: int) -> int:
    """Smallest integer agreement count n with n/num_hashes >= threshold
    under IEEE double arithmetic — derived by direct float comparison,
    so `agree >= n` is EXACTLY equivalent to the expression filter
    `agree/num_hashes >= threshold` (minhash_est_jaccard_expr) for
    every possible integer agreement."""
    n = int(np.ceil(threshold * num_hashes))
    while n <= num_hashes and n / num_hashes < threshold:
        n += 1
    while n > 0 and (n - 1) / num_hashes >= threshold:
        n -= 1
    return n


def _minhash_candidate_pairs(
    keyed: DataFrame, num_hashes: int, est_threshold: float, max_block: int
) -> DataFrame:
    """Distinct candidate pairs (id1 < id2) surviving the signature-
    estimate prune, generated per band bucket in numpy (guide §4.2).

    ``keyed`` is (doc, _sig, block_key) — one row per (document, band
    key). Rows shuffle once on block_key; each task enumerates every
    in-bucket (a < b) pair with a fully vectorized triangular-index
    construction (no per-bucket Python loop — bucket counts run to
    hundreds of thousands) and scores signature agreement in chunked
    row-gathered comparisons, emitting only pairs at or above the
    integer agreement threshold. The join+expression form evaluated an
    interpreted zip_with/aggregate per candidate ROW (~10µs × 30.7M
    band collisions at sf1.0 = 10s of the query); here the same
    arithmetic is ~num_hashes byte-ops per pair at SIMD speed and only
    survivors ever become rows.

    The hot-key cap folds in for free: a bucket with more than
    ``max_block`` members contributes nothing — exactly the semantics
    of the old count+anti-join pass, without its extra aggregation
    over the keyed frame. Per-task memory is bounded by the partition's
    key rows plus a constant-size pair chunk (200k × num_hashes
    comparisons)."""
    doc_type = keyed.schema["doc"].dataType
    schema = T.StructType(
        [T.StructField("id1", doc_type), T.StructField("id2", doc_type)]
    )
    min_agree = _exact_est_min_agree(est_threshold, num_hashes)

    def gen(batches):
        batches = list(batches)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        if pdf.empty:
            yield pd.DataFrame({"id1": [], "id2": []})
            return
        pdf = pdf.sort_values(["block_key", "doc"], kind="stable", ignore_index=True)
        key = pdf["block_key"].to_numpy()
        doc = pdf["doc"].to_numpy()
        sig = np.stack(pdf["_sig"].to_numpy()).astype(np.int64)
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        bounds = np.r_[starts, len(key)]
        sizes = np.diff(bounds)
        # admitted buckets: pairable and under the hot-key cap
        okg = (sizes >= 2) & (sizes <= max_block)
        out1, out2 = [], []
        # Two regimes (band-bucket sizes are heavy-tailed — measured at
        # sf1.0: 90k buckets of 2-64 docs carry 2.7M pairs while ~850
        # buckets of 65-5000 docs carry 28M):
        #  * SMALL buckets batch through one vectorized triangular-
        #    index enumeration (a per-bucket Python loop over 90k
        #    buckets costs more than their arithmetic);
        #  * LARGE buckets each score a chunked (rows × d × num_hashes)
        #    equality block — compact matrix arithmetic instead of
        #    materializing d²-sized index vectors.
        SMALL = 64
        small = okg & (sizes <= SMALL)
        g_start_all = bounds[:-1][small].astype(np.int64)
        g_np_all = (sizes[small].astype(np.int64) * (sizes[small].astype(np.int64) - 1)) // 2
        # bucket-slice the enumeration so the per-slice index arrays
        # stay constant-size no matter how many small buckets a bigger
        # corpus packs into one partition
        cum = np.cumsum(g_np_all)
        slice_bounds = [0]
        for cap in range(2_000_000, int(cum[-1]) if len(cum) else 0, 2_000_000):
            slice_bounds.append(int(np.searchsorted(cum, cap, side="right")))
        slice_bounds.append(len(g_np_all))
        for s0, s1 in zip(slice_bounds[:-1], slice_bounds[1:]):
            if s1 <= s0:
                continue
            g_start = g_start_all[s0:s1]
            npairs = g_np_all[s0:s1]
            total = int(npairs.sum())
            if total == 0:
                continue
            # pair id t within its bucket decodes to local (a, b) via
            # the triangular-number inverse b = floor((1+sqrt(1+8t))/2),
            # with integer guards against sqrt rounding
            t = np.arange(total, dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(npairs)[:-1])), npairs
            )
            b = ((1.0 + np.sqrt(1.0 + 8.0 * t.astype(np.float64))) // 2).astype(np.int64)
            b -= b * (b - 1) // 2 > t
            b += (b + 1) * b // 2 <= t
            a = t - b * (b - 1) // 2
            base = np.repeat(g_start, npairs)
            for lo in range(0, total, 200_000):
                ii = base[lo : lo + 200_000] + a[lo : lo + 200_000]
                jj = base[lo : lo + 200_000] + b[lo : lo + 200_000]
                agree = (sig[ii] == sig[jj]).sum(axis=1)
                m = agree >= min_agree
                if m.any():
                    out1.append(doc[ii[m]])
                    out2.append(doc[jj[m]])
        for s, e in zip(bounds[:-1][okg & (sizes > SMALL)],
                        bounds[1:][okg & (sizes > SMALL)]):
            d = int(e - s)
            block_sig = sig[s:e]
            docs_g = doc[s:e]  # ascending within the bucket
            cols = np.arange(d)
            for c0 in range(0, d, 256):
                c1 = min(c0 + 256, d)
                eq = (block_sig[c0:c1, None, :] == block_sig[None, :, :]).sum(
                    axis=2, dtype=np.int16
                )
                ok = eq >= min_agree
                ok &= cols[None, :] > (c0 + np.arange(c1 - c0))[:, None]
                aa, bb = np.nonzero(ok)
                if len(aa):
                    out1.append(docs_g[aa + c0])
                    out2.append(docs_g[bb])
        if out1:
            yield pd.DataFrame(
                {"id1": np.concatenate(out1), "id2": np.concatenate(out2)}
            )
        else:
            yield pd.DataFrame({"id1": [], "id2": []})

    return (
        keyed.repartition("block_key")
        .mapInPandas(gen, schema)
        .dropDuplicates(["id1", "id2"])
    )


def _winnow_verify_pairs(
    keyed: DataFrame, max_block: int, threshold: float
) -> DataFrame:
    """Fused candidate generation + exact fingerprint-Jaccard verify
    for inverted-index (winnowing) blocking, one bucket at a time in
    numpy: emits only (id1 < id2, jaccard) rows that CLEAR the
    threshold — the candidate flood never becomes Spark rows at all.

    ``keyed`` is (doc, fp, block_key): one posting row per (document,
    selected fingerprint), CARRYING the document's full fingerprint
    array (winnowing arrays are distinct+sorted per doc). Rows shuffle
    once on the compact key; each task walks its buckets:

      * a bucket over ``max_block`` posting rows contributes nothing
        (posting rows == distinct docs here, so this is exactly the
        old hot-key count()+anti-join cap);
      * a 2-doc bucket verifies with one sorted-array intersect;
      * a larger bucket builds a docs × distinct-fingerprint presence
        matrix and computes ALL pairwise intersection counts as one
        column-chunked GEMM (C += Mc @ Mc.T) — ~L float32 FMAs per
        pair at BLAS speed instead of a per-pair array_intersect
        expression after two hydration joins over the candidate flood.
        Column chunks bound the presence matrix at ~16MB; the count
        matrix itself is bounded by max_block² (float32 counts are
        exact below 2^24, far above any fingerprint array length).

    Union sizes come from the full arrays, so jaccard is the same
    integer ratio token_jaccard computes (|A∩B| / (|A|+|B|-|A∩B|)),
    evaluated in float64 — bit-identical division. Why this beats the
    join form when the corpus is self-similar (measured at sf0.1:
    285.7M in-bucket pair rows → 12.49M distinct candidates → a few
    hundred survivors): the old shape shuffled the flood once to
    dedupe it and hydrated two 85-element arrays per surviving
    candidate through joins, 130s of which ~83s was candidate
    generation alone; here the per-pair work happens where the bucket
    already is, and only survivors (output rows, inherently bounded by
    the result) are ever serialized."""
    doc_type = keyed.schema["doc"].dataType
    schema = T.StructType(
        [
            T.StructField("id1", doc_type),
            T.StructField("id2", doc_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def gen(batches):
        batches = list(batches)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        if pdf.empty:
            yield pd.DataFrame({"id1": [], "id2": [], "jaccard": []})
            return
        pdf = pdf.sort_values(["block_key", "doc"], kind="stable", ignore_index=True)
        key = pdf["block_key"].to_numpy()
        doc = pdf["doc"].to_numpy()
        fp = pdf["fp"].to_numpy()
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        bounds = np.r_[starts, len(key)]
        sizes = np.diff(bounds)
        okg = (sizes >= 2) & (sizes <= max_block)
        out1, out2, outj = [], [], []
        for s, e in zip(bounds[:-1][okg], bounds[1:][okg]):
            d = int(e - s)
            arrs = [np.asarray(fp[i], dtype=np.int64) for i in range(s, e)]
            lens = np.array([len(a) for a in arrs], dtype=np.int64)
            docs_g = doc[s:e]
            if d == 2:
                c = float(np.intersect1d(arrs[0], arrs[1], assume_unique=True).size)
                jac = c / float(lens[0] + lens[1] - c)
                if jac >= threshold:
                    out1.append(docs_g[:1])
                    out2.append(docs_g[1:])
                    outj.append(np.array([jac]))
                continue
            flat = np.concatenate(arrs)
            row = np.repeat(np.arange(d), lens)
            _, col = np.unique(flat, return_inverse=True)
            n_u = int(col.max()) + 1
            order = np.argsort(col, kind="stable")
            cs = col[order]
            rs = row[order]
            C = np.zeros((d, d), dtype=np.float32)
            chunk = max(256, (4 << 20) // max(d, 1))
            for c0 in range(0, n_u, chunk):
                c1 = min(c0 + chunk, n_u)
                lo, hi = np.searchsorted(cs, [c0, c1])
                Mc = np.zeros((d, c1 - c0), dtype=np.float32)
                Mc[rs[lo:hi], cs[lo:hi] - c0] = 1.0
                C += Mc @ Mc.T
            sz = lens.astype(np.float64)
            # row-chunk the float64 jaccard/threshold pass so the
            # temporary stays bounded even at d == max_block
            for r0 in range(0, d, 1024):
                r1 = min(r0 + 1024, d)
                cnt = C[r0:r1].astype(np.float64)
                jac = cnt / (sz[r0:r1, None] + sz[None, :] - cnt)
                ii, jj = np.nonzero(jac >= threshold)
                m = (ii + r0) < jj
                if m.any():
                    out1.append(docs_g[ii[m] + r0])
                    out2.append(docs_g[jj[m]])
                    outj.append(jac[ii[m], jj[m]])
        if out1:
            yield pd.DataFrame(
                {
                    "id1": np.concatenate(out1),
                    "id2": np.concatenate(out2),
                    "jaccard": np.concatenate(outj),
                }
            )
        else:
            yield pd.DataFrame({"id1": [], "id2": [], "jaccard": []})

    return (
        keyed.repartition("block_key")
        .mapInPandas(gen, schema)
        .dropDuplicates(["id1", "id2"])
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    persist_signatures: bool = False,
    max_block: int = 5000,
    persisted: list | None = None,
) -> DataFrame:
    """Near-dup pairs with true shingle-Jaccard verification:
    (id1, id2, jaccard >= threshold) — `jaccard` is always the EXACT
    shingle Jaccard, never the signature estimate.

    Two-tier verification keeps the expensive part off the flood path:
      1. cheap signature-estimate PRUNE evaluated INSIDE the
         per-bucket candidate generator (_minhash_candidate_pairs)
         drops candidate pairs whose estimated Jaccard is hopeless
         BEFORE any per-pair shuffle — LSH banding over-generates
         badly when the corpus is self-similar, and the flood must die
         in the stage that produces it; the estimate is filter-only
         and never emitted;
      2. exact Jaccard over xxhash64-hashed shingles (longs, not
         strings) on every survivor.

    No driver actions and no broadcast hints in the plan: the
    candidate generator shuffles band-key rows once on the compact
    key, the verify sides join shuffled, and AQE promotes small sides
    to broadcast at runtime when they fit under
    spark.sql.autoBroadcastJoinThreshold. ``persist_signatures``
    (default OFF since the round-6 rewrite: the candidate generator
    reads the signature frame exactly once, so a cache would cost a
    full materialization write for zero plan reuse) caches the frame
    MEMORY_AND_DISK for callers that DO reuse it — pass ``persisted``
    (a list the persisted frame is appended to, to ``.unpersist()``
    once the returned plan is materialized) or use
    :func:`minhash_lsh_dedup_scoped`, which enables the cache and
    unpersists deterministically on scope exit — repeated unmanaged
    persisting calls accumulate cached blocks for the session
    lifetime.

    ``max_block`` caps degenerate band keys the same way
    minhash_candidates does: a boilerplate-heavy shard (identical
    headers/footers) can put 10^5 docs in ONE band bucket -> 10^10
    candidate rows before the estimate prune could run. Such buckets
    contribute nothing (a group-size check inside the generator);
    recall for their members is carried by their other
    (num_bands - 1) band keys.
    """
    from pyspark.storagelevel import StorageLevel

    from .util import ensure_parallelism

    # spread the per-document Arrow sketching and shingle passes: the
    # documents table often arrives as ONE parquet file (a few MB even
    # at 50k docs), so without this every sketch UDF below runs in a
    # single task while the other cores idle (measured at sf1.0: the
    # signature pass alone 8.0s serial vs ~1s spread; the tier-2
    # shingle sides 37s serial)
    docs = ensure_parallelism(docs)
    mh = make_minhash_text_udf(num_hashes, shingle_size)
    staged = docs.select(
        F.col(id_col).alias("doc"),
        mh(F.col(text_col)).alias("_sig"),
    )
    if persist_signatures:
        staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    # band keys CARRY the signature: the tier-1 estimate prune runs
    # inside the per-bucket candidate generator, BEFORE any per-pair
    # shuffle. The round-5 shape materialized the distinct candidate
    # set first and joined the signatures back on — on a self-similar
    # corpus banding over-generates catastrophically (measured at
    # sf1.0: 30.3M distinct candidate pairs, of which tier 1 keeps
    # 5,006), so the candidate dropDuplicates shuffled 30M pair rows
    # and the two signature hydration joins ran over all of them: 61s
    # of the 86s total. _minhash_candidate_pairs walks each band
    # bucket in numpy (agreement matrix = 64 vectorized column
    # equalities), folds the hot-key cap into a group-size check, and
    # emits only pairs whose integer agreement clears the exact float
    # threshold — identical pair-by-pair to the expression filter
    # `est >= t - slack` (see _exact_est_min_agree), applied before
    # dropDuplicates (the estimate is pair-deterministic, so the
    # surviving set is unchanged).
    keyed = staged.select(
        "doc",
        "_sig",
        F.explode(lsh_band_keys(F.col("_sig"), num_hashes, bands)).alias("block_key"),
    )
    t = jaccard_threshold
    slack = 2.0 * (t * (1 - t) / num_hashes) ** 0.5
    survivors = _minhash_candidate_pairs(keyed, num_hashes, t - slack, max_block)
    # tier 2: exact jaccard over hashed shingles for every survivor —
    # shingle hashing vectorized in numpy (make_char_shingle_hash_udf),
    # identical Jaccard values to the transform(char_shingles, xxhash64)
    # expression it replaces (set comparison is hash-internal)
    shu = make_char_shingle_hash_udf(shingle_size)
    sh = docs.select(F.col(id_col), shu(F.col(text_col)).alias("sh"))
    l = sh.select(F.col(id_col).alias("id1"), F.col("sh").alias("sh1"))
    r = sh.select(F.col(id_col).alias("id2"), F.col("sh").alias("sh2"))
    out = (
        survivors.join(l, on="id1")
        .join(r, on="id2")
        .withColumn("jaccard", token_jaccard("sh1", "sh2"))
        .filter(F.col("jaccard") >= t)
        .select("id1", "id2", "jaccard")
    )
    if persist_signatures and persisted is not None:
        # explicit handle transfer (a dynamic attribute on the returned
        # DataFrame would vanish on the first .filter/.select)
        persisted.append(staged)
    return out


@contextmanager
def _scoped_dedup(dedup_fn, docs: DataFrame, kwargs: dict) -> Iterator[DataFrame]:
    """Shared deterministic-cache-cleanup wrapper for the *_scoped
    dedup variants: materialize the yielded frame INSIDE the block;
    whatever frames the wrapped operator persisted are unpersisted on
    exit (even on error), so repeated calls cannot accumulate cached
    blocks for the session lifetime."""
    handles: list[DataFrame] = []
    try:
        yield dedup_fn(docs, persisted=handles, **kwargs)
    finally:
        for h in handles:
            h.unpersist()


def minhash_lsh_dedup_scoped(docs: DataFrame, **kwargs):
    """minhash_lsh_dedup with the signature cache ON and deterministic
    cleanup on scope exit (see _scoped_dedup)."""
    kwargs.setdefault("persist_signatures", True)
    return _scoped_dedup(minhash_lsh_dedup, docs, kwargs)


def simhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: banded bit-slice blocking (pigeonhole
    guarantees recall for distance < bands), Hamming verify."""
    sims = docs.select(
        F.col(id_col).alias("doc"),
        simhash_udf(TX.tokens(F.col(text_col))).alias("sim"),
    )
    keyed = sims.select(
        "doc", "sim", F.explode(simhash_band_keys("sim", bands)).alias("block_key")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, on="block_key")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("id1"),
            F.col("b.doc").alias("id2"),
            hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming"),
        )
        .dropDuplicates(["id1", "id2"])
        .filter(F.col("hamming") <= max_hamming)
    )


def winnow_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    max_block: int = 5000,
    key_sample_mod: int = 1,
    persist_fingerprints: bool = False,
    persisted: list | None = None,
) -> DataFrame:
    """Winnowing near-dup pairs — the third sketch-based dedup family
    beside minhash/simhash (wires the fingerprints from
    functions/sketches.winnow_fingerprint_udf into an actual pair
    operator).

    Blocking: every winnowing fingerprint IS a block key (the MOSS
    inverted-index scheme, Schleimer et al. SIGMOD'03 §4) — documents
    sharing any fingerprint meet in one equi-join bucket, so recall is
    PERFECT for every pair with fingerprint-Jaccard > 0 (any shared
    fingerprint puts the pair in that fingerprint's bucket), before
    hot-key capping. Verify: exact Jaccard over the full fingerprint
    arrays on candidates only.

    100-TB shape: compact long keys shuffle the posting rows once into
    the fused per-bucket generator+verifier (_winnow_verify_pairs),
    whose group-size check drops degenerate fingerprints over
    ``max_block`` posting rows (boilerplate shared by 10^5 docs would
    emit 10^10 candidate rows from one bucket); the in-bucket pair
    flood is scored as per-bucket presence-matrix GEMMs and only
    threshold survivors ever become rows — no driver actions, no
    broadcasts, no per-pair hydration joins.

    ``key_sample_mod`` > 1 keeps only fingerprints ≡ 0 (mod m) as
    block keys (the standard "0 mod p" super-fingerprint selection) —
    an m× candidate-volume reduction for corpus-scale runs (and an m×
    cut of the array-carrying posting shuffle); recall then holds for
    pairs sharing ≥ 1 SELECTED fingerprint. The verify always uses ALL
    fingerprints (the posting rows carry the full array regardless of
    sampling).

    ``persist_fingerprints`` (default OFF since the round-6 fused
    rewrite: the fingerprint frame is read exactly once, so a cache
    would cost a materialization for zero plan reuse) caches the frame
    MEMORY_AND_DISK for callers that reuse it; pass ``persisted`` to
    receive the handle for deterministic unpersist, or use
    :func:`winnow_dedup_scoped`.
    """
    from pyspark.storagelevel import StorageLevel

    from .util import ensure_parallelism

    # spread the per-document Arrow fingerprinting: documents usually
    # arrive as ONE parquet row group, and the winnowing UDF costs
    # ~100-200µs/doc — without this the sketch pass runs in one task
    # (same guard minhash_lsh_dedup carries)
    docs = ensure_parallelism(docs)
    fps = docs.select(
        F.col(id_col).alias("doc"),
        winnow_fingerprint_udf(F.col(text_col)).alias("fp"),
    ).filter(F.size("fp") > 0)
    if persist_fingerprints:
        fps = fps.persist(StorageLevel.MEMORY_AND_DISK)
        if persisted is not None:
            persisted.append(fps)
    # posting rows CARRY the full fingerprint array into the bucket
    # walker (round 6): candidate generation and the exact-Jaccard
    # verify are fused in _winnow_verify_pairs, so the in-bucket pair
    # flood — 285.7M rows at sf0.1, of which a few hundred survive the
    # threshold — never shuffles, and the two fingerprint hydration
    # joins of the old shape disappear with it. The sampled block-key
    # selection filters POSTINGS only; the carried array (hence the
    # verify) always uses ALL fingerprints, as before.
    keyed = fps.select("doc", "fp", F.explode("fp").alias("block_key"))
    if key_sample_mod > 1:
        keyed = keyed.filter(F.pmod(F.col("block_key"), F.lit(key_sample_mod)) == 0)
    return _winnow_verify_pairs(keyed, max_block, jaccard_threshold)


def winnow_dedup_scoped(docs: DataFrame, **kwargs):
    """winnow_dedup with the fingerprint cache ON and deterministic
    cleanup on scope exit (the analogue of
    :func:`minhash_lsh_dedup_scoped`). See _scoped_dedup."""
    kwargs.setdefault("persist_fingerprints", True)
    return _scoped_dedup(winnow_dedup, docs, kwargs)


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Word n-gram Jaccard for given candidate pairs (id1, id2)."""
    grams = docs.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(TX.tokens(F.col(text_col))) - n, F.lit(0)),
                ),
                lambda i: F.concat_ws(" ", F.slice(TX.tokens(F.col(text_col)), i + 1, n)),
            )
        ).alias("grams"),
    )
    l = grams.select(F.col(id_col).alias("id1"), F.col("grams").alias("g1"))
    r = grams.select(F.col(id_col).alias("id2"), F.col("grams").alias("g2"))
    return (
        candidate_pairs.join(l, on="id1")
        .join(r, on="id2")
        .select("id1", "id2", token_jaccard("g1", "g2").alias("ngram_jaccard"))
    )


def embedding_near_dup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
    cosine_threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. With a group/bucket column the
    join is per-bucket (LSH-style, per-pair expression cosine on the
    bucket-bounded candidates); without it the exact O(n²) computation
    runs through the sharded-GEMM plan (simsearch.
    allpairs_threshold_gemm, measured 39.2s → ~2s at sf0.1 against the
    old crossJoin + unrolled-dot shape). Its rows match that expression
    path up to float64 summation-order ulps: a BLAS dot sums in a
    different order than the left-to-right expression, so a pair whose
    cosine lies within a few ulps of ``cosine_threshold`` can fall on
    the other side of it."""
    from .simsearch import _fused_dim, _probe_dim, allpairs_threshold_gemm

    if not group_col:
        return allpairs_threshold_gemm(
            embeddings, cosine_threshold, id_col=id_col, vec_col=vec_col
        )
    if dim is None:
        dim = _probe_dim(embeddings, vec_col)
    base = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.col(group_col).alias("g"),
    ).withColumn("vn", norm_expr("v"))
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, on="g")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            pair_cosine_expr(
                F.col("a.v"), F.col("b.v"), F.col("a.vn"), F.col("b.vn"), _fused_dim(dim)
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= cosine_threshold)
    )
