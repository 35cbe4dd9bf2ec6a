"""Approximate nearest-neighbor search over an embedding column.

Two tiers:

  brute_force_topk — exact cosine top-k via a (queries × corpus) join;
    the correctness baseline. Queries are broadcast (they're the small
    side); the corpus streams; a Window row_number takes k. Exact and
    scale-safe in the corpus dimension (scan-shaped), not in |queries|.

  ivf_topk — the scale path: k-means-style coarse quantizer built from
    a deterministic sample, every corpus vector assigned to its nearest
    centroid (one pandas-UDF pass), queries probe only `nprobe` nearest
    cells. Classic IVF-Flat, expressed as DataFrame ops; recall is
    tunable via nprobe.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.similarity import norm_expr, pair_cosine_expr
from .util import ensure_parallelism


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector width from one non-null row (arrays don't carry their
    length in the schema). One tiny job; callers that know the dim
    pass it explicitly and skip the probe."""
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return len(row[0]) if row and row[0] is not None else None


def _fused_dim(dim: int | None) -> int | None:
    """The unrolled codegen dot only wins below the 64KB-codegen cap
    (features.FUSED_COSINE_MAX_DIM); above it pair_cosine_expr falls
    back to a single zip_with aggregate."""
    from .features import FUSED_COSINE_MAX_DIM

    return dim if dim is not None and dim <= FUSED_COSINE_MAX_DIM else None


_ensure_parallelism = ensure_parallelism  # moved to util.py (shared with features)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank<=k), exact.

    ``broadcast_queries=True`` is only correct when the query set is
    genuinely small (a handful of probe vectors); an unbounded query
    side must NOT be broadcast — callers with large query populations
    (imputation over every null-field record) route through
    :func:`ivf_topk`, whose cell join shuffles both sides.

    Norms are precomputed per SIDE and the per-pair cosine is a
    codegen'd unrolled dot (pair_cosine_expr) — the per-pair
    interpreted-HOF cosine was the dominant cost of the join. ``dim``
    is probed from the corpus when not given.
    """
    if dim is None:
        dim = _probe_dim(corpus, vec_col)
    corpus = _ensure_parallelism(corpus)
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qv")
    ).withColumn("_qn", norm_expr("_qv"))
    if broadcast_queries:
        q = F.broadcast(q)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")).withColumn(
        "_cn", norm_expr("_cv")
    )
    scored = (
        c.crossJoin(q)
        .withColumn("cosine", pair_cosine_expr("_qv", "_cv", "_qn", "_cn", _fused_dim(dim)))
        .filter(F.col(query_id_col).cast("string") != F.col("neighbor_id").cast("string"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_rows: int = 4096,
    iters: int = 10,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Driver-side spherical k-means on an UNBIASED deterministic
    sample (the coarse quantizer is tiny; training it centrally is the
    standard IVF recipe). ``df.sample`` draws from every partition —
    a bare ``limit()`` would train centroids on whatever partitions
    happen to come first. The limit after the sample only trims the
    driver pull. Pass ``sample_fraction`` explicitly when the caller
    knows the corpus cardinality; the default 10% suits the fixture
    scales while staying a constant-size pull at any corpus size."""
    frac = 0.1 if sample_fraction is None else sample_fraction
    sample = (
        corpus.select(vec_col)
        .sample(fraction=min(frac, 1.0), seed=seed)
        .limit(sample_rows)
        .toPandas()[vec_col]
        .tolist()
    )
    if not sample:  # tiny corpus: the sample can come back empty
        sample = corpus.select(vec_col).limit(sample_rows).toPandas()[vec_col].tolist()
    X = _normalize(np.array([np.asarray(v, dtype=np.float64) for v in sample]))
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ cents.T, axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = _normalize(cents)
    return cents


def assign_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding", out_col: str = "cell",
    nprobe: int = 1,
) -> DataFrame:
    """Nearest-centroid cell ids (array of nprobe cells, Arrow-batched)."""
    cents = centroids  # captured; shipped once per executor via task closure

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(v: pd.Series) -> pd.Series:
        out = []
        for vec in v:
            if vec is None:
                out.append(None)
                continue
            x = np.asarray(vec, dtype=np.float64)
            n = np.linalg.norm(x)
            if n > 0:
                x = x / n
            sims = cents @ x
            top = np.argsort(-sims)[:nprobe]
            out.append([int(t) for t in top])
        return pd.Series(out)

    # deterministic in fact; marked non-deterministic so the optimizer
    # cannot duplicate the evaluation under a pushed-down explode/
    # size() precondition (guide §4.4 — the round-5 plan evaluated
    # cells() TWICE per side)
    return df.withColumn(out_col, cells.asNondeterministic()(F.col(vec_col)))


def _clean_matrix(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(keep_mask, matrix) for an object array of per-row vectors:
    rows whose length differs from the group's modal length or that
    carry non-finite elements are EXCLUDED from scoring —
    deterministic and crash-free where np.stack would raise on ragged
    rows and a NaN cosine would outrank every real one under a DESC
    ordering (dirty-web-data posture; the fixtures contain no such
    rows, verified output-identical)."""
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
    dim = int(np.bincount(lens).argmax()) if len(lens) else 0
    keep = lens == dim
    if not keep.any():
        return keep, np.zeros((0, max(dim, 1)), dtype=np.float64)
    M = np.stack(vals[keep]).astype(np.float64)
    finite = np.isfinite(M).all(axis=1)
    if not finite.all():
        keep[np.flatnonzero(keep)[~finite]] = False
        M = M[finite]
    return keep, M


def _id_rank_keys(lid: np.ndarray, rid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Integer rank codes for two id arrays under Spark's comparison
    order (numeric order for numeric ids; UTF-8 byte order — identical
    to UTF8String — for strings), so an `id1 < id2` orientation mask
    can broadcast as one integer comparison instead of O(P×Q) Python
    object comparisons."""
    if lid.dtype == object or rid.dtype == object:
        both = np.array(
            [x.encode("utf-8") if isinstance(x, str) else x for x in np.concatenate([lid, rid])],
            dtype=object,
        )
        _, codes = np.unique(both, return_inverse=True)
        return codes[: len(lid)], codes[len(lid):]
    return lid, rid


def _grouped_topk_gemm(
    corpus_keyed: DataFrame,
    queries_keyed: DataFrame,
    group_cols: list[str],
    k: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Per-group cosine top-k via one BLAS GEMM per group (guide-§4.2
    shape: Spark does the grouping shuffle on compact keys, numpy does
    the arithmetic on whole batches).

    Inputs: ``corpus_keyed`` (neighbor_id, _v, *group_cols) and
    ``queries_keyed`` (query_id, _v, *group_cols), both already
    exploded to their probe keys. A cogroup on the group columns hands
    each group's query block Q and corpus block D to one Python task,
    which computes the full cosine matrix as ``Q @ D.T`` over the
    per-row norms and emits the LOCAL top-k per query; the caller
    merges local winners with a global window. Every vector crosses
    Arrow once per probe key it carries — never once per PAIR, which
    is what made the per-pair expression dot the bottleneck (measured
    at 36M pairs / dim 64 on local[32]: 77s for the codegen'd unrolled
    dot vs ~2s end-to-end here).

    Exactness contract (the reason this can replace the expression
    plan under an oracle that hash-pins results):
      * cosine = dot/(|q||d|) in float64, 0.0 when either norm is 0 —
        same values as pair_cosine_expr up to summation order (the
        oracle rounds to 4 decimals; verified output-identical on the
        fixtures);
      * self pairs (string-cast equality, the old join condition) are
        masked out before selection;
      * local top-k uses exactly the global ordering (cosine DESC,
        neighbor_id ASC — ids compared in UTF-8 byte order for string
        ids, matching Spark's UTF8String ordering), so top-k of the
        merged local top-ks IS the global top-k."""
    q_field = next(f for f in queries_keyed.schema.fields if f.name == query_id_col)
    n_field = next(f for f in corpus_keyed.schema.fields if f.name == "neighbor_id")
    schema = T.StructType(
        [
            T.StructField(query_id_col, q_field.dataType),
            T.StructField("neighbor_id", n_field.dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    # per-task memory bound: the cosine block is computed in query-row
    # chunks of at most ~64MB of float64 (a driver-escalated scale
    # factor grows BOTH sides; an unchunked nq × nd block would grow
    # quadratically with corpus size). Chunking queries is free for
    # correctness: each query's top-k depends only on its own row.
    _BLOCK_BYTES = 64 << 20

    def topk_block(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({f.name: pd.Series([], dtype=object) for f in schema.fields})
        if len(l) == 0 or len(r) == 0:
            return empty
        rkeep, _ = _clean_matrix(r["_v"].to_numpy())
        if not rkeep.all():
            r = r[rkeep].reset_index(drop=True)
        lkeep, _ = _clean_matrix(l["_v"].to_numpy())
        if not lkeep.all():
            l = l[lkeep].reset_index(drop=True)
        if len(l) == 0 or len(r) == 0:
            return empty
        nid = r["neighbor_id"].to_numpy()
        # donor order = the global tie-break order (neighbor_id ASC;
        # UTF-8 bytes for strings == Spark's UTF8String comparison)
        if nid.dtype == object:
            order = np.argsort(
                np.array([s.encode("utf-8") for s in nid], dtype=object), kind="stable"
            )
        else:
            order = np.argsort(nid, kind="stable")
        nid = nid[order]
        D = np.stack(r["_v"].to_numpy()[order]).astype(np.float64)
        dn = np.linalg.norm(D, axis=1)
        ns = np.array([str(x) for x in nid], dtype=object)
        nd = len(nid)
        kk = min(k, nd)
        qid_all = l[query_id_col].to_numpy()
        qv_all = l["_v"].to_numpy()
        qrows = max(1, _BLOCK_BYTES // (nd * 8))
        parts = []
        for q0 in range(0, len(l), qrows):
            q1 = min(q0 + qrows, len(l))
            Q = np.stack(qv_all[q0:q1]).astype(np.float64)
            qn = np.linalg.norm(Q, axis=1)
            C = Q @ D.T
            denom = np.outer(qn, dn)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0, C / denom, 0.0)
            # self-pair exclusion: the old plan's join condition
            # NOT (cast(query_id as string) = cast(neighbor_id as string))
            qs = np.array([str(x) for x in qid_all[q0:q1]], dtype=object)
            C[qs[:, None] == ns[None, :]] = -np.inf
            nq = q1 - q0
            # full stable argsort (not argpartition): boundary TIES
            # must keep the smallest neighbor_id, and stable sort over
            # the pre-ordered donor axis guarantees it
            top = np.argsort(-C, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(nq), kk)
            cols = top.ravel()
            cos = C[rows, cols]
            keep = cos != -np.inf
            parts.append(
                pd.DataFrame(
                    {
                        query_id_col: qid_all[q0:q1][rows[keep]],
                        "neighbor_id": nid[cols[keep]],
                        "cosine": cos[keep],
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    local = (
        queries_keyed.groupby(*group_cols)
        .cogroup(corpus_keyed.groupby(*group_cols))
        .applyInPandas(topk_block, schema)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def _salt_expr(id_col: str, n_salts: int):
    """Deterministic corpus-side salt (guide §2.5: derive synthetic
    keys from data, never rand())."""
    return F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_salts)).cast("int")


def exact_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_salts: int | None = None,
) -> DataFrame:
    """Exact cosine top-k through the grouped-GEMM plan: the corpus is
    split into ``n_salts`` deterministic shards (default: the session's
    core count), queries replicate to every shard, each (shard) group
    runs one GEMM + local top-k, and a skinny global window merges.

    Scale shape: both sides SHUFFLE on a compact int key (no broadcast
    requirement on either side — an unbounded query population is
    fine); per-task memory is |queries_batch| x |corpus|/n_salts
    cosines; raising ``n_salts`` bounds the per-task block at the cost
    of re-sending query vectors once per shard."""
    spark = corpus.sparkSession
    S = n_salts or spark.sparkContext.defaultParallelism or 16
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        _salt_expr(id_col, S).alias("_salt"),
    )
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col),
        F.col(vec_col).alias("_v"),
        F.explode(F.sequence(F.lit(0), F.lit(S - 1))).alias("_salt"),
    )
    return _grouped_topk_gemm(c, q, ["_salt"], k, id_col, query_id_col)


def allpairs_threshold_gemm(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salts: int | None = None,
) -> DataFrame:
    """All-pairs cosine near-dup (id1 < id2, cosine >= threshold) via
    the sharded-GEMM plan — the exact O(n²) computation of
    embedding_near_dup's ungrouped baseline at BLAS speed instead of a
    crossJoin evaluating the unrolled per-pair expression dot
    (measured at sf0.1 / 17k vectors: 39.2s expression crossJoin vs
    ~2s here, identical rows).

    Shape: the right side splits into ``n_salts`` deterministic xxhash
    shards, the left side replicates to every shard, and each shard's
    cogroup task computes its full cosine block as row-chunked
    ``L @ R.T`` GEMMs. Each unordered pair is emitted at most once —
    from the shard of its id-larger member, by the `id1 < id2` mask —
    so no distinct pass is needed. Per-task memory is O(n·d) for the
    replicated left side (plus the ≤64MB cosine block): like the
    crossJoin it replaces, this is the exact all-pairs BASELINE, for
    modest n or post-LSH candidate sets — the scale path remains the
    bucketed/grouped variant. Exactness matches
    _grouped_topk_gemm's contract: float64 dot/(|a||b|), 0.0 on zero
    norms (pair_cosine_expr's convention), ragged/non-finite rows and
    NULL ids excluded, string ids ordered by UTF-8 bytes (UTF8String
    order)."""
    spark = vectors.sparkSession
    S = n_salts or spark.sparkContext.defaultParallelism or 16
    id_field = next(f for f in vectors.schema.fields if f.name == id_col)
    schema = T.StructType(
        [
            T.StructField("id1", id_field.dataType),
            T.StructField("id2", id_field.dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    # a NULL id never satisfies `id1 < id2` in the crossJoin this
    # replaces, and would break _id_rank_keys' byte ordering
    base = vectors.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
    right = base.select(
        F.col(id_col).alias("_rid"),
        F.col(vec_col).alias("_v"),
        _salt_expr(id_col, S).alias("_salt"),
    )
    left = base.select(
        F.col(id_col).alias("_lid"),
        F.col(vec_col).alias("_v"),
        F.explode(F.sequence(F.lit(0), F.lit(S - 1))).alias("_salt"),
    )
    _BLOCK_BYTES = 64 << 20

    def block(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({f.name: pd.Series([], dtype=object) for f in schema.fields})
        if len(l) == 0 or len(r) == 0:
            return empty
        lkeep, L = _clean_matrix(l["_v"].to_numpy())
        rkeep, R = _clean_matrix(r["_v"].to_numpy())
        if not len(L) or not len(R):
            return empty
        lid = l["_lid"].to_numpy()[lkeep]
        rid = r["_rid"].to_numpy()[rkeep]
        lkey, rkey = _id_rank_keys(lid, rid)
        ln = np.linalg.norm(L, axis=1)
        rn = np.linalg.norm(R, axis=1)
        nr = len(rid)
        parts = []
        lrows = max(1, _BLOCK_BYTES // (nr * 8))
        for l0 in range(0, len(lid), lrows):
            l1 = min(l0 + lrows, len(lid))
            C = L[l0:l1] @ R.T
            denom = np.outer(ln[l0:l1], rn)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0, C / denom, 0.0)
            mask = (C >= threshold) & (lkey[l0:l1, None] < rkey[None, :])
            ii, jj = np.nonzero(mask)
            if len(ii):
                parts.append(
                    pd.DataFrame(
                        {"id1": lid[ii + l0], "id2": rid[jj], "cosine": C[ii, jj]}
                    )
                )
        return pd.concat(parts, ignore_index=True) if parts else empty

    return (
        left.groupby("_salt")
        .cogroup(right.groupby("_salt"))
        .applyInPandas(block, schema)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray | None,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    n_salts: int | None = None,
) -> DataFrame:
    """IVF-Flat ANN: corpus partitioned into cells once (nprobe=1),
    queries probe their nprobe nearest cells; cosine + top-k inside
    matching cells only, computed by the grouped-GEMM plan
    (_grouped_topk_gemm) — one BLAS matrix product per (cell, salt)
    group instead of a per-pair expression dot (the round-5 plan spent
    68µs/pair in the codegen'd unrolled dot; at nprobe=ALL over 20k
    vectors that was 77 of the query's 81 seconds).

    The grouping join carries NO broadcast hint: the query side is
    unbounded (imputation feeds every null-field record through here),
    so both sides shuffle on the compact (cell, salt) key. With
    ``centroids=None`` or ``nprobe >= len(centroids)`` the search is
    exact — every (query, donor) pair is scored, so the cell machinery
    adds nothing and the plan drops to the pure salted shards of
    :func:`exact_topk_gemm` (identical results to brute force, the
    oracle-comparable configuration). The in-cell salt splits hot
    cells across tasks (guide §2.5: a k-means cell on real data is
    routinely 10x the median; the salt bounds per-task GEMM size
    regardless of cell skew)."""
    if centroids is None or nprobe >= len(centroids):
        return exact_topk_gemm(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, n_salts=n_salts,
        )
    spark = corpus.sparkSession
    par = spark.sparkContext.defaultParallelism or 16
    # enough (cell, salt) groups to fill the cores even when probes
    # concentrate on few cells
    S = n_salts or max(1, -(-par // max(1, len(centroids))) * 2)
    # spread the per-row cell assignment beyond a single-file scan's
    # task count (assign_cells loops rows in Python; a one-row-group
    # corpus would run it serially)
    corpus = _ensure_parallelism(corpus)
    c = (
        assign_cells(
            corpus.filter(F.col(vec_col).isNotNull()), centroids, vec_col, "cell", nprobe=1
        )
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_v"),
            F.explode("cell").alias("cell"),
            _salt_expr(id_col, S).alias("_salt"),
        )
    )
    q = (
        assign_cells(
            queries.filter(F.col(vec_col).isNotNull()), centroids, vec_col, "cell", nprobe=nprobe
        )
        .select(
            F.col(query_id_col),
            F.col(vec_col).alias("_v"),
            F.explode("cell").alias("cell"),
        )
        .select(
            query_id_col,
            "_v",
            "cell",
            F.explode(F.sequence(F.lit(0), F.lit(S - 1))).alias("_salt"),
        )
    )
    return _grouped_topk_gemm(c, q, ["cell", "_salt"], k, id_col, query_id_col)


# ---- random-hyperplane LSH (the bucketed ANN family beside IVF) ----------

def _plane_coeff(p: int, d: int) -> int:
    """Deterministic integer hyperplane coefficients in [-3, 3]. A
    closed form instead of an RNG so the bucket assignment itself is
    recomputable from first principles by the SQL oracle (the same
    philosophy as the md5/FNV sketch oracles)."""
    return ((p * 31 + d * 17) % 7) - 3


def hyperplane_bucket_expr(vec_col, n_planes: int, dim: int):
    """int64 LSH bucket: bit p = sign of the p-th hyperplane dot.

    The dot runs over floor(v_d * 1000) QUANTIZED components — integer
    arithmetic end to end, so the sign (hence the bucket, hence the
    candidate set) is bit-identical across engines; a float dot's sign
    near 0 could legitimately differ between two correct summation
    orders.

    Physical shape: zip_with against a LITERAL coefficient array per
    plane, folded by aggregate — a constant-size expression tree at any
    dim. NOT the fused-cosine unroll: multi-probe references the bucket
    n_planes+1 times, and collapse-project inlines the expression into
    every probe key, so an unrolled n_planes×dim tree (440 nodes at dim
    64, ~10k at the reference's 1536) multiplies into the plan —
    measured 7.3s vs 1.05s of driver-side planning at dim 64 before a
    single row moves, and past 64KB codegen at large dims."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        coeffs = F.lit([_plane_coeff(p, d) for d in range(dim)]).cast("array<long>")
        dot = F.aggregate(
            F.zip_with(
                v,
                coeffs,
                lambda x, c: F.floor(x.cast("double") * 1000).cast("long") * c,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _hyperplane_bucket_udf(n_planes: int, dim: int):
    """Arrow-batched twin of :func:`hyperplane_bucket_expr` — the SAME
    integer arithmetic (floor(float64(v)*1000) as int64, closed-form
    coefficients, sign bit per plane), so buckets are bit-identical to
    the expression form (pinned by test_hyperplane_bucket_matches_numpy
    for the expr and test_lsh_bucket_udf_matches_expr for this). The
    expression form stays as the SQL-oracle-shaped reference; the
    operator uses this because the unrolled expression costs ~1s of
    driver-side PLANNING per query (8 planes × dim-element literal
    zip_with trees) plus an interpreted per-row fold, where one numpy
    matmul per batch does the same work."""
    C = np.array(
        [[_plane_coeff(p, d) for d in range(dim)] for p in range(n_planes)],
        dtype=np.int64,
    ).reshape(n_planes, dim)  # explicit: n_planes=0 must still be 2-D
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(T.LongType())
    def bucket(v: pd.Series) -> pd.Series:
        out = np.zeros(len(v), dtype=np.int64)
        # NULL vectors, ragged lengths and non-finite elements all get
        # bucket 0 — the expression form's behavior (a null-poisoned
        # dot fails every `dot >= 0` test, leaving every sign bit 0),
        # where a raw np.stack would raise on ragged rows and floor(NaN)
        # would cast to an undefined integer
        vals = v.to_numpy()
        mask = np.fromiter(
            (x is not None and len(x) == dim for x in vals), dtype=bool, count=len(vals)
        )
        if mask.any():
            X = np.stack(vals[mask]).astype(np.float64)
            good = np.isfinite(X).all(axis=1)
            if not good.all():
                mask[np.flatnonzero(mask)[~good]] = False
                X = X[good]
            Q = np.floor(X * 1000.0).astype(np.int64)  # quantized, exact
            dots = Q @ C.T  # (rows, planes), int64 — no overflow at these magnitudes
            out[mask] = ((dots >= 0) * weights).sum(axis=1)
        return pd.Series(out)

    # non-deterministic marking pins a single evaluation (guide §4.4);
    # the query side references the bucket n_planes+1 times in its
    # multi-probe array
    return bucket.asNondeterministic()


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    hamming_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank<=k) via random-hyperplane
    LSH — the bucketed ANN family beside :func:`ivf_topk`:

    - both sides get an int64 sign-bit bucket (hyperplane_bucket_expr);
    - multi-probe: each query probes its own bucket plus every bucket
      at Hamming distance <= ``hamming_radius`` (radius 0 or 1; radius
      1 explodes n_planes+1 probe keys — the standard multi-probe
      trade of query fan-out for recall);
    - candidates come from a plain equi-join on the bucket key — both
      sides SHUFFLE on a compact long, no broadcast requirement, so an
      unbounded query side scales exactly like ivf_topk's cell join;
    - exact cosine + per-query top-k window on candidates only.

    ``n_planes=0`` degenerates to one bucket = brute force (the exact
    oracle mode, like ivf_topk at nprobe=ALL). Probe buckets at radius
    1 are pairwise distinct, so a (query, vector) pair joins at most
    once — no candidate dedup pass needed."""
    if hamming_radius not in (0, 1):
        raise ValueError("hamming_radius supports 0 or 1")
    if dim is None:
        dim = _probe_dim(corpus, vec_col)
    corpus = _ensure_parallelism(corpus)
    bucket_of = _hyperplane_bucket_udf(n_planes, dim)
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
        .withColumn("_cn", norm_expr("_cv"))
        .withColumn("bucket", bucket_of(F.col("_cv")))
    )
    q = (
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qv"))
        .withColumn("_qn", norm_expr("_qv"))
        .withColumn("_qb", bucket_of(F.col("_qv")))
    )
    probes = [F.col("_qb")]
    if hamming_radius >= 1:
        probes += [F.col("_qb").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    qp = q.withColumn("bucket", F.explode(F.array(*probes)))
    scored = (
        qp.join(c, on="bucket")
        .withColumn("cosine", pair_cosine_expr("_qv", "_cv", "_qn", "_cn", _fused_dim(dim)))
        .filter(F.col(query_id_col).cast("string") != F.col("neighbor_id").cast("string"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )
