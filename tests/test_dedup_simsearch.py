"""Dedup suite and similarity search on planted duplicates/vectors."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_v1_spark.operators import dedup, simsearch


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base.replace("today", "tonight")),       # near dup of 1
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "another unrelated document discussing minhash banding theory"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs)
    dup = groups.filter(F.col("dup_count") > 1).collect()
    assert len(dup) == 1 and dup[0]["canonical_id"] == 1 and dup[0]["dup_count"] == 2
    kept = dedup.exact_dedup(docs)
    assert kept.count() == 4
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4, 5}


def test_minhash_lsh_dedup(docs):
    pairs = dedup.minhash_lsh_dedup(docs, jaccard_threshold=0.5)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_lsh_dedup_hot_block_cap(spark):
    """A degenerate band key (boilerplate corpus: one shared text) must
    be anti-joined out by max_block instead of exploding the band
    self-join into O(n^2) candidates."""
    boiler = "identical header footer boilerplate page body " * 5
    rows = [(i, boiler) for i in range(40)]
    # plus one small genuine near-dup group that keeps its own blocks
    rows += [(100, "unique doc text alpha beta gamma delta epsilon zeta eta"),
             (101, "unique doc text alpha beta gamma delta epsilon zeta theta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the boilerplate block size: every boilerplate band key
    # has 40 members -> all capped; the pair (100,101) must survive
    with dedup.minhash_lsh_dedup_scoped(docs, jaccard_threshold=0.5, max_block=10) as out:
        got = {(r["id1"], r["id2"]) for r in out.collect()}
    assert all(i1 >= 100 for i1, _ in got), f"boilerplate pairs leaked: {sorted(got)[:5]}"
    assert (100, 101) in got
    # sanity: without the cap the boilerplate pairs DO appear; also the
    # explicit handle-list API unpersists what it says it persisted
    handles: list = []
    uncapped = dedup.minhash_lsh_dedup(
        docs, jaccard_threshold=0.5, max_block=5000,
        persist_signatures=True, persisted=handles,
    )
    got2 = {(r["id1"], r["id2"]) for r in uncapped.collect()}
    assert (0, 1) in got2
    assert len(handles) == 1 and handles[0].storageLevel.useMemory
    for h in handles:
        h.unpersist()
    assert not handles[0].storageLevel.useMemory


def test_char_shingle_hash_udf_jaccard_matches_expression_form(spark):
    # the numpy shingle hasher must yield the SAME Jaccard values as
    # the transform(char_shingles, xxhash64) expression it replaced —
    # including CJK (codepoint shingling, not bytes), short strings
    # (single whole-string shingle) and NULLs
    from entity_resolution_pipeline_v1_spark.functions import text as TX
    from entity_resolution_pipeline_v1_spark.functions.sketches import (
        make_char_shingle_hash_udf,
    )
    from entity_resolution_pipeline_v1_spark.functions.similarity import token_jaccard

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "一二三四五六七八九十一二三四五"),
        (3, "一二三四五六七八九十一二三四六"),
        (4, "ab"),
        (5, "ab"),
        (6, None),
        (7, "the quick brown fox jumps over the lazy dog"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = [(0, 1), (2, 3), (4, 5), (6, 0), (0, 7)]
    pdf = spark.createDataFrame(pairs, "id1 long, id2 long")

    def jaccards(sh_frame):
        l = sh_frame.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
        r = sh_frame.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
        out = pdf.join(l, "id1").join(r, "id2").select(
            "id1", "id2", token_jaccard("sh1", "sh2").alias("j"))
        return {(x["id1"], x["id2"]): x["j"] for x in out.collect()}

    expr_sh = docs.select(
        "doc_id",
        F.transform(TX.char_shingles(F.col("text"), 5), lambda s: F.xxhash64(s)).alias("sh"),
    )
    np_sh = docs.select("doc_id", make_char_shingle_hash_udf(5)(F.col("text")).alias("sh"))
    je, jn = jaccards(expr_sh), jaccards(np_sh)
    assert je.keys() == jn.keys()
    for k in je:
        assert abs(je[k] - jn[k]) < 1e-12, (k, je[k], jn[k])
    assert jn[(2, 3)] > 0  # CJK pair really shares codepoint shingles
    assert jn[(4, 5)] == 1.0  # single whole-string shingle, identical


def test_minhash_candidate_generator_matches_join_form(docs, spark):
    # the per-bucket numpy candidate generator must emit exactly the
    # pairs the band-join + inline-estimate filter emitted
    from pyspark.storagelevel import StorageLevel

    from entity_resolution_pipeline_v1_spark.functions.sketches import (
        lsh_band_keys,
        make_minhash_text_udf,
        minhash_est_jaccard_expr,
    )
    from entity_resolution_pipeline_v1_spark.operators.dedup import (
        _minhash_candidate_pairs,
    )

    num_hashes, bands, tj = 64, 16, 0.5
    mh = make_minhash_text_udf(num_hashes, 5)
    staged = docs.select(
        F.col("doc_id").alias("doc"), mh(F.col("text")).alias("_sig")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    keyed = staged.select(
        "doc", "_sig",
        F.explode(lsh_band_keys(F.col("_sig"), num_hashes, bands)).alias("block_key"),
    )
    slack = 2.0 * (tj * (1 - tj) / num_hashes) ** 0.5
    got = {
        (r["id1"], r["id2"])
        for r in _minhash_candidate_pairs(keyed, num_hashes, tj - slack, 5000).collect()
    }
    a, b = keyed.alias("a"), keyed.alias("b")
    est = minhash_est_jaccard_expr(F.col("a._sig"), F.col("b._sig"), num_hashes)
    ref = {
        (r["id1"], r["id2"])
        for r in (
            a.join(b, on="block_key")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .filter(est >= tj - slack)
            .select(F.col("a.doc").alias("id1"), F.col("b.doc").alias("id2"))
            .dropDuplicates(["id1", "id2"])
        ).collect()
    }
    staged.unpersist()
    assert got == ref and got


def test_simhash_dedup(docs):
    pairs = dedup.simhash_dedup(docs, max_hamming=8)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) in got
    assert (1, 4) not in got and (1, 5) not in got


def test_winnow_dedup_matches_brute_force(spark):
    """winnow_dedup vs a brute-force oracle on a seeded near-dup corpus:
    fingerprint-as-key blocking has perfect recall for any pair with
    fingerprint-Jaccard > 0 (a shared fingerprint puts the pair in that
    fingerprint's bucket), so at any threshold the operator must equal
    the all-pairs fingerprint-Jaccard filter exactly."""
    import random

    from entity_resolution_pipeline_v1_spark.functions.sketches import (
        winnow_fingerprint_udf,
    )

    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    doc_id = 0
    for _ in range(8):
        base = " ".join(rng.choice(words) for _ in range(30))
        rows.append((doc_id, base))
        doc_id += 1
        for _ in range(2):  # two mutated variants per base
            toks = base.split()
            for _ in range(3):
                toks[rng.randrange(len(toks))] = rng.choice(words)
            rows.append((doc_id, " ".join(toks)))
            doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    fps = {
        r["doc_id"]: set(r["fp"])
        for r in docs.select(
            "doc_id", winnow_fingerprint_udf(F.col("text")).alias("fp")
        ).collect()
    }
    thr = 0.4
    expected = {}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            u = fps[a] | fps[b]
            j = len(fps[a] & fps[b]) / len(u) if u else 0.0
            if j >= thr:
                expected[(a, b)] = j
    assert len(expected) >= 8, "fixture too easy — no near-dups planted"

    got = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in dedup.winnow_dedup(docs, jaccard_threshold=thr).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 1e-12


def test_winnow_dedup_hot_key_cap_and_sampling(spark):
    """max_block anti-joins degenerate fingerprints (boilerplate) out;
    key_sample_mod thins block keys but verify still uses ALL
    fingerprints, so surviving pairs keep their exact Jaccard."""
    boiler = "identical boilerplate header and footer text repeated " * 4
    rows = [(i, boiler) for i in range(30)]
    rows += [(100, "a genuinely unique document about winnowing fingerprints today"),
             (101, "a genuinely unique document about winnowing fingerprints tonight")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # every boilerplate fingerprint has 30 members -> capped at 10; the
    # unique pair's keys have 2 members and survive
    got = {
        (r["id1"], r["id2"])
        for r in dedup.winnow_dedup(docs, jaccard_threshold=0.5, max_block=10).collect()
    }
    assert got == {(100, 101)}
    # sampling: with mod=4 only fingerprints ≡ 0 (mod 4) block, but the
    # emitted jaccard is still over the FULL fingerprint sets
    full = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in dedup.winnow_dedup(docs, jaccard_threshold=0.5, max_block=10).collect()
    }
    sampled = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in dedup.winnow_dedup(
            docs, jaccard_threshold=0.5, max_block=10, key_sample_mod=4
        ).collect()
    }
    for k, j in sampled.items():
        assert abs(j - full[k]) < 1e-12


def test_winnow_fused_verify_matches_join_form(spark):
    """The fused per-bucket GEMM generator+verifier must emit exactly
    the (pair, jaccard) rows the old join shape emitted — hot-key
    groupBy/anti-join cap, key self-join, dropDuplicates, fingerprint
    hydration joins, token_jaccard filter — INCLUDING the capped
    regime where the output legitimately differs from brute force
    (boilerplate buckets over max_block contribute no candidates)."""
    import random

    from entity_resolution_pipeline_v1_spark.functions.sketches import (
        winnow_fingerprint_udf,
    )
    from entity_resolution_pipeline_v1_spark.functions.similarity import token_jaccard

    rng = random.Random(13)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    doc_id = 0
    for _ in range(6):
        base = " ".join(rng.choice(words) for _ in range(30))
        rows.append((doc_id, base)); doc_id += 1
        for _ in range(2):
            toks = base.split()
            for _ in range(3):
                toks[rng.randrange(len(toks))] = rng.choice(words)
            rows.append((doc_id, " ".join(toks))); doc_id += 1
    # boilerplate block: 25 identical docs — every one of their
    # fingerprints lands in a 25-member bucket, capped at max_block=10
    boiler = "identical boilerplate header and footer repeated often " * 3
    rows += [(1000 + i, boiler) for i in range(25)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    thr, max_block = 0.3, 10

    got = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in dedup.winnow_dedup(
            docs, jaccard_threshold=thr, max_block=max_block
        ).collect()
    }

    # the round-5 join shape, inline as reference
    fps = docs.select(
        F.col("doc_id").alias("doc"),
        winnow_fingerprint_udf(F.col("text")).alias("fp"),
    ).filter(F.size("fp") > 0).persist()
    keys = fps.select("doc", F.explode("fp").alias("block_key"))
    hot = keys.groupBy("block_key").count().filter(
        F.col("count") > max_block).select("block_key")
    kept = keys.join(F.broadcast(hot), on="block_key", how="left_anti")
    a, b = kept.alias("a"), kept.alias("b")
    cands = (
        a.join(b, on="block_key")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id1"), F.col("b.doc").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    l = fps.select(F.col("doc").alias("id1"), F.col("fp").alias("fp1"))
    r = fps.select(F.col("doc").alias("id2"), F.col("fp").alias("fp2"))
    ref = {
        (x["id1"], x["id2"]): x["jaccard"]
        for x in (
            cands.join(l, on="id1").join(r, on="id2")
            .withColumn("jaccard", token_jaccard("fp1", "fp2"))
            .filter(F.col("jaccard") >= thr)
            .select("id1", "id2", "jaccard")
        ).collect()
    }
    fps.unpersist()
    assert set(got) == set(ref) and got
    for k in ref:
        assert got[k] == ref[k], (k, got[k], ref[k])
    # the cap really bit: boilerplate pairs are absent
    assert not any(i1 >= 1000 for i1, _ in got)


def test_ngram_jaccard(docs, spark):
    cand = spark.createDataFrame([(1, 2), (1, 4)], "id1 long, id2 long")
    out = {(r["id1"], r["id2"]): r["ngram_jaccard"] for r in dedup.ngram_jaccard_pairs(docs, cand).collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 4)] == 0.0


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(42)
    centers = rng.randn(4, 16)
    rows = []
    for i in range(200):
        c = i % 4
        v = centers[c] + 0.05 * rng.randn(16)
        v = v / np.linalg.norm(v)
        rows.append((i, v.astype(np.float32).tolist(), c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_matches_numpy(vectors, spark):
    pdf = vectors.toPandas()
    M = np.stack(pdf["embedding"].to_numpy())
    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = simsearch.brute_force_topk(vectors, queries, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    for q in range(3):
        qv = M[q]
        sims = M @ qv / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
        order = [i for i in np.argsort(-sims) if i != q][:5]
        mine = [n for _, n, _ in sorted(got[q])]
        # allow tie reordering at equal cosine
        assert set(mine) == set(order) or all(
            abs(sims[a] - sims[b]) < 1e-6 for a, b in zip(mine, order) if a != b
        )


def test_exact_gemm_topk_matches_brute_force(vectors):
    # the grouped-GEMM plan (ivf_topk exact mode / exact_topk_gemm)
    # must reproduce brute_force_topk row-for-row: same neighbors,
    # same ranks, cosines equal to float noise — including boundary
    # ties, which the salted local top-k must break by neighbor_id
    # exactly like the global window does
    queries = vectors.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = simsearch.brute_force_topk(vectors, queries, k=5)
    gemm = simsearch.exact_topk_gemm(vectors, queries, k=5)
    e = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"]) for r in exact.collect()}
    g = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"]) for r in gemm.collect()}
    assert e.keys() == g.keys()
    for key in e:
        assert e[key][0] == g[key][0], (key, e[key], g[key])
        assert abs(e[key][1] - g[key][1]) < 1e-9


def test_exact_gemm_topk_ties_zero_norms_and_string_ids(spark):
    # duplicate vectors force exact cosine ties (broken by neighbor_id
    # ASC — string ids, so UTF-8 byte order); a zero vector must score
    # 0.0 (not NaN) on every pair, exactly like pair_cosine_expr
    rows = [
        ("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("c", [1.0, 0.0]),
        ("d", [0.0, 1.0]), ("z", [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    queries = df.filter(F.col("vec_id") == "a").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = simsearch.exact_topk_gemm(df, queries, k=4, n_salts=3)
    got = [(r["neighbor_id"], r["rank"], r["cosine"]) for r in
           sorted(out.collect(), key=lambda r: r["rank"])]
    # ties b/c at cosine 1.0 in id order; then d (0.0) before z (0.0)
    # by id; self pair 'a' excluded
    assert [(n, k) for n, k, _ in got] == [("b", 1), ("c", 2), ("d", 3), ("z", 4)]
    assert abs(got[0][2] - 1.0) < 1e-12 and abs(got[1][2] - 1.0) < 1e-12
    assert got[2][2] == 0.0 and got[3][2] == 0.0


def test_exact_gemm_topk_survives_dirty_vectors(spark):
    # web-scale posture: ragged lengths and NaN/null elements must not
    # crash the GEMM task or rank garbage first — dirty rows are
    # excluded from scoring (clean rows keep exact results)
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("vec_id", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [
        ("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0]),
        ("ragged", [1.0, 0.0, 0.5]),
        ("nullelem", [1.0, None]),
        ("empty", []),
    ]
    df = spark.createDataFrame(rows, schema)
    queries = df.filter(F.col("vec_id") == "a").select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = simsearch.exact_topk_gemm(df, queries, k=3, n_salts=2)
    got = [(r["neighbor_id"], r["rank"]) for r in
           sorted(out.collect(), key=lambda r: r["rank"])]
    assert [n for n, _ in got] == ["b", "c"]  # dirty rows absent, order exact
    # bucket UDF: dirty rows get bucket 0 (the expression form's
    # null-poisoned-dot behavior), clean rows match the expression
    b = df.select("vec_id", simsearch._hyperplane_bucket_udf(4, 2)(F.col("embedding")).alias("b"))
    vals = {r["vec_id"]: r["b"] for r in b.collect()}
    assert vals["ragged"] == 0 and vals["nullelem"] == 0 and vals["empty"] == 0
    e = df.filter(F.col("vec_id").isin("a", "b", "c")).select(
        "vec_id", simsearch.hyperplane_bucket_expr("embedding", 4, 2).alias("b"))
    for r in e.collect():
        assert vals[r["vec_id"]] == r["b"]


def test_ivf_recall(vectors):
    cents = simsearch.train_centroids(vectors, n_centroids=4, sample_rows=200)
    queries = vectors.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = simsearch.brute_force_topk(vectors, queries, k=5)
    approx = simsearch.ivf_topk(vectors, queries, cents, k=5, nprobe=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8


def test_lsh_topk_degenerate_is_brute_force(vectors):
    # n_planes=0 puts everything in one bucket: exact top-k.
    queries = vectors.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = simsearch.brute_force_topk(vectors, queries, k=5)
    lsh = simsearch.lsh_topk(vectors, queries, k=5, n_planes=0, hamming_radius=0)
    e = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in lsh.collect()}
    assert e == a


def test_lsh_topk_recall(vectors):
    queries = vectors.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = simsearch.brute_force_topk(vectors, queries, k=5)
    approx = simsearch.lsh_topk(vectors, queries, k=5, n_planes=8, hamming_radius=1)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.8
    # multi-probe radius 1 must not emit a (query, neighbor) pair twice
    rows = approx.collect()
    assert len(rows) == len({(r["query_id"], r["neighbor_id"]) for r in rows})


def test_hyperplane_bucket_matches_numpy(vectors):
    # the quantized integer dot makes the bucket exactly recomputable:
    # pin the Spark expression against an independent numpy rebuild
    got = {
        r["vec_id"]: r["b"]
        for r in vectors.withColumn(
            "b", simsearch.hyperplane_bucket_expr("embedding", 8, 16)
        ).collect()
    }
    pdf = vectors.toPandas()
    C = np.array(
        [[simsearch._plane_coeff(p, d) for d in range(16)] for p in range(8)],
        dtype=np.int64,
    )
    for _, row in pdf.iterrows():
        q = np.floor(np.asarray(row["embedding"], dtype=np.float64) * 1000).astype(
            np.int64
        )
        want = int(sum(1 << p for p in range(8) if int(C[p] @ q) >= 0))
        assert got[row["vec_id"]] == want


def test_lsh_bucket_udf_matches_expr(vectors):
    # the Arrow bucket assignment must be bit-identical to the
    # SQL-oracle-shaped expression form (same quantized integer dots)
    from pyspark.sql import types as T

    expr_b = vectors.select(
        "vec_id", simsearch.hyperplane_bucket_expr("embedding", 8, 16).alias("b")
    )
    udf_b = vectors.select(
        "vec_id", simsearch._hyperplane_bucket_udf(8, 16)(F.col("embedding")).alias("b")
    )
    e = {r["vec_id"]: r["b"] for r in expr_b.collect()}
    u = {r["vec_id"]: r["b"] for r in udf_b.collect()}
    assert e == u
    # NULL vector -> bucket 0 on both forms
    df = vectors.sparkSession.createDataFrame(
        [(0, None)], T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ])
    )
    assert df.select(simsearch.hyperplane_bucket_expr("embedding", 8, 16).alias("b")
                     ).collect()[0]["b"] == 0
    assert df.select(simsearch._hyperplane_bucket_udf(8, 16)(F.col("embedding")).alias("b")
                     ).collect()[0]["b"] == 0


def test_lsh_topk_rejects_bad_radius(vectors):
    queries = vectors.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError):
        simsearch.lsh_topk(vectors, queries, hamming_radius=2)


def test_embedding_near_dup(spark):
    v1 = [1.0, 0.0, 0.0]
    v2 = [0.999, 0.01, 0.0]
    v3 = [0.0, 1.0, 0.0]
    df = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3)], "vec_id long, embedding array<float>"
    )
    out = {(r["id1"], r["id2"]) for r in dedup.embedding_near_dup(df, cosine_threshold=0.99).collect()}
    assert out == {(1, 2)}


def test_embedding_near_dup_gemm_matches_expression_crossjoin(spark):
    """The sharded-GEMM all-pairs path must emit the same (pair,
    rounded cosine) rows as the old crossJoin + pair_cosine_expr shape
    — including zero-norm vectors (cosine 0.0 by convention), NULL
    vectors (excluded), threshold-boundary pairs, and string ids
    (UTF-8 byte order for id1 < id2) and NULL ids (excluded)."""
    import random

    from entity_resolution_pipeline_v1_spark.functions.similarity import (
        norm_expr,
        pair_cosine_expr,
    )
    from entity_resolution_pipeline_v1_spark.operators.simsearch import (
        _fused_dim,
        allpairs_threshold_gemm,
    )

    rng = random.Random(23)
    dim = 8
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((f"id_{i:03d}", v))
        if i % 7 == 0:  # planted near-dup
            w = [x + rng.gauss(0, 0.01) for x in v]
            rows.append((f"dup_{i:03d}", w))
    rows.append(("zzz_zero", [0.0] * dim))
    rows.append(("zzz_null", None))
    rows.append((None, rows[0][1]))  # NULL id: never in an id1 < id2 pair
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    thr = 0.6

    got = {
        (r["id1"], r["id2"]): round(r["cosine"], 6)
        for r in allpairs_threshold_gemm(df, thr, id_col="vec_id").collect()
    }

    base = df.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    ).withColumn("vn", norm_expr("v"))
    a, b = base.alias("a"), base.alias("b")
    ref = {
        (r["id1"], r["id2"]): round(r["cosine"], 6)
        for r in (
            a.crossJoin(b)
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id1"),
                F.col("b.id").alias("id2"),
                pair_cosine_expr(
                    F.col("a.v"), F.col("b.v"),
                    F.col("a.vn"), F.col("b.vn"), _fused_dim(dim),
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= thr)
        ).collect()
    }
    assert set(got) == set(ref) and len(got) >= 8
    for k in ref:
        assert got[k] == ref[k], (k, got[k], ref[k])
    assert not any("zzz" in i1 or "zzz" in i2 for i1, i2 in got)
