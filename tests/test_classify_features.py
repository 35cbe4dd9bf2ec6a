"""Feature contract (reference §2.9) + classifier parity and training."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_v1_spark.config import (
    FEATURE_NAMES,
    GOLDEN_BIAS,
    GOLDEN_WEIGHTS,
    PipelineConfig,
)
from entity_resolution_pipeline_v1_spark.operators import classify, features


def test_feature_order_is_reference_order():
    assert FEATURE_NAMES == (
        "composite_cosine", "person_cosine", "title_cosine", "provision_cosine",
        "subjects_cosine", "person_levenshtein", "person_title_harmonic",
        "person_provision_harmonic", "person_subjects_harmonic",
        "title_subjects_harmonic", "title_provision_harmonic",
        "provision_subjects_harmonic", "person_subjects_product",
        "composite_subjects_ratio",
    )


def _hydrated_row(spark):
    """One hand-written pair with known vectors/strings."""
    v = lambda *x: [float(t) for t in x]
    row = {
        "id1": "a", "id2": "b",
        "l_person": "Smith, John", "r_person": "Smith, Jon",
        "l_title": "T", "r_title": "T", "l_provision": None, "r_provision": None,
        "l_subjects": "Math", "r_subjects": "Math",
        "l_composite_vec": v(1, 0), "r_composite_vec": v(1, 0),
        "l_person_vec": v(0.6, 0.8), "r_person_vec": v(1, 0),
        "l_title_vec": v(0, 1), "r_title_vec": v(0, 1),
        "l_provision_vec": None, "r_provision_vec": None,
        "l_subjects_vec": v(1, 1), "r_subjects_vec": v(1, 1),
    }
    schema = (
        "id1 string, id2 string, l_person string, r_person string, l_title string,"
        " r_title string, l_provision string, r_provision string, l_subjects string,"
        " r_subjects string, l_composite_vec array<float>, r_composite_vec array<float>,"
        " l_person_vec array<float>, r_person_vec array<float>, l_title_vec array<float>,"
        " r_title_vec array<float>, l_provision_vec array<float>, r_provision_vec array<float>,"
        " l_subjects_vec array<float>, r_subjects_vec array<float>"
    )
    return spark.createDataFrame([tuple(row.values())], schema)


def test_feature_values_hand_checked(spark):
    out = features.with_features(_hydrated_row(spark)).collect()[0]
    assert out["composite_cosine"] == pytest.approx(1.0)
    assert out["person_cosine"] == pytest.approx(0.6)
    assert out["title_cosine"] == pytest.approx(1.0)
    assert out["provision_cosine"] == 0.0  # missing vector -> 0.0
    assert out["subjects_cosine"] == pytest.approx(1.0)
    # lev("Smith, John","Smith, Jon") = 1 deletion over maxlen 11
    assert out["person_levenshtein"] == pytest.approx(1 - 1 / 11)
    assert out["person_title_harmonic"] == pytest.approx(2 * 0.6 * 1.0 / 1.6)
    assert out["person_provision_harmonic"] == 0.0
    assert out["person_subjects_product"] == pytest.approx(0.6)
    assert out["composite_subjects_ratio"] == pytest.approx(1.0)


def test_extra_features(spark):
    out = features.with_extra_features(features.with_features(_hydrated_row(spark))).collect()[0]
    assert out["person_jaccard"] == pytest.approx(1 / 3)
    assert out["title_jaccard"] == 1.0
    assert out["subjects_jaccard"] == 1.0
    assert out["year_match"] == 0.0
    assert out["low_info_name"] == 0.0
    assert 0.8 < out["person_jaro_winkler"] <= 1.0


def _records_and_wide(corpus, dim):
    from entity_resolution_pipeline_v1_spark.operators import extract, preprocess
    from entity_resolution_pipeline_v1_spark.sources import pages as P

    # cached: blocking and records_wide both re-read the records, and
    # each uncached pass re-runs the Arrow text extraction
    records = preprocess.parse_records(
        extract.extract_text(P.pages_view(corpus), mode="main")
    ).cache()
    emb = preprocess.embed_unique(
        preprocess.unique_strings(preprocess.long_form(records)), dim
    )
    return records, preprocess.records_wide(records, emb)


@pytest.mark.parametrize(
    "dim",
    [
        pytest.param(16, id="join"),
        pytest.param(features.FUSED_COSINE_MAX_DIM + 1, id="dict"),
    ],
)
def test_staged_feature_matrix_matches_single_phase(spark, corpus, dim):
    """staged_feature_matrix (two-phase hydration, the only production
    feature path) must match the single-phase reference
    with_extra_features(with_features(hydrate_pairs(...))) over real
    candidate pairs under BOTH cosine plans: inline unrolled dots at
    dim 16, the distinct-pair dictionary above FUSED_COSINE_MAX_DIM."""
    from entity_resolution_pipeline_v1_spark.operators import blocking, pairs
    from entity_resolution_pipeline_v1_spark.operators.features import ALL_FEATURE_NAMES

    records, wide = _records_and_wide(corpus, dim)
    wide = wide.cache()
    cand = pairs.candidate_pairs(
        blocking.cap_blocks(blocking.build_blocks(records), 2000)
    ).limit(300).cache()
    a = features.staged_feature_matrix(cand, wide, dim=dim)
    b = features.feature_matrix(
        features.with_extra_features(
            features.with_features(features.hydrate_pairs(cand, wide))
        ),
        names=ALL_FEATURE_NAMES,
    )
    rows_a = {(r["id1"], r["id2"]): r for r in a.collect()}
    rows_b = {(r["id1"], r["id2"]): r for r in b.collect()}
    assert rows_a.keys() == rows_b.keys() and rows_a
    for k in rows_a:
        for name in ALL_FEATURE_NAMES:
            # the inline plan's unit-norm dot == the reference's
            # true-norm cosine up to the float32 rounding of the stored
            # vectors (embedder normalizes in float64, stores float32)
            assert rows_a[k][name] == pytest.approx(rows_b[k][name], abs=2e-6), (k, name)
    cand.unpersist()
    wide.unpersist()


def test_staged_feature_matrix_strategy_validation(spark, corpus):
    _, wide = _records_and_wide(corpus, 16)
    cand = spark.createDataFrame([("a", "b")], "id1 string, id2 string")
    with pytest.raises(ValueError, match="person_norm"):
        features.staged_feature_matrix(cand, wide.drop("person_norm"), dim=16)
    # the distinct-pair dictionary's hash keys are required at every dim
    no_hashes = wide.drop(*[f"{f}_hash" for f in features.EMBED_FIELDS])
    with pytest.raises(ValueError, match="_hash"):
        features.staged_feature_matrix(cand, no_hashes, dim=16)

    def plan(dim):
        return (
            features.staged_feature_matrix(cand, wide, dim=dim)
            ._jdf.queryExecution().optimizedPlan().toString()
        )

    # the plan is dim-based (measured, see the docstring): small dims
    # keep the inline dots (per-pair vector hydration in the plan) ...
    assert "l_person_vec" in plan(16)
    # ... above FUSED_COSINE_MAX_DIM it switches to the distinct-pair
    # dictionary: no `{f}_vec` column is ever hydrated per pair
    assert "l_person_vec" not in plan(features.FUSED_COSINE_MAX_DIM + 1)


def test_score_stage_compiles_under_strict_codegen(spark, corpus):
    """The dictionary plan (dim above FUSED_COSINE_MAX_DIM) compiles
    under spark.sql.codegen.fallback=false (interpreted fallback
    disabled): its per-pair hot stages carry hash keys instead of
    vectors and never evaluate a dim-term dot product, so no projection
    exceeds the JVM's 64KB codegen method limit. At dim 64 the inline
    plan deliberately keeps one interpreted stage, which is 2x cheaper
    than the dictionary plan's extra shuffles (measured — see the
    staged_feature_matrix docstring)."""
    from entity_resolution_pipeline_v1_spark.operators import blocking, pairs

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        dim = features.FUSED_COSINE_MAX_DIM + 1
        records, wide = _records_and_wide(corpus, dim)
        # cached lazily, so the blocking plan still first runs under the
        # strict conf; the score plan reads it several times
        cand = pairs.candidate_pairs(
            blocking.cap_blocks(blocking.build_blocks(records), 2000)
        ).cache()
        featured = features.staged_feature_matrix(cand, wide, dim=dim)
        # parquet write = the pipeline's real score-stage sink; a bare
        # count() would let Catalyst prune the cosine projections away
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            featured.write.mode("overwrite").parquet(f"{d}/featured")
            assert spark.read.parquet(f"{d}/featured").count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_reference_dim_1536_cosine_path(spark):
    """At the reference's embedding dimensionality (1536, reference
    config.yml:46) staged_feature_matrix takes the distinct-pair
    dictionary with the Arrow einsum cosine — the 5x1536-term unrolled
    expression would blow the JVM's 64KB codegen method budget — and
    its cosines must match numpy to float32 precision, with a missing
    field string scoring 0.0."""
    from entity_resolution_pipeline_v1_spark.config import EMBED_FIELDS
    from entity_resolution_pipeline_v1_spark.operators import preprocess

    assert features.FUSED_COSINE_MAX_DIM < 1536
    dim, n = 1536, 12
    # strings repeat across records (title/subjects/provision), so the
    # dictionary dedups pairs; record r3 has no provision
    recs = [
        (f"r{i}", f"Person {i}, Name {i % 5}", f"Title {i % 4}",
         None if i == 3 else f"Place {i % 3}", f"Subject {i % 2}")
        for i in range(n)
    ]
    records = spark.createDataFrame(
        recs, "record_id string, person string, title string, provision string,"
        " subjects string",
    ).withColumn(
        "composite",
        F.concat_ws(" | ", "person", "title", "provision", "subjects"),
    )
    uniq = sorted(
        (r["field"], r["hash"])
        for r in preprocess.unique_strings(preprocess.long_form(records)).collect()
    )
    rng = np.random.RandomState(7)
    unit = [rng.randn(dim) for _ in uniq]
    emb = spark.createDataFrame(
        [(h, f, (v / np.linalg.norm(v)).astype(np.float32).tolist())
         for (f, h), v in zip(uniq, unit)],
        "hash string, field string, vector array<float>",
    )
    wide = preprocess.records_wide(records, emb)
    cand = spark.createDataFrame(
        [(f"r{i}", f"r{j}") for i in range(n) for j in range(i + 1, n) if (i + j) % 3 == 0],
        "id1 string, id2 string",
    )
    featured = features.staged_feature_matrix(cand, wide, dim=dim)
    assert "l_person_vec" not in featured._jdf.queryExecution().optimizedPlan().toString()
    got = {(r["id1"], r["id2"]): r for r in featured.collect()}
    assert len(got) == cand.count()

    vecs = {
        r["record_id"]: {f: r[f"{f}_vec"] for f in EMBED_FIELDS}
        for r in wide.select("record_id", *[f"{f}_vec" for f in EMBED_FIELDS]).collect()
    }
    for (a, b), row in got.items():
        for f in EMBED_FIELDS:
            va, vb = vecs[a][f], vecs[b][f]
            want = 0.0
            if va is not None and vb is not None:
                va, vb = np.asarray(va, np.float64), np.asarray(vb, np.float64)
                want = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            assert row[f"{f}_cosine"] == pytest.approx(want, abs=1e-6), (a, b, f)
    r3 = [row for (a, b), row in got.items() if "r3" in (a, b)]
    assert r3 and all(row["provision_cosine"] == 0.0 for row in r3)


def test_golden_score_expr_matches_numpy(spark):
    model = classify.Model.golden()
    vals = {name: 0.5 + 0.02 * i for i, name in enumerate(FEATURE_NAMES)}
    df = spark.createDataFrame(
        [tuple(vals.values())], ", ".join(f"{n} double" for n in FEATURE_NAMES)
    )
    got = df.select(classify.score_expr(model).alias("p")).collect()[0]["p"]
    z = GOLDEN_BIAS + sum(GOLDEN_WEIGHTS[n] * vals[n] for n in FEATURE_NAMES)
    assert got == pytest.approx(1 / (1 + math.exp(-z)), rel=1e-9)


def test_train_is_deterministic_and_learns():
    rng = np.random.RandomState(0)
    n = 400
    X = rng.rand(n, len(FEATURE_NAMES))
    y = (X[:, 1] + X[:, 5] > 1.0).astype(float)  # person_cosine + levenshtein
    cfg = PipelineConfig(learning_rate=0.5, max_iterations=2000, early_stop_patience=50)
    m1, met1 = classify.train(X, y, cfg)
    m2, met2 = classify.train(X, y, cfg)
    assert m1.weights == m2.weights and m1.bias == m2.bias
    assert met1["f1"] > 0.9
    assert m1.weights["person_cosine"] > m1.weights["provision_cosine"]


def test_prefilters(spark):
    # C4/C6 are opt-in (reference-parity preset): defaults ship disabled
    # because the thresholds assume the reference's OpenAI embeddings
    model = classify.Model.golden()
    cfg = PipelineConfig.reference_parity()
    base_cols = {n: 0.0 for n in FEATURE_NAMES}
    rows = [
        {**base_cols, "composite_cosine": 0.9, "person_cosine": 0.9},  # C4 autoaccept
        {**base_cols, "composite_cosine": 0.1, "person_cosine": 0.1},  # C6 autoreject
    ]
    df = spark.createDataFrame(
        [tuple(r.values()) for r in rows], ", ".join(f"{n} double" for n in base_cols)
    )
    out = classify.classify_pairs(
        df.withColumn("id1", F.lit("a")).withColumn("id2", F.lit("b")), model, cfg
    ).collect()
    assert out[0]["confidence"] == pytest.approx(cfg.autoaccept_confidence)
    assert out[1]["confidence"] == pytest.approx(cfg.autoreject_confidence)


def test_low_info_corroboration_cap(spark):
    model = classify.Model.golden()
    cfg = PipelineConfig()  # C4/C6 disabled by default
    cols = {n: 0.9 for n in FEATURE_NAMES}
    extra = {"title_jaccard": 0.0, "subjects_jaccard": 0.0, "year_match": 0.0, "low_info_name": 1.0}
    df = spark.createDataFrame(
        [tuple({**cols, **extra}.values())],
        ", ".join(f"{n} double" for n in {**cols, **extra}),
    ).withColumn("id1", F.lit("a")).withColumn("id2", F.lit("b"))
    out = classify.classify_pairs(df, model, cfg).collect()[0]
    assert out["confidence"] <= cfg.low_info_confidence_cap
    # with corroboration the cap lifts
    df2 = df.withColumn("title_jaccard", F.lit(0.9))
    out2 = classify.classify_pairs(df2, model, cfg).collect()[0]
    assert out2["confidence"] > cfg.low_info_confidence_cap


def test_golden_confidence_pinned_to_reference(spark):
    """VERDICT #8 normalization-parity check: the reference normalizes
    predict-time features with TRAIN min/range
    (src/classification.py:361-370), but its published
    model_parameters.json carries NO train stats — so identity
    normalization is the only reproducible contract, and Model.golden()
    ships it. This pins engine confidences for fixed feature rows to
    sigmoid(w·x + b) computed directly from the reference's published
    weights/bias (values precomputed outside Spark)."""
    model = classify.Model.golden()
    rows = [
        {n: 0.5 + 0.02 * i for i, n in enumerate(FEATURE_NAMES)},
        {n: 0.9 for n in FEATURE_NAMES},
    ]
    df = spark.createDataFrame(
        [tuple(r.values()) for r in rows],
        ", ".join(f"{n} double" for n in FEATURE_NAMES),
    ).withColumn("id1", F.lit("a")).withColumn("id2", F.lit("b"))
    out = classify.classify_pairs(df, model, PipelineConfig()).collect()
    # reference-side: sigmoid(bias + Σ w_i x_i) over model_parameters.json
    assert out[0]["confidence"] == pytest.approx(0.727616604357, abs=1e-9)
    assert out[1]["confidence"] == pytest.approx(0.858880364529, abs=1e-9)
    assert out[0]["is_match"] is False   # threshold 0.75
    assert out[1]["is_match"] is True


def test_model_save_load(tmp_path):
    m = classify.Model.golden()
    p = str(tmp_path / "m.json")
    m.save(p)
    m2 = classify.Model.load(p)
    assert m2.weights == m.weights and m2.bias == m.bias
