"""End-to-end gates: pairwise F1 >= 0.99, resume, sinks, metrics.

The quality gate from BASELINE.json: the pipeline must reproduce the
latent entity clusters at pairwise F1 >= 0.99 on labeled pairs over
the deterministic fixture.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_v1_spark.config import PipelineConfig
from entity_resolution_pipeline_v1_spark.plans.pipeline import ERPipeline
from entity_resolution_pipeline_v1_spark.sources import pages as P
from entity_resolution_pipeline_v1_spark.sources.sinks import write_clusters_jsonl


def _cfg(work_dir):
    return PipelineConfig(
        checkpoint_dir=work_dir,
        learning_rate=0.5,
        max_iterations=4000,
        l2_lambda=0.01,
        early_stop_patience=50,
        # C4/C6 prefilters stay at their defaults (disabled): the
        # trigram embedder isn't calibrated for the reference thresholds
        match_threshold=0.7,
        edge_threshold=0.7,
    )


@pytest.fixture(scope="module")
def run(spark, corpus, labeled, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("e2e"))
    pipe = ERPipeline(spark, _cfg(work))
    labels = pipe.run(P.pages_view(corpus), labeled_pairs=labeled).cache()
    labels.count()
    return pipe, labels, work


def _pairwise(labels, labeled):
    lab = labeled.withColumnRenamed("left", "id1").withColumnRenamed("right", "id2")
    l1 = labels.select(F.col("record_id").alias("id1"), F.col("cluster_id").alias("c1"))
    l2 = labels.select(F.col("record_id").alias("id2"), F.col("cluster_id").alias("c2"))
    j = (
        lab.join(l1, "id1", "left")
        .join(l2, "id2", "left")
        .withColumn("pred", F.col("c1").isNotNull() & (F.col("c1") == F.col("c2")))
    )
    cm = {(r["match"], r["pred"]): r["count"] for r in j.groupBy("match", "pred").count().collect()}
    tp = cm.get((True, True), 0)
    fn = cm.get((True, False), 0)
    fp = cm.get((False, True), 0)
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    return prec, rec, 2 * prec * rec / max(prec + rec, 1e-9)


def test_pairwise_f1_gate(run, labeled):
    _, labels, _ = run
    prec, rec, f1 = _pairwise(labels, labeled)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} (P={prec:.4f} R={rec:.4f}) below gate"


def test_cluster_purity(run, corpus):
    """No predicted cluster mixes two latent entities (precision side)."""
    _, labels, _ = run
    truth = corpus.select("record_id", "entity_id")
    mixed = (
        labels.join(truth, "record_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("entity_id").alias("n_entities"))
        .filter(F.col("n_entities") > 1)
        .count()
    )
    assert mixed == 0


def test_default_and_tuned_f1_both_recorded(spark, corpus, labeled, tmp_path_factory):
    """The shipped DEFAULT training config (reference hyperparams: lr
    0.01, 1000 iters, threshold 0.75) and the tuned gate config must
    BOTH write their pairwise F1 into summary_report.json, tagged with
    the config that produced it — so the tuned-gate number is never
    mistaken for the out-of-the-box one (round-2 VERDICT #5)."""

    def run_with(cfg):
        pipe = ERPipeline(spark, cfg)
        pipe.run(P.pages_view(corpus), labeled_pairs=labeled)
        with open(f"{cfg.checkpoint_dir}/reports/summary_report.json") as fh:
            return json.load(fh)

    default_cfg = PipelineConfig(
        checkpoint_dir=str(tmp_path_factory.mktemp("default_cfg")), generate_reports=True
    )
    tuned = _cfg(str(tmp_path_factory.mktemp("tuned_cfg")))
    tuned.generate_reports = True

    s_default = run_with(default_cfg)
    s_tuned = run_with(tuned)

    ev_d, ev_t = s_default["evaluation"], s_tuned["evaluation"]
    assert ev_d["config"]["is_default_config"] is True
    assert ev_t["config"]["is_default_config"] is False
    for ev in (ev_d, ev_t):
        assert 0.0 <= ev["pairwise"]["f1"] <= 1.0
        assert ev["train_metrics"] is not None
    # the gate config must still clear the bar; the default-config F1
    # is recorded, not gated — the visible gap IS the deliverable
    assert ev_t["pairwise"]["f1"] >= 0.99

    # error-analysis set (reference output/detailed/) written during the
    # same run: confusion matrix cells must sum to the labeled-pair count
    # and the files users debug classifier quality with must exist
    for ev in (ev_d, ev_t):
        ts = ev["test_set"]
        assert ts["n_pairs"] == ts["tp"] + ts["fp"] + ts["fn"] + ts["tn"] > 0
    rd = f"{tuned.checkpoint_dir}/reports"
    for fname in (
        "confusion_matrix.csv",
        "test_set_summary.json",
        "misclassified_examples.csv",
        "potential_misclassifications.csv",
        "potential_misclassifications.json",
    ):
        assert os.path.exists(f"{rd}/{fname}"), fname


def test_resume_skips_stages(run, spark, corpus):
    pipe, labels, work = run
    pipe2 = ERPipeline(spark, _cfg(work))
    labels2 = pipe2.run(P.pages_view(corpus), model=pipe.model)
    assert all(s.skipped for s in pipe2.results)
    assert labels2.count() == labels.count()


def test_stage_manifests_and_metrics(run, spark):
    _, _, work = run
    manifests = glob.glob(f"{work}/stage=*/_MANIFEST.json")
    names = {json.load(open(m))["stage"] for m in manifests}
    assert {"extract", "preprocess", "embed", "block", "pairs", "score", "classify", "cluster"} <= names
    metrics = spark.read.parquet(f"{work}/metrics")
    assert metrics.filter(F.col("kind") == "partition_rows").count() > 0
    stage_rows = {r["stage"] for r in metrics.filter(F.col("kind") == "stage_rows").collect()}
    assert "cluster" in stage_rows


def test_clusters_jsonl_sink(run, tmp_path):
    _, labels, _ = run
    out = str(tmp_path / "clusters")
    write_clusters_jsonl(labels, out)
    lines = []
    for f in glob.glob(f"{out}/part-*.json"):
        lines += [json.loads(line) for line in open(f)]
    assert lines and all({"cluster_id", "size", "entities"} <= set(line) for line in lines)
    assert all(line["size"] == len(line["entities"]) for line in lines)
    assert all(line["size"] >= 2 for line in lines)


def test_empty_corpus_runs_clean(spark, tmp_path_factory):
    """A 0-row pages input must flow through every stage (extract,
    block, pair, score, cluster) without crashing and produce an empty,
    correctly-shaped label frame — degenerate partitions exist at web
    scale whenever a filter or a date-range prunes everything."""
    from entity_resolution_pipeline_v1_spark.config import PipelineConfig
    from entity_resolution_pipeline_v1_spark.plans.pipeline import ERPipeline
    from entity_resolution_pipeline_v1_spark.sources import pages as P

    pg = P.pages_view(P.generate_corpus(spark, n_records=8, seed=7)).filter("1=0")
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path_factory.mktemp("empty")))
    out = ERPipeline(spark, cfg).run(pg)
    assert out.count() == 0
    assert set(out.columns) >= {"record_id", "cluster_id"}


def test_exact_duplicate_flood_forms_flagged_cluster(spark, tmp_path_factory):
    """200 byte-identical pages (distinct urls) must come out as ONE
    cluster of 200, kept but flagged oversized (> max_cluster_size=100)
    — boilerplate floods are the canonical web-scale skew case and must
    neither explode the pair space nor silently vanish."""
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_v1_spark.config import PipelineConfig
    from entity_resolution_pipeline_v1_spark.plans.pipeline import ERPipeline
    from entity_resolution_pipeline_v1_spark.sources import pages as P

    base = P.pages_view(P.generate_corpus(spark, n_records=8, seed=7)).limit(1)
    dup = base.crossJoin(spark.range(200)).withColumn(
        "url", F.concat(F.lit("https://host.example/p/dup"), F.col("id").cast("string"))
    ).drop("id")
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path_factory.mktemp("dupflood")))
    out = ERPipeline(spark, cfg).run(dup)
    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.min(F.col("oversized").cast("int")).alias("ovr"),
    ).collect()[0]
    assert (agg["n"], agg["k"], agg["ovr"]) == (200, 1, 1)


def test_train_does_not_depend_on_partitioning(run, spark, labeled):
    # classify.train splits rows by a seeded permutation of positions,
    # so _train must present the same labels in the same row order
    # however the labeled frame happens to be partitioned
    pipe, _labels, work = run
    wide = spark.read.parquet(os.path.join(work, "stage=records_wide"))
    fresh = ERPipeline(spark, pipe.cfg)
    m1 = fresh._train(labeled.repartition(7), wide)
    m2 = fresh._train(labeled.coalesce(1), wide)
    assert m1.weights == m2.weights
    assert m1.bias == m2.bias


def test_score_labeled_keeps_pairs_with_missing_records(run, spark, labeled):
    # a labeled pair whose record never made it into records_wide
    # (failed parse / never ingested) must NOT silently vanish from the
    # error-analysis input: it comes back from _score_labeled with NULL
    # confidence, which error_analysis counts as predicted-False — the
    # same coalesce pairwise_metrics applies, so the two reports agree
    # on n_pairs and recall
    pipe, _labels, work = run
    wide = spark.read.parquet(os.path.join(work, "stage=records_wide"))
    anchor = labeled.limit(1).collect()[0]["left"]
    ghost = spark.createDataFrame(
        [(anchor, "no-such-record", True)], ["left", "right", "match"]
    )
    scored = pipe._score_labeled(labeled.unionByName(ghost), wide).cache()
    assert scored.count() == labeled.count() + 1
    ghost_rows = scored.filter(F.col("id2") == "no-such-record").collect()
    assert len(ghost_rows) == 1
    assert ghost_rows[0]["confidence"] is None
    assert ghost_rows[0]["match"] is True
    # hydrated pairs still score: non-null confidences elsewhere
    assert scored.filter(F.col("confidence").isNotNull()).count() == labeled.count()
