"""The workloads: inputs, one operation, and its output check.

Each workload generates its inputs from the seed with
``sources.pages.generate_corpus`` / ``labeled_pairs``, writes them to
parquet, and hands the engine only the parquet it reads back. The
operation calls the engine's public entry points; its result is
materialized inside the timed region and checked outside it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from entity_resolution_pipeline_v1_spark import reports
from entity_resolution_pipeline_v1_spark.config import PipelineConfig
from entity_resolution_pipeline_v1_spark.functions.embedder import make_embed_udf
from entity_resolution_pipeline_v1_spark.operators import dedup
from entity_resolution_pipeline_v1_spark.plans.pipeline import ERPipeline
from entity_resolution_pipeline_v1_spark.sources import pages as P

import checks

PRECISION_FLOOR = 0.99
DELTA_MOD = 14  # er_attach: a record is in the delta when xxhash64(record_id) % 14 == 0
MINHASH_JACCARD = 0.8
WINNOW_JACCARD = 0.8
SIMHASH_HAMMING = 3
EMBED_COSINE = 0.95
COSINE_ROUNDING = 1e-9  # float64 dot/(|a||b|) computed in another order
WARM_FRACTION = 0.1


def gate_config(work_dir: str) -> PipelineConfig:
    """The config tests/test_pipeline_e2e.py::_cfg pins for the F1 gate."""
    return PipelineConfig(
        checkpoint_dir=work_dir,
        learning_rate=0.5,
        max_iterations=4000,
        l2_lambda=0.01,
        early_stop_patience=50,
        match_threshold=0.7,
        edge_threshold=0.7,
    )


class Workload:
    """``prepare`` writes the seed's inputs (repeated to time set-up);
    ``build`` does the one-time rest of set-up; ``run`` is one timed
    operation; ``check`` validates its output and returns the quality
    metrics ``pairwise_f1`` and ``dup_pairs``."""

    records = 0  # input records per operation, for records_per_s

    def __init__(self, spark, seed: int, work: str, n: int):
        self.spark, self.seed, self.work, self.n = spark, seed, work, n
        self.ops = 0

    def _dir(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def _write(self, df, name: str):
        path = self._dir("inputs", name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def before_op(self) -> None:
        """Untimed per-operation set-up."""

    def cleanup(self) -> None:
        """Between operations: drop the last operation's checkpoints and
        whatever it left cached, so operations stay independent."""
        for name in os.listdir(self.work):
            if name.startswith("op"):
                shutil.rmtree(self._dir(name), ignore_errors=True)
        jsc = self.spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist()


class _ER(Workload):
    def _corpus(self):
        """Write the seed's corpus and its labeled pairs; keep what the
        checks need on the driver."""
        corpus = self._write(P.generate_corpus(self.spark, n_records=self.n, seed=self.seed), "corpus")
        self.labeled = self._write(P.labeled_pairs(corpus), "labeled")
        self.labeled_pd = self.labeled.toPandas()
        self.ids = {r.record_id for r in corpus.select("record_id").collect()}
        return corpus

    def before_op(self) -> None:
        self.ops += 1
        self.op_dir = self._dir(f"op{self.ops}")
        shutil.rmtree(self.op_dir, ignore_errors=True)

    def check(self, labels) -> dict:
        cfg = gate_config("")
        checks.check_labels(labels, self.ids, cfg.min_cluster_size, cfg.max_cluster_size)
        engine = reports.pairwise_metrics(self.labels_df, self.labeled)
        checks.check_precision(checks.pairwise_counts(labels, self.labeled_pd), engine, PRECISION_FLOOR)
        return {"pairwise_f1": engine["f1"], "dup_pairs": checks.dup_links(labels)}


class ERBatch(_ER):
    """ERPipeline.run(pages, labeled_pairs) on the gate config: every
    stage from extract to relabel, with training."""

    def prepare(self) -> None:
        self.pages = self._write(P.pages_view(self._corpus()), "pages")
        self.records = len(self.ids)

    def build(self) -> None:
        """Nothing: the timed run is the session's first pipeline run,
        as for a batch job in a fresh process."""

    def run(self, tracer=None):
        self.labels_df = ERPipeline(self.spark, gate_config(self.op_dir)).run(
            self.pages, labeled_pairs=self.labeled
        )
        return self.labels_df.toPandas()


class ERAttach(_ER):
    """ERPipeline.incremental(delta) onto a fresh copy of a trained base
    checkpoint built in set-up. The labels cover base and delta, so they
    are checked against the labeled pairs of the whole corpus."""

    def prepare(self) -> None:
        corpus = self._corpus()
        in_delta = F.pmod(F.xxhash64("record_id"), F.lit(DELTA_MOD)) == 0
        base = corpus.filter(~in_delta)
        self.base_pages = self._write(P.pages_view(base), "base_pages")
        self.base_labeled = self._write(P.labeled_pairs(base), "base_labeled")
        self.delta_pages = self._write(P.pages_view(corpus.filter(in_delta)), "delta_pages")
        self.records = self.delta_pages.count()

    def build(self) -> None:
        """The trained base run; it also warms every engine code path."""
        self.base = self._dir("base")
        shutil.rmtree(self.base, ignore_errors=True)
        ERPipeline(self.spark, gate_config(self.base)).run(self.base_pages, self.base_labeled).count()

    def before_op(self) -> None:
        super().before_op()
        shutil.copytree(self.base, self.op_dir)

    def run(self, tracer=None):
        self.labels_df = ERPipeline(self.spark, gate_config(self.op_dir)).incremental(self.delta_pages)
        return self.labels_df.toPandas()


class CorpusDedup(Workload):
    """The training-data dedup surface over the pages' text: exact,
    minhash, winnow and simhash dedup, then embedding near-dup over the
    engine's own record embeddings."""

    def prepare(self) -> None:
        corpus = P.generate_corpus(self.spark, n_records=self.n, seed=self.seed)
        self.docs = self._write(corpus.select(F.col("record_id").alias("doc_id"), "text"), "docs")
        self.records = self.n

    def build(self) -> None:
        """Record embeddings of the text with the engine's own embedder
        (functions/embedder), the harness's reference values, and a
        warm-up of every family on a sample of the documents."""
        embed = make_embed_udf(gate_config("").embedding_dim)
        self.emb = self._write(
            self.docs.select(F.col("doc_id").alias("vec_id"), embed("text").alias("embedding")),
            "embeddings",
        )
        texts = {r.doc_id: r.text for r in self.docs.collect()}
        self.texts = texts
        self.shingles = {k: checks.char_shingles(t, 5) for k, t in texts.items()}
        self.winnow = {k: checks.winnow_fingerprints(t) for k, t in texts.items()}
        self.simhash = {k: checks.simhash64(t) for k, t in texts.items()}
        self.vectors = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in self.emb.collect()}
        self.minhash_truth = checks.exact_jaccard_pairs(self.shingles, MINHASH_JACCARD)
        # warm-up on a sample that keeps every partition, so each core's
        # Python worker starts and each family's code is compiled here
        self._families(self.docs.sample(WARM_FRACTION, seed=0), self.emb.sample(WARM_FRACTION, seed=0))

    def run(self, tracer=None):
        return self._families(self.docs, self.emb, tracer)

    def _families(self, docs, emb, tracer=None):
        steps = {
            "exact": lambda: dedup.exact_duplicates(docs).filter(F.col("dup_count") > 1),
            "minhash": lambda: dedup.minhash_lsh_dedup(docs, jaccard_threshold=MINHASH_JACCARD),
            "winnow": lambda: dedup.winnow_dedup(docs, jaccard_threshold=WINNOW_JACCARD),
            "simhash": lambda: dedup.simhash_dedup(docs, max_hamming=SIMHASH_HAMMING),
            "embedding": lambda: dedup.embedding_near_dup(emb, cosine_threshold=EMBED_COSINE),
        }
        out = {}
        for fam, make in steps.items():
            if tracer is None:
                out[fam] = make().toPandas()
                continue
            name, layer = ("simsearch.gemm", "simsearch") if fam == "embedding" else (f"dedup.{fam}", "dedup")
            with tracer.span(name, layer) as sp:
                out[fam] = make().toPandas()
            if fam == "exact":
                n = out[fam]["dup_count"]
                sp.rows = int((n * (n - 1) // 2).sum())
            else:
                sp.rows = len(out[fam])
        return out

    def check(self, out) -> dict:
        links = checks.check_exact(out["exact"], self.texts)
        sh, wn = self.shingles, self.winnow
        checks.check_similar(out["minhash"], "minhash", lambda a, b: checks.jaccard(sh[a], sh[b]), MINHASH_JACCARD)
        checks.check_similar(out["winnow"], "winnow", lambda a, b: checks.jaccard(wn[a], wn[b]), WINNOW_JACCARD)
        checks.check_hamming(out["simhash"], self.simhash, SIMHASH_HAMMING)
        checks.check_similar(
            out["embedding"], "embedding", checks.cosine(self.vectors), EMBED_COSINE - COSINE_ROUNDING
        )
        for fam in ("minhash", "winnow", "simhash", "embedding"):
            links += zip(out[fam]["id1"], out[fam]["id2"])
        found = set(zip(out["minhash"]["id1"], out["minhash"]["id2"]))
        return {"pairwise_f1": checks.f1(found, self.minhash_truth), "dup_pairs": checks.pair_links(links)}


WORKLOADS = {"er_batch": ERBatch, "er_attach": ERAttach, "corpus_dedup": CorpusDedup}
