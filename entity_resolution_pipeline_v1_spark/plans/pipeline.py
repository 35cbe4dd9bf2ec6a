"""End-to-end ER pipeline plan: the stage DAG with checkpoint/resume.

Mirrors the reference's resumable stage loop (reference
src/pipeline.py:84-96, main.py:138-178) on Spark terms: every stage
writes a parquet table + manifest; a re-run with the same work_dir
skips completed stages; metrics/lineage rows land in the metrics
table per stage (north_rule).

    extract -> preprocess -> embed -> block -> pairs -> score
            -> classify -> cluster -> outputs
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.features import ALL_FEATURE_NAMES
from ..operators import blocking, classify, cluster, extract, features, pairs, preprocess
from ..sources import sinks


@contextmanager
def _no_aqe_coalesce(spark: SparkSession):
    """Suspend AQE partition coalescing (runtime conf) for a stage
    whose shuffles are byte-skinny but CPU-dense — byte-based
    coalescing would run the expensive per-row compute in a handful
    of tasks regardless of cluster size. Restores the prior setting."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@dataclass
class StageResult:
    name: str
    rows: int
    wall_sec: float
    skipped: bool = False


class ERPipeline:
    """Batch ER pipeline over a pages DataFrame."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig | None = None):
        self.spark = spark
        self.cfg = cfg or PipelineConfig()
        self.results: list[StageResult] = []
        self.model: classify.Model | None = None
        self.train_metrics: dict | None = None

    # -- checkpoint fingerprint ---------------------------------------------
    def _fingerprint(self, extra: str = "") -> str:
        """Config (+ optional model) fingerprint recorded in each stage
        manifest. Resuming the same checkpoint_dir under a different
        config or model invalidates the stale stages instead of
        silently reusing them. Execution-only knobs are excluded —
        moving the work dir, toggling report output, or changing the
        CC lineage-checkpoint cadence does not change any stage's
        semantics."""
        exec_only = {"checkpoint_dir", "generate_reports"}
        cfg = {k: v for k, v in asdict(self.cfg).items() if k not in exec_only}
        # stageset version: bumped when the MEANING of a checkpointed
        # stage changes (v2: the block stage keeps singleton keys so the
        # incremental attach can reuse it) — old checkpoints must be
        # invalidated, not silently reused under the new semantics
        blob = json.dumps(cfg, sort_keys=True, default=str) + "|stageset=2|" + extra
        return hashlib.md5(blob.encode("utf-8")).hexdigest()

    def _model_fp(self) -> str:
        if self.model is None:
            return ""
        return json.dumps(
            {"w": self.model.weights, "b": self.model.bias, "t": self.model.threshold},
            sort_keys=True,
        )

    # -- stage runner ------------------------------------------------------
    def _stage(self, name: str, build, resume: bool = True, partition_by=None,
               extra_fp: str = "") -> DataFrame:
        work = self.cfg.checkpoint_dir
        fp = self._fingerprint(extra_fp)
        if resume and sinks.stage_complete(work, name, fp):
            df = sinks.read_stage(self.spark, work, name)
            self.results.append(StageResult(name, -1, 0.0, skipped=True))
            return df
        t0 = time.time()
        df = build()
        out = sinks.write_stage(df, work, name, partition_by, fingerprint=fp)
        wall = time.time() - t0
        sinks.record_metrics(out, work, name, wall)
        self.results.append(StageResult(name, sinks.manifest_rows(work, name), wall))
        return out

    # -- full run ----------------------------------------------------------
    def run(
        self,
        pages: DataFrame,
        labeled_pairs: DataFrame | None = None,
        model: classify.Model | None = None,
        resume: bool = True,
        until: str | None = None,
    ) -> DataFrame:
        """Run the stage DAG; ``until`` stops after (and returns the
        output of) the named stage — the reference's --stage semantics
        (reference main.py:100-178): earlier stages resume from
        checkpoint, later ones don't run."""
        cfg = self.cfg

        extracted = self._stage(
            "extract", lambda: extract.extract_text(pages, mode="main"), resume
        )
        if until == "extract":
            return extracted
        records = self._stage(
            "preprocess", lambda: preprocess.parse_records(extracted), resume
        )
        if until == "preprocess":
            return records
        uniques = self._stage(
            "unique_strings",
            lambda: preprocess.unique_strings(
                preprocess.long_form(records), cfg.min_string_frequency
            ),
            resume,
        )
        if until == "unique_strings":
            return uniques
        embeddings = self._stage(
            "embed", lambda: preprocess.embed_unique(uniques, cfg.embedding_dim), resume
        )
        if until == "embed":
            return embeddings
        wide = self._stage(
            "records_wide", lambda: preprocess.records_wide(records, embeddings), resume
        )
        if until == "records_wide":
            return wide
        # the block checkpoint is PRE-cap: singleton and hot-key
        # filtering are join-time properties of whichever corpus the
        # keys are used against (the incremental attach reuses this
        # table against a LARGER corpus where a singleton may pair and
        # combined counts decide the cap), so the persisted table keeps
        # every key and the pairs stage applies cap_blocks over it
        blocks = self._stage(
            "block",
            lambda: blocking.build_blocks(
                records,
                num_hashes=cfg.minhash_num_hashes,
                bands=cfg.minhash_bands,
                sn_window=cfg.sorted_neighborhood_window,
            ),
            resume,
        )
        if until == "block":
            return blocks
        cand = self._stage(
            "pairs",
            lambda: pairs.candidate_pairs(
                blocking.cap_blocks(blocks, cfg.max_block_size, drop_singletons=False)
            ),
            resume,
        )
        if until == "pairs":
            return cand
        # staged scoring: string features (incl. the Arrow JW) over
        # a names-only hydrate, then vector hydration + codegen
        # cosines — same values as the reference features (tested),
        # but the Arrow node never splits the dot-product stage
        # into an over-64KB codegen method (features.py docstring).
        # AQE partition COALESCING is suspended for this stage: pair
        # scoring is byte-skinny but CPU-dense, and byte-based
        # coalescing collapses it onto a handful of tasks (measured
        # 2.5x loss at 8 cores on the 8.9M-pair fixture); skew-join
        # splitting stays enabled.
        with _no_aqe_coalesce(self.spark):
            featured = self._stage(
                "score",
                lambda: features.staged_feature_matrix(
                    cand, wide, dim=cfg.embedding_dim, names=ALL_FEATURE_NAMES
                ),
                resume,
            )
        if until == "score":
            return featured

        # -- model: train on labels if given, else golden weights ----------
        if model is not None:
            self.model = model
        elif labeled_pairs is not None:
            self.model = self._train(labeled_pairs, wide)
        else:
            self.model = classify.Model.golden()

        edges = self._stage(
            "classify",
            lambda: classify.classify_pairs(
                featured, self.model, cfg, year_match_col=F.col("year_match")
            ).filter(F.col("is_match")),
            resume,
            extra_fp=self._model_fp(),
        )
        if until == "classify":
            return edges
        deduped = pairs.dedup_scored_pairs(edges, "id1", "id2", "confidence")
        # raw CC labels (cluster_id = min record in component) are
        # checkpointed SEPARATELY from the filtered/densely-relabeled
        # output: incremental() merges new match edges into the raw
        # component structure without re-running CC over the full graph
        cc_raw = self._stage(
            "cc_raw",
            lambda: cluster.connected_components(
                deduped.filter(F.col("confidence") >= cfg.edge_threshold).select(
                    F.col("id1").alias("src"), F.col("id2").alias("dst")
                ),
            ),
            resume,
            extra_fp=self._model_fp(),
        )
        if until == "cc_raw":
            return cc_raw
        labels = self._stage(
            "cluster",
            lambda: cluster.filter_and_relabel(
                cc_raw, cfg.min_cluster_size, cfg.max_cluster_size
            ),
            resume,
            extra_fp=self._model_fp(),  # cluster input is classify output
        )
        self._save_model()
        if cfg.generate_reports:
            from .. import reports

            # evaluation block: the config that PRODUCED these numbers
            # travels with them — a tuned-gate F1 is distinguishable
            # from the out-of-the-box default-config F1 in the report
            evaluation: dict = {
                "config": {
                    "learning_rate": cfg.learning_rate,
                    "max_iterations": cfg.max_iterations,
                    "l2_lambda": cfg.l2_lambda,
                    "match_threshold": cfg.match_threshold,
                    "edge_threshold": cfg.edge_threshold,
                    "is_default_config": cfg.is_default_training_config(),
                },
                "train_metrics": self.train_metrics,
            }
            if labeled_pairs is not None:
                evaluation["pairwise"] = reports.pairwise_metrics(labels, labeled_pairs)
                # error-analysis set (confusion matrix, test-set
                # summary, misclassified / near-threshold examples)
                # over the labeled pairs scored through the SAME
                # feature+classify path the production pairs take
                evaluation["test_set"] = reports.error_analysis(
                    self._score_labeled(labeled_pairs, wide),
                    os.path.join(cfg.checkpoint_dir, "reports"),
                    cfg.match_threshold,
                    feature_names=ALL_FEATURE_NAMES,
                )
            reports.write_reports(
                cfg.checkpoint_dir,
                deduped,
                labels,
                model=self.model,
                featured=featured,
                feature_names=ALL_FEATURE_NAMES,
                stage_summary=[
                    {"name": r.name, "rows": r.rows, "wall_sec": round(r.wall_sec, 3),
                     "skipped": r.skipped}
                    for r in self.results
                ],
                evaluation=evaluation,
            )
        return labels

    # -- incremental path ----------------------------------------------------
    def _save_model(self) -> None:
        """Persist the run's model next to the stage checkpoints so a
        later incremental() in a fresh process scores new batches with
        the SAME classifier (the classify-stage fingerprint already
        guards against silently mixing models)."""
        if self.model is not None:
            self.model.save(os.path.join(self.cfg.checkpoint_dir, "model.json"))

    def _inc_dirs(self) -> list[str]:
        """Completed increment dirs under the work dir, in batch order
        (inc=1, inc=2, ...). An increment is complete when its merged
        cc_raw manifest exists — the last thing incremental() writes."""
        out = []
        i = 1
        while sinks.stage_complete(
            os.path.join(self.cfg.checkpoint_dir, f"inc={i}"), "cc_raw"
        ):
            out.append(os.path.join(self.cfg.checkpoint_dir, f"inc={i}"))
            i += 1
        return out

    def _read_union(self, stage: str, dirs: list[str]) -> DataFrame:
        df = sinks.read_stage(self.spark, dirs[0], stage)
        for d in dirs[1:]:
            df = df.unionByName(sinks.read_stage(self.spark, d, stage))
        return df

    def incremental(self, new_pages: DataFrame) -> DataFrame:
        """Attach a new batch of pages to an existing completed run —
        the operation a production deployment performs daily instead of
        re-clustering the whole corpus (the reference has no analogue;
        its networkx clustering is rebuilt from scratch each run,
        src/clustering.py:45-105).

        Scale shape:
        - new records are extracted/embedded alone (the embedder is
          deterministic per string, so batch boundaries cannot change a
          vector);
        - blocking keys are DELTA-computed for the per-record families
          (exact/token-sort/initials/minhash are pure functions of one
          record — the base run's and prior increments' checkpointed
          keys are reused verbatim); only the rank-based sorted-
          neighborhood family re-sorts the combined corpus, a JVM-side
          sort with no sketching;
        - candidate pairs are restricted to those touching a new record
          (semi-join the new ids against the block table, then one
          new-side×all equi-join) — the expensive score/classify stage
          is delta-proportional, never O(all²);
        - clustering merges the new match edges into the persisted raw
          CC labels: only components TOUCHED by a new edge re-run
          connected components (each old component collapses to a star
          around its min-record root, so the delta CC converges in ~2
          rounds); untouched components are carried over by anti-join.

        Equivalence vs a full rerun: exact for the equi-key blocking
        families (same keys -> same pairs; old-old pairs were already
        scored in the base run). Two bounded divergences, both in the
        conservative direction (the attach RETAINS edges a rerun would
        not re-derive, never invents ones it couldn't):
        - sorted-neighborhood old-old pairs whose window distance
          changed when new records were inserted into the sort —
          bounded by the window, covered by the redundant key families;
        - a block key whose COMBINED count crosses max_block_size only
          after an attach: the full rerun drops the whole key
          (cap_blocks), losing its old-old pairs' recall, while the
          attach keeps the old-old match edges already in cc_raw (it
          only stops generating NEW pairs from the key). Keeping
          previously verified matches when a key turns hot is the
          behavior a production deployment wants; a from-scratch
          rebuild is the way to resync exactly with rerun semantics.

        Each call writes a self-contained increment dir
        (<work>/inc=<k>/stage=...) holding the NEW batch's records/
        wide/edges plus the MERGED raw labels, so increments chain:
        the next call unions records and wide across base + increments
        and reads the latest merged cc_raw. Returns the filtered,
        densely-relabeled labels over the combined corpus."""
        cfg = self.cfg
        work = cfg.checkpoint_dir
        incs = self._inc_dirs()
        base_dirs = [work, *incs]
        if self.model is None:
            mp = os.path.join(work, "model.json")
            self.model = (
                classify.Model.load(mp) if os.path.exists(mp) else classify.Model.golden()
            )
        fp = self._fingerprint()
        fp_m = self._fingerprint(self._model_fp())
        # fingerprinted completeness: attaching under a DIFFERENT config
        # or model than the base run would silently mix semantics — the
        # same stale-checkpoint rule the batch resume path enforces
        for d, st, want in ((work, "preprocess", fp), (work, "records_wide", fp),
                            (base_dirs[-1], "cc_raw", fp_m)):
            if not sinks.stage_complete(d, st, want):
                raise ValueError(
                    f"incremental() needs a completed base run in {work}: stage "
                    f"'{st}' has no checkpoint (or was written under a different "
                    "config/model)"
                )
        out_dir = os.path.join(work, f"inc={len(incs) + 1}")
        t0 = time.time()

        def _w(name: str, df: DataFrame, fpv: str) -> DataFrame:
            ts = time.time()
            out = sinks.write_stage(df, out_dir, name, fingerprint=fpv)
            self.results.append(
                StageResult(f"inc:{name}", sinks.manifest_rows(out_dir, name), time.time() - ts)
            )
            return out

        # anti-join out records already ingested (same record_id): a
        # replayed micro-batch (streaming foreachBatch crash recovery)
        # or an overlapping upstream export must be idempotent — a
        # fully-replayed batch yields 0 new records and leaves the
        # clustering untouched
        new_records = _w(
            "preprocess",
            preprocess.parse_records(
                extract.extract_text(new_pages, mode="main")
            ).join(
                self._read_union("preprocess", base_dirs).select("record_id"),
                on="record_id",
                how="left_anti",
            ),
            fp,
        )
        uniq = preprocess.unique_strings(
            preprocess.long_form(new_records), cfg.min_string_frequency
        )
        new_wide = _w(
            "records_wide",
            preprocess.records_wide(
                new_records, preprocess.embed_unique(uniq, cfg.embedding_dim)
            ),
            fp,
        )

        combined_records = self._read_union("preprocess", base_dirs).unionByName(
            new_records
        )
        # blocking keys: the exact/token-sort/initials/minhash families
        # are pure per-record functions, so they are DELTA-computed (one
        # Arrow sketching pass over the new batch only) and unioned with
        # the base run's + prior increments' checkpointed keys. Only the
        # rank-based sorted-neighborhood family depends on the combined
        # corpus — one JVM-side sort pass, no sketching. At web scale
        # this is the difference between re-sketching 10^12 records per
        # attach and sketching only the delta. Reuse is exact because
        # the block checkpoint is PRE-cap: singleton and hot-key
        # filtering happen below, over COMBINED counts — the same keys
        # a full rerun over the combined corpus would keep.
        new_local = _w(
            "block_local",
            blocking.build_blocks(
                new_records,
                num_hashes=cfg.minhash_num_hashes,
                bands=cfg.minhash_bands,
                use_sorted_neighborhood=False,
            ),
            fp,
        )
        local = sinks.read_stage(self.spark, work, "block").filter(
            ~F.col("block_key").startswith("s:")
        )
        for d in incs:
            local = local.unionByName(sinks.read_stage(self.spark, d, "block_local"))
        sn = _w(
            "block_sn",
            blocking.sorted_neighborhood_blocks(
                combined_records, window=cfg.sorted_neighborhood_window
            ),
            fp,
        )
        blocks = blocking.cap_blocks(
            local.unionByName(new_local).unionByName(sn),
            cfg.max_block_size,
            drop_singletons=True,  # combined counts: only unpairable keys drop
        )
        new_ids = new_records.select("record_id")
        new_side = blocks.join(new_ids, on="record_id", how="left_semi")
        # checkpoint the candidate pairs exactly like run()'s pairs
        # stage: the blocks subtree (Arrow key UDFs + the SN global-rank
        # offsets collect) appears TWICE in this self-join and would
        # otherwise recompute inside every downstream scoring join —
        # measured 88s -> ~5s for the attach's classify step at 20k+1k
        cand = _w(
            "pairs",
            new_side.alias("a")
            .join(blocks.alias("b"), on="block_key")
            .filter(F.col("a.record_id") != F.col("b.record_id"))
            .select(
                F.least("a.record_id", "b.record_id").alias("id1"),
                F.greatest("a.record_id", "b.record_id").alias("id2"),
            )
            .dropDuplicates(["id1", "id2"]),
            fp,
        )

        combined_wide = self._read_union("records_wide", base_dirs).unionByName(new_wide)
        # the conf suspension is a RUNTIME setting: the scoring job must
        # EXECUTE inside it, not merely be planned inside it (a 62k-pair
        # delta frame is a few MB, which byte-based AQE coalescing
        # otherwise collapses onto one task)
        with _no_aqe_coalesce(self.spark):
            # the score stage is CHECKPOINTED before classify, exactly
            # like run(): classify's confidence expression duplicates
            # the feature tree inside its when() branches, and
            # CollapseProject stacking it over the 5 fused dim-term
            # dot products blows the 64KB codegen method limit into
            # interpreted mode (measured: 62k pairs scored+classified
            # in 76s fused vs 5.5s+0.6s split at these checkpoints)
            featured = _w(
                "score",
                features.staged_feature_matrix(
                    cand, combined_wide, dim=cfg.embedding_dim, names=ALL_FEATURE_NAMES
                ),
                fp,
            )
            new_edges = _w(
                "classify",
                classify.classify_pairs(
                    featured, self.model, cfg, year_match_col=F.col("year_match")
                ).filter(F.col("is_match")),
                fp_m,
            )

        # delta CC over touched components only
        cc_raw_old = sinks.read_stage(self.spark, base_dirs[-1], "cc_raw")
        e = (
            pairs.dedup_scored_pairs(new_edges, "id1", "id2", "confidence")
            .filter(F.col("confidence") >= cfg.edge_threshold)
            .select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        )
        touched = (
            e.select(F.col("src").alias("record_id"))
            .unionByName(e.select(F.col("dst").alias("record_id")))
            .distinct()
        )
        touched_roots = (
            cc_raw_old.join(touched, on="record_id", how="left_semi")
            .select("cluster_id")
            .distinct()
        )
        affected = cc_raw_old.join(touched_roots, on="cluster_id", how="left_semi")
        star = affected.select(
            F.col("record_id").alias("src"), F.col("cluster_id").alias("dst")
        )
        # the CC fixpoint runs EAGERLY here (per-round localCheckpoint +
        # fingerprint actions), so it gets its own timing row — at small
        # delta sizes its ~2-round fixed job cost dominates the attach
        ts_cc = time.time()
        delta = cluster.connected_components(e.unionByName(star))
        self.results.append(StageResult("inc:delta_cc", delta.count(), time.time() - ts_cc))
        merged = _w(
            "cc_raw",
            cc_raw_old.join(
                affected.select("record_id"), on="record_id", how="left_anti"
            ).unionByName(delta),
            fp_m,
        )
        labels = _w(
            "cluster",
            cluster.filter_and_relabel(
                merged, cfg.min_cluster_size, cfg.max_cluster_size
            ),
            fp_m,
        )
        sinks.record_metrics(labels, out_dir, "incremental", time.time() - t0)
        self.results.append(
            StageResult(f"inc={len(incs) + 1}", labels.count(), time.time() - t0)
        )
        return labels

    def _labeled_features(
        self, labels: DataFrame, wide: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(pair_ids, feat): the labels as (id1, id2, match) and the
        production feature matrix over their DISTINCT (id1, id2) pairs.
        Callers join the two on (id1, id2), so a duplicated label row
        keeps its multiplicity instead of squaring it."""
        pair_ids = labels.select(
            F.col("left").alias("id1"), F.col("right").alias("id2"), "match"
        )
        feat = features.staged_feature_matrix(
            pair_ids.select("id1", "id2").distinct(), wide, dim=self.cfg.embedding_dim
        )
        return pair_ids, feat

    def _score_labeled(self, labels: DataFrame, wide: DataFrame) -> DataFrame:
        """(id1, id2, match, …features…, confidence, is_match) for the
        labeled ground-truth pairs, scored through the same feature +
        classify path as production candidates — the input to
        reports.error_analysis.

        Hydration is an inner join, so a labeled pair whose record is
        absent from records_wide (failed parse, never ingested) drops
        out of the scored frame; the final left join puts every labeled
        pair back with NULL confidence, which error_analysis counts as
        predicted-False (its documented 'never a candidate' cell) — the
        same coalesce pairwise_metrics applies, so the two reports
        always agree on n_pairs and recall."""
        pair_ids, feat = self._labeled_features(labels, wide)
        scored = classify.classify_pairs(
            feat,
            self.model,
            self.cfg,
            year_match_col=F.col("year_match"),
            keep_columns=(*ALL_FEATURE_NAMES,),
        )
        return pair_ids.join(scored, on=["id1", "id2"], how="left")

    # -- training path ------------------------------------------------------
    def _train(self, labels: DataFrame, wide: DataFrame) -> classify.Model:
        """J6 hydration: labeled pairs -> production features ->
        driver-side deterministic GD (the labeled set is tiny by
        construction; this is the same scale split the reference makes).

        The collected rows are sorted by pair before training:
        classify.train draws its train/val/test split as a seeded
        permutation of row positions, and toPandas() returns rows in
        whatever order the physical plan produced them."""
        pair_ids, feat = self._labeled_features(labels, wide)
        pdf = (
            pair_ids.join(feat, on=["id1", "id2"])
            .select("id1", "id2", *ALL_FEATURE_NAMES, F.col("match").cast("int").alias("y"))
            .toPandas()
            .sort_values(["id1", "id2", "y"], kind="mergesort", ignore_index=True)
        )
        X = pdf[list(ALL_FEATURE_NAMES)].to_numpy(dtype=float)
        y = pdf["y"].to_numpy(dtype=float)
        model, metrics = classify.train(X, y, self.cfg, feature_names=ALL_FEATURE_NAMES)
        self.train_metrics = metrics
        return model

    def summary(self) -> dict:
        return {
            "stages": [
                {"name": r.name, "rows": r.rows, "wall_sec": round(r.wall_sec, 3), "skipped": r.skipped}
                for r in self.results
            ],
            "model_bias": self.model.bias if self.model else None,
        }
