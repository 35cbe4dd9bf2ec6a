#!/usr/bin/env python
"""Scaling diagnostics: isolate WHY the ER scoring stage failed the
north-rule 0.8 efficiency target in round 2 (measured 0.216 at 2->8
cores).

Each mode is one self-contained workload run in a FRESH subprocess at a
given parallelism (the JVM is really re-sized). The driver loop runs
every mode at several core counts and prints a JSON matrix.

Modes:
  jvm      pure-JVM CPU-bound: codegen expression chain over range(),
           no shuffle, no Python. If THIS scales, the host delivers
           the cores and any non-scaling workload is the engine's.
  shuffle  JVM groupBy aggregate over generated rows (forces a real
           hash-exchange through spark.local.dir).
  python   Arrow-batched pandas-UDF CPU-bound (the pure-Python
           Jaro-Winkler over synthetic names) — measures Python worker
           scale-out.
  hydrate  fixture candidate-pairs joined to records_wide twice + a
           cheap agg — the join/shuffle part of the scoring stage only.
  full     the exact round-2 scoring workload (hydrate + all features
           + classify + agg).
  explain  print the formatted plan of `full` (is the wide side
           broadcast? is the JW UDF pruned?).

Usage:
  python tools/scaling_diag.py --matrix [--cores 2,8,32] [--modes jvm,...]
  python tools/scaling_diag.py --worker MODE --cpus N --fixture DIR
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_RECORDS = int(os.environ.get("SPARK_GRAFT_SCALING_RECORDS", "60000"))


def _spark(cpus: int, app: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from entity_resolution_pipeline_v1_spark.session import get_spark

    return get_spark(app_name=app, cpus=cpus)


def mode_jvm(spark, cpus: int) -> tuple[int, float]:
    from pyspark.sql import functions as F

    n = 400_000_000
    df = spark.range(n, numPartitions=cpus * 4)
    t0 = time.time()
    expr = F.col("id").cast("double")
    acc = F.lit(0.0)
    for i in range(1, 9):
        acc = acc + F.sqrt(expr * i + 1.0) + F.sin(expr / i)
    row = df.select(F.sum(acc).alias("s")).collect()[0]
    assert row["s"] is not None
    return n, time.time() - t0


def mode_shuffle(spark, cpus: int) -> tuple[int, float]:
    from pyspark.sql import functions as F

    n = 40_000_000
    df = spark.range(n, numPartitions=cpus * 4).select(
        (F.col("id") % 1_000_000).alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    t0 = time.time()
    row = (
        df.groupBy("k")
        .agg(F.sum("v").alias("sv"), F.count("*").alias("c"))
        .agg(F.sum("sv").alias("s"), F.sum("c").alias("n"))
        .collect()[0]
    )
    assert row["n"] == n
    return n, time.time() - t0


def mode_python(spark, cpus: int) -> tuple[int, float]:
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_v1_spark.functions.similarity import jaro_winkler_udf

    n = 1_000_000
    df = spark.range(n, numPartitions=cpus * 4).select(
        F.concat(F.lit("smith, john q "), (F.col("id") % 997).cast("string")).alias("a"),
        F.concat(F.lit("smyth, jon "), (F.col("id") % 991).cast("string")).alias("b"),
    )
    # pre-fork workers outside the timed window
    df.limit(cpus * 8).select(jaro_winkler_udf("a", "b")).count()
    t0 = time.time()
    row = df.select(F.sum(jaro_winkler_udf("a", "b")).alias("s")).collect()[0]
    assert row["s"] is not None
    return n, time.time() - t0


def _score_frames(spark, fixture_dir: str):
    cand = spark.read.parquet(f"{fixture_dir}/cand")
    wide = spark.read.parquet(f"{fixture_dir}/wide")
    return cand, wide


def mode_hydrate(spark, cpus: int, fixture_dir: str) -> tuple[int, float]:
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_v1_spark.operators import features

    cand, wide = _score_frames(spark, fixture_dir)
    t0 = time.time()
    h = features.hydrate_pairs(cand, wide)
    row = h.agg(
        F.count("*").alias("n"),
        F.sum(F.element_at("l_person_vec", 1) + F.element_at("r_person_vec", 1)).alias("s"),
    ).collect()[0]
    return int(row["n"]), time.time() - t0


def _full_scored(spark, fixture_dir: str):
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_v1_spark.config import PipelineConfig
    from entity_resolution_pipeline_v1_spark.operators import classify, features

    cfg = PipelineConfig()
    cand, wide = _score_frames(spark, fixture_dir)
    featured = features.staged_feature_matrix(cand, wide, dim=cfg.embedding_dim)
    return classify.classify_pairs(
        featured, classify.Model.golden(), cfg, year_match_col=F.col("year_match")
    )


def mode_full(spark, cpus: int, fixture_dir: str) -> tuple[int, float]:
    from pyspark.sql import functions as F

    scored = _full_scored(spark, fixture_dir)
    t0 = time.time()
    row = scored.agg(F.count("*").alias("n"), F.sum("confidence").alias("s")).collect()[0]
    assert row["s"] is not None
    return int(row["n"]), time.time() - t0


def _timed_agg(df, cols):
    from pyspark.sql import functions as F

    t0 = time.time()
    aggs = [F.count("*").alias("n")] + [F.sum(c).alias(f"s_{c}") for c in cols]
    row = df.agg(*aggs).collect()[0]
    return int(row["n"]), time.time() - t0


def mode_cos(spark, cpus: int, fixture_dir: str) -> tuple[int, float]:
    """Hydrate + the 5 codegen dot-product cosines only."""
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_v1_spark.config import EMBED_FIELDS
    from entity_resolution_pipeline_v1_spark.functions import similarity as S
    from entity_resolution_pipeline_v1_spark.operators import features

    cand, wide = _score_frames(spark, fixture_dir)
    df = features.hydrate_pairs(cand, wide)
    for f in EMBED_FIELDS:
        df = df.withColumn(
            f"{f}_cosine",
            F.coalesce(
                S.unrolled_dot_expr(F.col(f"l_{f}_vec"), F.col(f"r_{f}_vec"), 64),
                F.lit(0.0),
            ),
        )
    return _timed_agg(df, [f"{f}_cosine" for f in EMBED_FIELDS])


def mode_jac(spark, cpus: int, fixture_dir: str) -> tuple[int, float]:
    """Hydrate + the 3 token-set jaccards only (array-alloc heavy)."""
    from entity_resolution_pipeline_v1_spark.functions import similarity as S
    from entity_resolution_pipeline_v1_spark.operators import features

    cand, wide = _score_frames(spark, fixture_dir)
    df = features.hydrate_pairs(cand, wide)
    for f in ("person", "title", "subjects"):
        df = df.withColumn(
            f"{f}_jaccard", S.token_jaccard(f"l_{f}_tokens", f"r_{f}_tokens")
        )
    return _timed_agg(df, [f"{f}_jaccard" for f in ("person", "title", "subjects")])


def mode_lev(spark, cpus: int, fixture_dir: str) -> tuple[int, float]:
    """Hydrate + levenshtein similarity only."""
    from entity_resolution_pipeline_v1_spark.functions import similarity as S
    from entity_resolution_pipeline_v1_spark.operators import features

    cand, wide = _score_frames(spark, fixture_dir)
    df = features.hydrate_pairs(cand, wide)
    df = df.withColumn("lev", S.levenshtein_sim("l_person", "r_person"))
    return _timed_agg(df, ["lev"])


def mode_jw(spark, cpus: int, fixture_dir: str) -> tuple[int, float]:
    """Hydrate + the vectorized Jaro-Winkler pandas UDF only."""
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_v1_spark.functions.similarity import jaro_winkler_udf
    from entity_resolution_pipeline_v1_spark.operators import features

    cand, wide = _score_frames(spark, fixture_dir)
    df = features.hydrate_pairs(cand, wide)
    df = df.withColumn(
        "jw", F.coalesce(jaro_winkler_udf("l_person_norm", "r_person_norm"), F.lit(0.0))
    )
    return _timed_agg(df, ["jw"])


def mode_fullsh(spark, cpus: int, fixture_dir: str) -> tuple[int, float]:
    """full, but with broadcast joins disabled (shuffle-join hydrate)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    scored = _full_scored(spark, fixture_dir)
    t0 = time.time()
    row = scored.agg(F.count("*").alias("n"), F.sum("confidence").alias("s")).collect()[0]
    assert row["s"] is not None
    return int(row["n"]), time.time() - t0


def mode_explain(spark, cpus: int, fixture_dir: str) -> tuple[int, float]:
    from pyspark.sql import functions as F

    scored = _full_scored(spark, fixture_dir)
    agg = scored.agg(F.count("*").alias("n"), F.sum("confidence").alias("s"))
    agg.explain("formatted")
    return 0, 0.0


def build_fixture(fixture_dir: str) -> None:
    import bench

    bench.build_score_fixture(fixture_dir, FIXTURE_RECORDS)


def worker(mode: str, cpus: int, fixture_dir: str | None) -> None:
    spark = _spark(cpus, f"diag-{mode}-{cpus}")
    spark.range(1000).count()
    fn = globals()[f"mode_{mode}"]
    if mode in ("jvm", "shuffle", "python"):
        n, sec = fn(spark, cpus)
    else:
        n, sec = fn(spark, cpus, fixture_dir)
    print(
        "DIAG"
        + json.dumps(
            {
                "mode": mode,
                "cpus": cpus,
                "n": n,
                "sec": round(sec, 2),
                "per_sec": round(n / sec, 1) if sec else None,
            }
        )
    )


def matrix(cores: list[int], modes: list[str], fixture_dir: str | None = None) -> None:
    import shutil
    import tempfile

    jvm_modes = ("jvm", "shuffle", "python")
    need_fixture = any(m not in jvm_modes for m in modes)
    fixture = fixture_dir
    owns_fixture = False
    if need_fixture and fixture is None:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        fixture = tempfile.mkdtemp(prefix="diag_fixture_", dir=base)
        owns_fixture = True
        print(f"# building fixture ({FIXTURE_RECORDS} records) ...", file=sys.stderr)
        build_fixture(fixture)
    results = []
    try:
        for mode in modes:
            for cpus in cores:
                cmd = [sys.executable, __file__, "--worker", mode, "--cpus", str(cpus)]
                if fixture:
                    cmd += ["--fixture", fixture]
                t0 = time.time()
                proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
                lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("DIAG")]
                if not lines:
                    results.append(
                        {"mode": mode, "cpus": cpus, "error": proc.stderr[-2000:]}
                    )
                    continue
                res = json.loads(lines[-1][4:])
                res["wall"] = round(time.time() - t0, 1)
                results.append(res)
                print(json.dumps(res), file=sys.stderr)
    finally:
        if fixture and owns_fixture:
            shutil.rmtree(fixture, ignore_errors=True)
    # efficiency summary per mode: throughput ratio / core ratio
    summary = {}
    for mode in modes:
        pts = {r["cpus"]: r for r in results if r.get("mode") == mode and "per_sec" in r}
        keys = sorted(pts)
        for lo, hi in zip(keys, keys[1:]):
            if pts[lo].get("per_sec") and pts[hi].get("per_sec"):
                eff = (pts[hi]["per_sec"] / pts[lo]["per_sec"]) / (hi / lo)
                summary[f"{mode}_{lo}_to_{hi}"] = round(eff, 3)
    print(json.dumps({"results": results, "efficiency": summary}, indent=2))


if __name__ == "__main__":
    args = sys.argv[1:]
    if "--worker" in args:
        mode = args[args.index("--worker") + 1]
        cpus = int(args[args.index("--cpus") + 1])
        fixture = args[args.index("--fixture") + 1] if "--fixture" in args else None
        worker(mode, cpus, fixture)
    else:
        cores = [2, 8, 32]
        if "--cores" in args:
            cores = [int(c) for c in args[args.index("--cores") + 1].split(",")]
        modes = ["jvm", "shuffle", "python", "hydrate", "full"]
        if "--modes" in args:
            modes = args[args.index("--modes") + 1].split(",")
        fixture_dir = (
            args[args.index("--fixture-dir") + 1] if "--fixture-dir" in args else None
        )
        matrix(cores, modes, fixture_dir)
