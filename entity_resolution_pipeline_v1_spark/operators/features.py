"""The 14-feature pair contract (reference §2.9).

Feature order and semantics pinned to the reference
(output/summary_report.json:34-50, constructed src/features.py:92-136):
five embedding cosines, person Levenshtein, six harmonic-mean
interactions, one product, one ratio. Missing vector => 0.0
(src/features.py:158-159).

staged_feature_matrix is the one production path (the score stage,
incremental attach, training and the labeled-pair report);
with_features + with_extra_features over hydrate_pairs is the
independent reference the parity tests compare it against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EMBED_FIELDS, FEATURE_NAMES
from ..functions import similarity as S
from ..functions import text as TX
from ..functions import years as Y
from .util import ensure_parallelism

# North-rule extras beyond the reference's 14 (SURVEY.md §2.8 F11):
# Jaro-Winkler + token-set Jaccard on names, title Jaccard, and the
# birth/death-year agreement signal as a feature.
EXTRA_FEATURE_NAMES: tuple[str, ...] = (
    "person_jaro_winkler",
    "person_jaccard",
    "title_jaccard",
    "subjects_jaccard",
    "year_match",
    "low_info_name",
)
ALL_FEATURE_NAMES: tuple[str, ...] = FEATURE_NAMES + EXTRA_FEATURE_NAMES


def hydrate_pairs(pairs: DataFrame, wide: DataFrame) -> DataFrame:
    """pairs(id1,id2) ⋈ records_wide twice -> one row per pair with
    l_*/r_* field strings and vectors. Input of the reference feature
    functions below (with_features + with_extra_features); production
    scoring hydrates in two skinny phases inside staged_feature_matrix.
    """
    lcols = [F.col("record_id").alias("id1")] + [
        F.col(c).alias(f"l_{c}") for c in wide.columns if c != "record_id"
    ]
    rcols = [F.col("record_id").alias("id2")] + [
        F.col(c).alias(f"r_{c}") for c in wide.columns if c != "record_id"
    ]
    return pairs.join(wide.select(*lcols), on="id1").join(wide.select(*rcols), on="id2")


def with_features(hydrated: DataFrame) -> DataFrame:
    """Append the 14 feature columns in reference order.

    The reference implementation: the parity tests compare
    staged_feature_matrix against
    with_extra_features(with_features(hydrate_pairs(...))).
    Cosines are the true-norm Arrow UDF over per-pair vectors, not the
    production plan's unit-norm dot products.
    """
    df = hydrated
    for f in EMBED_FIELDS:
        df = df.withColumn(
            f"{f}_cosine",
            F.coalesce(S.cosine_udf(F.col(f"l_{f}_vec"), F.col(f"r_{f}_vec")), F.lit(0.0)),
        )
    df = df.withColumn("person_levenshtein", S.levenshtein_sim("l_person", "r_person"))
    for a, b in [
        ("person", "title"),
        ("person", "provision"),
        ("person", "subjects"),
        ("title", "subjects"),
        ("title", "provision"),
        ("provision", "subjects"),
    ]:
        df = df.withColumn(
            f"{a}_{b}_harmonic",
            S.harmonic_mean(F.col(f"{a}_cosine"), F.col(f"{b}_cosine")),
        )
    df = df.withColumn(
        "person_subjects_product", S.product(F.col("person_cosine"), F.col("subjects_cosine"))
    )
    df = df.withColumn(
        "composite_subjects_ratio",
        S.safe_ratio(F.col("composite_cosine"), F.col("subjects_cosine")),
    )
    return df


def with_extra_features(df: DataFrame) -> DataFrame:
    """Append the north-rule extras. Jaro-Winkler is the one pandas
    UDF; Jaccard and year-match are native expressions over tokens and
    the extracted-year structs. Part of the reference implementation (see
    with_features): it normalizes and tokenizes per pair side instead
    of reading the per-record columns records_wide precomputes."""
    ln = TX.normalize_name("l_person")
    rn = TX.normalize_name("r_person")
    df = df.withColumn(
        "person_jaro_winkler",
        F.coalesce(S.jaro_winkler_udf(ln, rn), F.lit(0.0)),
    )
    df = df.withColumn("person_jaccard", S.token_jaccard(TX.tokens(ln), TX.tokens(rn)))
    df = df.withColumn(
        "title_jaccard",
        S.token_jaccard(TX.tokens(F.lower(F.col("l_title"))), TX.tokens(F.lower(F.col("r_title")))),
    )
    df = df.withColumn(
        "subjects_jaccard",
        S.token_jaccard(
            TX.tokens(F.lower(F.col("l_subjects"))), TX.tokens(F.lower(F.col("r_subjects")))
        ),
    )
    # low-information names ('Dubois, S.') cannot be matched on the name
    # alone; flag them so the classifier/prefilters can demand
    # corroboration from title/subjects/years. regexp_count (codegen'd)
    # counts the >=3-letter tokens — no filter() lambda in the pair path
    def n_informative(col):
        return F.coalesce(
            F.regexp_count(TX.normalize_name(col), F.lit(r"[\p{L}]{3,}")), F.lit(0)
        )

    df = df.withColumn(
        "low_info_name",
        F.when(
            (n_informative("l_person") < 2) | (n_informative("r_person") < 2), 1.0
        ).otherwise(0.0),
    )
    # years: use per-record pre-extracted structs when the hydrate side
    # carries them (one UDF pass over records, not two over pairs);
    # fall back to extracting here for standalone use
    if "l_person_years" in df.columns and "r_person_years" in df.columns:
        ly, ry = F.col("l_person_years"), F.col("r_person_years")
        df = df.withColumn(
            "year_match",
            Y.year_match(ly["birth"], ly["death"], ry["birth"], ry["death"]),
        )
    else:
        df = df.withColumn("_ly", Y.extract_years_udf(F.col("l_person"))).withColumn(
            "_ry", Y.extract_years_udf(F.col("r_person"))
        )
        df = df.withColumn(
            "year_match",
            Y.year_match(
                F.col("_ly.birth"), F.col("_ly.death"), F.col("_ry.birth"), F.col("_ry.death")
            ),
        ).drop("_ly", "_ry")
    return df


# Above this dimensionality the unrolled S.unrolled_dot_expr stops being
# the right cosine plan: 5 cosines x dim multiply-add terms approaches the
# JVM's 64KB-per-method codegen budget, Spark splits the generated
# code into non-inlined expression methods, and throughput collapses
# below the Arrow einsum path. Measured on this runtime (2.5M-pair
# fixture, local[8]): dim 64 fused 22s vs UDF 117s; dim 1536 fused is
# codegen-split/interpreted while the UDF stays one einsum per batch.
# 256 keeps the whole 5-cosine projection comfortably inside one
# whole-stage-codegen span (5*256 = 1280 terms).
FUSED_COSINE_MAX_DIM = 256


def feature_matrix(
    df: DataFrame,
    id_cols: tuple[str, ...] = ("id1", "id2"),
    names: tuple[str, ...] = FEATURE_NAMES,
) -> DataFrame:
    return df.select(*id_cols, *[n for n in names if n in df.columns])


# columns of records_wide consumed by the STRING phase of staged
# scoring (everything the string/token features need), vs the vector
# phase (the five embedding columns)
_STRING_PHASE_COLS = (
    "person", "title", "subjects",
    "person_norm", "person_tokens", "title_tokens", "subjects_tokens",
    "person_informative", "person_years",
)
# per-field string-hash keys of the distinct-pair cosine dictionary
_HASH_COLS = tuple(f"{f}_hash" for f in EMBED_FIELDS)


def _cosine_interactions(df: DataFrame) -> DataFrame:
    """The six harmonic means + product + ratio over already-computed
    `{f}_cosine` columns (reference feature set, src/features.py:92-136)."""
    for a, b in [
        ("person", "title"),
        ("person", "provision"),
        ("person", "subjects"),
        ("title", "subjects"),
        ("title", "provision"),
        ("provision", "subjects"),
    ]:
        df = df.withColumn(
            f"{a}_{b}_harmonic",
            S.harmonic_mean(F.col(f"{a}_cosine"), F.col(f"{b}_cosine")),
        )
    df = df.withColumn(
        "person_subjects_product", S.product(F.col("person_cosine"), F.col("subjects_cosine"))
    )
    return df.withColumn(
        "composite_subjects_ratio",
        S.safe_ratio(F.col("composite_cosine"), F.col("subjects_cosine")),
    )


def staged_feature_matrix(
    cand: DataFrame,
    wide: DataFrame,
    dim: int = 64,
    names: tuple[str, ...] = ALL_FEATURE_NAMES,
) -> DataFrame:
    """Two-phase pair scoring: (1) hydrate only the STRING/TOKEN columns
    and compute every string feature — Jaro-Winkler (the one Arrow
    UDF), Levenshtein, the three Jaccards, year-match, low-info — then
    drop the strings; (2) attach the five cosines and their interaction
    features in the top stage.

    Same values as the reference with_extra_features(with_features(
    hydrate_pairs(...))) to float32 unit-norm precision (tested), with
    a different physical plan that has two advantages at scale:

      * the Arrow eval node sits in the cheap string stage; the
        vector stage is pure whole-stage codegen. With single-phase
        hydration, CollapseProject stacks ALL feature expressions
        above the Arrow node in one projection whose 5 x dim-term dot
        products exceed the JVM's 64KB method limit — Spark silently
        drops that stage to interpreted mode (~4x slower, measured on
        the 2.5M-pair fixture);
      * the inter-phase frame is skinny (ids + a few doubles), so the
        extra hydration joins shuffle little, and a caller can insert
        an early-exit filter on the cheap string features before
        paying for the cosines (cascade scoring).

    Requires the records_wide precomputed columns (person_norm, token
    arrays, years, the per-field ``{f}_hash`` keys) — the pipeline's
    records_wide always has them.

    The cosine plan follows from ``dim`` (measured on the 60k-record
    fixture, local[8], broadcast off):

      * ``dim <= FUSED_COSINE_MAX_DIM`` — hydrate the unit-norm vectors
        per pair side and evaluate unrolled dot products inline. At
        dim 64 this wins 2x (97.5k vs 48.2k pairs/s): the dictionary
        plan's extra pair-frame shuffle joins cost more than the one
        interpreted stage they avoid.
      * above it — the distinct-pair cosine dictionary
        (_attach_dict_cosines): each field's cosine is computed ONCE
        per distinct (l_hash, r_hash) string pair with the Arrow
        cosine UDF and joined back onto the skinny pair frame. At the
        reference's dim 1536 this wins 5.2x (7,272 vs 1,386 pairs/s):
        per-pair vector hydration ships ~61KB/pair, and the UDF then
        runs over distinct pairs instead of every pair.
    """
    missing = [c for c in (*_STRING_PHASE_COLS, *_HASH_COLS) if c not in wide.columns]
    if missing:
        raise ValueError(f"staged_feature_matrix needs records_wide columns, missing: {missing}")
    use_dict = dim > FUSED_COSINE_MAX_DIM
    # phase 1: string features over a names-only hydrate. In dict mode
    # the per-field hash keys ride along (10 longs/row — they are join
    # keys, not UDF inputs, so they never transit Arrow).
    # If the wide sides broadcast (they often do — the distinct-record
    # table is orders of magnitude smaller than the pair table), ALL
    # per-pair compute runs in cand's own partitions, so a cand that
    # arrives as one checkpoint file would score serially.
    cand = ensure_parallelism(cand)
    carry = _HASH_COLS if use_dict else ()
    sl = wide.select(
        F.col("record_id").alias("id1"),
        *[F.col(c).alias(f"l_{c}") for c in (*_STRING_PHASE_COLS, *carry)],
    )
    sr = wide.select(
        F.col("record_id").alias("id2"),
        *[F.col(c).alias(f"r_{c}") for c in (*_STRING_PHASE_COLS, *carry)],
    )
    p = cand.join(sl, on="id1").join(sr, on="id2")
    ly, ry = F.col("l_person_years"), F.col("r_person_years")
    p = p.select(
        "id1",
        "id2",
        *[F.col(f"l_{c}") for c in carry],
        *[F.col(f"r_{c}") for c in carry],
        F.coalesce(
            S.jaro_winkler_udf(F.col("l_person_norm"), F.col("r_person_norm")), F.lit(0.0)
        ).alias("person_jaro_winkler"),
        S.levenshtein_sim("l_person", "r_person").alias("person_levenshtein"),
        S.token_jaccard(F.col("l_person_tokens"), F.col("r_person_tokens")).alias(
            "person_jaccard"
        ),
        S.token_jaccard(F.col("l_title_tokens"), F.col("r_title_tokens")).alias(
            "title_jaccard"
        ),
        S.token_jaccard(F.col("l_subjects_tokens"), F.col("r_subjects_tokens")).alias(
            "subjects_jaccard"
        ),
        F.when(
            (F.col("l_person_informative") < 2) | (F.col("r_person_informative") < 2), 1.0
        )
        .otherwise(0.0)
        .alias("low_info_name"),
        Y.year_match(ly["birth"], ly["death"], ry["birth"], ry["death"]).alias("year_match"),
    )
    if use_dict:
        df = _attach_dict_cosines(p, cand, wide)
    else:
        # phase 2: vector hydration + codegen cosines on the skinny frame
        vl = wide.select(
            F.col("record_id").alias("id1"),
            *[F.col(f"{f}_vec").alias(f"l_{f}_vec") for f in EMBED_FIELDS],
        )
        vr = wide.select(
            F.col("record_id").alias("id2"),
            *[F.col(f"{f}_vec").alias(f"r_{f}_vec") for f in EMBED_FIELDS],
        )
        df = p.join(vl, on="id1").join(vr, on="id2")
        for f in EMBED_FIELDS:
            cos = S.unrolled_dot_expr(F.col(f"l_{f}_vec"), F.col(f"r_{f}_vec"), dim)
            df = df.withColumn(f"{f}_cosine", F.coalesce(cos, F.lit(0.0)))
    return feature_matrix(_cosine_interactions(df), names=names)


def _attach_dict_cosines(p: DataFrame, cand: DataFrame, wide: DataFrame) -> DataFrame:
    """The distinct-pair cosine dictionary (staged_feature_matrix above
    FUSED_COSINE_MAX_DIM).

    For each embed field: (1) the DISTINCT (l_hash, r_hash) pairs the
    candidates actually realize — built from a skinny hash-only
    hydrate, unpivoted so all five fields dedup in ONE shuffle; (2) a
    per-field hash -> vector dictionary (one row per distinct string);
    (3) the Arrow cosine UDF evaluated once per distinct pair — a SMALL
    table per field; (4) a left join of each table back onto the pair
    frame on (l_hash, r_hash), NULL (missing string / missing vector)
    coalesced to 0.0 exactly like the inline path.

    Scale shape: the per-pair hot stage carries 10 longs instead of
    10 x dim floats, never evaluates a dot product, and the cosine work
    itself shrinks by the string-repeat factor (5-30x measured). The
    per-field cosine tables broadcast under AQE at test scale and
    degrade to shuffled joins at web scale."""
    lh = {f: f"l_{f}_hash" for f in EMBED_FIELDS}
    rh = {f: f"r_{f}_hash" for f in EMBED_FIELDS}
    hl = wide.select(
        F.col("record_id").alias("id1"),
        *[F.col(f"{f}_hash").alias(lh[f]) for f in EMBED_FIELDS],
    )
    hr = wide.select(
        F.col("record_id").alias("id2"),
        *[F.col(f"{f}_hash").alias(rh[f]) for f in EMBED_FIELDS],
    )
    ph = cand.join(hl, on="id1").join(hr, on="id2")
    # all five fields' distinct hash pairs in one unpivot + one shuffle;
    # the per-field branches below re-read that shuffle (exchange reuse)
    structs = [
        F.struct(
            F.lit(f).alias("fld"),
            F.col(lh[f]).alias("hl"),
            F.col(rh[f]).alias("hr"),
        )
        for f in EMBED_FIELDS
    ]
    dist = (
        ph.select(F.explode(F.array(*structs)).alias("x"))
        .select("x.fld", "x.hl", "x.hr")
        .filter(F.col("hl").isNotNull() & F.col("hr").isNotNull())
        .distinct()
    )
    df = p
    for f in EMBED_FIELDS:
        # hash -> vector dictionary: one row per distinct string of f
        hv = (
            wide.select(F.col(f"{f}_hash").alias("_h"), F.col(f"{f}_vec").alias("_v"))
            .filter(F.col("_h").isNotNull())
            .dropDuplicates(["_h"])
        )
        ctab = (
            dist.filter(F.col("fld") == f)
            .select(F.col("hl").alias(lh[f]), F.col("hr").alias(rh[f]))
            .join(hv.select(F.col("_h").alias(lh[f]), F.col("_v").alias("_lv")), on=lh[f])
            .join(hv.select(F.col("_h").alias(rh[f]), F.col("_v").alias("_rv")), on=rh[f])
            .select(
                lh[f],
                rh[f],
                F.coalesce(S.cosine_udf(F.col("_lv"), F.col("_rv")), F.lit(0.0)).alias(
                    f"{f}_cosine"
                ),
            )
        )
        df = df.join(ctab, on=[lh[f], rh[f]], how="left")
        # left-join miss = NULL hash on either side = missing field
        # string -> cosine 0.0 (the reference's missing-vector contract)
        df = df.withColumn(f"{f}_cosine", F.coalesce(F.col(f"{f}_cosine"), F.lit(0.0)))
    return df.drop(*lh.values(), *rh.values())
