"""Physical-layout operators: bucketing for shuffle-free joins and key
salting for skew — the two levers that decide whether a 100 TB join is a
co-located merge or a cluster-wide reshuffle (SURVEY.md §2.2 joins row;
task spec: "repartition/bucketing for co-located joins, salting for
skew").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 8) -> None:
    """Persist as a bucketed+sorted managed table. Two tables bucketed
    the same way join with ZERO exchanges — at 100 TB this converts the
    recurring fact-fact join cost into a one-time layout cost."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def detect_hot_keys(df: DataFrame, key: str, hot_threshold: float = 0.05,
                    sample_fraction: float = 0.02) -> list:
    """Sample-estimate the join keys holding >= ``hot_threshold`` of the
    rows. Returns at most 1/hot_threshold keys, so the driver collect is
    bounded and tiny (this is the one deliberate driver action of the
    adaptive salting path — a sample pass over ``sample_fraction`` of
    the data, the same move AQE's runtime statistics make internally).
    """
    if not 0 < hot_threshold <= 1:
        raise ValueError(f"hot_threshold must be in (0, 1], got {hot_threshold}")
    sampled = df.select(key).sample(fraction=sample_fraction, seed=42)
    counts = sampled.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
    total = counts.select(F.sum("_n").alias("_t"))
    hot = (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("_n") >= F.col("_t") * hot_threshold)
        .filter(F.col(key).isNotNull())
        .select(key)
        .limit(int(1 / hot_threshold) + 1)
    )
    return [r[0] for r in hot.collect()]


def salted_join(left: DataFrame, right: DataFrame, key: str,
                n_salts: int = 8, how: str = "inner",
                auto: bool = False, hot_threshold: float = 0.05,
                sample_fraction: float = 0.02,
                hot_keys: list | None = None) -> DataFrame:
    """Skew-resistant equi-join.

    A hot key floods one reducer in a plain hash join. Salting splits
    each left key into ``n_salts`` deterministic sub-keys (hash of the
    whole row, not rand() — retries must be idempotent) and replicates
    the right side once per salt, so the hot key's rows spread over
    ``n_salts`` tasks. Net cost: right side x n_salts — the standard
    trade when AQE's skew handling isn't available or the skew is in a
    single key within one partition.

    Column sets must be disjoint apart from ``key``.

    Only inner/left/left_semi joins are supported: the right side is
    replicated once per salt, so an unmatched RIGHT row would surface
    ``n_salts`` times under right/full-outer semantics. Those shapes
    need a different skew strategy (AQE skew join or two-phase union).

    ``auto=True`` is the adaptive variant: sample-detect the keys
    holding >= ``hot_threshold`` of the left rows and salt ONLY those,
    joining the rest plain — so the right-side replication cost is paid
    for the handful of hot keys instead of the whole table, and a
    skew-free input degenerates to the plain join. This covers the
    regime AQE's skew splitting can't (a hot key inside one partition
    of a non-splittable plan); when AQE can split, the cost of auto is
    just the bounded sampling pass.

    ``hot_keys=[...]`` is the same split with caller-supplied hot keys
    (from table statistics or a prior profiling run) — no sampling pass
    at all. This is the production shape: hot keys in real corpora
    (null-ish sentinels, default ids, empty strings) are stable across
    runs and known ahead of time.

    AQE interaction, load-bearing at scale: BOTH of AQE's runtime
    rewrites reason on shuffle INPUT bytes and are blind to join OUTPUT
    amplification. Skew-join splitting won't split a hot partition
    whose input is small but whose join output explodes (a hot key
    matching many right rows), and partition COALESCING will actively
    merge the salt buckets back into one task for the same reason —
    defeating the salt. When salting for an amplified join, disable
    ``spark.sql.adaptive.coalescePartitions.enabled`` for the job (or
    set ``minPartitionSize`` below the per-salt input size). Measured
    (``ab_skewamp_*`` in BASELINE.md): with coalescing left on, the
    salted join collapses back to the plain join's serial hot task.
    """
    if how not in ("inner", "left", "left_outer", "left_semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, got {how!r}: "
            "right-side replication would duplicate unmatched right rows"
        )
    if auto or hot_keys is not None:
        hot = (list(hot_keys) if hot_keys is not None
               else detect_hot_keys(left, key, hot_threshold, sample_fraction))
        if not hot:
            return left.join(right, key, how)
        is_hot = F.col(key).isin(hot)
        # NULL keys stay on the plain side (they never match, but left
        # joins must preserve them exactly once)
        cold_out = left.filter(is_hot.isNull() | ~is_hot).join(right, key, how)
        hot_out = salted_join(
            left.filter(is_hot),
            right.filter(F.col(key).isin(hot)),
            key, n_salts=n_salts, how=how,
        )
        return cold_out.unionByName(hot_out)
    salt = F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in left.columns])),
                  F.lit(n_salts))
    l_salted = left.withColumn("_salt", salt)
    r_salted = right.join(
        right.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt")),
        how="cross",
    )
    out = l_salted.join(r_salted, [key, "_salt"], how)
    return out.drop("_salt")
