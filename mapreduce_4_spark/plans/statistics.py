"""Statistical aggregates with exact arithmetic.

Built-in variance/stddev use streaming (Welford-style) accumulation in
both engines — order-dependent in the last bits, so NOT oracle-safe.
Instead the moments are assembled from exact decimal sums:
var = (n*sum_sq - sum^2) / (n*(n-1)), evaluated in double from
bit-identical inputs on both sides. Same scale behavior as the built-in
(two exact partial aggregates + merge), deterministic everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.money import cents, dsum_longs, unscale
from mapreduce_4_spark.registry import register
from mapreduce_4_spark.sources import load_table


@register(
    "variance_order_prices",
    oracle="""
        WITH s AS (
            SELECT o_orderstatus,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                            * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
            FROM orders GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, n,
               (n * s2 - s1 * s1) / (CAST(n AS DOUBLE) * (n - 1)) AS var_samp,
               sqrt((n * s2 - s1 * s1) / (CAST(n AS DOUBLE) * (n - 1))) AS stddev_samp,
               s1 / n AS mean_price
        FROM s
    """,
    tags=("aggregate", "statistics"),
    description="sample variance/stddev/mean from exact decimal moments "
                "(deterministic, unlike Welford-accumulated built-ins)",
)
def variance_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # long-cents moments (round-14): p is an exact 2-dp rational, so
    # p*p is an exact 1e4-scaled long product per row (~4e14 << 2^63);
    # the sums are exact (long / DECIMAL(38,0)) and each cast to double
    # is the identical correctly-rounded value the decimal path gave.
    p = cents("o_totalprice")
    agg = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        unscale(F.sum(p), 2).alias("s1"),
        dsum_longs(p * p, 4).alias("s2"),
    )
    n = F.col("n")
    var = (n * F.col("s2") - F.col("s1") * F.col("s1")) / (
        n.cast("double") * (n - F.lit(1))
    )
    return agg.select(
        "o_orderstatus",
        "n",
        var.alias("var_samp"),
        F.sqrt(var).alias("stddev_samp"),
        (F.col("s1") / n).alias("mean_price"),
    )


@register(
    "correlation_qty_price",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                            * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
        FROM s
    """,
    tags=("aggregate", "statistics"),
    description="Pearson correlation from exact decimal moments "
                "(deterministic, unlike the streaming corr() built-in)",
)
def correlation_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # long-cents moments — same exactness argument as
    # variance_order_prices above (round-14; per-row product bound
    # qty_cents ~5e3 x price_cents ~1e7 = 5e10 << 2^63)
    x, y = cents("l_quantity"), cents("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        unscale(F.sum(x), 2).alias("sx"),
        unscale(F.sum(y), 2).alias("sy"),
        dsum_longs(x * x, 4).alias("sxx"),
        dsum_longs(y * y, 4).alias("syy"),
        dsum_longs(x * y, 4).alias("sxy"),
    )
    n = F.col("n")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("l_returnflag", "n", corr.alias("corr_qty_price"))


@register(
    "histogram_event_values",
    oracle="""
        SELECT event_type,
               CAST(floor(value / 50.0) AS BIGINT) AS bucket,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type, bucket
    """,
    tags=("aggregate", "statistics"),
    description="fixed-width value histogram per event type (the "
                "distribution-profile one-pass at any scale)",
)
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / 50.0).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: quantiles checked and the folded rank slack. percentile_approx with
#: accuracy 10_000 guarantees rank error <= n/10_000; the check allows
#: +-2% of n — ~130x that guarantee — so only a broken sketch (not a
#: version-to-version wobble) can flip a flag. Same fold-the-check
#: pattern as approx_distinct_users: the oracle expects literal TRUE.
_SKETCH_QS = (0.25, 0.5, 0.75, 0.99)
_SKETCH_SLACK = 0.02


@register(
    "percentile_sketch_prices",
    oracle="""
        SELECT o_orderstatus,
               TRUE AS ok_p25, TRUE AS ok_p50,
               TRUE AS ok_p75, TRUE AS ok_p99
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("aggregate", "statistics", "approx"),
    description="approx percentiles (p25/p50/p75/p99) of order prices per "
                "status — the quantile-sketch path for 100 TB "
                "distributions. Oracled by folding the guarantee: each "
                "sketch value must lie between the EXACT order statistics "
                "at ranks (q-2%)n and (q+2%)n (rank-window check, ~130x "
                "the sketch's n/10000 error bound), so the oracle row is "
                "literal TRUE per quantile. Bounds/monotonicity also "
                "property-tested in tests/test_advanced_rel.py.",
)
def percentile_sketch_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice", "o_orderkey"
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderstatus")
    ranked = o.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    # exact order statistics at the slack-widened ranks: value_at(rank k)
    # = MAX(price WHERE rn = k) because rn is dense within the group
    def at_rank(rank_expr):
        return F.max(F.when(F.col("rn") == rank_expr, F.col("o_totalprice")))

    aggs = [
        F.percentile_approx("o_totalprice", list(_SKETCH_QS), 10_000).alias("p")
    ]
    for q in _SKETCH_QS:
        lo = F.greatest(
            F.lit(1),
            F.floor(F.col("n") * F.lit(q - _SKETCH_SLACK)).cast("long"),
        )
        hi = F.least(
            F.col("n"),
            F.ceil(F.col("n") * F.lit(q + _SKETCH_SLACK)).cast("long"),
        )
        tag = str(int(q * 100))
        aggs.append(at_rank(lo).alias(f"lo_{tag}"))
        aggs.append(at_rank(hi).alias(f"hi_{tag}"))

    g = ranked.groupBy("o_orderstatus").agg(*aggs)
    checks = [
        (
            (F.col("p")[i] >= F.col(f"lo_{str(int(q * 100))}"))
            & (F.col("p")[i] <= F.col(f"hi_{str(int(q * 100))}"))
        ).alias(f"ok_p{str(int(q * 100))}")
        for i, q in enumerate(_SKETCH_QS)
    ]
    return g.select("o_orderstatus", *checks)


@register(
    "array_higher_order_fns",
    oracle="""
        SELECT vec_id,
               len(list_filter(embedding, x -> x > 0)) AS n_positive,
               len(list_filter(embedding, x -> abs(x) > 0.2)) AS n_large,
               (len(list_filter(embedding, x -> x > -1)) = len(embedding)) AS all_above_neg1,
               (len(list_filter(embedding, x -> x > 0.5)) > 0) AS any_above_half,
               array_to_string(list_sort([round(CAST(x AS DECIMAL(9,4)), 2) for x in embedding[1:3]]), '|') AS head_rounded
        FROM embeddings
    """,
    tags=("array", "higher-order"),
    description="higher-order array functions: filter/forall/exists/"
                "transform/slice/sort over embeddings",
)
def array_higher_order_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.size(F.filter(e, lambda x: F.abs(x) > 0.2)).cast("long").alias("n_large"),
        F.forall(e, lambda x: x > -1).alias("all_above_neg1"),
        F.exists(e, lambda x: x > 0.5).alias("any_above_half"),
        F.concat_ws(
            "|",
            F.transform(
                F.sort_array(
                    F.transform(
                        F.slice(e, 1, 3),
                        lambda x: F.round(x.cast("decimal(9,4)"), 2)
                        .cast("decimal(9,2)"),
                    )
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("head_rounded"),
    )


_SKEW_COLS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
]


def _skew_arm_sql(table: str, col: str) -> str:
    return f"""
        SELECT '{table}.{col}' AS key_col,
               CAST(SUM(kn) AS BIGINT) AS n_rows,
               COUNT(*) AS n_keys,
               MAX(kn) AS max_key_rows,
               CAST(MAX(kn) AS DOUBLE) / SUM(kn) AS max_key_share
        FROM (SELECT {col}, COUNT(*) AS kn FROM {table} GROUP BY {col})
    """


@register(
    "join_key_skew_report",
    oracle=" UNION ALL ".join(_skew_arm_sql(t, c) for t, c in _SKEW_COLS),
    tags=("statistics", "diagnostics"),
    description="join-key skew report: rows, distinct keys, hottest-key "
                "row count and share for each fact join column — the "
                "number an operator reads BEFORE choosing plain vs "
                "salted vs broadcast join at scale (BASELINE.md's "
                "ab_skewamp readings quantify what happens when this is "
                "ignored)",
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One partial-aggregated groupBy per key column (map-side combine,
    a shuffle of distinct keys only) then a one-row rollup per column —
    cost O(distinct keys), never a sort, never a collect beyond the
    4-row report itself."""
    out = None
    for table, col in _SKEW_COLS:
        per_key = (
            load_table(spark, sf_dir, table)
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("kn"))
        )
        arm = per_key.agg(
            F.lit(f"{table}.{col}").alias("key_col"),
            F.sum("kn").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("kn").alias("max_key_rows"),
            (F.max("kn").cast("double") / F.sum("kn")).alias("max_key_share"),
        ).select("key_col", "n_rows", "n_keys", "max_key_rows", "max_key_share")
        out = arm if out is None else out.unionByName(arm)
    return out


@register(
    "event_value_outliers",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
            FROM events GROUP BY event_type
        ),
        m AS (
            SELECT event_type, n, s1 / n AS mean_value,
                   sqrt((n * s2 - s1 * s1)
                        / (CAST(n AS DOUBLE) * (n - 1))) AS stddev_value
            FROM s
        )
        SELECT m.event_type, m.n, m.mean_value, m.stddev_value,
               CAST(SUM(CASE WHEN abs(e.value - m.mean_value)
                                  > 3.0 * m.stddev_value
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(SUM(CASE WHEN abs(e.value - m.mean_value)
                                  > 3.0 * m.stddev_value
                             THEN 1 ELSE 0 END) AS DOUBLE) / m.n
                   AS outlier_fraction
        FROM events e JOIN m USING (event_type)
        GROUP BY m.event_type, m.n, m.mean_value, m.stddev_value
    """,
    tags=("aggregate", "statistics"),
    description="3-sigma outlier counts per event type: mean/stddev from "
                "exact decimal moments (deterministic), broadcast back "
                "onto the event stream for a per-row |v-mean| > 3*sigma "
                "test — the telemetry anomaly monitor as two linear "
                "passes, never a sort",
)
def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two passes at any scale: a per-type moments aggregate (map-side
    combined, handful of rows out) broadcast back onto the events scan
    for the conditional count. The mean/stddev doubles are assembled
    identically on both engines from exact decimal sums, so the per-row
    3-sigma comparison is deterministic — no Welford drift, no sampled
    thresholds."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # long-cents moments — same exactness argument as the two queries
    # above (round-14; value cents ~1e4/row, squares ~1e8 << 2^63)
    v = cents("value")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        unscale(F.sum(v), 2).alias("s1"),
        dsum_longs(v * v, 4).alias("s2"),
    )
    n = F.col("n")
    m = s.select(
        "event_type",
        "n",
        (F.col("s1") / n).alias("mean_value"),
        F.sqrt(
            (n * F.col("s2") - F.col("s1") * F.col("s1"))
            / (n.cast("double") * (n - F.lit(1)))
        ).alias("stddev_value"),
    )
    is_out = F.when(
        F.abs(F.col("value") - F.col("mean_value"))
        > 3.0 * F.col("stddev_value"),
        1,
    ).otherwise(0)
    return (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n", "mean_value", "stddev_value")
        .agg(F.sum(is_out).alias("n_outliers"))
        .select(
            "event_type",
            "n",
            "mean_value",
            "stddev_value",
            "n_outliers",
            (F.col("n_outliers").cast("double") / F.col("n")).alias(
                "outlier_fraction"
            ),
        )
    )
