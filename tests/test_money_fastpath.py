"""Round-14 optimization equivalence pins.

The long-cents money fast path (functions/money.py) and the zip_with
n-gram/translate tokenizer rewrites (functions/text.py) claim BIT
IDENTICAL outputs to the decimal/regex forms they replaced. These tests
pin that claim structurally — per fixture column and on adversarial
synthetic rows — so a future edit that breaks the exactness contract
fails here, not in a driver hash mismatch.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mapreduce_4_spark.functions.money import (
    cents, csum, dec, dsum_longs, unscale,
)
from mapreduce_4_spark.functions.text import CLEAN_CHARS, CLEAN_CLASS, ngrams_join
from mapreduce_4_spark.sources import load_table

SF = "/root/testdata/sf0.01"

#: every 2-dp measure column the fast path touches, with its table
MEASURES = [
    ("lineitem", "l_quantity"),
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_discount"),
    ("lineitem", "l_tax"),
    ("orders", "o_totalprice"),
    ("customer", "c_acctbal"),
    ("events", "value"),
    # derived (plans/tpch_partsupp.derived_partsupp); 2-dp provenance
    # proved in OPTIMIZATION_r15.md §8
    ("partsupp", "ps_supplycost"),
]


@pytest.mark.parametrize("table,col", MEASURES)
def test_cents_equals_decimal_unscaled(spark, table, col):
    """cents(x) must equal the unscaled value DECIMAL(18,2) stores, for
    every row of every 2-dp fixture measure — the premise of the whole
    fast path (functions/money.py step 1)."""
    if table == "partsupp":
        from mapreduce_4_spark.plans.tpch_partsupp import derived_partsupp

        df = derived_partsupp(spark, SF, cached=False)
    else:
        df = load_table(spark, SF, table)
    df = df.select(F.col(col).alias("x"))
    # dec(x) * 100 is an exact integer-valued decimal; compare as long
    bad = df.filter(
        (dec("x") * 100).cast("long") != cents("x")
    ).count()
    assert bad == 0


def test_csum_equals_dsum_per_group(spark):
    li = load_table(spark, SF, "lineitem")
    old = li.groupBy("l_returnflag").agg(
        F.sum(dec("l_quantity")).cast("double").alias("s")).collect()
    new = li.groupBy("l_returnflag").agg(csum("l_quantity").alias("s")).collect()
    assert {r["l_returnflag"]: r["s"] for r in old} == \
           {r["l_returnflag"]: r["s"] for r in new}


def test_product_sum_equals_decimal_product_sum(spark):
    """SUM(p*(1-d)) and SUM(p*(1-d)*(1+t)): decimal path vs long-cents
    products summed in DECIMAL(38,0) — bit-identical doubles."""
    li = load_table(spark, SF, "lineitem")
    dp_dec = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    ch_dec = dp_dec * (F.lit(1) + dec("l_tax"))
    p, d, t = cents("l_extendedprice"), cents("l_discount"), cents("l_tax")
    dp_c = p * (F.lit(100) - d)
    ch_c = dp_c * (F.lit(100) + t)
    old = li.groupBy("l_linestatus").agg(
        F.sum(dp_dec).cast("double").alias("a"),
        F.sum(ch_dec).cast("double").alias("b")).collect()
    new = li.groupBy("l_linestatus").agg(
        dsum_longs(dp_c, 4).alias("a"),
        dsum_longs(ch_c, 6).alias("b")).collect()
    assert {r["l_linestatus"]: (r["a"], r["b"]) for r in old} == \
           {r["l_linestatus"]: (r["a"], r["b"]) for r in new}


def test_unscale_is_exact_decimal_division(spark):
    """unscale must be a single correctly-rounded conversion: spot-check
    against Python's exact Fraction -> float on awkward sums."""
    from fractions import Fraction

    vals = [1, 7, 99, 10**15 + 1, 123456789012345678, -10**17 - 3]
    df = spark.createDataFrame([(v,) for v in vals], "s long")
    out = {r["s"]: (r["u2"], r["u6"]) for r in df.select(
        "s", unscale(F.col("s"), 2).alias("u2"),
        unscale(F.col("s"), 6).alias("u6")).collect()}
    for v in vals:
        assert out[v][0] == float(Fraction(v, 100))
        assert out[v][1] == float(Fraction(v, 10**6))


@pytest.mark.parametrize("n", [2, 3, 5])
def test_ngrams_join_equals_sequence_slice_form(spark, n):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    from mapreduce_4_spark.functions.text import words
    toks = docs.select("doc_id", words("text").alias("w"))
    old = F.when(
        F.size("w") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("w", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bad = toks.filter(ngrams_join(F.col("w"), n) != old).count()
    assert bad == 0


def test_translate_clean_equals_regexp_clean(spark):
    """translate(CLEAN_CHARS) == regexp_replace(CLEAN_CLASS) — on the
    fixture corpus AND on adversarial synthetic rows (every ASCII char,
    unicode neighbours of the stripped ranges, empties)."""
    docs = load_table(spark, SF, "documents").select("text")
    synth = spark.createDataFrame(
        [("".join(chr(c) for c in range(1, 128)),),
         ("", ), ("\n\t !~\x7f¡؟！ done",),
         ("café — naïve{x}",)],
        "text string")
    for df in (docs, synth):
        bad = df.filter(
            F.translate("text", CLEAN_CHARS, "")
            != F.regexp_replace("text", CLEAN_CLASS, "")
        ).count()
        assert bad == 0


# ---------------------------------------------------------------------
# Old-vs-new equality for every expression shape moved off the decimal
# accumulators: the pre-migration decimal form is written inline here,
# the new long-cents form is the one the queries use, and both must
# agree bit for bit (None included) on the fixtures.
# ---------------------------------------------------------------------


def _agg(df, keys, expr):
    rows = (df.groupBy(*keys) if keys else df).agg(expr.alias("v"))
    return {tuple(r[k] for k in keys): r["v"] for r in rows.collect()}


def _same(df, keys, old, new):
    got_old, got_new = _agg(df, keys, old), _agg(df, keys, new)
    assert got_old == got_new
    return got_new


def _old_sum(col, scale=2):
    return F.sum(dec(col, scale)).cast("double")


@pytest.mark.parametrize("keys", [[], ["o_orderstatus"],
                                  ["o_orderpriority"]])
def test_totalprice_sums_equal_decimal(spark, keys):
    """gdpr/retention/CoW/DV/pushdown/stream-write/CDC sums: csum and
    dsum_longs(cents(x), 2) both equal the decimal sum, grouped and
    ungrouped."""
    od = load_table(spark, SF, "orders")
    _same(od, keys, _old_sum("o_totalprice"), csum("o_totalprice"))
    _same(od, keys, _old_sum("o_totalprice"),
          dsum_longs(cents("o_totalprice"), 2))


def _lineitem_partsupp(spark):
    from mapreduce_4_spark.plans.tpch_partsupp import derived_partsupp

    li = load_table(spark, SF, "lineitem")
    ps = derived_partsupp(spark, SF, cached=False)
    return li.join(ps, (F.col("l_partkey") == F.col("ps_partkey"))
                   & (F.col("l_suppkey") == F.col("ps_suppkey")))


def test_q9_profit_equals_decimal(spark):
    p, d = F.col("l_extendedprice"), F.col("l_discount")
    sc, q = F.col("ps_supplycost"), F.col("l_quantity")
    old = F.sum(dec(p * (1 - d) - sc * q, 4)).cast("double")
    new = dsum_longs(
        cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
        - cents("ps_supplycost") * cents("l_quantity"), 4)
    got = _same(_lineitem_partsupp(spark), ["l_returnflag", "l_linestatus"],
                old, new)
    assert len(got) > 1


def test_q11_value_and_threshold_equal_decimal(spark):
    """Per-part value, the 0.001 threshold and the parts it keeps."""
    from mapreduce_4_spark.plans.tpch_partsupp import derived_partsupp

    ps = derived_partsupp(spark, SF, cached=False).filter(
        F.col("ps_suppkey") % 7 == 0)
    old_v = _old_sum(F.col("ps_supplycost") * F.col("ps_availqty"))
    new_v = dsum_longs(cents("ps_supplycost") * F.col("ps_availqty"), 2)
    by_part = _same(ps, ["ps_partkey"], old_v, new_v)
    total = _same(ps, [], old_v * 0.001, new_v * 0.001)[()]
    kept = {k for k, v in by_part.items() if v > total}
    assert 0 < len(kept) < len(by_part)


def test_q8_share_ratio_equals_decimal(spark):
    li = load_table(spark, SF, "lineitem")
    mine = F.col("l_suppkey") % 7 == 0
    vol_dec = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    old = (F.sum(F.when(mine, vol_dec)
                 .otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
           / F.sum(vol_dec).cast("double"))
    vol = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    new = (dsum_longs(F.when(mine, vol).otherwise(F.lit(0).cast("long")), 4)
           / dsum_longs(vol, 4))
    got = _same(li, ["l_returnflag"], old, new)
    assert all(0 < v < 1 for v in got.values())


def test_locf_sum_with_nulls_equals_decimal(spark):
    """events_resample_hourly's sum over a LOCF column: nulls skipped,
    an all-null group stays NULL."""
    ev = load_table(spark, SF, "events").select(
        (F.col("user_id") % 50).alias("g"),
        F.when((F.col("event_id") % 4 == 0) | (F.col("user_id") % 50 == 7),
               F.lit(None).cast("double"))
        .otherwise(F.col("value")).alias("locf"))
    got = _same(ev, ["g"], _old_sum("locf"), csum("locf"))
    assert got[(7,)] is None and len(got) == 50


def test_cdc_old_new_sums_with_nulls_equal_decimal(spark):
    """CDC feeds carry NULL old_ (inserts) and new_ (deletes) images;
    updates double the price or add 1000 to it."""
    od = load_table(spark, SF, "orders")
    k, price = F.col("o_orderkey"), F.col("o_totalprice")
    feed = od.select(
        (k % 3).alias("op"),
        F.when(k % 3 == 0, F.lit(None).cast("double"))
        .otherwise(price).alias("old_o_totalprice"),
        F.when(k % 3 == 1, F.lit(None).cast("double"))
        .when(k % 2 == 0, price * 2).otherwise(price + 1000)
        .alias("new_o_totalprice"))
    for col in ("old_o_totalprice", "new_o_totalprice"):
        got = _same(feed, ["op"], _old_sum(col),
                    dsum_longs(cents(col), 2))
        assert sum(v is None for v in got.values()) == 1


def test_mv_partials_and_retractions_equal_decimal(spark):
    """incremental_mv_cdc_orders: frozen partials merged with retraction
    (-old) and insertion (+new) rows, rescaled once at the end."""
    od = load_table(spark, SF, "orders")
    k, price = F.col("o_orderkey"), F.col("o_totalprice")
    base = od.filter(k % 2 == 0)
    changes = od.filter(k % 5 == 0).select(
        "o_orderstatus", price.alias("old_p"),
        (price + 1000).alias("new_p"))

    def refreshed(measure, merged):
        mv0 = base.groupBy("o_orderstatus").agg(
            F.sum(measure(price)).alias("rev"))
        delta = changes.select(
            "o_orderstatus", (-measure(F.col("old_p"))).alias("rev")
        ).unionByName(changes.select(
            "o_orderstatus", measure(F.col("new_p")).alias("rev")))
        rows = (mv0.unionByName(delta).groupBy("o_orderstatus")
                .agg(merged(F.sum("rev")).alias("v")).collect())
        return {r["o_orderstatus"]: r["v"] for r in rows}

    old = refreshed(dec, lambda c: c.cast("double"))
    new = refreshed(cents, lambda c: unscale(c, 2))
    assert old == new and len(new) == 3
