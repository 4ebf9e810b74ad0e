"""Query registry backing ``__spark_entry__.py``.

Each entry pairs a Spark DataFrame implementation (spark, sf_dir) -> DF with
an exactly-equivalent DuckDB SQL oracle over the same parquet files.  Column
names and float rounding match on both sides so the driver's
order-insensitive value-hash comparison is byte-stable.

The audio-clip queries run over this repo's deterministic synthetic corpus
(``codeclone_spark.synth``), generated on demand under /root/repo/testclips;
their oracles read the same parquet via absolute paths.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from codeclone_spark.operators import dedup as dd
from codeclone_spark.operators import similarity as sim
from codeclone_spark.operators import text as tx
from codeclone_spark.operators.rules import DUR_BIN_EDGES
from codeclone_spark.schema import local_frame

CLIPS_BASE = "/root/repo/testclips"
SF_PROFILE = {"0.001": "tiny", "0.01": "small", "0.1": "bench"}


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None -> rows-only check (non-SQL-expressible)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _par(df: DataFrame) -> DataFrame:
    """Scale-adaptive map parallelism for CPU-heavy pipelines over small
    inputs.  Byte-based input splitting (maxPartitionBytes / openCost)
    sizes scan tasks for I/O, not per-row CPU: a single few-MB parquet
    file (50k docs at sf1.0) yields 1-2 scan tasks, and every downstream
    map-heavy stage (shingle explode + md5 folds, image synth/decode,
    per-row dot products) inherits that width — measured 24.2 s -> 1.9 s
    for the sf1.0 MinHash fold on local[32] (guide §2.5 input skew:
    repartition right after the read).  Round-robin repartition to 2x
    default parallelism; a no-op whenever the scan already arrives at
    least that wide (any real-scale input), so nothing here is tuned to
    the local core count — the target follows the cluster's size."""
    target = 2 * df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table with map parallelism ensured (see _par): every
    consumer fans each row out ~300x (char shingles / tokens) or runs
    per-row Python (image synth), so scan width is the whole ballgame."""
    return _par(_t(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings table with map parallelism ensured (see _par): dot
    products over 64-dim arrays are pure per-row CPU."""
    return _par(_t(spark, sf_dir, "embeddings"))


def _profile_for(sf_dir: str) -> str:
    tail = os.path.basename(sf_dir.rstrip("/"))
    sf = tail[2:] if tail.startswith("sf") else "0.01"
    return SF_PROFILE.get(sf, "small")


def clips_dir_for(sf_dir: str) -> str:
    from codeclone_spark.synth import ensure_profile

    return ensure_profile(CLIPS_BASE, _profile_for(sf_dir))


def _clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{clips_dir_for(sf_dir)}/clips")


def _fixtures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{clips_dir_for(sf_dir)}/fixtures_ref.parquet")


# DuckDB-side paths for the sf0.01 correctness run (the driver's fixed SF).
_CLIPS_SQL = f"read_parquet('{CLIPS_BASE}/small/clips/*/*.parquet', hive_partitioning=true)"
_FIXTURES_SQL = f"read_parquet('{CLIPS_BASE}/small/fixtures_ref.parquet')"


# ===================================================== relational / TPC-H --
def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_nation_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Adapted TPC-H Q5: revenue per nation where customer and supplier
    share a nation; dims broadcast, fact joins shuffle on keys."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q6_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def top_customers(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select("c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_name"))
        .limit(10)
    )


TOP_CUSTOMERS_SQL = """
SELECT c_name, round(sum(o_totalprice), 2) AS total_spend, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_name
ORDER BY total_spend DESC, c_name
LIMIT 10
"""


def nation_topk_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Window top-k per group (priority-top-k analog of the reference's
    per-rule exemplar caps, report/suggestions.py)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_name"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_name", F.round("c_acctbal", 2).alias("acctbal"), "rk")
        .orderBy("n_name", "rk")
    )


NATION_TOPK_SQL = """
SELECT n_name, c_name, round(c_acctbal, 2) AS acctbal, rk FROM (
  SELECT n_name, c_name, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_name) AS rk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rk <= 3 ORDER BY n_name, rk
"""


def _bucket_expr(col: F.Column, lo: float, hi: float, n: int) -> F.Column:
    """width_bucket semantics spelled out (bucket 0 below lo, n+1 at/above
    hi) — identical arithmetic on the DuckDB side, which lacks the builtin."""
    v = col.cast("double")
    return (
        F.when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(n + 1))
        .otherwise(F.floor((v - lo) / ((hi - lo) / n)) + 1)
        .cast("long")
    )


def _bucket_sql(col: str, lo: float, hi: float, n: int) -> str:
    step = (hi - lo) / n
    return (
        f"CASE WHEN {col} < {lo} THEN 0 WHEN {col} >= {hi} THEN {n + 1} "
        f"ELSE floor(({col} - {lo}) / {step})::BIGINT + 1 END"
    )


def orders_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-bin histogram (drift-histogram builder)."""
    o = _t(spark, sf, "orders")
    return (
        o.select(_bucket_expr(F.col("o_totalprice"), 0.0, 400000.0, 20).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


ORDERS_HIST_SQL = f"""
SELECT {_bucket_sql('o_totalprice', 0.0, 400000.0, 20)} AS bin, count(*) AS n
FROM orders GROUP BY bin ORDER BY bin
"""


def events_hourly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming rollup)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("hour", "event_type")
    )


EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
       count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


def events_null_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Null-rate / completeness rule (permille arithmetic like the
    reference's coverage_adoption family, registry.py:590-645).

    The rate is emitted as an exact integer ppm (floor of nulls*1e6/rows on
    BIGINT arithmetic) — no float ever touches the contract, so the driver's
    cross-engine value hash can't diverge on float canonicalization."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("props").isNull().cast("long")).alias("null_props"),
        )
        .withColumn("null_ppm", F.expr("(null_props * 1000000L) div rows"))
        .orderBy("event_type")
    )


EVENTS_NULL_SQL = """
SELECT event_type, count(*) AS rows,
       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
       CAST((sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS null_ppm
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-drift PSI between early and late halves of the events
    stream — the same aligned-histogram PSI the engine runs against its
    baseline snapshot, here fully SQL-expressible for the oracle."""
    e = _t(spark, sf, "events")
    half = F.when(F.col("ts") < "2024-01-16", "a").otherwise("b")
    binned = e.select(
        half.alias("half"),
        _bucket_expr(F.col("value"), 0.0, 1000.0, 10).alias("bin"),
    )
    counts = binned.groupBy("half", "bin").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("half").agg(F.sum("n").alias("tot"))
    p = (
        counts.join(tot, "half")
        .select("half", "bin", (F.col("n") / F.col("tot")).alias("p"))
    )
    a = p.filter(F.col("half") == "a").select("bin", F.col("p").alias("pa"))
    b = p.filter(F.col("half") == "b").select("bin", F.col("p").alias("pb"))
    j = a.join(b, "bin", "full").fillna(0.0).select(
        F.greatest("pa", F.lit(1e-6)).alias("pa"),
        F.greatest("pb", F.lit(1e-6)).alias("pb"),
    )
    return j.agg(
        F.round(F.sum((F.col("pb") - F.col("pa")) * F.log(F.col("pb") / F.col("pa"))), 6).alias(
            "psi"
        )
    )


EVENTS_PSI_SQL = f"""
WITH binned AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END AS half,
         {_bucket_sql('value', 0.0, 1000.0, 10)} AS bin
  FROM events
), counts AS (
  SELECT half, bin, count(*) AS n FROM binned GROUP BY half, bin
), p AS (
  SELECT half, bin, n * 1.0 / sum(n) OVER (PARTITION BY half) AS p FROM counts
), j AS (
  SELECT greatest(coalesce(a.p, 0), 1e-6) AS pa, greatest(coalesce(b.p, 0), 1e-6) AS pb
  FROM (SELECT bin, p FROM p WHERE half = 'a') a
  FULL OUTER JOIN (SELECT bin, p FROM p WHERE half = 'b') b USING (bin)
)
SELECT round(sum((pb - pa) * ln(pb / pa)), 6) AS psi FROM j
"""


def customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Referential check as an anti-join (reference find_unused dead-code
    anti-join, metrics/dead_code.py:35-79)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


CUST_NO_ORDERS_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
ORDER BY c_custkey
"""


def dup_groups_custkey(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dup-group aggregation shape (groupBy key HAVING count>1)."""
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .orderBy(F.desc("n"), F.asc("o_custkey"))
        .limit(100)
    )


DUP_CUSTKEY_SQL = """
SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) > 1
ORDER BY n DESC, o_custkey LIMIT 100
"""


def quantiles_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (approx_percentile is the scale path;
    exact keeps the oracle comparable)."""
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


QUANTILES_SQL = """
SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem
"""


def stats_summary_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.round(F.min("l_quantity"), 2).alias("min_qty"),
            F.round(F.max("l_quantity"), 2).alias("max_qty"),
            F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


STATS_SUMMARY_SQL = """
SELECT l_returnflag, count(*) AS rows,
       round(min(l_quantity), 2) AS min_qty, round(max(l_quantity), 2) AS max_qty,
       round(avg(l_quantity), 4) AS mean_qty,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def rollup_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-granularity stats via ROLLUP (orderstatus, orderpriority)."""
    o = _t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


ROLLUP_SQL = """
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


def setops_active_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Set algebra (the reference's known/new novelty split uses the same
    semi/anti machinery): customers with orders in BOTH halves of the
    window (intersect) minus a high-value set (except)."""
    o = _t(spark, sf, "orders")
    early = o.filter(F.col("o_orderdate") < "1998-01-01").select("o_custkey")
    late = o.filter(F.col("o_orderdate") >= "1998-01-01").select("o_custkey")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    # intersect/subtract carry SQL set-distinct semantics, matching the oracle
    return early.intersect(late).subtract(big).orderBy("o_custkey")


SETOPS_SQL = """
SELECT o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
)
EXCEPT
SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000
ORDER BY o_custkey
"""


def distinct_users_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe exact NDV per key (two-stage distinct -> count)."""
    from codeclone_spark.operators.skew import skew_safe_count_distinct

    e = _t(spark, sf, "events")
    return skew_safe_count_distinct(e, "event_type", "user_id").orderBy("event_type")


DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS ndv
FROM events GROUP BY event_type ORDER BY event_type
"""


def salted_codec_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Stats on the intentionally-skewed codec column via the salted
    two-stage aggregation operator (75% of rows share one codec)."""
    from codeclone_spark.operators.skew import salted_group_stats

    c = _clips(spark, sf)
    out = salted_group_stats(
        c,
        keys=["codec"],
        aggs={
            "rows": ("count", "clip_id"),
            "dur_min": ("min", "dur_ms"),
            "dur_max": ("max", "dur_ms"),
            "dur_mean": ("avg", "dur_ms"),
        },
    )
    return out.select(
        "codec", "rows", "dur_min", "dur_max", F.round("dur_mean", 4).alias("dur_mean")
    ).orderBy("codec")


SALTED_CODEC_SQL = f"""
SELECT codec, count(*) AS rows, min(dur_ms) AS dur_min, max(dur_ms) AS dur_max,
       round(avg(dur_ms), 4) AS dur_mean
FROM {_CLIPS_SQL} GROUP BY codec ORDER BY codec
"""


# ================================================================= text ----
_SW = "', '".join(tx.EN_STOPWORDS)


def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


TOKEN_STATS_SQL = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
       length(text) AS n_chars
FROM documents ORDER BY doc_id
"""


def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        tx.punct_ratio(F.col("text")).alias("punct_ratio"),
        tx.stopword_ratio(F.col("text")).alias("stopword_ratio"),
        tx.quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


TEXT_QUALITY_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS toks,
         CASE WHEN length(trim(lower(text))) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS ltoks
  FROM documents
), m AS (
  SELECT doc_id,
    round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0
          / greatest(length(text), 1), 6) AS punct_ratio,
    round(len(list_filter(ltoks, x -> x IN ('{_SW}'))) * 1.0
          / greatest(len(ltoks), 1), 6) AS stopword_ratio,
    len(toks) AS n_tok
  FROM t
)
SELECT doc_id, punct_ratio, stopword_ratio,
       round(0.4 * least(n_tok / 20.0, 1.0)
           + 0.3 * (1.0 - least(punct_ratio * 4.0, 1.0))
           + 0.3 * least(stopword_ratio * 5.0, 1.0), 7) AS quality
FROM m ORDER BY doc_id
"""


def text_langid_counts(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return (
        d.select(tx.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred")
    )


def _langid_sql() -> str:
    score_exprs = []
    for lang, sw in tx.LANG_STOPWORDS.items():
        inlist = "', '".join(sw)
        score_exprs.append(
            f"len(list_filter(ltoks, x -> x IN ('{inlist}'))) * 1.0"
            f" / greatest(len(ltoks), 1) AS s_{lang}"
        )
    langs = list(tx.LANG_STOPWORDS.keys())
    # strictly-greater fold, same tie-break order as the Spark impl
    pred = "'und'"
    best = "0.0"
    for lang in langs:
        pred = f"CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest(s_{lang}, {best})" if best != "0.0" else f"greatest(s_{lang}, 0.0)"
    return rf"""
WITH t AS (
  SELECT CASE WHEN length(trim(lower(text))) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS ltoks
  FROM documents
), s AS (
  SELECT {', '.join(score_exprs)} FROM t
)
SELECT {pred} AS lang_pred, count(*) AS n FROM s GROUP BY 1 ORDER BY lang_pred
"""


def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", tx.fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


FINGERPRINT_SQL = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents ORDER BY doc_id
"""


# ================================================================ dedup ----
_SHINGLE_SQL = r"""
  SELECT doc_id AS id, shingle FROM (
    SELECT doc_id, unnest(list_transform(
             range(1, greatest(length(text) - {km1}, 1) + 1),
             i -> substr(text, i, {k}))) AS shingle
    FROM documents
  ) WHERE length(shingle) = {k}
  GROUP BY doc_id, shingle
""".replace("{km1}", str(dd.SHINGLE_K - 1)).replace("{k}", str(dd.SHINGLE_K))

# MinHash universal-hash family (mirrors dd.minhash_signatures): one
# md5-derived 32-bit base hash + affine transforms with literal constants.
_MH_BASE_SQL = "(('0x' || substr(md5(shingle), 1, 8))::UBIGINT)::BIGINT"


def _mh_mins_sql() -> str:
    return ", ".join(
        f"min(({a} * {_MH_BASE_SQL} + {b}) % {dd.MH_PRIME})::BIGINT AS mh{i}"
        for i, (a, b) in enumerate(dd.mh_constants(dd.MINHASH_K))
    )


def dedup_exact_docs(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return dd.exact_dup_groups(d, "doc_id", "text").orderBy("content_hash")


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, count(*) AS n, min(doc_id) AS min_id
FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY content_hash
"""


def dedup_minhash_sigs(spark: SparkSession, sf: str) -> DataFrame:
    """Full MinHash signatures per doc — bit-for-bit oracle-checked."""
    d = _docs(spark, sf)
    sh = dd.char_shingles(d, "doc_id", "text")
    return dd.minhash_signatures(sh).orderBy("id")


def _minhash_sql() -> str:
    return (
        f"WITH sh AS ({_SHINGLE_SQL}) "
        f"SELECT id, {_mh_mins_sql()} FROM sh GROUP BY id ORDER BY id"
    )


_LSH_MAX_BUCKET = 40  # below the sf0.01 max bucket (60) so the oracle exercises the cap


def dedup_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return dd.lsh_candidate_pairs(
        d, "doc_id", "text", max_bucket=_LSH_MAX_BUCKET
    ).orderBy("id_a", "id_b")


def _lsh_cands_cte() -> str:
    """Shared CTE prefix ending in ``cands(id_a, id_b)`` — the banded,
    bucket-capped LSH candidate pairs (used by the candidate query itself
    and by the composed LSH→exact-verify oracle)."""
    mins = _mh_mins_sql()
    n_bands = dd.MINHASH_K // 2
    band_rows = ", ".join(
        f"({b}, mh{2*b}::VARCHAR || '|' || mh{2*b+1}::VARCHAR)" for b in range(n_bands)
    )
    return f"""
WITH sh AS ({_SHINGLE_SQL}),
sigs AS (SELECT id, {mins} FROM sh GROUP BY id),
banded AS (
  SELECT id, b.band, b.key FROM sigs,
  LATERAL (SELECT * FROM (VALUES {band_rows}) AS v(band, key)) b
),
kept AS (
  SELECT band, key FROM banded GROUP BY band, key
  HAVING count(*) <= {_LSH_MAX_BUCKET}
),
pruned AS (SELECT banded.* FROM banded JOIN kept USING (band, key)),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM pruned a JOIN pruned b ON a.band = b.band AND a.key = b.key AND a.id < b.id
)"""


def _lsh_sql() -> str:
    return _lsh_cands_cte() + "\nSELECT id_a, id_b FROM cands ORDER BY id_a, id_b"


def dedup_lsh_suppressed(spark: SparkSession, sf: str) -> DataFrame:
    """Buckets the LSH candidate join skipped (caps-as-backpressure
    reporting: suppressed counts are surfaced, never silently dropped)."""
    d = _docs(spark, sf)
    return dd.lsh_suppressed_buckets(
        d, "doc_id", "text", max_bucket=_LSH_MAX_BUCKET
    ).orderBy("band", "key")


def _lsh_suppressed_sql() -> str:
    mins = _mh_mins_sql()
    n_bands = dd.MINHASH_K // 2
    band_rows = ", ".join(
        f"({b}, mh{2*b}::VARCHAR || '|' || mh{2*b+1}::VARCHAR)" for b in range(n_bands)
    )
    return f"""
WITH sh AS ({_SHINGLE_SQL}),
sigs AS (SELECT id, {mins} FROM sh GROUP BY id),
banded AS (
  SELECT id, b.band, b.key FROM sigs,
  LATERAL (SELECT * FROM (VALUES {band_rows}) AS v(band, key)) b
)
SELECT band, key, count(*) AS n FROM banded GROUP BY band, key
HAVING count(*) > {_LSH_MAX_BUCKET}
ORDER BY band, key
"""


def dedup_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return dd.jaccard_pairs(d, "doc_id", "text", threshold=0.5).orderBy("id_a", "id_b")


def _jaccard_sql() -> str:
    return f"""
WITH sh AS ({_SHINGLE_SQL}),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
ORDER BY id_a, id_b
"""


def dedup_lsh_verified_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The composed dedup ladder (reference cheap→exact segment grouping,
    findings/clones/grouping.py:62-86): LSH-banded candidate pairs, then
    exact n-gram Jaccard computed ONLY over the candidate-confined shingle
    index — the 100 TB-safe form of dedup_jaccard_pairs."""
    d = _docs(spark, sf)
    return dd.lsh_verified_pairs(
        d, "doc_id", "text", max_bucket=_LSH_MAX_BUCKET, threshold=0.5,
        scratch_dir=_cc_scratch("verified"),
    ).orderBy("id_a", "id_b")


def _lsh_verified_cte() -> str:
    """CTE chain ending in ``verified(id_a, id_b, jaccard)`` — the
    candidate-confined exact-Jaccard survivors (shared by the verified-
    pairs oracle and the cluster oracle's recursive closure)."""
    return (
        _lsh_cands_cte()
        + """,
cids AS (SELECT id_a AS id FROM cands UNION SELECT id_b AS id FROM cands),
csh AS (SELECT sh.id, sh.shingle FROM sh JOIN cids USING (id)),
sizes AS (SELECT id, count(*) AS sz FROM csh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.id < b.id
  JOIN cands c ON c.id_a = a.id AND c.id_b = b.id
  GROUP BY a.id, b.id
),
verified AS (
  SELECT id_a, id_b,
         round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
)"""
    )


def _lsh_verified_sql() -> str:
    return (
        _lsh_verified_cte()
        + "\nSELECT id_a, id_b, jaccard FROM verified ORDER BY id_a, id_b"
    )


def _scratch_root() -> str:
    """Local scratch root for the registry queries that stage files: the
    RAM-backed /dev/shm when it exists (a default temp root on a single
    virtio disk is slow), else the system temp root.  On a real cluster
    this would be HDFS/S3 scratch."""
    import tempfile

    return "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def _cc_scratch(tag: str) -> str:
    """Scratch dir for the iterative-ladder registry queries.  The
    operators always materialize through scratch (candidates, CC rounds,
    labels).  One deterministic dir per (query, pid) under
    :func:`_scratch_root`: repeat calls in one session overwrite instead
    of leaking, separate sessions never collide."""
    path = os.path.join(_scratch_root(), f"ccspark_q_{tag}_{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    return path


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-dup CLUSTERS: connected components over the
    composed ladder's verified pairs (reference clone-group formation,
    findings/clones/grouping.py — pairwise matches fold into groups).
    Spark side: iterative min-label propagation (operators/graph.py);
    oracle side: DuckDB recursive-CTE closure — both must agree
    bit-for-bit on (doc_id, cluster_id)."""
    from codeclone_spark.operators.graph import connected_components

    d = _docs(spark, sf)
    edges = dd.lsh_verified_pairs(
        d, "doc_id", "text", max_bucket=_LSH_MAX_BUCKET, threshold=0.5,
        scratch_dir=_cc_scratch("clusters"),
    )
    return (
        connected_components(edges, scratch_dir=_cc_scratch("clusters"))
        .select(F.col("id").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )


def _clusters_sql() -> str:
    """Min-reachable-label closure over the verified pair graph.

    Shape is load-bearing: the recursion must live in a NESTED subquery
    whose WITH RECURSIVE sees only the MATERIALIZED ``e2`` edge CTE from
    the outer (non-recursive) WITH.  Putting the whole chain under one
    WITH RECURSIVE makes DuckDB re-inline — and re-run — the entire
    LSH+Jaccard pipeline on every recursive iteration (measured: minutes
    of CPU at sf0.01 vs ~4 s in this form)."""
    return (
        _lsh_verified_cte()
        + """,
e2 AS MATERIALIZED (
  SELECT id_a AS s, id_b AS t FROM verified
  UNION
  SELECT id_b AS s, id_a AS t FROM verified
)
SELECT id AS doc_id, cluster_id FROM (
  WITH RECURSIVE reach AS (
    SELECT s AS id, s AS lbl FROM e2
    UNION
    SELECT e2.t AS id, reach.lbl FROM reach JOIN e2 ON e2.s = reach.id
  )
  SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
)
ORDER BY doc_id
"""
    )


def dedup_cluster_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Group-level view of dedup_clusters (reference group-size stats over
    formed clone groups): (cluster_id, n) per transitive near-dup
    cluster."""
    from codeclone_spark.operators.graph import cluster_sizes, connected_components

    d = _docs(spark, sf)
    edges = dd.lsh_verified_pairs(
        d, "doc_id", "text", max_bucket=_LSH_MAX_BUCKET, threshold=0.5,
        scratch_dir=_cc_scratch("sizes"),
    )
    return cluster_sizes(
        connected_components(edges, scratch_dir=_cc_scratch("sizes"))
    ).orderBy("cluster_id")


def _cluster_sizes_sql() -> str:
    return (
        f"SELECT cluster_id, CAST(count(*) AS BIGINT) AS n "
        f"FROM ({_clusters_sql()}) GROUP BY cluster_id ORDER BY cluster_id"
    )


def dedup_keep_list(spark: SparkSession, sf: str) -> DataFrame:
    """Survivor/purge manifest over the WHOLE corpus: every doc gets
    (cluster_id, keep, reason) with keep = unique docs + cluster minima
    (reference canonical-representative convention,
    clone_baseline.py:511-527) — the operational endpoint a dedup pipeline
    actually materializes and filters ingest against."""
    from codeclone_spark.operators.graph import connected_components, keep_list

    d = _docs(spark, sf)
    edges = dd.lsh_verified_pairs(
        d, "doc_id", "text", max_bucket=_LSH_MAX_BUCKET, threshold=0.5,
        scratch_dir=_cc_scratch("keep"),
    )
    comps = connected_components(edges, scratch_dir=_cc_scratch("keep"))
    return (
        keep_list(d, "doc_id", comps)
        .select(F.col("id").alias("doc_id"), "cluster_id", "keep", "reason")
        .orderBy("doc_id")
    )


def _keep_list_sql() -> str:
    """Cluster closure LEFT-JOINed back to the full doc-id set (SQL twin of
    keep_list's coalesce/min-id-representative semantics)."""
    return (
        _lsh_verified_cte()
        + """,
e2 AS MATERIALIZED (
  SELECT id_a AS s, id_b AS t FROM verified
  UNION
  SELECT id_b AS s, id_a AS t FROM verified
),
comp AS (
  SELECT id, cluster_id FROM (
    WITH RECURSIVE reach AS (
      SELECT s AS id, s AS lbl FROM e2
      UNION
      SELECT e2.t AS id, reach.lbl FROM reach JOIN e2 ON e2.s = reach.id
    )
    SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
  )
)
SELECT d.doc_id AS doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       (c.cluster_id IS NULL OR d.doc_id = c.cluster_id) AS keep,
       CASE WHEN c.cluster_id IS NULL THEN 'unique'
            WHEN d.doc_id = c.cluster_id THEN 'representative'
            ELSE 'near_duplicate' END AS reason
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN comp c ON c.id = d.doc_id
ORDER BY doc_id
"""
    )


def neardup_cluster_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Accepted-cluster KEYSET: '<min_member_id>|<size>' per transitive
    near-dup cluster — exactly the strings the validation engine diffs
    against the baseline's `clones` section and writes back on
    --update-baseline (runner stage 4d; reference sorted-group-id
    convention, clone_baseline.py:511-527).  Size is part of the key so a
    grown/shrunk cluster re-gates as new; this query oracle-checks that
    key derivation end-to-end over the documents corpus."""
    from codeclone_spark.operators.graph import (
        cluster_sizes,
        connected_components,
    )

    d = _docs(spark, sf)
    edges = dd.lsh_verified_pairs(
        d, "doc_id", "text", max_bucket=_LSH_MAX_BUCKET, threshold=0.5,
        scratch_dir=_cc_scratch("ckeys"),
    )
    return (
        cluster_sizes(
            connected_components(edges, scratch_dir=_cc_scratch("ckeys"))
        )
        .select(
            F.concat_ws(
                "|",
                F.col("cluster_id").cast("string"),
                F.col("n").cast("string"),
            ).alias("ckey")
        )
        .orderBy("ckey")
    )


def _cluster_keys_sql() -> str:
    return (
        f"SELECT cluster_id::VARCHAR || '|' || "
        f"CAST(count(*) AS BIGINT)::VARCHAR AS ckey "
        f"FROM ({_clusters_sql()}) GROUP BY cluster_id ORDER BY ckey"
    )


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return dd.simhash(d, "doc_id", "text").orderBy("id")


def _simhash_sql() -> str:
    bits = dd.SIMHASH_BITS
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sig = " + ".join(f"CASE WHEN v{i} > 0 THEN {2**i}::BIGINT ELSE 0 END" for i in range(bits))
    return rf"""
WITH toks AS (
  SELECT doc_id AS id,
         ('0x' || substr(md5(tok), 1, 15))::UBIGINT AS h
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents)
  WHERE length(tok) > 0
), v AS (SELECT id, {votes} FROM toks GROUP BY id)
SELECT id, ({sig})::BIGINT AS simhash FROM v ORDER BY id
"""


def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    e = _embs(spark, sf)
    return dd.embedding_neardup_pairs(
        e, "vec_id", "embedding", block_col="label", threshold=0.95
    ).orderBy("id_a", "id_b")


EMB_NEARDUP_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95
ORDER BY id_a, id_b
"""


# ============================================================ similarity ---
def _query_vec(spark: SparkSession, sf: str) -> list[float]:
    row = (
        _t(spark, sf, "embeddings")
        .orderBy("vec_id")
        .select("embedding")
        .limit(1)
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def sim_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings")
    q = _query_vec(spark, sf)
    return sim.cosine_topk(e, "vec_id", "embedding", q, k=10)


SIM_TOPK_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT vec_id AS id,
       round(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings, q
ORDER BY cosine DESC, id LIMIT 10
"""


def sim_srp_buckets(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings")
    return sim.srp_buckets(e, "vec_id", "embedding", n_planes=8, dim=64).orderBy("id")


def _srp_sql(n_planes: int = 8, dim: int = 64) -> str:
    planes = sim.plane_signs(n_planes, dim)
    terms = []
    for p in range(n_planes):
        dot = " + ".join(
            f"({planes[p][d]}) * embedding[{d + 1}]" for d in range(dim)
        )
        terms.append(f"CASE WHEN ({dot}) > 0 THEN {2**p}::BIGINT ELSE 0 END")
    return f"SELECT vec_id AS id, ({' + '.join(terms)})::BIGINT AS bucket FROM embeddings ORDER BY id"


def sim_ann_topk_srp(spark: SparkSession, sf: str) -> DataFrame:
    """ANN: exact cosine restricted to the query's SRP bucket (the pruned
    scale path of sim_cosine_topk; bucket derivation is SQL-reproducible
    so the index restriction itself is oracle-checked)."""
    e = _t(spark, sf, "embeddings")
    q = _query_vec(spark, sf)
    return sim.ann_topk_srp(e, "vec_id", "embedding", q, k=10, n_planes=4)


def _ann_srp_sql(n_planes: int = 4, dim: int = 64) -> str:
    planes = sim.plane_signs(n_planes, dim)

    def bucket_expr(arr: str) -> str:
        terms = []
        for p in range(n_planes):
            dot = " + ".join(
                f"({planes[p][d]}) * {arr}[{d + 1}]" for d in range(dim)
            )
            terms.append(f"CASE WHEN ({dot}) > 0 THEN {2**p}::BIGINT ELSE 0 END")
        return "(" + " + ".join(terms) + ")::BIGINT"

    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT vec_id AS id, {bucket_expr("embedding")} AS bucket,
       round(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings, q
WHERE {bucket_expr("embedding")} = {bucket_expr("qv")}
ORDER BY cosine DESC, id LIMIT 10
"""


_IVF_C = 4  # deterministic seed centroids: first C vectors by id


def sim_ivf_assign(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse assignment: nearest of C broadcast seed centroids."""
    e = _t(spark, sf, "embeddings")
    rows = e.orderBy("vec_id").limit(_IVF_C).collect()
    cdf = local_frame(
        spark,
        [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows)],
        "cid BIGINT, cvec ARRAY<DOUBLE>",
    )
    return sim.ivf_assign(
        e, "vec_id", "embedding", list(range(_IVF_C)), cdf
    ).orderBy("id")


IVF_ASSIGN_SQL = f"""
WITH c AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_IVF_C})
),
scored AS (
  SELECT e.vec_id AS id, c.cid,
         list_dot_product(e.embedding::DOUBLE[], c.cvec)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos
  FROM embeddings e CROSS JOIN c
)
SELECT id, cid FROM scored
QUALIFY row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid) = 1
ORDER BY id
"""


def sim_ivf_probe(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN probe: exact cosine top-k restricted to the query vector's
    coarse cell (centroids = first _IVF_C vectors by id, same as
    sim_ivf_assign)."""
    e = _t(spark, sf, "embeddings")
    q = _query_vec(spark, sf)
    rows = e.orderBy("vec_id").limit(_IVF_C).collect()
    centroids = [[float(x) for x in r["embedding"]] for r in rows]
    return sim.ann_topk_ivf(e, "vec_id", "embedding", q, centroids, k=10)


IVF_PROBE_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
c AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_IVF_C})
),
qcell AS (
  SELECT c.cid FROM c, q
  ORDER BY list_dot_product(q.qv, c.cvec)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.cvec, c.cvec))) DESC, c.cid
  LIMIT 1
),
assigned AS (
  SELECT e.vec_id AS id, c.cid,
         list_dot_product(e.embedding::DOUBLE[], c.cvec)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos
  FROM embeddings e CROSS JOIN c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY cos DESC, c.cid) = 1
)
SELECT e.vec_id AS id,
       round(list_dot_product(e.embedding::DOUBLE[], q.qv)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
FROM embeddings e, q
WHERE e.vec_id IN (SELECT a.id FROM assigned a JOIN qcell ON a.cid = qcell.cid)
ORDER BY cosine DESC, id LIMIT 10
"""


def stream_dedup_updates(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming first-seen dedup over the clips corpus (one
    micro-batch per partition file; applyInPandasWithState cross-batch
    state).  Non-SQL-expressible -> rows-only check; the cross-batch
    semantics are golden-tested in tests/test_streaming.py."""
    import tempfile

    from codeclone_spark.streaming.stateful import run_stream_dedup

    import shutil

    data_dir = clips_dir_for(sf)
    tmp = tempfile.mkdtemp(prefix="ccspark_stream_dedup_")
    out, ckpt = os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    try:
        q = run_stream_dedup(
            spark, f"{data_dir}/clips/*", out, ckpt, max_files_per_trigger=8
        )
        if not q.awaitTermination(600):
            # timed out: the output dir is incomplete — partial counts would
            # be silently wrong, so stop the query and fail loudly
            q.stop()
            raise TimeoutError("stream_dedup_updates: stream did not finish in 600s")
        rows = (
            spark.read.parquet(out)
            .groupBy("is_duplicate")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("is_duplicate")
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # tiny (<=2 rows): re-materialize so the returned frame outlives the
    # scratch dir cleanup
    return local_frame(spark, rows, "is_duplicate boolean, n long")


def stream_neardup_updates(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental LSH near-dup candidate stream over the clips corpus
    (streaming/neardup.py: per-row band keys -> applyInPandasWithState
    bucket memory; anchors are first-seen).  Non-SQL-expressible ->
    rows-only check; cross-batch semantics and batch-key parity are
    golden-tested in tests/test_streaming.py.  The summary is
    anchor-identity-free (counts only) so it is stable under any file
    arrival order."""
    import shutil
    import tempfile

    from codeclone_spark.streaming.neardup import run_stream_neardup

    data_dir = clips_dir_for(sf)
    # the deterministic staging below copies the corpus files once
    tmp = tempfile.mkdtemp(prefix="ccspark_stream_nd_", dir=_scratch_root())
    out, ckpt = os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    try:
        # Stage the corpus files with DETERMINISTIC, strictly increasing
        # mtimes in sorted-path order: the file stream source batches
        # files by modification time, and the generated corpus's mtimes
        # fall in whatever order the writer finished — so which docs
        # share a micro-batch (and therefore which doc anchors a bucket,
        # feeding n_anchors / n_flagged_docs) would otherwise change
        # every time the corpus is regenerated.  Copy + utime pins the
        # arrival order to the path order, making the summary reproducible
        # on any host.
        import glob as _glob

        src = os.path.join(tmp, "src")
        os.makedirs(src)
        _files = sorted(
            _glob.glob(os.path.join(data_dir, "clips", "*", "*.parquet"))
        )
        _t0 = 1_600_000_000
        for _i, _f in enumerate(_files):
            _dst = os.path.join(src, f"{_i:05d}.parquet")
            shutil.copy(_f, _dst)
            os.utime(_dst, (_t0 + _i, _t0 + _i))
        q = run_stream_neardup(
            spark, src, out, ckpt, max_files_per_trigger=8
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "stream_neardup_updates: stream did not finish in 600s"
            )
        cand = spark.read.parquet(out)
        row = cand.agg(
            F.count(F.lit(1)).alias("n_candidate_rows"),
            F.countDistinct("id").alias("n_flagged_docs"),
            F.countDistinct("anchor_id").alias("n_anchors"),
            F.countDistinct("band", "bucket_key").alias("n_hot_buckets"),
        ).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(
        spark,
        row,
        "n_candidate_rows long, n_flagged_docs long, "
        "n_anchors long, n_hot_buckets long",
    )


# ================================================== audio clips (synth) ----
def _column_stats_by_part(
    spark: SparkSession, sf: str, col: str, prefix: str
) -> DataFrame:
    """Declarative per-column stats family instantiation (engine analog:
    rules.NUMERIC_STATS_COLUMNS drives the same quartet inside the
    validation runner — this is the registry-facing, oracle-checkable
    twin).  Mean is emitted as exact integer e4 units (floor of
    sum*1e4/count on BIGINT arithmetic): float-free contract, same
    rationale as events_null_rate's ppm column."""
    c = _clips(spark, sf)
    return (
        c.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col(col).isNull().cast("long")).alias(f"{prefix}_null"),
            F.min(col).alias(f"{prefix}_min"),
            F.max(col).alias(f"{prefix}_max"),
            F.sum(F.col(col).cast("long")).alias("_sum"),
            F.count(col).alias("_n"),
        )
        .withColumn(
            f"{prefix}_mean_e4", F.expr("(_sum * 10000L) div greatest(_n, 1L)")
        )
        .drop("_sum", "_n")
        .orderBy("part")
    )


def _column_stats_sql(col: str, prefix: str) -> str:
    return f"""
SELECT part, count(*) AS rows,
       CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {prefix}_null,
       min({col}) AS {prefix}_min, max({col}) AS {prefix}_max,
       CAST((sum(CAST({col} AS BIGINT)) * 10000)
            // greatest(count({col}), 1) AS BIGINT) AS {prefix}_mean_e4
FROM {_CLIPS_SQL} GROUP BY part ORDER BY part
"""


def clips_stats_by_part(spark: SparkSession, sf: str) -> DataFrame:
    """dur_ms instance of the per-column stats family."""
    return _column_stats_by_part(spark, sf, "dur_ms", "dur")


def clips_sr_stats_by_part(spark: SparkSession, sf: str) -> DataFrame:
    """sr_hz instance of the SAME declarative family — proves the registry
    generalizes beyond dur_ms (VERDICT r2 item 7)."""
    return _column_stats_by_part(spark, sf, "sr_hz", "sr")


CLIPS_SR_STATS_SQL = _column_stats_sql("sr_hz", "sr")


def clips_flatness_stats_by_part(spark: SparkSession, sf: str) -> DataFrame:
    """spectral_flatness instance of the stats family — the THIRD registry
    column (rules.NUMERIC_STATS_COLUMNS).  Decode-derived, so no SQL
    oracle (DuckDB cannot decode audio); the full frame is golden-pinned
    in tests/golden instead.  Flatness is quantized to e6 integers PER ROW
    before aggregation so the sums are integer (order-independent —
    deterministic across partition layouts), mirroring the e4 contract of
    the raw-column stats quartets."""
    from codeclone_spark.plans.facts import decode_stage, read_clips

    c = read_clips(spark, clips_dir_for(sf))
    f_e6 = F.round(F.col("spectral_flatness") * 1e6).cast("long")
    return (
        decode_stage(c)
        .select("part", f_e6.alias("f"))
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("f").isNull().cast("long")).alias("flat_null"),
            F.min("f").alias("flat_min_e6"),
            F.max("f").alias("flat_max_e6"),
            F.expr("sum(f) div greatest(count(f), 1L)").alias("flat_mean_e6"),
        )
        .orderBy("part")
    )


CLIPS_STATS_SQL = _column_stats_sql("dur_ms", "dur")


def clips_dur_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-codec duration percentiles — the engine's quantile surface
    (report stats + baseline snapshot use the mergeable sketch; this
    oracle-checked twin uses exact interpolated percentile so DuckDB's
    quantile_cont reproduces it bit-for-bit).  Outputs are integer
    e4-scaled to keep floats out of the contract."""
    c = _clips(spark, sf)
    agg = [
        F.round(F.expr(f"percentile(dur_ms, {q}) * 10000")).cast("long").alias(a)
        for q, a in ((0.5, "p50_e4"), (0.95, "p95_e4"), (0.99, "p99_e4"))
    ]
    return c.groupBy("codec").agg(*agg).orderBy("codec")


CLIPS_DURQ_SQL = f"""
SELECT codec,
       CAST(round(quantile_cont(dur_ms, 0.5) * 10000) AS BIGINT) AS p50_e4,
       CAST(round(quantile_cont(dur_ms, 0.95) * 10000) AS BIGINT) AS p95_e4,
       CAST(round(quantile_cont(dur_ms, 0.99) * 10000) AS BIGINT) AS p99_e4
FROM {_CLIPS_SQL} GROUP BY codec ORDER BY codec
"""


def schema_evolution_clips(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolution diff surface (reference compare_api_surfaces):
    current clips schema vs a deliberately mutated expectation — one
    column dropped from the expectation (-> added), one extra expected
    (-> removed), one retyped (-> type_changed).  The oracle reproduces
    the exact rows via DESCRIBE + a VALUES full-outer join."""
    from codeclone_spark.operators import schema_diff as sd

    c = _clips(spark, sf)
    cur = sd.canonical_schema(c)
    expected = dict(cur)
    expected.pop("codec", None)  # current-only -> added
    expected["loudness_lufs"] = "DOUBLE"  # expected-only -> removed
    expected["transcript"] = "INTEGER"  # retyped -> type_changed
    return sd.schema_diff_rows(spark, cur, expected).orderBy("status", "col_name")


SCHEMA_EVOLUTION_SQL = f"""
WITH cur AS (
  SELECT column_name AS col_name, column_type AS t
  FROM (DESCRIBE SELECT * FROM {_CLIPS_SQL})
),
exp AS (
  SELECT * FROM (VALUES
    ('clip_id', 'VARCHAR'), ('bytes', 'BLOB'), ('sr_hz', 'INTEGER'),
    ('dur_ms', 'INTEGER'), ('transcript', 'INTEGER'), ('part', 'VARCHAR'),
    ('loudness_lufs', 'DOUBLE')
  ) AS v(col_name, t)
)
SELECT coalesce(e.col_name, c.col_name) AS col_name,
       CASE WHEN c.col_name IS NULL THEN 'removed'
            WHEN e.col_name IS NULL THEN 'added'
            ELSE 'type_changed' END AS status,
       e.t AS expected_type,
       c.t AS current_type
FROM exp e FULL OUTER JOIN cur c ON e.col_name = c.col_name
WHERE c.col_name IS NULL OR e.col_name IS NULL OR e.t <> c.t
ORDER BY status, col_name
"""


def clips_dup_ids(spark: SparkSession, sf: str) -> DataFrame:
    c = _clips(spark, sf)
    return (
        c.groupBy("clip_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .orderBy("clip_id")
    )


CLIPS_DUP_SQL = f"""
SELECT clip_id, count(*) AS n FROM {_CLIPS_SQL}
GROUP BY clip_id HAVING count(*) > 1 ORDER BY clip_id
"""


def clips_fixture_missing(spark: SparkSession, sf: str) -> DataFrame:
    c = _clips(spark, sf).select("clip_id").distinct()
    fx = _fixtures(spark, sf).select("clip_id")
    return c.join(fx, "clip_id", "left_anti").orderBy("clip_id")


CLIPS_MISSING_SQL = f"""
SELECT DISTINCT clip_id FROM {_CLIPS_SQL}
WHERE clip_id NOT IN (SELECT clip_id FROM {_FIXTURES_SQL})
ORDER BY clip_id
"""


def clips_transcript_mismatch(spark: SparkSession, sf: str) -> DataFrame:
    c = _clips(spark, sf)
    fx = _fixtures(spark, sf)
    return (
        c.join(fx, "clip_id")
        .filter(
            F.col("transcript").isNotNull()
            & (F.length("transcript") > 0)
            & (F.col("transcript") != F.col("expected_transcript"))
        )
        .select("clip_id", "transcript", "expected_transcript")
        .distinct()
        .orderBy("clip_id")
    )


CLIPS_TR_MISMATCH_SQL = f"""
SELECT DISTINCT c.clip_id, c.transcript, f.expected_transcript
FROM {_CLIPS_SQL} c JOIN {_FIXTURES_SQL} f ON c.clip_id = f.clip_id
WHERE c.transcript IS NOT NULL AND length(c.transcript) > 0
  AND c.transcript <> f.expected_transcript
ORDER BY c.clip_id
"""


def clips_dur_hist(spark: SparkSession, sf: str) -> DataFrame:
    c = _clips(spark, sf)
    edges = DUR_BIN_EDGES
    bin_expr = None
    for i in range(len(edges) - 1):
        cond = (F.col("dur_ms") >= edges[i]) & (F.col("dur_ms") < edges[i + 1])
        bin_expr = F.when(cond, i) if bin_expr is None else bin_expr.when(cond, i)
    return (
        c.filter(F.col("dur_ms").isNotNull())
        .select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


def _clips_hist_sql() -> str:
    edges = DUR_BIN_EDGES
    whens = " ".join(
        f"WHEN dur_ms >= {edges[i]} AND dur_ms < {edges[i + 1]} THEN {i}"
        for i in range(len(edges) - 1)
    )
    return f"""
SELECT CASE {whens} END AS bin, count(*) AS n
FROM {_CLIPS_SQL} WHERE dur_ms IS NOT NULL GROUP BY 1 ORDER BY bin
"""


def multimodal_image_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Image-decode pipeline over binary payloads synthesized 1:1 from the
    documents table (seeded by doc_id — fully deterministic, every 23rd
    payload truncated to exercise the error channel).  Two Arrow-batched
    mapInPandas stages: synthesize-encode (snpi container) then the REAL
    decode/feature pass (functions/multimodal.py); payload bytes never
    survive a stage boundary.  Rows-only check: zlib+pixel math is not
    SQL-expressible."""
    from codeclone_spark.functions.multimodal import (
        IMAGE_FACTS_SCHEMA,
        image_facts_map_in_pandas,
    )

    def synth(batches):
        import hashlib as _hl

        import numpy as _np
        import pandas as _pd

        from codeclone_spark.functions.multimodal import encode_snpi

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                seed = int.from_bytes(
                    _hl.md5(str(doc_id).encode()).digest()[:8], "big"
                )
                rng = _np.random.default_rng(seed)
                h, w = 8 + seed % 16, 8 + (seed >> 8) % 24
                blob = encode_snpi(
                    rng.integers(0, 256, size=(h, w, 3), dtype=_np.uint8)
                )
                if seed % 23 == 0:  # planted corruption -> error row
                    blob = blob[: len(blob) // 2]
                ids.append(str(doc_id))
                payloads.append(blob)
            yield _pd.DataFrame(
                {"item_id": ids, "payload": payloads,
                 "format": ["snpi"] * len(ids)}
            )

    docs = _par(_t(spark, sf, "documents").select("doc_id"))
    blobs = docs.mapInPandas(
        synth, schema="item_id string, payload binary, format string"
    )
    facts = blobs.mapInPandas(image_facts_map_in_pandas, schema=IMAGE_FACTS_SCHEMA)
    return (
        facts.groupBy("decode_ok")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("mean_luma"), 4).alias("avg_luma"),
            F.round(F.avg("width"), 4).alias("avg_width"),
        )
        .orderBy("decode_ok")
    )


def multimodal_video_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Video twin of multimodal_image_stats: synthesize snpv containers
    (frame count/fps seeded by doc_id), demux the frame index without
    inflation, decode only sampled frames, hash them.  Rows-only check."""
    from codeclone_spark.functions.multimodal import (
        VIDEO_FACTS_SCHEMA,
        video_facts_map_in_pandas,
    )

    def synth(batches):
        import hashlib as _hl

        import numpy as _np
        import pandas as _pd

        from codeclone_spark.functions.multimodal import encode_snpv

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                seed = int.from_bytes(
                    _hl.md5(b"v" + str(doc_id).encode()).digest()[:8], "big"
                )
                rng = _np.random.default_rng(seed)
                n, fps = 10 + seed % 80, 10 + (seed >> 8) % 21
                frames = rng.integers(
                    0, 256, size=(n, 8, 8), dtype=_np.uint8
                )
                blob = encode_snpv(frames, fps=fps)
                if seed % 29 == 0:  # planted truncation -> error row
                    blob = blob[:-5]
                ids.append(str(doc_id))
                payloads.append(blob)
            yield _pd.DataFrame(
                {"item_id": ids, "payload": payloads,
                 "codec": ["snpv"] * len(ids)}
            )

    # orderBy before limit: LIMIT without ORDER BY is not deterministic
    # across file-split changes, and this rows-only query's count is pinned
    docs = _t(spark, sf, "documents").select("doc_id").orderBy("doc_id").limit(500)
    blobs = docs.mapInPandas(
        synth, schema="item_id string, payload binary, codec string"
    )
    facts = blobs.mapInPandas(video_facts_map_in_pandas, schema=VIDEO_FACTS_SCHEMA)
    return (
        facts.groupBy("decode_ok")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_sampled").alias("frames_sampled"),
            F.round(F.avg("duration_s"), 4).alias("avg_dur_s"),
        )
        .orderBy("decode_ok")
    )


def validation_violations(spark: SparkSession, sf: str) -> DataFrame:
    """Full engine pass over the synthetic corpus — returns the canonical
    violations frame.  Rows-only check: SNR/decode facts aren't
    SQL-expressible (DuckDB can't decode audio)."""
    import shutil
    import tempfile

    from codeclone_spark.plans.runner import RunConfig, run

    data_dir = clips_dir_for(sf)
    # Deterministic scratch path, wiped on entry: the returned frame lazily
    # reads these files (so they can't be deleted here), but repeat
    # invocations reuse ONE directory per profile instead of leaking a
    # mkdtemp each call.
    out_dir = os.path.join(
        tempfile.gettempdir(), f"ccspark_run_{_profile_for(sf)}"
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    res = run(spark, RunConfig(data_dir=data_dir, out_dir=out_dir, gating=False))
    return spark.read.parquet(res.violations_path).orderBy(
        "rule_id", "partition", "clip_id", "observed"
    )


# ============================================================== registry ---
def build_registry() -> dict[str, QueryDef]:
    return {
        "q1_pricing_summary": QueryDef(q1_pricing_summary, Q1_SQL),
        "q3_top_orders": QueryDef(q3_top_orders, Q3_SQL),
        "q5_nation_revenue": QueryDef(q5_nation_revenue, Q5_SQL),
        "q6_revenue": QueryDef(q6_revenue, Q6_SQL),
        "top_customers": QueryDef(top_customers, TOP_CUSTOMERS_SQL),
        "nation_topk_customers": QueryDef(nation_topk_customers, NATION_TOPK_SQL),
        "orders_histogram": QueryDef(orders_histogram, ORDERS_HIST_SQL),
        "events_hourly_rollup": QueryDef(events_hourly_rollup, EVENTS_HOURLY_SQL),
        "events_null_rate": QueryDef(events_null_rate, EVENTS_NULL_SQL),
        "events_drift_psi": QueryDef(events_drift_psi, EVENTS_PSI_SQL),
        "customers_without_orders": QueryDef(
            customers_without_orders, CUST_NO_ORDERS_SQL
        ),
        "dup_groups_custkey": QueryDef(dup_groups_custkey, DUP_CUSTKEY_SQL),
        "quantiles_lineitem": QueryDef(quantiles_lineitem, QUANTILES_SQL),
        "stats_summary_lineitem": QueryDef(stats_summary_lineitem, STATS_SUMMARY_SQL),
        "rollup_order_stats": QueryDef(rollup_order_stats, ROLLUP_SQL),
        "setops_active_customers": QueryDef(setops_active_customers, SETOPS_SQL),
        "distinct_users_by_type": QueryDef(distinct_users_by_type, DISTINCT_USERS_SQL),
        "salted_codec_stats": QueryDef(salted_codec_stats, SALTED_CODEC_SQL),
        "text_token_stats": QueryDef(text_token_stats, TOKEN_STATS_SQL),
        "text_quality": QueryDef(text_quality, TEXT_QUALITY_SQL),
        "text_langid_counts": QueryDef(text_langid_counts, _langid_sql()),
        "text_fingerprint": QueryDef(text_fingerprint, FINGERPRINT_SQL),
        "dedup_exact_docs": QueryDef(dedup_exact_docs, DEDUP_EXACT_SQL),
        "dedup_minhash_sigs": QueryDef(dedup_minhash_sigs, _minhash_sql()),
        "dedup_lsh_pairs": QueryDef(dedup_lsh_pairs, _lsh_sql()),
        "dedup_lsh_suppressed": QueryDef(dedup_lsh_suppressed, _lsh_suppressed_sql()),
        "dedup_jaccard_pairs": QueryDef(dedup_jaccard_pairs, _jaccard_sql()),
        "dedup_lsh_verified_pairs": QueryDef(
            dedup_lsh_verified_pairs, _lsh_verified_sql()
        ),
        "dedup_clusters": QueryDef(dedup_clusters, _clusters_sql()),
        "dedup_cluster_sizes": QueryDef(dedup_cluster_sizes, _cluster_sizes_sql()),
        "dedup_keep_list": QueryDef(dedup_keep_list, _keep_list_sql()),
        "neardup_cluster_keys": QueryDef(neardup_cluster_keys, _cluster_keys_sql()),
        "dedup_simhash": QueryDef(dedup_simhash, _simhash_sql()),
        "dedup_embedding_cosine": QueryDef(dedup_embedding_cosine, EMB_NEARDUP_SQL),
        "sim_cosine_topk": QueryDef(sim_cosine_topk, SIM_TOPK_SQL),
        "sim_srp_buckets": QueryDef(sim_srp_buckets, _srp_sql()),
        "sim_ann_topk_srp": QueryDef(sim_ann_topk_srp, _ann_srp_sql()),
        "sim_ivf_assign": QueryDef(sim_ivf_assign, IVF_ASSIGN_SQL),
        "sim_ivf_probe": QueryDef(sim_ivf_probe, IVF_PROBE_SQL),
        "clips_stats_by_part": QueryDef(clips_stats_by_part, CLIPS_STATS_SQL),
        "clips_sr_stats_by_part": QueryDef(
            clips_sr_stats_by_part, CLIPS_SR_STATS_SQL
        ),
        "clips_flatness_stats_by_part": QueryDef(clips_flatness_stats_by_part, None),
        "clips_dur_quantiles": QueryDef(clips_dur_quantiles, CLIPS_DURQ_SQL),
        "schema_evolution_clips": QueryDef(schema_evolution_clips, SCHEMA_EVOLUTION_SQL),
        "clips_dup_ids": QueryDef(clips_dup_ids, CLIPS_DUP_SQL),
        "clips_fixture_missing": QueryDef(clips_fixture_missing, CLIPS_MISSING_SQL),
        "clips_transcript_mismatch": QueryDef(
            clips_transcript_mismatch, CLIPS_TR_MISMATCH_SQL
        ),
        "clips_dur_hist": QueryDef(clips_dur_hist, _clips_hist_sql()),
        "validation_violations": QueryDef(validation_violations, None),
        "stream_dedup_updates": QueryDef(stream_dedup_updates, None),
        "stream_neardup_updates": QueryDef(stream_neardup_updates, None),
        "multimodal_image_stats": QueryDef(multimodal_image_stats, None),
        "multimodal_video_stats": QueryDef(multimodal_video_stats, None),
    }


REGISTRY = build_registry()
