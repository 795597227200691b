"""Relational operator analogs from SURVEY.md §2, expressed over the
driver's TPC-H-ish tables so each has a DuckDB-checkable oracle.

Each function documents which reference operator it re-expresses
(file:line of /root/reference).  These are the generic query shapes the
clip pipeline uses internally (top-N per query, best-gap filter,
co-occurrence pairs, percentile score, share normalization,
hierarchy roll-up, multi-shard intersection, k-way merge re-rank).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, Window, functions as F

from kmcp_spark.operators.lsh import bucket_pairs


def topn_per_group(lineitem: DataFrame, n: int = 3) -> DataFrame:
    """W1 analog — kmcp keeps matches within top-N distinct scores per
    query (`kmcp/cmd/util-db-search.go:285-311`).  Here: top-n lineitems
    per order by extendedprice, dense-ranked (ties all kept)."""
    w = Window.partitionBy("l_orderkey").orderBy(F.desc("l_extendedprice"))
    return (
        lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("price_rank", F.dense_rank().over(w))
        .filter(F.col("price_rank") <= n)
    )


def best_gap_filter(lineitem: DataFrame, gap: float = 0.1) -> DataFrame:
    """W2/F7 analog — `--keep-main-matches` drops matches once the gap to
    the per-query best exceeds a threshold (`kmcp/cmd/profile.go:890-902`).
    Here: lineitems within ``gap`` fraction of the order's max price."""
    w = Window.partitionBy("l_orderkey")
    return (
        lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("best_price", F.max("l_extendedprice").over(w))
        .filter(
            F.col("l_extendedprice") >= F.col("best_price") * (1.0 - gap)
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "best_price")
    )


def cooccurrence_pairs(lineitem: DataFrame, min_count: int = 2) -> DataFrame:
    """J5 analog — per-query target-pair co-occurrence counts feeding the
    ambiguity matrix (`kmcp/cmd/profile.go:1171-1190`).  Here: part pairs
    co-occurring in the same order: each order is a bucket of parts,
    expanded uncapped by the shared bucket -> pairs kernel."""
    li = lineitem.select("l_orderkey", "l_partkey").distinct()
    pairs, _ = bucket_pairs(li, "l_partkey", ["l_orderkey"], sys.maxsize)
    return pairs.select(
        F.col("a").alias("p1"), F.col("b").alias("p2"), F.col("shared").alias("n_orders")
    ).filter(F.col("n_orders") >= min_count)


def percentile_score(orders: DataFrame) -> DataFrame:
    """A4 analog — kmcp's per-target score is the 90th percentile of
    qCov (`kmcp/cmd/util-profile.go:228-229`).  Here: exact interpolated
    p90 of order totals per customer (>= 3 orders)."""
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_total"),
            F.count("*").alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 3)
    )


def share_normalization(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame) -> DataFrame:
    """A7 analog — abundance normalization Percentage = Coverage/Σ·100
    (`kmcp/cmd/profile.go:2520-2526`).  Here: each nation's share of
    total revenue via a window over the grand total."""
    rev = (
        lineitem.join(supplier, lineitem["l_suppkey"] == supplier["s_suppkey"])
        .join(nation, supplier["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    total = Window.partitionBy()
    return rev.select(
        "n_name",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(total) * 100.0, 6).alias("pct"),
    )


def hierarchy_rollup(orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """A8 analog — lineage roll-up sums descendant abundances per taxon
    (`kmcp/cmd/util-profile.go:300-323`).  Here: order totals rolled up
    the customer→nation→region hierarchy (region level)."""
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count("*").alias("n_orders"),
        )
    )


def multi_shard_intersect(lineitem: DataFrame, n_shards: int = 3) -> DataFrame:
    """J2/U2 analog — multi-DB search keeps only matches present in every
    DB (`kmcp/cmd/util-db-search.go:359-474`).  Here: parts supplied by
    >= n distinct suppliers (present in all "shards")."""
    return (
        lineitem.groupBy("l_partkey")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
        .filter(F.col("n_suppliers") >= n_shards)
    )


def merge_rerank(orders: DataFrame) -> DataFrame:
    """J3/O1 analog — `kmcp merge` k-way merges per-shard sorted results
    and re-ranks per query (`kmcp/cmd/merge.go:187-264`).  Here: split
    orders into two hash shards, union, and re-rank per customer by
    totalprice — the union+window replaces the loser-tree merge."""
    s1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    s2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    merged = s1.unionByName(s2)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        merged.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
    )


def _qsum(col, digits: int = 6):
    """Exact cross-engine sum: quantize to ints at 1e6, sum as long,
    divide back — float fold order can flip round() at boundaries."""
    q = F.sum(F.round(col * 1_000_000).cast("long"))
    return q


def _qmean(col, digits: int = 6):
    return F.round(_qsum(col) / F.count("*") / 1_000_000.0, digits)


def events_hourly(events: DataFrame) -> DataFrame:
    """S9/A6 analog over the event stream table: per-type hourly counts +
    mean value (batch windowed aggregation; the streaming variant lives
    in kmcp_spark.streaming)."""
    return (
        events.groupBy(
            # epoch seconds, not timestamps: pandas timestamp resolution
            # differs between engines (ns vs us) and can perturb hashing
            F.date_trunc("hour", F.col("ts"))
            .cast("timestamp")
            .cast("long")
            .alias("hour_epoch"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            _qmean(F.col("value")).alias("mean_value"),
        )
    )


def events_sessionize(events: DataFrame, gap_min: int = 30) -> DataFrame:
    """Sessionization (batch form of the streaming session-window op):
    a new session starts when a user's inter-event gap exceeds
    ``gap_min`` minutes.  lag + conditional cumsum over an ordered
    window — the standard SQL-reproducible formulation."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; cast via timestamp (session tz = UTC) -> epoch
    ep = F.col("ts").cast("timestamp").cast("long")
    gap = ep - F.lag(ep).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_min * 60), 1).otherwise(0)
    sess = (
        events.select("user_id", "event_id", "ts", "value")
        .withColumn("ts_epoch", ep)
        .withColumn("new_sess", is_new)
        .withColumn("session_id", F.sum("new_sess").over(w))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_epoch").alias("session_start"),
        F.max("ts_epoch").alias("session_end"),
        F.round(_qsum(F.col("value")) / 1_000_000.0, 6).alias("total_value"),
    )


def events_user_stats(events: DataFrame) -> DataFrame:
    """Per-user activity profile: exact distinct types, counts, extremes."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        _qmean(F.col("value")).alias("mean_value"),
    )
