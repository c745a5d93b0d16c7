"""Advanced relational shapes: correlated subqueries, explicit GROUPING
SETS, and a composed end-to-end corpus pipeline (quality filter → exact
dedup survivor → token accounting) showing operator composition.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_lake_spark.queries import register
from polars_lake_spark.queries.pipeline import _NORM_SQL
from polars_lake_spark.sources import load_table, register_tables


@register(
    "correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders o
    WHERE o_totalprice > (
        SELECT 1.5 * AVG(o_totalprice) FROM orders i
        WHERE i.o_custkey = o.o_custkey)
    """,
)
def correlated_subquery(spark, sf_dir):
    register_tables(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
        FROM orders o
        WHERE o_totalprice > (
            SELECT 1.5 * AVG(o_totalprice) FROM orders i
            WHERE i.o_custkey = o.o_custkey)
        """
    )


@register(
    "grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets(spark, sf_dir):
    register_tables(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ROUND(SUM(l_extendedprice), 2) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "asof_join_events",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, MAX(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, ROUND(p.value, 2) AS value,
           c.click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_events(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent prior
    click (operators/asof.py union+window formulation — one shuffle, no
    range explosion)."""
    from polars_lake_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases, clicks, on="ts", by=["user_id"], right_cols=["click_id", "click_ts"]
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("value"),
        F.col("click_id_right").alias("click_id"),
        (us("ts") - us("click_ts_right")).alias("gap_us"),
    )


@register(
    "range_join_events",
    oracle="""
    WITH p AS (SELECT event_id AS pid, user_id, ts AS pts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS cid, user_id, ts AS cts
               FROM events WHERE event_type = 'click')
    SELECT pid, cid, p.user_id,
           epoch_us(pts) - epoch_us(cts) AS delta_us
    FROM p JOIN c ON p.user_id = c.user_id
     AND cts BETWEEN pts - INTERVAL 5 MINUTE AND pts + INTERVAL 5 MINUTE
    """,
)
def range_join_events(spark, sf_dir):
    """Interval join: purchase↔click pairs within ±5 minutes per user,
    via tolerance-bucketed candidate generation (operators/asof.py) —
    keyed shuffle instead of a per-user cross product."""
    from polars_lake_spark.operators.asof import range_join

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    # right side shares the `on` column name; its time comes back suffixed
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), "user_id", F.col("ts").alias("pts")
    )
    tol = 5 * 60 * 1_000_000  # 5 minutes in µs
    joined = range_join(p, c, on="pts", by=["user_id"], tolerance_us=tol)
    us = lambda col: F.unix_micros(F.col(col).cast("timestamp"))
    return joined.select(
        "pid",
        F.col("cid_right").alias("cid"),
        "user_id",
        (us("pts") - us("pts_right")).alias("delta_us"),
    )


@register(
    "corpus_pipeline",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text, {_NORM_SQL} AS norm FROM documents
    ), survivors AS (
        SELECT MIN(doc_id) AS doc_id
        FROM t GROUP BY md5(norm)
    ), kept AS (
        SELECT t.doc_id, t.lang,
               len(string_split(t.norm, ' ')) AS n_words
        FROM t JOIN survivors USING (doc_id)
        WHERE len(string_split(t.norm, ' ')) >= 20
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_words) * 1.0 / COUNT(*), 8) AS avg_tokens
    FROM kept GROUP BY lang
    """,
)
def corpus_pipeline(spark, sf_dir):
    """Composed training-data pipeline: exact-dedup survivors → length
    filter → per-language token accounting. Each stage is the operator
    from operators/ / functions/, chained as one declarative plan."""
    from polars_lake_spark.functions import text as TX
    from polars_lake_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    survivors = D.exact_dedup_groups(docs, "doc_id", "text").select(
        F.col("keeper_id").alias("doc_id")
    )
    kept = (
        docs.join(survivors, "doc_id")
        .withColumn("n_words", TX.word_count(F.col("text")))
        .filter(F.col("n_words") >= 20)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("n_words") * F.lit(1.0) / F.count(F.lit(1)), 8
        ).alias("avg_tokens"),
    )
