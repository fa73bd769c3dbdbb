"""Queries derived 1:1 from the reference's pipelines (SURVEY.md §2 rows
3-8, 13-14), mapped onto the driver's ``events`` table:

- purchases  ≙ ``events`` with ``event_type='purchase'`` (amount = value)
- donations  ≙ ``events`` with ``event_type='view'``
  (donation_amount_cents = floor(value*100))

Semantics preserved (SURVEY.md §2.3): thresholds are >= (core.clj:80,115);
cents->dollars uses integer division (core.clj:118); merge branches are
schema-aligned before union (core.clj:82,117-118); keys (user_id) pass
through unchanged — no shuffle anywhere in this family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark import pipelines as P
from kafka_streams_the_clojure_way_spark.queries.registry import query
from kafka_streams_the_clojure_way_spark.sources.files import load_table


def purchases_of(events: DataFrame) -> DataFrame:
    """≙ the purchase-made topic (core.clj:29-34) over an ``events``
    frame, batch or streaming: key=user_id, value {id, amount}. amount
    is whole currency units (integer-valued)."""
    return events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.floor(F.col("value")).cast("long").alias("amount"),
    )


def donations_of(events: DataFrame) -> DataFrame:
    """≙ the humble-donation-made topic (core.clj:36-41) over an
    ``events`` frame: value {user-id, donation-amount-cents,
    donation-date}."""
    return events.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.floor(F.col("value") * F.lit(100)).cast("long").alias("donation_amount_cents"),
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("donation_date"),
    )


def purchases_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return purchases_of(load_table(spark, sf_dir, "events"))


def donations_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return donations_of(load_table(spark, sf_dir, "events"))


_PURCHASES_SQL = """
    SELECT event_id AS purchase_id,
           user_id,
           CAST(floor(value) AS BIGINT) AS amount
    FROM events WHERE event_type = 'purchase'
"""

_DONATIONS_SQL = """
    SELECT user_id,
           CAST(floor(value * 100) AS BIGINT) AS donation_amount_cents,
           strftime(ts, '%Y-%m-%d') AS donation_date
    FROM events WHERE event_type = 'view'
"""


@query(
    "ref_filter_large_purchases",
    oracle=f"""
    SELECT user_id, amount
    FROM ({_PURCHASES_SQL})
    WHERE amount >= 100
    """,
)
def ref_filter_large_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 rows 3-4,6: filter amount>=100 then project {user-id,
    amount}, as the composed reusable pipeline (core.clj:100-105)."""
    return purchases_stream(spark, sf_dir).transform(P.large_purchases)


@query(
    "ref_map_donations_cents_to_dollars",
    oracle=f"""
    SELECT user_id,
           CAST(floor(donation_amount_cents / 100) AS BIGINT) AS amount
    FROM ({_DONATIONS_SQL})
    WHERE donation_amount_cents >= 10000
    """,
)
def ref_map_donations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 row 5: the donation pipeline (core.clj:112-118) — filter
    cents>=10000, derive amount=int(cents/100) with integer division."""
    return donations_stream(spark, sf_dir).transform(P.large_donations)


_MERGED_ORACLE = f"""
    SELECT user_id, amount FROM ({_PURCHASES_SQL}) WHERE amount >= 100
    UNION ALL
    SELECT user_id, CAST(floor(donation_amount_cents / 100) AS BIGINT) AS amount
    FROM ({_DONATIONS_SQL}) WHERE donation_amount_cents >= 10000
"""


@query("ref_merge_large_transactions", oracle=_MERGED_ORACLE)
def ref_merge_large_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 row 7: merge (union) of the two schema-aligned pipelines
    (core.clj:129-134) — the reference's Part-2 dataflow."""
    purchases = purchases_stream(spark, sf_dir).transform(P.large_purchases)
    donations = donations_stream(spark, sf_dir).transform(P.large_donations)
    return purchases.unionByName(donations)


def flagship_topology() -> dict:
    """The reference's Part-3 data-driven topology (core.clj:139-157):
    two source topics -> two transform streams -> fan-in to one sink topic
    (two edges into the sink = implicit merge, core.clj:152-153)."""
    return {
        "entities": {
            "topic/purchase-made": {"type": "topic", "name": "purchase-made"},
            "topic/humble-donation-made": {"type": "topic", "name": "humble-donation-made"},
            "stream/large-purchase-made": {"type": "stream", "xform": P.large_purchases},
            "stream/large-donation-made": {"type": "stream", "xform": P.large_donations},
            "topic/large-transaction-made": {"type": "topic", "name": "large-transaction-made"},
        },
        "workflow": [
            ["topic/purchase-made", "stream/large-purchase-made"],
            ["topic/humble-donation-made", "stream/large-donation-made"],
            ["stream/large-purchase-made", "topic/large-transaction-made"],
            ["stream/large-donation-made", "topic/large-transaction-made"],
        ],
    }


@query("ref_topology_large_transactions", oracle=_MERGED_ORACLE)
def ref_topology_large_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 rows 13-15: the same dataflow expressed as a declarative
    topology dict, validated (cycle check etc.) and compiled
    (≙ w/build-topology!, core.clj:207-209). Result must equal the
    hand-built merge — and the oracle is literally the same SQL."""
    from kafka_streams_the_clojure_way_spark.plans import compile_topology

    topo = flagship_topology()
    compiled = compile_topology(
        spark,
        topo,
        inputs={
            "topic/purchase-made": purchases_stream(spark, sf_dir),
            "topic/humble-donation-made": donations_stream(spark, sf_dir),
        },
    )
    return compiled["topic/large-transaction-made"]


@query(
    "ref_topology_enriched_purchases",
    oracle="""
    WITH purchases AS (
        SELECT event_id AS purchase_id, user_id,
               CAST(floor(value) AS BIGINT) AS amount
        FROM events WHERE event_type = 'purchase'
          AND floor(value) >= 100
    ),
    latest_error AS (
        SELECT user_id,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_error_us
        FROM events WHERE event_type = 'error'
        GROUP BY user_id
    )
    SELECT p.purchase_id, p.user_id, p.amount, le.last_error_us
    FROM purchases p
    LEFT JOIN latest_error le ON le.user_id = p.user_id
    """,
)
def ref_topology_enriched_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full topology DSL in one dataflow: a sql-transform stream
    entity (large purchases), a table entity (each user's LATEST error
    event — KTable compaction), and a join entity (stream⋈table
    enrichment, left) — all declared as data and compiled in batch mode.
    Extends the reference's topology (core.clj:139-157) with the
    KStream⋈KTable pattern its stack offers but never exercises. The
    oracle is the equivalent SQL: compaction ≡ per-user max, join ≡
    LEFT JOIN."""
    from kafka_streams_the_clojure_way_spark.plans import compile_topology

    ev = load_table(spark, sf_dir, "events")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", F.unix_micros("ts").alias("last_error_us"))
    )
    topo = {
        "entities": {
            "topic/purchases": {"type": "topic"},
            "topic/error-log": {"type": "topic"},
            "stream/large": {
                "type": "stream",
                "sql": "SELECT purchase_id, user_id, amount FROM __input__ "
                "WHERE amount >= 100",
            },
            "table/last-error": {
                "type": "table",
                "key": "user_id",
                "seq": "last_error_us",
            },
            "join/enriched": {"type": "join", "on": ["user_id"], "how": "left"},
            "topic/out": {"type": "topic"},
        },
        "workflow": [
            ["topic/purchases", "stream/large"],
            ["topic/error-log", "table/last-error"],
            ["stream/large", "join/enriched"],
            ["table/last-error", "join/enriched"],
            ["join/enriched", "topic/out"],
        ],
    }
    compiled = compile_topology(
        spark,
        topo,
        inputs={
            "topic/purchases": purchases_stream(spark, sf_dir),
            "topic/error-log": errors,
        },
    )
    # join on=user_id puts the key first; realign to the declared shape
    return compiled["topic/out"].select(
        "purchase_id", "user_id", "amount", "last_error_us"
    )
