"""Topology-as-data tests ≙ the reference's willa usage: offline
simulation with golden outputs (core.clj:224-244) and spec validation
rejecting bad topologies (core.clj:246-252)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark import pipelines as P
from kafka_streams_the_clojure_way_spark.plans import (
    TopologyError,
    compile_topology,
    run_experiment,
    to_dot,
    validate_topology,
)
from kafka_streams_the_clojure_way_spark.plans.compiler import sink_entities
from kafka_streams_the_clojure_way_spark.queries.reference_queries import (
    donations_of,
    flagship_topology,
    purchases_of,
)
from kafka_streams_the_clojure_way_spark.sources.files import load_table


def test_run_experiment_flagship(spark):
    """≙ we/run-experiment with the reference's exact inputs
    (core.clj:226-234): one purchase of 200, one donation of 15000 cents.
    Expected: two large transactions (200 and 150)."""
    topo = flagship_topology()
    outputs = run_experiment(
        spark,
        topo,
        inputs={
            "topic/purchase-made": [
                {"purchase_id": 1, "user_id": 2, "amount": 200, "quantity": 1}
            ],
            "topic/humble-donation-made": [
                {"user_id": 3, "donation_amount_cents": 15000, "donation_date": "2019-01-02"}
            ],
        },
    )
    sink = sorted(
        outputs["topic/large-transaction-made"], key=lambda r: r["user_id"]
    )
    assert sink == [{"user_id": 2, "amount": 200}, {"user_id": 3, "amount": 150}]
    # every entity is annotated with its output (≙ ::we/output):
    assert outputs["stream/large-purchase-made"] == [{"user_id": 2, "amount": 200}]
    assert len(outputs["topic/purchase-made"]) == 1


def test_validation_rejects_cycle(spark):
    """≙ core.clj:249-252: a workflow loop must be rejected."""
    topo = flagship_topology()
    topo["workflow"].append(
        ["topic/large-transaction-made", "stream/large-purchase-made"]
    )
    with pytest.raises(TopologyError, match="cycle"):
        validate_topology(topo)


def test_validation_rejects_dangling_ref():
    topo = flagship_topology()
    topo["workflow"].append(["topic/purchase-made", "stream/missing"])
    with pytest.raises(TopologyError, match="undefined entity"):
        validate_topology(topo)


def test_validation_rejects_xform_on_topic():
    topo = flagship_topology()
    topo["entities"]["topic/purchase-made"]["xform"] = lambda df: df
    with pytest.raises(TopologyError, match="must not carry an xform"):
        validate_topology(topo)


def test_merge_schema_mismatch_fails_fast(spark):
    """The schema-drift check the reference leaves to convention
    (SURVEY §2.3): fan-in branches with different columns must fail at
    compile time with entity context."""
    topo = {
        "entities": {
            "topic/a": {"type": "topic"},
            "topic/b": {"type": "topic"},
            "topic/out": {"type": "topic"},
        },
        "workflow": [["topic/a", "topic/out"], ["topic/b", "topic/out"]],
    }
    a = spark.createDataFrame([{"x": 1}])
    b = spark.createDataFrame([{"y": 2}])
    with pytest.raises(TopologyError, match="incompatible schemas"):
        compile_topology(spark, topo, {"topic/a": a, "topic/b": b})


def test_missing_source_input_fails():
    topo = flagship_topology()
    with pytest.raises(TopologyError, match="no bound input"):
        from kafka_streams_the_clojure_way_spark.plans import compile_topology as ct

        ct(None, topo, {})


def test_sink_entities():
    assert sink_entities(flagship_topology()) == ["topic/large-transaction-made"]


def test_to_dot_renders_all_entities():
    dot = to_dot(flagship_topology())
    assert "digraph" in dot
    for name in flagship_topology()["entities"]:
        assert name in dot
    assert '"stream/large-purchase-made" -> "topic/large-transaction-made"' in dot


def test_fan_in_merges_streams(spark):
    """Two edges into one entity = union at that node (core.clj:152-153)."""
    topo = {
        "entities": {
            "topic/a": {"type": "topic"},
            "topic/b": {"type": "topic"},
            "stream/all": {"type": "stream", "xform": P.keep(F.col("v") > 0)},
        },
        "workflow": [["topic/a", "stream/all"], ["topic/b", "stream/all"]],
    }
    out = run_experiment(
        spark,
        topo,
        inputs={
            "topic/a": [{"v": 1}, {"v": -5}],
            "topic/b": [{"v": 7}],
        },
    )
    assert sorted(r["v"] for r in out["stream/all"]) == [1, 7]


def test_sql_entity_matches_xform_entity(spark):
    """A SQL-string stream entity must compute exactly what the
    equivalent xform pipeline computes (SQL frontend inside the
    topology DSL)."""
    from kafka_streams_the_clojure_way_spark import pipelines as P
    from kafka_streams_the_clojure_way_spark.plans import compile_topology

    rows = [(i, i % 3, 90 + i * 7, 1) for i in range(20)]
    df = spark.createDataFrame(
        rows, "purchase_id long, user_id long, amount long, quantity long"
    )

    def topo(entity):
        return {
            "entities": {
                "topic/in": {"type": "topic"},
                "stream/large": entity,
                "topic/out": {"type": "topic"},
            },
            "workflow": [["topic/in", "stream/large"], ["stream/large", "topic/out"]],
        }

    via_xform = compile_topology(
        spark, topo({"type": "stream", "xform": P.large_purchases}), {"topic/in": df}
    )["topic/out"]
    via_sql = compile_topology(
        spark,
        topo(
            {
                "type": "stream",
                "sql": "SELECT user_id, amount FROM __input__ WHERE amount >= 100",
            }
        ),
        {"topic/in": df},
    )["topic/out"]
    assert sorted(map(tuple, via_sql.collect())) == sorted(
        map(tuple, via_xform.collect())
    )


def test_sql_entity_validation(spark):
    import pytest

    from kafka_streams_the_clojure_way_spark.plans.spec import (
        TopologyError,
        validate_topology,
    )

    base = {
        "entities": {
            "topic/in": {"type": "topic"},
            "stream/s": {"type": "stream", "sql": "SELECT 1"},  # no __input__
            "topic/out": {"type": "topic"},
        },
        "workflow": [["topic/in", "stream/s"], ["stream/s", "topic/out"]],
    }
    with pytest.raises(TopologyError, match="__input__"):
        validate_topology(base)

    both = {
        "entities": {
            "topic/in": {"type": "topic"},
            "stream/s": {
                "type": "stream",
                "sql": "SELECT * FROM __input__",
                "xform": lambda d: d,
            },
            "topic/out": {"type": "topic"},
        },
        "workflow": [["topic/in", "stream/s"], ["stream/s", "topic/out"]],
    }
    with pytest.raises(TopologyError, match="both"):
        validate_topology(both)


def test_table_entity_compacts_to_latest_per_key(spark):
    """KTable semantics: the table entity holds each key's latest record
    by seq, across a merged (fan-in) input."""
    from kafka_streams_the_clojure_way_spark.plans import compile_topology

    a = spark.createDataFrame(
        [(1, 10, "a1"), (2, 11, "b1")], "user_id long, ts long, val string"
    )
    b = spark.createDataFrame(
        [(1, 20, "a2"), (3, 5, "c1")], "user_id long, ts long, val string"
    )
    topo = {
        "entities": {
            "topic/a": {"type": "topic"},
            "topic/b": {"type": "topic"},
            "table/users": {"type": "table", "key": "user_id", "seq": "ts"},
        },
        "workflow": [["topic/a", "table/users"], ["topic/b", "table/users"]],
    }
    out = compile_topology(spark, topo, {"topic/a": a, "topic/b": b})["table/users"]
    got = sorted(map(tuple, out.collect()))
    assert got == [(1, 20, "a2"), (2, 11, "b1"), (3, 5, "c1")]


def test_table_entity_validation(spark):
    import pytest

    from kafka_streams_the_clojure_way_spark.plans.spec import (
        TopologyError,
        validate_topology,
    )

    topo = {
        "entities": {
            "topic/a": {"type": "topic"},
            "table/t": {"type": "table", "key": "user_id"},  # missing seq
        },
        "workflow": [["topic/a", "table/t"]],
    }
    with pytest.raises(TopologyError, match="seq"):
        validate_topology(topo)


def test_join_entity_enriches_stream_with_table(spark):
    """join entity: purchases stream enriched with the users table
    (workflow parent order = left/right), composed with a table entity
    compacting the user changelog first."""
    from kafka_streams_the_clojure_way_spark.plans import compile_topology

    purchases = spark.createDataFrame(
        [(1, 1, 500), (2, 2, 40), (3, 9, 700)],
        "purchase_id long, user_id long, amount long",
    )
    user_log = spark.createDataFrame(
        [(1, 10, "ada"), (1, 20, "ada2"), (2, 5, "bob")],
        "user_id long, ts long, name string",
    )
    topo = {
        "entities": {
            "topic/purchases": {"type": "topic"},
            "topic/user-log": {"type": "topic"},
            "table/users": {"type": "table", "key": "user_id", "seq": "ts"},
            "join/enriched": {"type": "join", "on": ["user_id"], "how": "left"},
            "topic/out": {"type": "topic"},
        },
        "workflow": [
            ["topic/user-log", "table/users"],
            ["topic/purchases", "join/enriched"],
            ["table/users", "join/enriched"],
            ["join/enriched", "topic/out"],
        ],
    }
    out = compile_topology(
        spark, topo, {"topic/purchases": purchases, "topic/user-log": user_log}
    )["topic/out"]
    got = {r.purchase_id: (r.amount, r.name) for r in out.collect()}
    assert got == {1: (500, "ada2"), 2: (40, "bob"), 3: (700, None)}


def test_join_entity_validation(spark):
    import pytest

    from kafka_streams_the_clojure_way_spark.plans.spec import (
        TopologyError,
        validate_topology,
    )

    topo = {
        "entities": {
            "topic/a": {"type": "topic"},
            "topic/b": {"type": "topic"},
            "join/j": {"type": "join", "on": [], "how": "inner"},
        },
        "workflow": [["topic/a", "join/j"], ["topic/b", "join/j"]],
    }
    with pytest.raises(TopologyError, match="on="):
        validate_topology(topo)


def test_empty_input_flows_through_topology(spark):
    """Zero-row inputs must compile and produce zero-row outputs at every
    entity — no special-casing of the empty relation anywhere (table
    compaction and joins included)."""
    from kafka_streams_the_clojure_way_spark.plans import compile_topology

    schema = "user_id long, ts long, val string"
    empty = spark.createDataFrame([], schema)
    topo = {
        "entities": {
            "topic/a": {"type": "topic"},
            "table/t": {"type": "table", "key": "user_id", "seq": "ts"},
            "join/j": {"type": "join", "on": ["user_id"], "how": "left"},
            "topic/out": {"type": "topic"},
        },
        "workflow": [
            ["topic/a", "table/t"],
            ["topic/a", "join/j"],
            ["table/t", "join/j"],
            ["join/j", "topic/out"],
        ],
    }
    compiled = compile_topology(spark, topo, {"topic/a": empty})
    for name, df in compiled.items():
        assert df.count() == 0, name


def test_to_dot_annotates_experiment_outputs(spark):
    """≙ core.clj:237-244: view-topology over a run experiment renders
    every entity WITH its output rows. The annotated dot must carry the
    actual experiment values, left-justified per row, and truncate with
    an explicit marker."""
    topo = flagship_topology()
    outputs = run_experiment(
        spark,
        topo,
        inputs={
            "topic/purchase-made": [
                {"purchase_id": 1, "user_id": 2, "amount": 200, "quantity": 1}
            ],
            "topic/humble-donation-made": [
                {"user_id": 3, "donation_amount_cents": 15000, "donation_date": "2019-01-02"}
            ],
        },
    )
    dot = to_dot(topo, outputs=outputs)
    # annotated node labels carry the experiment values
    assert "amount=200" in dot and "amount=150" in dot
    assert "user_id=3" in dot
    # every entity node still renders, and plain rendering is unchanged
    for name in topo["entities"]:
        assert name in dot
    assert "\\l" in dot  # left-justified row lines
    plain = to_dot(topo)
    assert "amount=200" not in plain

    # truncation marker: cap at 1 row on a 2-row sink
    dot1 = to_dot(topo, outputs=outputs, max_rows=1)
    assert "more row(s)" in dot1


def test_sql_entity_literal_token_untouched_and_no_view_leak(spark):
    """The __input__ rewrite must be token-aware (occurrences inside SQL
    string literals survive) and must not leak temp views into the
    session catalog after compile."""
    rows = [{"v": 1}, {"v": -2}]
    topo = {
        "entities": {
            "topic/in": {"type": "topic"},
            "stream/tagged": {
                "type": "stream",
                "sql": "SELECT v, '__input__' AS tag FROM __input__ WHERE v > 0",
            },
        },
        "workflow": [["topic/in", "stream/tagged"]],
    }
    before = {v.name for v in spark.catalog.listTables()}
    compiled = compile_topology(
        spark, topo, {"topic/in": spark.createDataFrame(rows)}
    )
    got = [r.asDict() for r in compiled["stream/tagged"].collect()]
    assert got == [{"v": 1, "tag": "__input__"}]
    after = {v.name for v in spark.catalog.listTables()}
    assert not {t for t in after - before if t.startswith("__topology_input")}


def test_sql_on_join_or_table_entity_rejected():
    """The compiler only applies xform/sql on stream entities; carrying
    one on a join/table used to be silently ignored — now rejected."""
    topo = {
        "entities": {
            "topic/a": {"type": "topic"},
            "topic/b": {"type": "topic"},
            "join/j": {
                "type": "join",
                "on": ["k"],
                "sql": "SELECT * FROM __input__",
            },
        },
        "workflow": [["topic/a", "join/j"], ["topic/b", "join/j"]],
    }
    with pytest.raises(TopologyError, match="must not carry an xform/sql"):
        validate_topology(topo)


# ------------------------------------------------------------ sibling fusion

_FAN_IN = {
    "entities": {
        "topic/a": {"type": "topic"},
        "topic/b": {"type": "topic"},
        "topic/out": {"type": "topic"},
    },
    "workflow": [["topic/a", "topic/out"], ["topic/b", "topic/out"]],
}


def _flagship_inputs(events):
    return {
        "topic/purchase-made": purchases_of(events),
        "topic/humble-donation-made": donations_of(events),
    }


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _fan_in(spark, a, b):
    return compile_topology(spark, _FAN_IN, {"topic/a": a, "topic/b": b})["topic/out"]


def test_flagship_fan_in_fuses_into_one_scan(spark, sf_dir):
    """Both flagship topics filter one events relation: the fan-in reads
    it once (one leaf, no Union) and keeps the union's multiset."""
    events = load_table(spark, sf_dir, "events")
    out = compile_topology(spark, flagship_topology(), _flagship_inputs(events))[
        "topic/large-transaction-made"
    ]
    plan = _optimized(out)
    assert plan.collectLeaves().size() == 1
    assert "Union" not in plan.treeString()
    union = purchases_of(events).transform(P.large_purchases).unionByName(
        donations_of(events).transform(P.large_donations)
    )
    assert _rows(out) == _rows(union) and len(_rows(out)) > 0


def _range(spark, rows, **cols):
    """A non-local leaf (``range``): the optimizer folds filters over a
    ``createDataFrame`` relation into new local relations, which then no
    longer share a leaf."""
    return spark.range(rows).select(*(c.alias(name) for name, c in cols.items()))


def test_fused_fan_in_emits_a_row_once_per_branch(spark):
    i = F.col("id")
    base = _range(spark, 3, k=i + 1, v=F.when(i < 2, F.pow(10, i) * 5).cast("int"))
    out = _fan_in(spark, base.filter("v > 1").select("k"), base.filter("v > 10").select("k"))
    assert "Union" not in _optimized(out).treeString()
    assert _rows(out) == [(1,), (2,), (2,)]


def test_fused_branch_projection_runs_only_on_its_rows(spark):
    """Under ANSI a division the branch filters away must not fail on
    the sibling branch's rows."""
    i = F.col("id")
    base = _range(spark, 2, n=F.when(i == 0, 1).otherwise(6), d=(i * 3).cast("int"))
    a = base.filter("d != 0").select((F.col("n") / F.col("d")).alias("q"))
    b = base.filter("d = 0").select(F.lit(-1.0).alias("q"))
    out = _fan_in(spark, a, b)
    assert "Union" not in _optimized(out).treeString()
    assert _rows(out) == [(-1.0,), (2.0,)]


def test_fan_in_falls_back_to_union(spark):
    """Parents that are not row-local branches over one leaf with one
    column sequence keep the unionByName plan and its rows."""
    i = F.col("id")
    base = _range(spark, 4, k=i, v=i * 10)
    other = _range(spark, 3, k=i, v=i * 20)
    a = base.filter("v > 1").select("k", "v")
    cases = {
        "different leaves": (a, other.filter("v > 1")),
        "column order": (a, base.select("v", "k")),
        "column type": (a, base.select("k", F.col("v").cast("int").alias("v"))),
        "nondeterministic": (a, base.filter(F.rand(7) > 0.5).select("k", "v")),
        "join": (a, base.join(other.select("k"), "k").select("k", "v")),
        "aggregate": (a, base.groupBy("k").agg(F.max("v").alias("v"))),
    }
    for case, (x, y) in cases.items():
        out = _fan_in(spark, x, y)
        assert "Union" in _optimized(out).treeString(), case
        if case != "nondeterministic":
            assert _rows(out) == _rows(x.unionByName(y)), case


def test_streaming_flagship_reads_each_file_once(spark, sf_dir, tmp_path):
    """Over a file-source stream the fused fan-in keeps one source, each
    trigger reads each row once, and the sink equals the oracle."""
    import duckdb

    from kafka_streams_the_clojure_way_spark.queries import ORACLES

    src, ckpt, sink = (str(tmp_path / d) for d in ("src", "ckpt", "sink"))
    load_table(spark, sf_dir, "events").repartition(2).write.parquet(src)
    n_rows = spark.read.parquet(src).count()
    events = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = compile_topology(spark, flagship_topology(), _flagship_inputs(events))[
        "topic/large-transaction-made"
    ]
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(p.numInputRows for p in q.recentProgress) == n_rows
    assert sorted(os.listdir(os.path.join(ckpt, "sources"))) == ["0"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{src}/*.parquet'")
    want = sorted(con.sql(ORACLES["ref_topology_large_transactions"]).fetchall())
    assert _rows(spark.read.parquet(sink).select("user_id", "amount")) == want
