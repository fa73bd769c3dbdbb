"""Topology compiler: dict spec -> one DataFrame per entity
(reference: willa's ``w/build-topology!`` at core.clj:207-209).

The compiler walks the validated DAG in topological order:

- **source topics** (no in-edges) bind to a caller-supplied DataFrame
  (batch ``createDataFrame``/parquet, or a streaming reader — the DataFrame
  API is mode-agnostic, so the same compiler serves ``run-experiment``-style
  offline simulation and live streaming),
- **streams** apply their ``xform`` pipeline to the merged parent frames,
- **fan-in** (≥2 in-edges, core.clj:152-153) merges parents with
  ``unionByName`` after checking union compatibility — the schema-drift
  check the reference leaves to convention (SURVEY.md §2.3),
- **sink topics** carry the merged parent frame; actually writing it is the
  runner's job (``streaming.runner`` / ``df.write``).

Scale note: nothing here adds a shuffle — merges are unions and xforms are
whatever the pipeline does; Catalyst sees one logical plan per entity and
optimizes across the whole chain (fusion, pushdown, pruning).

Sibling fusion: Catalyst keeps one scan per union leg, so a fan-in whose
parents all filter and project one shared source (the flagship topology's
two topics over one ``events`` stream) would read it once per parent.
When every parent is, after optimization, an optional deterministic
``Project`` over an optional ``Filter`` over one identical leaf, with the
same (name, type) column sequence, the merge is one pass instead:
``leaf.filter(c1 | … | ck)`` then ``inline`` of one ``struct(ci AS keep,
pi…)`` per branch, filtered on ``keep``. The multiset is the union's (a
row kept by two branches is emitted twice), and a streaming query keeps
one source. Every other fan-in is a ``unionByName``.
"""

from __future__ import annotations

import itertools
import operator
import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.column import Column
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from kafka_streams_the_clojure_way_spark.plans.spec import (
    Topology,
    TopologyError,
    parents_of,
    topo_order,
    validate_topology,
)


def _merge_parents(name: str, frames: list[DataFrame]) -> DataFrame:
    if len(frames) == 1:
        return frames[0]
    # Union compatibility check — fail fast with entity context instead of
    # a deep AnalysisException at action time.
    first_cols = set(frames[0].columns)
    for frame in frames[1:]:
        if set(frame.columns) != first_cols:
            raise TopologyError(
                f"merge into {name!r} has incompatible schemas: "
                f"{sorted(first_cols)} vs {sorted(frame.columns)}"
            )
    fused = _fuse_siblings(frames)
    return fused if fused is not None else reduce(DataFrame.unionByName, frames)


#: the struct field carrying a fused branch's condition
_KEEP = "__fanin_keep"
_ROW_LOCAL = ("Project", "Filter", "SubqueryAlias")


def _row_local_leaf(plan):
    """The leaf under a chain of row-local nodes of an analyzed plan, or
    None — the cheap test that decides whether the optimizer runs."""
    while plan.nodeName() in _ROW_LOCAL:
        plan = plan.child()
    return plan if plan.children().isEmpty() else None


def _branch(plan):
    """``(leaf, condition or None, projection)`` of an optimized
    ``Project? -> Filter? -> leaf`` with deterministic expressions only,
    or None."""
    proj = cond = None
    if plan.nodeName() == "Project":
        proj, plan = plan.projectList(), plan.child()
    if plan.nodeName() == "Filter":
        cond, plan = plan.condition(), plan.child()
    if not plan.children().isEmpty():
        return None
    proj = plan.output() if proj is None else proj
    exprs = [proj.apply(i) for i in range(proj.size())]
    if not all(e.deterministic() for e in exprs + [cond] if e is not None):
        return None
    return plan, cond, exprs


def _fuse_siblings(frames: list[DataFrame]) -> DataFrame | None:
    """The fan-in as one pass over the parents' shared leaf (see the
    module docstring), or None when a parent does not qualify."""
    schema = [(f.name, f.dataType) for f in frames[0].schema]
    if any(name == _KEEP for name, _ in schema) or any(
        [(f.name, f.dataType) for f in df.schema] != schema for df in frames[1:]
    ):
        return None
    analyzed = [df._jdf.queryExecution().analyzed() for df in frames]
    leaves = [_row_local_leaf(plan) for plan in analyzed]
    if any(leaf is None or not leaf.equals(leaves[0]) for leaf in leaves):
        return None
    spark = frames[0].sparkSession
    # optimizedPlan() refuses streaming frames outside writeStream.start()
    optimizer = spark._jsparkSession.sessionState().optimizer()
    branches = [_branch(optimizer.execute(plan)) for plan in analyzed]
    if any(b is None or not b[0].equals(branches[0][0]) for b in branches):
        return None
    classic = spark._jvm.org.apache.spark.sql.classic

    def col(expr) -> Column:
        return Column(classic.ExpressionUtils.column(expr))

    conds, structs = [], []
    for _, cond, exprs in branches:
        keep = F.lit(True) if cond is None else col(cond)
        # A computed column is evaluated only on its branch's rows, as in
        # the union: a projection that fails elsewhere (an ANSI divide by
        # zero the branch filters out) must not fail on a sibling's rows.
        fields = [
            (F.when(keep, col(e.child())) if cond is not None and e.nodeName() == "Alias"
             else col(e)).alias(name)
            for e, (name, _) in zip(exprs, schema)
        ]
        conds.append(keep)
        structs.append(F.struct(keep.alias(_KEEP), *fields))
    leaf = ClassicDataFrame(classic.Dataset.ofRows(spark._jsparkSession, branches[0][0]), spark)
    if all(cond is not None for _, cond, _ in branches):
        leaf = leaf.filter(reduce(operator.or_, conds))
    return leaf.select(F.inline(F.array(*structs))).filter(F.col(_KEEP)).drop(_KEEP)


def compile_topology(
    spark: SparkSession,
    topology: Topology,
    inputs: dict[str, DataFrame],
) -> dict[str, DataFrame]:
    """Compile a validated topology into a DataFrame per entity.

    ``inputs`` maps each *source* entity name (no in-edges) to its
    DataFrame. Returns ``{entity_name: DataFrame}`` for every entity, so
    callers can run/inspect any node — the property ``run-experiment``
    relies on (core.clj:224-234, outputs read per entity at 240-244).
    """
    validate_topology(topology)
    entities = topology["entities"]
    parents = parents_of(topology)
    compiled: dict[str, DataFrame] = {}

    for name in topo_order(topology):
        ent = entities[name]
        ups = parents[name]
        if not ups:
            if name not in inputs:
                raise TopologyError(
                    f"source entity {name!r} has no in-edges and no bound input DataFrame"
                )
            frame = inputs[name]
        elif ent["type"] == "join":
            if len(ups) != 2:
                raise TopologyError(
                    f"join entity {name!r} needs exactly 2 parents, has {len(ups)}"
                )
            left, right = (compiled[p] for p in ups)
            frame = left.join(right, on=list(ent["on"]), how=ent.get("how", "inner"))
        else:
            frame = _merge_parents(name, [compiled[p] for p in ups])
        if ent["type"] == "stream" and ent.get("xform") is not None:
            frame = frame.transform(ent["xform"])
        elif ent["type"] == "stream" and ent.get("sql") is not None:
            frame = _apply_sql(spark, frame, ent["sql"])
        elif ent["type"] == "table":
            frame = _compact_table(frame, ent["key"], ent["seq"])
        compiled[name] = frame

    return compiled


def _compact_table(frame: DataFrame, key: str, seq: str) -> DataFrame:
    """KTable semantics: latest record per ``key`` by ``seq``. One
    max_by aggregate — a single shuffle on the key in batch; in
    streaming the SAME expression is an update-mode stateful aggregate
    (state = one packed row per key, the changelog-compaction memory
    model). Ties on ``seq`` resolve to an arbitrary contender, exactly
    like log compaction with duplicate offsets — give seq a unique
    tiebreaker if that matters."""
    from pyspark.sql import functions as F

    packed = F.max_by(F.struct(*frame.columns), F.col(seq))
    return frame.groupBy(key).agg(packed.alias("__latest")).select("__latest.*")


_view_counter = itertools.count()

# ``__input__`` as an identifier token: not preceded/followed by a word
# character or quote, so occurrences inside quoted SQL string literals
# ('...__input__...') are left alone.
_INPUT_TOKEN = re.compile(r"(?<![\w'\"])__input__(?![\w'\"])")


def _apply_sql(spark: SparkSession, frame: DataFrame, sql: str) -> DataFrame:
    """Run a SQL transform against the entity's merged input, exposed as
    ``__input__``. A unique temp view per application keeps concurrent
    compiles (and re-compiles of the same topology) from colliding; works
    identically on streaming frames (temp views are mode-agnostic). The
    view is dropped immediately after planning — DataFrames are analyzed
    eagerly, so the view's plan is already inlined and nothing leaks into
    the session catalog."""
    vname = f"__topology_input_{next(_view_counter)}"
    frame.createOrReplaceTempView(vname)
    try:
        return spark.sql(_INPUT_TOKEN.sub(vname, sql))
    finally:
        spark.catalog.dropTempView(vname)


def sink_entities(topology: Topology) -> list[str]:
    """Entities with in-edges but no out-edges — the topology's outputs."""
    has_out = {src for src, _ in topology["workflow"]}
    has_in = {dst for _, dst in topology["workflow"]}
    return sorted(has_in - has_out)
