"""Composable record pipelines — the Spark analogue of the reference's
transducers (reference: core.clj:98-134).

The reference expresses reusable stream transforms as composed transducers
``(comp (filter f) (map g))`` (core.clj:100-105, 112-118) applied to a
KStream via ``transduce-stream``. The Spark-native equivalent is a plain
``DataFrame -> DataFrame`` callable; ``compose`` chains them and
``DataFrame.transform`` applies them. Catalyst fuses chained narrow
transforms into a single whole-stage-codegen'd stage, giving the same
"one pass, no intermediate collections" guarantee transducer fusion gives.

Semantics preserved from the reference (SURVEY.md §2.3):
- filter-before-project ordering is the *definition* order; Catalyst may
  reorder physically but results match,
- keys/grouping columns are never changed by these transforms, so no
  shuffle is ever introduced,
- cents->dollars uses integer (floor-for-positives) division
  (core.clj:118: ``(int (/ cents 100))``).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: A pipeline stage: any DataFrame -> DataFrame callable.
Pipeline = Callable[[DataFrame], DataFrame]


def compose(*stages: Pipeline) -> Pipeline:
    """Left-to-right composition, like ``(comp (filter f) (map g))`` applied
    in transducer order (reference: core.clj:100-105). ``compose(a, b)(df)``
    runs ``a`` first, then ``b``."""

    def composed(df: DataFrame) -> DataFrame:
        return reduce(lambda acc, stage: stage(acc), stages, df)

    return composed


def keep(predicate: Column | str) -> Pipeline:
    """Filter stage ≙ ``(filter pred)`` (reference: core.clj:102-103)."""

    def stage(df: DataFrame) -> DataFrame:
        return df.filter(predicate)

    return stage


def select_keys(*cols: Column | str) -> Pipeline:
    """Projection stage ≙ ``(map #(select-keys % ks))``
    (reference: core.clj:104-105). Also the manual column-pruning idiom —
    Catalyst pushes the pruning into the scan."""

    def stage(df: DataFrame) -> DataFrame:
        return df.select(*cols)

    return stage


def derive(**named: Column) -> Pipeline:
    """Map-with-derived-columns stage ≙ the donation pipeline's value rewrite
    (reference: core.clj:116-118). Adds/replaces columns by name."""

    def stage(df: DataFrame) -> DataFrame:
        return df.withColumns(dict(named))

    return stage


def rename(**mapping: str) -> Pipeline:
    """Rename stage: ``rename(new=old, ...)``."""

    def stage(df: DataFrame) -> DataFrame:
        out = df
        for new, old in mapping.items():
            out = out.withColumnRenamed(old, new)
        return out

    return stage


def merge(*others: DataFrame) -> Pipeline:
    """Merge/union stage ≙ ``js/merge`` (reference: core.clj:130-134).
    Schema-aligned by name, exactly like the reference aligns both branches
    to ``{:amount :user-id}`` before merging (core.clj:82,117-118)."""

    def stage(df: DataFrame) -> DataFrame:
        return reduce(DataFrame.unionByName, others, df)

    return stage


# ---------------------------------------------------------------------------
# The reference's two concrete pipelines (core.clj:100-105 and 112-118),
# expressed over the driver's `events` table:
#   purchases ≙ events with event_type='purchase'  (amount  = value)
#   donations ≙ events with event_type='view'      (cents   = floor(value*100))
# ---------------------------------------------------------------------------

def large_purchases(df: DataFrame) -> DataFrame:
    """≙ purchase-made -> large-transaction pipeline (core.clj:100-105):
    keep amount >= 100, project {user-id, amount}. (Column exprs are built
    at call time — classic PySpark Columns need a live SparkContext.)"""
    return compose(
        keep(F.col("amount") >= 100),
        select_keys("user_id", "amount"),
    )(df)


def large_donations(df: DataFrame) -> DataFrame:
    """≙ humble-donation -> large-transaction pipeline (core.clj:112-118):
    keep cents >= 10000, derive amount = int(cents/100) (integer division,
    core.clj:118), project."""
    return compose(
        keep(F.col("donation_amount_cents") >= 10000),
        derive(amount=F.floor(F.col("donation_amount_cents") / F.lit(100)).cast("long")),
        select_keys("user_id", "amount"),
    )(df)
