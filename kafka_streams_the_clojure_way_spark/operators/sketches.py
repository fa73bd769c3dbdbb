"""Sketch-based operators whose FINAL answers are still exact.

The streaming-sketch literature (Misra-Gries '82; Space-Saving, Metwally
et al. ICDT'05) gives bounded-memory summaries whose guarantees compose
into *exact* distributed answers via the classic two-pass shape:

  pass 1  per-partition sketch  -> tiny candidate summary (k rows/partition)
  pass 2  exact recount of candidates only -> exact heavy hitters

At 100 TB this matters because the naive ``explode -> groupBy token``
shuffles the full token multiset (≈ corpus size); the sketch pass shuffles
``k`` rows per partition — a ~10^6x reduction — and the recount pass
broadcast-prunes the explode before any shuffle, so only heavy-candidate
tokens ever leave the scan stage.

The per-partition pass is Python (Arrow-batched ``mapInPandas``): the
counter update runs vectorized per Arrow batch (value_counts) with the
mergeable-summaries MG reduction between batches (r12) — same k-counter
memory bound and survival guarantee as the sequential update. It is
the *summary* path, not a row-at-a-time UDF in a relational hot path —
its output is O(k) per partition regardless of input size.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: counters per partition; final threshold is ceil(N / K). Misra-Gries
#: guarantees every item with partition count > n_p/(K+1) survives its
#: partition's sketch, so (pigeonhole over partitions) every item with
#: GLOBAL count > N/(K+1) appears in >= 1 partition summary — and
#: ceil(N/K) > N/(K+1), so the recount-and-filter result is exact.
HEAVY_HITTER_K = 64


def _mg_partition(k: int):
    import numpy as np
    import pandas as pd

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # Batched Misra-Gries via summary MERGE (r12, guide §4.2): each
        # Arrow batch is counted vectorized (value_counts), added into
        # the running summary, and the summary reduced back to <= k
        # entries by subtracting the (k+1)-th largest count and dropping
        # non-positives — the mergeable-summaries MG reduction (Agarwal
        # et al., PODS'12), whose undercount bound is the sequential
        # sketch's n_p/(k+1), so every token with partition count >
        # n_p/(k+1) still survives and the recount-filter result is
        # unchanged. Memory stays bounded: <= k carried entries plus one
        # batch's vocabulary (batches are Arrow-sized, ~10k rows). The
        # former per-token Python loop was ~10x slower per corpus pass.
        counters = pd.Series(dtype="int64")
        total = 0
        for pdf in batches:
            # NULL text rows arrive as None arrays; DuckDB's
            # unnest(NULL) silently emits no rows, so skipping (not
            # crashing) is the cross-engine-consistent behavior.
            arrs = [np.asarray(a, dtype=object) for a in pdf["toks"] if a is not None]
            if not arrs:
                continue
            flat = np.concatenate(arrs)
            # null tokens are neither counted nor candidates, so the
            # total and the counters count the same tokens
            flat = flat[pd.notna(flat)]
            total += len(flat)
            counters = counters.add(
                pd.Series(flat).value_counts(), fill_value=0
            ).astype("int64")
            if len(counters) > k:
                v = counters.nlargest(k + 1).iloc[-1]
                counters = counters - int(v)
                counters = counters[counters > 0]
        yield pd.DataFrame(
            {
                "token": list(counters.index) + [None],
                "cnt": [int(v) for v in counters.to_numpy()] + [total],
            }
        )

    return fn


def exact_heavy_hitters(
    df: DataFrame, items, k: int = HEAVY_HITTER_K
) -> DataFrame:
    """Exact tokens with frequency >= ceil(N/k), via a Misra-Gries
    candidate pass + exact recount (two scans, no full-vocabulary
    shuffle).

    ``items`` is an array<string> Column (e.g. the token split of a text
    column). Output: ``(token, freq)`` — bit-exact and deterministic: the
    sketch pass depends on partition layout, but any run's candidate set
    is a superset of the true heavy hitters, and the recount filters by
    the true threshold.
    """
    toks_df = df.select(items.alias("toks"))
    summary = toks_df.mapInPandas(
        _mg_partition(k), schema="token string, cnt long"
    ).localCheckpoint(eager=True)  # tiny (<= (k+1) rows/partition); computed once

    candidates = summary.where(F.col("token").isNotNull()).select("token").distinct()
    total = summary.where(F.col("token").isNull()).agg(F.sum("cnt").alias("n"))

    recount = (
        toks_df.select(F.explode("toks").alias("token"))
        .join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    return (
        recount.crossJoin(F.broadcast(total))
        .where(F.col("freq") >= F.ceil(F.col("n").cast("double") / k).cast("long"))
        .select("token", "freq")
    )


def exact_heavy_hitters_sql(
    table: str, items_sql: str, k: int = HEAVY_HITTER_K
) -> str:
    """DuckDB twin: the plain two-CTE group-by the sketch path avoids."""
    return f"""
    WITH tok AS (SELECT * FROM (SELECT unnest({items_sql}) AS token FROM {table})
                 WHERE token IS NOT NULL),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token)
    SELECT c.token, c.freq
    FROM cnt c, tot t
    WHERE c.freq >= CAST(ceil(CAST(t.n AS DOUBLE) / {k}) AS BIGINT)
    """
