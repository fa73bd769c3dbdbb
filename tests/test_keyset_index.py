"""Keyset index (bloom-fronted exact-membership set over raw string
keys — the decontamination serve path): membership answers must be
EXACT (bloom FPs die in the raw-string confirm join, zero FNs
structurally), probes must prune both the bits and the keys scans to
the probed segments, upsert must equal rebuild and stay idempotent,
and the registered bloom-gated contamination query must reproduce the
broadcast form's rows bit-for-bit.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators.dedup import (
    build_keyset_index,
    compact_keyset_index,
    index_dataset_root,
    keyset_index_probe,
    keyset_index_upsert,
)

import pytest

# slow tier (r12): multi-minute suite, deselected by default (pytest.ini)
pytestmark = pytest.mark.slow

MEMBERS = [f"gram {i} alpha" for i in range(40)]
OTHERS = [f"gram {i} beta" for i in range(60)]


def _df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "key string")


def _got(spark, path, probe_keys):
    return sorted(
        r.key for r in keyset_index_probe(spark, path, _df(spark, probe_keys)).collect()
    )


def test_membership_is_exact(spark, tmp_path):
    """Probe(members ∪ non-members) must return exactly the members —
    no bloom false positive may leak through the confirm, and
    duplicate probe keys collapse to one answer."""
    path = str(tmp_path / "ks")
    build_keyset_index(_df(spark, MEMBERS), path)
    probe = MEMBERS[:10] + OTHERS + MEMBERS[:10]  # dup probes too
    assert _got(spark, path, probe) == sorted(set(MEMBERS[:10]))
    assert _got(spark, path, OTHERS) == []


def test_probe_prunes_both_scans(spark, tmp_path):
    """Both the bits scan and the keys scan must carry literal segment
    PartitionFilters — at scale a probe batch reads only its probed
    directories of either leg."""
    path = str(tmp_path / "ks")
    build_keyset_index(_df(spark, MEMBERS), path)
    probe = keyset_index_probe(spark, path, _df(spark, MEMBERS[:2]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pfs = [
        p
        for p in re.findall(r"PartitionFilters: \[([^\]]*)", plan)
        if re.search(r"segment#\d+ IN|segment#\d+ = ", p)
    ]
    assert len(pfs) >= 2, plan[:3000]


def test_upsert_equals_rebuild_and_is_idempotent(spark, tmp_path):
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_keyset_index(_df(spark, MEMBERS[:20]), inc)
    keyset_index_upsert(spark, inc, _df(spark, MEMBERS[20:]))
    build_keyset_index(_df(spark, MEMBERS), full)
    probe = MEMBERS + OTHERS
    assert _got(spark, inc, probe) == _got(spark, full, probe) == sorted(MEMBERS)
    keyset_index_upsert(spark, inc, _df(spark, MEMBERS))  # replay: no-op
    assert _got(spark, inc, probe) == sorted(MEMBERS)
    # keys table stays duplicate-free (upsert anti-joins existing members)
    n_rows = spark.read.parquet(os.path.join(index_dataset_root(inc), "keys")).count()
    assert n_rows == len(MEMBERS)


def test_compaction_is_invisible_and_restores_layout(spark, tmp_path):
    path = str(tmp_path / "ks")
    build_keyset_index(_df(spark, MEMBERS[:20]), path)
    for lo in (20, 25, 30, 35):
        keyset_index_upsert(spark, path, _df(spark, MEMBERS[lo : lo + 5]))
    before = _got(spark, path, MEMBERS + OTHERS)
    compact_keyset_index(spark, path)
    assert _got(spark, path, MEMBERS + OTHERS) == before == sorted(MEMBERS)
    for leg in ("bits", "keys"):
        for dirpath, _, files in os.walk(os.path.join(index_dataset_root(path), leg)):
            n = sum(1 for f in files if f.endswith(".parquet"))
            if n:
                assert n == 1, f"{dirpath} has {n} files after compaction"


def test_bloom_gated_contamination_matches_broadcast_form(spark):
    """The registered serve-path query must reproduce the broadcast
    form's per-doc contamination rows exactly on real testdata."""
    from kafka_streams_the_clojure_way_spark.queries.llm_pipeline import (
        text_contamination_bloom_gated,
        text_ngram_contamination,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, text_contamination_bloom_gated(spark, sf).collect()))
    want = sorted(map(tuple, text_ngram_contamination(spark, sf).collect()))
    assert got == want and len(got) > 0
    assert any(r[2] > 0 for r in got), "fixture has no contaminated doc — weak test"
