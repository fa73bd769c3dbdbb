"""Probe-during-compaction contract: every persisted index family
compacts into a fresh version directory and atomically repoints its
CURRENT pointer (``dedup.compact_index``). The contract pinned here:

- a probe sees a COMPLETE old-or-new snapshot, never a torn one — a
  probe planned before the repoint finishes on its version, and a crash
  before the repoint leaves the index as it was;
- writers stay single-writer, and every compact_* docstring must state
  the concurrency and crash contract, mechanically enforced below;
- the rename-aside dataset swap ``upsert_table`` still uses rolls back
  or completes on a crash at any step.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators import dedup as D
from kafka_streams_the_clojure_way_spark.sources import files as FS
from kafka_streams_the_clojure_way_spark.sources.files import load_table

# slow tier (r12): multi-minute suite, deselected by default (pytest.ini)
pytestmark = pytest.mark.slow


def _all_compact_fns():
    import inspect

    from kafka_streams_the_clojure_way_spark.operators import (
        audiofp,
        dedup,
        imagehash,
        similarity,
    )

    out = []
    for mod in (audiofp, dedup, imagehash, similarity):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("compact_") and fn.__module__ == mod.__name__:
                out.append((f"{mod.__name__}.{name}", fn))
    return out


def test_every_compact_documents_the_maintenance_window():
    """All nine families' compact docstrings must state the
    single-writer / not-concurrent-probe-safe contract — a new family
    that forgets fails here, not in production."""
    fns = _all_compact_fns()
    assert len(fns) >= 9, [n for n, _ in fns]
    for name, fn in fns:
        doc = (fn.__doc__ or "").lower()
        assert "concurrent" in doc, f"{name} missing the concurrency contract"
        assert "crash" in doc or "rename-aside" in doc, (
            f"{name} missing the crash-safety contract"
        )


def test_swap_crash_midway_rolls_back_to_complete_old(tmp_path, monkeypatch):
    """Inject a failure between the two renames of _swap_dataset: the
    old dataset must return to its path COMPLETE — a probe running in
    the next batch window sees exactly the pre-compact answers."""
    import shutil

    src = tmp_path / "data"
    src.mkdir()
    (src / "part-0").write_text("old")
    tmp = tmp_path / "data.__compact_tmp__"
    tmp.mkdir()
    (tmp / "part-0").write_text("new")

    real_rename = os.rename
    calls = {"n": 0}

    def failing_rename(a, b):
        calls["n"] += 1
        if calls["n"] == 2:  # the rename-new-in step
            raise OSError("injected crash mid-swap")
        real_rename(a, b)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected crash"):
        FS._swap_dataset(str(src), str(tmp))
    monkeypatch.setattr(os, "rename", real_rename)

    # rollback: old dataset back in place, complete
    assert (src / "part-0").read_text() == "old"
    shutil.rmtree(tmp, ignore_errors=True)

    # leftover .__swap_old__ from a crash AFTER the swap is healed on
    # the next compact attempt
    old_leftover = tmp_path / "data.__swap_old__"
    old_leftover.mkdir()
    (old_leftover / "junk").write_text("stale")
    tmp2 = tmp_path / "data.__compact_tmp__"
    tmp2.mkdir()
    (tmp2 / "part-0").write_text("new2")
    FS._swap_dataset(str(src), str(tmp2))
    assert (src / "part-0").read_text() == "new2"
    assert not old_leftover.exists()


def test_minhash_versioned_compact_serves_probes_during_compact(
    spark, tmp_path, monkeypatch
):
    """Snapshot reads (minhash as the template family): a compact writes a NEW version dir and atomically repoints CURRENT —
    so a probe whose plan was built BEFORE the repoint still collects
    its exact pre-compact answers afterwards (its snapshot's files are
    never touched), a probe built AFTER reads the new version, a crash
    before the repoint changes nothing for readers, and GC reclaims
    stale versions without disturbing the current one. No maintenance
    window for readers; writers stay single-writer."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    corpus_a = docs.filter(F.col("doc_id") % 3 == 1)
    corpus_b = docs.filter(F.col("doc_id") % 3 == 2)
    probe = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    path = str(tmp_path / "mh_idx")
    D.build_minhash_index(corpus_a, path)
    D.minhash_index_upsert(spark, path, corpus_b)
    # tombstone one corpus doc so the compact folds real deletes
    victim = corpus_b.select("doc_id").limit(1).collect()[0][0]
    D.minhash_index_delete(spark, path, [victim])

    def answers(frame=None):
        frame = (
            D.minhash_index_probe(spark, path, probe) if frame is None else frame
        )
        return sorted(
            (r.probe_id, r.corpus_id, r.jaccard) for r in frame.collect()
        )

    before = answers()
    assert before, "fixture must produce at least one near-dup pair"
    assert all(c != victim for _, c, _ in before)
    built = D.index_dataset_root(path)

    # (a) crash BEFORE the repoint: readers never see the half-built
    # version (CURRENT unchanged), and the retry is clean
    def boom(_path, _rel):
        raise OSError("injected crash before repoint")

    monkeypatch.setattr(D, "_repoint_index_version", boom)
    with pytest.raises(OSError, match="injected crash"):
        D.compact_minhash_index(spark, path)
    monkeypatch.undo()
    assert D.index_dataset_root(path) == built  # pointer untouched
    assert answers() == before

    # (b) in-flight probe across a successful repoint: plan built on the
    # OLD version, collected AFTER the swap — identical answers, because
    # the old version's files are left in place for it
    inflight = D.minhash_index_probe(spark, path, probe)
    D.compact_minhash_index(spark, path)
    root = D.index_dataset_root(path)
    assert root != built and os.path.basename(root).startswith("v_")
    assert answers(inflight) == before

    # (c) post-repoint probe reads the new version (tombstones folded
    # physically — the dir is gone from the new root), same answers
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    assert answers() == before

    # (d) a second compact + GC: the built, orphaned and superseded
    # version dirs are reclaimed; the current version serves
    D.compact_minhash_index(spark, path)
    deleted = D.gc_index_versions(path)
    assert built in deleted and root in deleted, deleted
    current = D.index_dataset_root(path)
    assert [n for n in os.listdir(path) if n.startswith("v_")] == [
        os.path.basename(current)
    ]
    assert os.path.isdir(os.path.join(current, "bands"))
    assert answers() == before

    # (e) upserts land in the CURRENT version: a new batch probed after
    # an upsert matches against it
    extra = probe.select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text")
    D.minhash_index_upsert(spark, path, extra)
    after_upsert = answers()
    assert any(c >= 5_000_000 for _, c, _ in after_upsert)


def test_hash_versioned_compact_serves_probes_during_compact(spark, tmp_path):
    """Snapshot reads on the SECOND family (hash index): same contract as the minhash template — in-flight probe
    finishes on its snapshot across a repoint, post-repoint probes read
    the new version with tombstones folded, GC reclaims stale versions,
    upserts land in the current version."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    # probes are byte-identical re-crawls of corpus docs under new ids
    probe = corpus.limit(30).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    path = str(tmp_path / "hx")
    D.build_hash_index(corpus.filter(F.col("doc_id") % 3 == 1), path)
    D.hash_index_upsert(spark, path, corpus.filter(F.col("doc_id") % 3 == 2))
    victim = corpus.select("doc_id").limit(1).collect()[0][0]
    D.hash_index_delete(spark, path, [victim])

    def answers(frame=None):
        frame = D.hash_index_probe(spark, path, probe) if frame is None else frame
        return sorted((r.probe_id, r.corpus_id) for r in frame.collect())

    before = answers()
    assert before and all(c != victim for _, c in before)

    built = D.index_dataset_root(path)
    inflight = D.hash_index_probe(spark, path, probe)
    D.compact_hash_index(spark, path)
    root = D.index_dataset_root(path)
    assert root != built and os.path.basename(root).startswith("v_")
    assert answers(inflight) == before          # snapshot intact
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    assert answers() == before                  # new version serves

    deleted = D.gc_index_versions(path)
    assert deleted == [built] and not os.path.isdir(built)
    assert answers() == before

    extra = probe.select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text")
    D.hash_index_upsert(spark, path, extra)
    assert any(c >= 5_000_000 for _, c in answers())
