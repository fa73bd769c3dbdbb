"""Deduplication operators for LLM training-data pipelines (SURVEY.md §7
M5): exact, n-gram Jaccard, MinHash+LSH, and SimHash near-dup — each with
a DuckDB-SQL twin generated from the SAME constants, so every variant is
oracle-checkable end to end.

Scale design (the whole point of these operators at 100 TB):

- **exact**: hash-groupBy on a 60-bit content hash — one shuffle keyed by
  the hash, perfectly partition-parallel, AQE handles skew (identical
  boilerplate docs are exactly the skewed-key case).
- **n-gram Jaccard (exact)**: all-pairs via shingle inverted index. The
  shingle explode is linear; the candidate join is the quadratic hazard —
  NEVER run it unblocked at scale. It exists as the *verifier* and the
  small-data oracle; LSH below provides the candidates.
- **MinHash+LSH** (Broder'97 / Leskovec-Rajaraman-Ullman ch.3): k=16
  portable min-hashes, 4 bands x 4 rows. Candidates = equal band hash —
  an equi-join Spark executes as a shuffled hash join on the band key;
  cost is O(candidates), not O(n^2). Verification = exact Jaccard on
  candidates only.
- **SimHash** (Charikar'02; banding per Manku et al. WWW'07): 32-bit
  signature, 4 bands x 8 bits; hamming distance <= 3 guarantees >= 1
  exact band match (pigeonhole), so the band equi-join is again the only
  join. Popcount on a 32-bit xor is a single JVM instruction.

The reference has no dedup at all (stateless pipeline, SURVEY §2.2) —
this whole module is north-star surface.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.functions.portable import (
    MERSENNE_31,
    hash60,
    kernel,
    let_col,
)
from kafka_streams_the_clojure_way_spark.operators.text import tokens_col, tokens_sql
from kafka_streams_the_clojure_way_spark.sources.files import (
    change_token,
    compact_files,
    compact_partitioned,
    invalidate_static_schema,
    read_static_schema,
    with_min_parallelism,
)
from kafka_streams_the_clojure_way_spark.streaming.runner import (
    as_batch_sink,
    run_foreach_batch,
)

SHINGLE_K = 3

#: per-process cache of persisted-index meta rows, keyed by index path.
#: Meta is WRITE-ONCE per build (upsert/delete/compact never touch it),
#: so re-reading it per probe costs one driver-side Spark job each time
#: for bytes that cannot have changed — in the composed ingestion
#: pipeline that is 4-5 redundant jobs per batch. build_* functions
#: invalidate their path, which covers in-process rebuilds.
_INDEX_META_CACHE: dict[str, object] = {}


def _index_meta(spark, index_path: str):
    """The index's one meta row, cached per process (see cache note).
    Keys are normalized (normpath) so a trailing-slash or ``./`` spelling
    variant of the same directory cannot dodge invalidation and serve
    stale routing parameters. On local filesystems a cache hit also
    validates the meta dataset's ``change_token`` (part-file names embed
    task UUIDs, so any rebuild changes it regardless of timestamp
    granularity), so an out-of-process rebuild of the SAME path is
    picked up without a hook call; elsewhere (object stores), call
    :func:`invalidate_index_meta` after external rebuilds — or use a
    fresh path, the tempdir-per-build convention every shipped caller
    follows."""
    key = os.path.normpath(index_path)
    hit = _INDEX_META_CACHE.get(key)
    token = change_token(os.path.join(index_path, "meta"))
    if hit is not None:
        row, cached_token = hit
        if token is None or cached_token == token:
            return row
    row = spark.read.parquet(f"{index_path}/meta").collect()[0]
    _INDEX_META_CACHE[key] = (row, token)
    return row


def _invalidate_index_meta(path: str) -> None:
    _INDEX_META_CACHE.pop(os.path.normpath(path), None)
    # a rebuild may change dataset schemas too (e.g. a different id
    # column) — drop the per-dataset schema cache under the same root.
    invalidate_static_schema(path)


def invalidate_index_meta(path: str) -> None:
    """Public hook: drop the cached meta row for ``path``. Call after an
    index at ``path`` is REBUILT by another process (in-process rebuilds
    via build_* invalidate automatically). Upsert/delete/compact never
    touch meta, so they need no invalidation."""
    _invalidate_index_meta(path)


def _in_literals(expr_sql: str, values) -> "F.Column":
    """``expr IN (v1, v2, ...)`` over INT literals as ONE parsed
    expression (r11, guide §1/§4 driver costs): ``Column.isin()`` builds
    a py4j literal object per value — hundreds of driver round trips per
    probe compile for routed-partition key lists — while a single
    ``F.expr`` string is one round trip and parses JVM-side. The
    analyzed predicate is the same ``In(expr, literals)`` Catalyst node,
    so partition pruning (PartitionFilters) is unchanged. Values are
    forced through ``int()`` — never string-interpolate anything else."""
    vals = ",".join(str(int(v)) for v in values)
    return F.expr(f"{expr_sql} IN ({vals})")


def routing_keys(frame: DataFrame, key: str | Column, tag: str | None = None):
    """A probe's partition-routing keys: the distinct non-null values of
    ``key`` over ``frame``, as a sorted int list — or, with ``tag``, a
    dict of such lists per tag value (the multimodal router's tagged
    union of per-probe legs).

    ONE job of one shuffle-free stage: the key column is collected raw
    and deduplicated on the driver. A ``.distinct()`` would add an
    exchange, which AQE runs as a job of its own, for a result the
    driver dedupes in microseconds. ``frame`` MUST be batch-bounded:
    every caller already broadcasts it (or the frame it derives from)
    into its candidate join, so its rows fit the driver. A NULL key can
    name no partition directory, so dropping it prunes nothing away."""
    cols = [key] if tag is None else [key, tag]
    rows = frame.select(*cols).collect()
    if tag is None:
        return sorted({int(r[0]) for r in rows if r[0] is not None})
    keys: dict = {}
    for k, t in rows:
        if k is not None:
            keys.setdefault(t, set()).add(int(k))
    return {t: sorted(v) for t, v in keys.items()}


def cache_once(df: DataFrame, cache_registry: list | None = None) -> DataFrame:
    """``df.cache()``, appended to ``cache_registry`` for release —
    unless the session already caches the same plan. Two consumers can
    build one batch's frame: the curation topology's near-dup probe and
    a standalone minhash probe both sign the same arriving slice, and
    the first probe's cache lives for the process. The second
    ``.cache()`` was a no-op with a "cached already" warning, and
    registering the frame would let this caller's drain unpersist an
    entry the first consumer still reads; here the later consumer just
    reads the cached data."""
    cached = df.sparkSession._jsparkSession.sharedState().cacheManager()
    if cached.lookupCachedData(df._jdf).isDefined():
        return df
    df = df.cache()
    if cache_registry is not None:
        cache_registry.append(df)
    return df


# --------------------------------------------------------------------------
# Index lifecycle core: every persisted index family is a versioned
# snapshot, maintained through one compaction, GC and tombstone path
# --------------------------------------------------------------------------

#: pointer file naming the index's ACTIVE version directory (``v_NNNNNN``,
#: relative to the index root). Every build_* writes its datasets as a
#: new version (``v_000000`` on a fresh path) and this pointer; ``meta``
#: stays at the index root.
INDEX_CURRENT_POINTER = "CURRENT"


def index_dataset_root(index_path: str) -> str:
    """Resolve the ACTIVE version directory of a persisted index — the
    directory its data tables (bands/shingles/tombstones/...) live in.

    The lifecycle contract, shared by all nine index families:

    - **Snapshot reads.** Readers resolve the root ONCE per probe and
      read every dataset from it, so a probe is a consistent snapshot:
      a compaction never touches the files of a version it supersedes,
      so probes stay safe while it runs concurrently, and only
      :func:`gc_index_versions` deletes them later.
    - **Single writer.** Upserts, deletes and compactions land in (or
      read from) the current version; never run two of them
      concurrently.
    - **Crash safety.** A new version becomes visible only through the
      atomic rename of ``CURRENT``: a crash before it leaves an orphan
      version dir (readers unaffected, GC reclaims it), never a torn
      index.

    An index without ``CURRENT`` predates this layout (or is not an
    index at all) and raises instead of being read as something else."""
    try:
        with open(os.path.join(index_path, INDEX_CURRENT_POINTER)) as fh:
            rel = fh.read().strip()
    except OSError:
        rel = ""
    if not rel:
        raise FileNotFoundError(
            f"index at {index_path} has no CURRENT pointer; rebuild it with build_*"
        )
    return os.path.join(index_path, rel)


def _repoint_index_version(index_path: str, rel: str) -> None:
    """Atomically repoint the index's CURRENT pointer (write-temp +
    rename — POSIX-atomic, so a reader sees the old or the new version
    name, never a torn pointer)."""
    tmp = os.path.join(index_path, f".{INDEX_CURRENT_POINTER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(rel)
    os.replace(tmp, os.path.join(index_path, INDEX_CURRENT_POINTER))


def _version_dirs(index_path: str) -> list[str]:
    return sorted(
        name for name in os.listdir(index_path)
        if name.startswith("v_") and name[2:].isdigit()
    )


def compact_into_version(index_path: str, write_fn) -> str:
    """The one version writer (builds and compactions alike): allocate
    the next unused ``v_NNNNNN`` directory, let ``write_fn(newroot)``
    write the datasets into it, then atomically repoint CURRENT.
    Returns the new root. A crash inside ``write_fn`` leaves CURRENT
    untouched; never run it concurrently with another writer (see
    :func:`index_dataset_root`)."""
    os.makedirs(index_path, exist_ok=True)
    taken = [int(name[2:]) for name in _version_dirs(index_path)]
    rel = f"v_{max(taken, default=-1) + 1:06d}"
    newroot = os.path.join(index_path, rel)
    write_fn(newroot)
    _repoint_index_version(index_path, rel)
    return newroot


class IndexDataset(NamedTuple):
    """One dataset of an index layout: its directory name, its hive
    partition columns (empty = size-targeted files), and the rewrite
    rule compaction applies to its rows — ``rewrite(spark, df, root,
    meta)`` with ``root`` the version being compacted; None keeps the
    rows unchanged. A family's layout tuple is the one declaration of
    its datasets: builds write them, upserts append them and compaction
    rewrites them, always in layout order."""

    name: str
    partition_by: tuple[str, ...] = ()
    rewrite: Callable | None = None


def _write_dataset(df: DataFrame, root: str, ds: IndexDataset, mode: str) -> None:
    """The one dataset writer. A partitioned dataset is shuffled onto
    its partition columns first: one file per directory a write
    touches, where every upstream task would otherwise write a sliver
    into every directory and probes would pay the listing bill forever.
    An appended unpartitioned dataset is one file per batch."""
    if ds.partition_by:
        df = df.repartition(*ds.partition_by)
    elif mode == "append":
        df = df.coalesce(1)
    df.write.mode(mode).partitionBy(*ds.partition_by).parquet(f"{root}/{ds.name}")


@contextmanager
def _pins(persist, release):
    """``pin(df)`` for a row derivation: ``persist``s the frame its
    datasets share, and every pinned frame is ``release``d on exit,
    written or failed."""
    pinned: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        pinned.append(persist(df))
        return pinned[-1]

    try:
        yield pin
    finally:
        for df in pinned:
            release(df)


def _release_checkpoint(df: DataFrame) -> None:
    # a local checkpoint is a persisted RDD that DataFrame.unpersist
    # does not reach: release its blocks now, not at some later GC
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def build_index(
    corpus: DataFrame, path: str, layout, derive, meta: tuple, meta_schema: str
) -> None:
    """Write a fresh index at ``path``. ``derive(corpus, pin)`` is the
    family's row derivation — the one its upsert runs too — returning
    its datasets in ``layout`` order; it passes the one frame they share
    through ``pin``, here a ``.cache()`` released after the writes. The
    corpus arrives parallelism-guarded (``with_min_parallelism``). The
    datasets land in a new version directory (``v_000000`` on a fresh
    path; a rebuild leaves the old versions to GC) through
    :func:`compact_into_version`, then the one ``meta`` row (typed by
    ``meta_schema``) lands at the index root."""
    def write(root: str) -> None:
        with _pins(lambda df: df.cache(), lambda df: df.unpersist()) as pin:
            for ds, df in zip(layout, derive(with_min_parallelism(corpus), pin)):
                _write_dataset(df, root, ds, "overwrite")

    _invalidate_index_meta(path)
    compact_into_version(path, write)
    corpus.sparkSession.createDataFrame([meta], meta_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def index_upsert(
    spark,
    index_path: str,
    batch: DataFrame,
    layout,
    derive,
    *,
    id_col: str | None = None,
    assume_new_ids: bool = False,
) -> None:
    """ADD a batch to a persisted index without rebuilding it — the one
    write path behind every family's ``*_upsert`` (FAISS's ``add`` to
    the build's ``train``): the corpus is never re-signed, so keeping an
    index current costs O(batch) per ingestion cycle. In order:

    1. read meta and resolve the active version once (upserts land in
       the current version; single-writer contract: see
       :func:`index_dataset_root`);
    2. **add-only anti-join**: with ``id_col``, the batch's ids are
       anti-joined against ``meta.id_col`` of the key dataset,
       ``layout[0]``, unless ``assume_new_ids`` (which saves that one
       id-column scan when the caller guarantees disjoint ids). An id
       already present would duplicate its rows and double-count verify
       joins; this anti-join is what makes an at-least-once replay (a
       re-run ``foreachBatch``) idempotent — the idempotent sink that
       exactly-once streaming rests on. It runs before any signing, so
       replayed ids never reach a codec;
    3. the batch's ``id_col`` is renamed to ``meta.id_col``: a batch
       keyed differently from the build lands under the build's column;
    4. ``with_min_parallelism`` guards the codec stage (after the
       anti-join, whose shuffle would otherwise undo it);
    5. ``derive(batch, meta, root, pin)`` — the family's row derivation,
       the one its build runs — returns the datasets in layout order
       (None = nothing to append), passing the frame they share
       through ``pin``, here an EAGER ``localCheckpoint``. Not a
       ``.cache()``: the anti-join reads the key dataset the first
       append mutates, an append refreshes every cached plan over its
       path, and the later appends would recompute against the
       just-appended rows, anti-joining the whole batch away;
    6. every dataset is appended in layout order through the one
       dataset writer: at most ONE file per touched partition directory
       per batch, and one file per unpartitioned dataset. Compaction
       restores the build's file layout after many batches
       (:func:`compact_index`). The checkpoint is released after the
       last append, so a serve loop keeps no batch pinned.

    **Write order is the crash-retry contract**, so a layout lists its
    key dataset first. A crash between two appends leaves key rows
    without their later datasets; the retry's anti-join skips those ids,
    so they stop matching until a rebuild, but no row is ever
    duplicated. The reverse order would let every retry re-add the
    orphan rows of a later dataset, and every later probe would pay for
    them. For exactly-once adds under crashes, wrap upserts in an
    external commit marker.

    ``id_col=None`` skips steps 2-3, for families whose batches carry
    no ids to anti-join: the Bloom filter (bit-OR is idempotent) and
    the keyset index (its membership probe hands over fresh keys)."""
    meta = _index_meta(spark, index_path)
    root = index_dataset_root(index_path)
    if id_col is not None:
        existing = None if assume_new_ids else _read_optional(
            spark, f"{root}/{layout[0].name}"
        )
        if existing is not None:
            batch = batch.join(
                existing.select(F.col(meta["id_col"]).alias(id_col)), id_col, "left_anti"
            )
        batch = batch.withColumnRenamed(id_col, meta["id_col"])
    with _pins(lambda df: df.localCheckpoint(), _release_checkpoint) as pin:
        for ds, df in zip(layout, derive(with_min_parallelism(batch), meta, root, pin)):
            if df is not None:
                _write_dataset(df, root, ds, "append")


def gc_index_versions(index_path: str) -> list[str]:
    """Delete every version directory except the current one (stale
    versions and orphans of crashed compactions); returns the deleted
    paths. Serve loops call it one cycle behind — just before each
    compaction — so probes planned against the previous version have
    finished and disk use stays at most two versions."""
    current = os.path.basename(index_dataset_root(index_path))
    deleted = []
    for name in _version_dirs(index_path):
        if name != current:
            full = os.path.join(index_path, name)
            shutil.rmtree(full, ignore_errors=True)
            invalidate_static_schema(full)
            deleted.append(full)
    return deleted


def drop_tombstoned(
    spark, df: DataFrame, root: str, meta, key: str | None = None
) -> DataFrame:
    """The one tombstone anti-join: drop the rows of ``df`` whose
    ``key`` column (default ``meta.id_col``) holds an id tombstoned in
    the version at ``root`` — broadcast and distinct, so it is bounded
    by the live tombstone count. Probes call it on their candidates
    (``key`` naming the corpus-id column); as a compaction rewrite rule
    it folds the tombstones in, so the set is not carried into the new
    version. Without tombstones ``df`` comes back unchanged, and Spark
    is never asked to read the missing set."""
    tomb = _read_optional(spark, f"{root}/tombstones")
    if tomb is None:
        return df
    key = key or meta["id_col"]
    dead = F.broadcast(tomb.select(F.col(meta["id_col"]).alias(key)).distinct())
    return df.join(dead, key, "left_anti")


def or_fold_bits(spark, df: DataFrame, root: str, meta) -> DataFrame:
    """Rewrite rule: fold upsert-appended (segment, word_idx) bit rows
    into one OR-ed word each — the probe's own fold, moved to write
    time."""
    return df.groupBy("segment", "word_idx").agg(F.bit_or("word").alias("word"))


def _has_parquet(path: str) -> bool:
    return any(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def _read_optional(spark, path: str):
    """Read a parquet dataset that may not exist (e.g. an index's
    tombstone set before any delete); returns None when it holds no
    parquet file, without asking Spark (the index core is local, like
    its ``CURRENT`` pointer). Uses the static-schema cache once the
    dataset exists (a tombstone set's schema never changes after its
    first append); a read error on an existing dataset raises."""
    return read_static_schema(spark, path) if _has_parquet(path) else None


def compact_index(spark, index_path: str, layout) -> str:
    """Write the next version of an index from its ``layout`` (a
    sequence of :class:`IndexDataset`): every dataset is rewritten from
    the current version with its rule applied — one file per partition
    directory, or size-targeted files — and an empty dataset stays an
    empty directory. Probe answers are identical before and after.

    The compacted layout goes into a fresh ``v_NNNNNN`` directory and
    CURRENT is repointed atomically, so probes running concurrently
    finish on the snapshot they resolved, and a crash before the
    repoint leaves the index as it was (:func:`index_dataset_root`
    states the whole contract). Reclaim the superseded version with
    :func:`gc_index_versions`. Returns the new root."""
    meta = _index_meta(spark, index_path)
    src = index_dataset_root(index_path)

    def write(dst: str) -> None:
        for ds in layout:
            source, dest = f"{src}/{ds.name}", f"{dst}/{ds.name}"
            if not _has_parquet(source):
                os.makedirs(dest)
                continue
            transform = None if ds.rewrite is None else (
                lambda df, rule=ds.rewrite: rule(spark, df, src, meta)
            )
            if ds.partition_by:
                compact_partitioned(
                    spark, source, *ds.partition_by, transform=transform, dest=dest
                )
            else:
                compact_files(spark, source, transform=transform, dest=dest)

    return compact_into_version(index_path, write)


def index_delete(spark, index_path: str, ids, *, id_col: str = "doc_id") -> None:
    """LOGICAL delete (tombstone) of corpus rows from a persisted index
    — the takedown path (license revocation, opt-out, contamination
    removal) that cannot wait for a rebuild: the ids are appended to the
    current version's ``tombstones`` (column ``meta.id_col``); every
    probe anti-joins candidates against the (broadcast) set from the
    next call on, and compaction folds them in physically
    (:func:`drop_tombstoned`).

    ``ids``: a DataFrame with ``id_col`` or a plain iterable of ids.

    Deletes are append-only and idempotent (duplicate tombstones are
    harmless — probes take distinct, compaction drops by membership). A
    tombstoned id stays visible to the upserts' add-only anti-join until
    compaction, so RE-adding a deleted id requires a compact first."""
    tcol = _index_meta(spark, index_path)["id_col"]
    if isinstance(ids, DataFrame):
        frame = ids.select(F.col(id_col).cast("long").alias(tcol))
    else:
        frame = spark.createDataFrame([(int(i),) for i in ids], f"{tcol} long")
    frame.coalesce(1).write.mode("append").parquet(
        f"{index_dataset_root(index_path)}/tombstones"
    )


def serve_index_stream(
    spark, index_path: str, stream: DataFrame, sink, probe, upsert, compact,
    *, upsert_batches: bool, compact_every: int | None,
    checkpoint: str | None, trigger: dict | None,
):
    """The serve loop every ``*_probe_stream`` runs: per non-empty
    micro-batch, ``probe(batch_df, caches)`` -> ``sink``; with
    ``upsert_batches`` the batch is then added by ``upsert(batch_df)``,
    and every ``compact_every``-th batch GCs the version superseded one
    cycle ago, then ``compact(spark, index_path)``s. Caches the probe
    registers are unpersisted after each batch."""
    sink_fn = as_batch_sink(sink)

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        caches: list[DataFrame] = []
        out = probe(batch_df, caches)
        try:
            sink_fn(out, batch_id)
            if upsert_batches:
                upsert(batch_df)
        finally:
            for frame in caches:
                frame.unpersist()
        if upsert_batches and compact_every and (batch_id + 1) % compact_every == 0:
            gc_index_versions(index_path)
            compact(spark, index_path)

    return run_foreach_batch(stream, serve, checkpoint=checkpoint, trigger=trigger)


#: (a, b) seeds for the portable universal-hash family h_i(x) = (a*x+b) % M31.
#: Fixed constants — NOT runtime-random — so signatures are reproducible
#: across engines, runs, and the DuckDB oracle.


def minhash_seeds(n_hashes: int) -> tuple[tuple[int, int], ...]:
    """First ``n_hashes`` seeds of the fixed universal-hash family — a
    prefix-stable sequence, so growing n_hashes extends (never reshuffles)
    an existing signature column."""
    return tuple(
        (1_000_003 * (i + 1) + 17, 7_919 * (i + 1) + 3) for i in range(n_hashes)
    )


N_MINHASH = 16
MINHASH_SEEDS: tuple[tuple[int, int], ...] = minhash_seeds(N_MINHASH)
LSH_BANDS = 4
LSH_ROWS = N_MINHASH // LSH_BANDS

SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
SIMHASH_MAX_DIST = SIMHASH_BANDS - 1  # pigeonhole guarantee

#: One universal-hash (a, b) per signature bit: bit i of the signature
#: votes on the low bit of (a_i*h + b_i) % M31. 60 bits (not Manku's 64)
#: keeps the signature strictly positive in a signed 64-bit BIGINT on
#: both engines — no unsigned-overflow divergence between Spark and the
#: DuckDB oracle.
#: Seeds are reduced mod M31 so a*h stays < 2^62 — no 64-bit overflow in
#: either engine (Spark ANSI mode hard-errors on long overflow).
SIMHASH_SEEDS: tuple[tuple[int, int], ...] = tuple(
    (
        (2_654_435_761 * (i + 1) + 101) % MERSENNE_31 or 1,
        (40_503 * (i + 1) + 7) % MERSENNE_31,
    )
    for i in range(SIMHASH_BITS)
)


# --------------------------------------------------------------------------
# shingles + portable shingle hashes
# --------------------------------------------------------------------------

def shingle_hashes(text: Column) -> Column:
    """Distinct 60-bit hashes (folded to 31 bits) of the ``SHINGLE_K``-token
    shingles of ``text``. Documents shorter than K tokens hash their whole
    token string as a single shingle. The token array is let-bound so the
    per-window lambda slices a bound attribute instead of re-splitting the
    text per element (portable.let_col — the inline form is O(len^2)).

    Engine paths build it once per process through
    :func:`~kafka_streams_the_clojure_way_spark.functions.portable.kernel`
    (``kernel(shingle_hashes, "text")``: its py4j round trips are paid
    once); a direct call builds a fresh, identical tree."""
    def body(toks: Column) -> Column:
        n = F.array_size(toks)
        windows = F.transform(
            F.sequence(F.lit(1), n - F.lit(SHINGLE_K - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE_K)),
        )
        shingles = F.when(n >= SHINGLE_K, windows).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
        return F.array_distinct(
            F.transform(
                shingles,
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
                % F.lit(MERSENNE_31),
            )
        )

    return let_col(tokens_col(text), body)


def shingle_hashes_sql(text: str) -> str:
    toks = tokens_sql(text)
    win = (
        f"[array_to_string({toks}[i : i + {SHINGLE_K - 1}], ' ') "
        f"for i in range(1, len({toks}) - {SHINGLE_K - 2})]"
    )
    whole = f"[array_to_string({toks}, ' ')]"
    shingles = f"(CASE WHEN len({toks}) >= {SHINGLE_K} THEN {win} ELSE {whole} END)"
    return (
        f"list_distinct(list_transform({shingles}, "
        f"s -> ('0x' || substring(md5(s), 1, 15))::BIGINT % {MERSENNE_31}))"
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def content_hash(text: Column) -> Column:
    """60-bit content hash (md5 prefix), the exact-dedup key. 15 hex
    digits keep the value strictly positive in a signed BIGINT on both
    engines (same rule as the simhash signature). Engine paths take it
    through ``kernel(content_hash, text)``, built once per process."""
    return F.conv(F.substring(F.md5(text), 1, 15), 16, 10).cast("long")


def content_hash_sql(text: str) -> str:
    """DuckDB twin of :func:`content_hash`."""
    return f"('0x' || substring(md5({text}), 1, 15))::BIGINT"


def exact_dedup_groups(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical content by 60-bit hash; keep the lowest id as the
    canonical representative. One shuffle on the content hash."""
    h = kernel(content_hash, text)
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_pairs_between(
    new: DataFrame,
    corpus: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental EXACT dedup: (probe_id, corpus_id, content_hash) for
    every arriving doc whose content byte-matches a corpus doc — the
    re-crawl gate every production ingestion runs FIRST, before any
    near-dup pass (an exact match is free to detect and certain).

    One equi-join on the 60-bit content hash: the batch side is tiny, so
    Spark broadcasts it and the corpus is streamed map-side — no corpus
    shuffle. The persisted form (:func:`build_hash_index` /
    :func:`hash_index_probe`) additionally prunes the corpus SCAN to the
    probed hash buckets; this inline form is its oracle twin."""
    probe = new.select(
        F.col(id_col).alias("probe_id"),
        kernel(content_hash, text).alias("content_hash"),
    )
    corp = corpus.select(
        F.col(id_col).alias("corpus_id"),
        kernel(content_hash, text).alias("content_hash"),
    )
    return (
        corp.join(F.broadcast(probe), "content_hash")
        .filter(F.col("probe_id") != F.col("corpus_id"))
        .select("probe_id", "corpus_id", "content_hash")
    )


# --------------------------------------------------------------------------
# minhash signatures + LSH candidate pairs + verified pairs
# --------------------------------------------------------------------------

def minhash_from_hashes(
    hashes: Column, seeds: tuple[tuple[int, int], ...] = MINHASH_SEEDS
) -> Column:
    """k=len(seeds) minhash signature (array<long>) from fixed seeds
    (default: the 16-seed family).

    ``hashes`` MUST be a materialized column attribute (not an inline
    expression): the per-seed folds reference it, and Catalyst does not
    CSE repeated higher-order subtrees — an inline shingle_hashes() here
    would md5 every shingle k times (measured 7x slowdown at sf0.1).

    Seeds are array literals folded with one nested zip_with/transform —
    constant plan depth (see simhash_from_hashes for why that matters).
    Engine paths take it through ``kernel(minhash_from_hashes, "sh",
    seeds)``, built once per process."""
    seeds_a = _long_array(a for a, _ in seeds)
    seeds_b = _long_array(b for _, b in seeds)
    return F.zip_with(
        seeds_a,
        seeds_b,
        lambda a, b: F.array_min(
            F.transform(hashes, lambda h: (a * h + b) % F.lit(MERSENNE_31))
        ),
    )


def minhash_signature(text: Column) -> Column:
    """Convenience one-shot signature (fine for single-use projections;
    pair pipelines use minhash_from_hashes over a materialized column)."""
    return minhash_from_hashes(shingle_hashes(text))


def minhash_signature_sql(
    text: str, seeds: tuple[tuple[int, int], ...] = MINHASH_SEEDS
) -> str:
    hashes = shingle_hashes_sql(text)
    parts = ", ".join(
        f"list_min(list_transform({hashes}, h -> ({a} * h + {b}) % {MERSENNE_31}))"
        for a, b in seeds
    )
    return f"[{parts}]"


def _band_key(sig: Column, band: int, rows: int = LSH_ROWS) -> Column:
    """Fold one band of the signature into a single join key. Polynomial
    fold mod M31 — portable, and cheap enough to compute inline. Built
    once per process as part of :func:`_minhash_band_structs`."""
    key = F.lit(0).cast("long")
    for r in range(rows):
        key = (key * F.lit(1_000_0007) + F.element_at(sig, band * rows + r + 1)) % F.lit(
            MERSENNE_31
        )
    return key


def _minhash_band_structs(sig: Column, bands: int, rows: int) -> Column:
    """array<struct<band, bkey>>: one :func:`_band_key` per band — the
    band array the LSH join and the index build, upsert and probe
    explode. Callers take it through
    :func:`~kafka_streams_the_clojure_way_spark.functions.portable.kernel`
    (``kernel(_minhash_band_structs, "sig", bands, rows)``): the band
    folds' hundreds of py4j round trips are paid once per process."""
    return F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band_key(sig, b, rows).alias("bkey"))
            for b in range(bands)
        ]
    )


def _band_key_sql(sig: str, band: int, rows: int = LSH_ROWS) -> str:
    key = "CAST(0 AS BIGINT)"
    for r in range(rows):
        key = f"((({key}) * 10000007 + {sig}[{band * rows + r + 1}]) % {MERSENNE_31})"
    return key


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    *,
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """(id, sh, sig) — the shingle-hash set and MinHash signature per
    document, the SHARED upstream of the whole minhash dedup family
    (pairs, between, clustering, keep-best). At corpus scale this is
    the table you materialize ONCE (~1% of corpus bytes) and feed to
    every consumer instead of re-hashing the corpus per query — the
    six-gate ingestion pattern applied to the batch dedup family
    (VERDICT r8 #4); ``queries/llm_pipeline._minhash_sigs_path``
    persists it per (process, sf) exactly like the index builds."""
    return (
        with_min_parallelism(df)
        .select(F.col(id_col), kernel(shingle_hashes, text).alias("sh"))
        .withColumn("sig", kernel(minhash_from_hashes, "sh", minhash_seeds(n_hashes)))
    )


def minhash_lsh_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    *,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Banding + candidate join + exact-Jaccard verify over a
    PRECOMPUTED signature frame (id, sh, sig) from
    :func:`minhash_signatures` — the from-sigs core of
    :func:`minhash_lsh_pairs`. Callers with an expensive upstream own
    its lifecycle: either cache it (the wrapper does, registering with
    ``cache_registry``) or read it from a materialized signature table
    (the shared-table pattern — a parquet-backed input is referenced by
    three plan legs but each is a cheap column-pruned re-scan, no cache
    needed)."""
    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} must divide evenly into bands={bands}")
    rows = n_hashes // bands
    banded = sigs.select(
        id_col,
        F.explode(
            kernel(_minhash_band_structs, "sig", bands, rows)
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sigs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sigs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    cand = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.array_size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.array_size("sh_a").cast("double") + F.array_size("sh_b").cast("double") - inter
    )
    return (
        cand.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    *,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    cache_registry: list | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding + exact-Jaccard verify.

    Banding knob (Broder/LSH S-curve): with b bands of r = n_hashes/b
    rows, a pair with true Jaccard s becomes a candidate with probability
    1 - (1 - s^r)^b, which S-curves around the threshold s* ~= (1/b)^(1/r)
    — the default 4x4 gives s* ~= 0.707, tuned for the 0.8 verify
    threshold (catch probability ~0.97 at s=0.8, ~0.19 at s=0.5). More
    bands / fewer rows lowers s* (higher recall, more candidates to
    verify); fewer bands / more rows raises it. n_hashes must divide
    evenly into bands; the exact-Jaccard verify step makes the OUTPUT
    precision-exact for any setting — banding only moves recall and
    candidate-volume cost.

    Plan shape (the 100 TB story): per-row signature map -> explode to
    (band, band_key) -> self equi-join on (band, band_key) = shuffled hash
    join keyed by band hash -> distinct candidate ID PAIRS (bare longs —
    never shuffle the shingle arrays; carrying them through the dedup
    was a measured 10x blowup) -> re-join shingles by id -> exact-Jaccard
    verify on candidates ONLY. Never an all-pairs product.

    The signature frame is cached: at scale you materialize the signature
    table once (it is ~1% of corpus size) and reuse it for banding and
    verification instead of recomputing md5s per consumer.
    ``cache_registry``: receives that cached frame so long-lived callers
    can unpersist it per batch — the same lifecycle contract as
    :func:`minhash_index_probe` (the one previously-unregistered
    process-wide cache in a registered query path; VERDICT r8 item 8).
    """
    sigs = minhash_signatures(df, text, id_col, n_hashes=n_hashes).cache()
    if cache_registry is not None:
        cache_registry.append(sigs)
    return minhash_lsh_pairs_from_sigs(
        sigs, id_col, threshold, n_hashes=n_hashes, bands=bands
    )


def minhash_lsh_pairs_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    *,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs` (same seeds, same
    banding knob)."""
    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} must divide evenly into bands={bands}")
    rows = n_hashes // bands
    sig = minhash_signature_sql(text, minhash_seeds(n_hashes))
    sh = shingle_hashes_sql(text)
    band_structs = ", ".join(
        f"struct_pack(band := {b}, bkey := {_band_key_sql('sig', b, rows)})"
        for b in range(bands)
    )
    return f"""
    WITH sigs AS (
        SELECT {id_col}, {sh} AS sh, {sig} AS sig FROM {table}
    ),
    banded AS (
        SELECT {id_col}, sh, u.band AS band, u.bkey AS bkey
        FROM sigs, unnest([{band_structs}]) AS t(u)
    ),
    cand AS (
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
               a.sh AS sh_a, b.sh AS sh_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.{id_col} < b.{id_col}
    )
    SELECT id_a, id_b,
           round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                 / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 6)
               AS jaccard
    FROM cand
    WHERE round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 6)
          >= {threshold}
    """


def minhash_lsh_pairs_between(
    probe_df: DataFrame,
    build_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    *,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    watermark: tuple[str, str] | None = None,
    probe_sigs: DataFrame | None = None,
    build_sigs: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup: band-join a (small) probe batch against a
    (large) corpus — candidates are probe x corpus only, never
    corpus x corpus.

    ``probe_sigs`` / ``build_sigs``: precomputed (id, sh, sig) frames
    (:func:`minhash_signatures` shape, batch path only) — pass these
    when a shared materialized signature table already covers a side,
    so neither side re-hashes text the table already signed. This is the production shape for continuous
    ingestion: the corpus side's signature/banding table is computed
    once and persisted (it is ~1% of corpus bytes — see
    ``minhash_lsh_pairs``'s cache note); each arriving batch re-signs
    only itself and probes, so per-batch cost is O(batch + matching
    bands), independent of corpus size. The probe banding frame is
    broadcast when the batch is small, turning the candidate join into a
    map-side join against the corpus banding scan.

    Returns (probe_id, corpus_id, jaccard) pairs with
    jaccard >= threshold. Ids need not be disjoint; self-pairs
    (probe_id == corpus_id) are dropped.

    STREAMING: ``probe_df`` may be a streaming DataFrame (the arriving
    batches of a continuous-ingestion gate) — every probe-side transform
    here is a stateless per-row expression plus a stream-static equi-join
    against the corpus banding, so the whole gate runs inside a single
    micro-batch with no streaming state except the final candidate
    dedup. For bounded replays (availableNow) plain ``dropDuplicates``
    is fine; for UNBOUNDED continuous runs pass ``watermark=(ts_col,
    delay)`` — the probe's event time rides through the band join and
    the candidate dedup becomes ``dropDuplicatesWithinWatermark``, so
    pair-state is EVICTED once the watermark passes (state size tracks
    the delay window, not total ingested documents). Output contract
    consequence of that eviction: a duplicate (probe_id, corpus_id)
    candidate arriving MORE than the watermark delay after the first is
    re-emitted (its dedup state was already evicted), so unbounded
    watermarked output can contain duplicate pairs the batch/
    availableNow path never produces — downstream consumers must
    tolerate or idempotently merge re-emitted pairs across watermark
    windows. Caching/parallelism tweaks only apply to batch frames."""
    wm_streaming = watermark is not None and probe_df.isStreaming
    if wm_streaming:
        ts_col, delay = watermark
        probe_df = probe_df.withWatermark(ts_col, delay)
    probe_keep = [ts_col] if wm_streaming else []

    def _sigs(df: DataFrame, keep: list[str]) -> DataFrame:
        base = df if df.isStreaming else with_min_parallelism(df)
        return (
            base
            .select(F.col(id_col), *keep, kernel(shingle_hashes, text).alias("sh"))
            .withColumn(
                "sig", kernel(minhash_from_hashes, "sh", minhash_seeds(n_hashes))
            )
        )

    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} must divide evenly into bands={bands}")
    rows = n_hashes // bands

    def _banded(sigs: DataFrame, keep: list[str]) -> DataFrame:
        return sigs.select(
            id_col,
            *keep,
            F.explode(
                kernel(_minhash_band_structs, "sig", bands, rows)
            ).alias("bk"),
        ).select(
            id_col, *keep, F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
        )

    if (probe_sigs is not None or build_sigs is not None) and (
        probe_df.isStreaming or wm_streaming
    ):
        raise ValueError("precomputed sigs frames are batch-only")
    psigs = _sigs(probe_df, probe_keep) if probe_sigs is None else probe_sigs
    if not probe_df.isStreaming and probe_sigs is None:
        psigs = psigs.cache()
    # a parquet-backed precomputed side re-scans cheaply; only computed
    # signature frames are worth pinning
    csigs = _sigs(build_df, []).cache() if build_sigs is None else build_sigs
    # Watermarked streaming carries the probe's shingle set THROUGH the
    # band explode and candidate dedup: re-joining it by id afterwards
    # (the batch shape below) would be a STREAM-STREAM join, whose state
    # no watermark on the dedup alone can evict. Carrying sh costs
    # bands x |probe shingles| per micro-batch — probe-sized, bounded —
    # and leaves dropDuplicatesWithinWatermark as the ONE stateful op.
    a_keep = probe_keep + (["sh"] if wm_streaming else [])
    a = _banded(psigs, a_keep).alias("a")
    b = _banded(csigs, []).alias("b")
    # plain equi-join: AQE promotes it to a broadcast join at runtime when
    # the probe batch's banding frame is small (the common incremental case)
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("probe_id"),
        F.col(f"b.{id_col}").alias("corpus_id"),
        *[F.col(f"a.{c}") for c in probe_keep],
        *([F.col("a.sh").alias("sh_a")] if wm_streaming else []),
    )
    if wm_streaming:
        cand = cand.dropDuplicatesWithinWatermark(["probe_id", "corpus_id"]).drop(
            ts_col
        )
    else:
        cand = cand.dropDuplicates(["probe_id", "corpus_id"])
        sh_a = psigs.select(F.col(id_col).alias("probe_id"), F.col("sh").alias("sh_a"))
        cand = cand.join(sh_a, "probe_id")
    sh_b = csigs.select(F.col(id_col).alias("corpus_id"), F.col("sh").alias("sh_b"))
    cand = cand.join(sh_b, "corpus_id")
    inter = F.array_size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.array_size("sh_a").cast("double")
        + F.array_size("sh_b").cast("double")
        - inter
    )
    return (
        cand.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("probe_id", "corpus_id", "jaccard")
    )


def minhash_lsh_pairs_between_sql(
    probe_pred: str,
    build_pred: str,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    *,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
) -> str:
    """DuckDB twin of ``minhash_lsh_pairs_between`` with the two sides
    selected from ``table`` by predicate (same banding knob)."""
    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} must divide evenly into bands={bands}")
    rows = n_hashes // bands
    sig = minhash_signature_sql(text, minhash_seeds(n_hashes))
    sh = shingle_hashes_sql(text)
    band_structs = ", ".join(
        f"struct_pack(band := {b}, bkey := {_band_key_sql('sig', b, rows)})"
        for b in range(bands)
    )
    jac = (
        "round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)"
        " / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 6)"
    )
    return f"""
    WITH psig AS (
        SELECT {id_col}, {sh} AS sh, {sig} AS sig FROM {table}
        WHERE {probe_pred}
    ),
    csig AS (
        SELECT {id_col}, {sh} AS sh, {sig} AS sig FROM {table}
        WHERE {build_pred}
    ),
    pband AS (
        SELECT {id_col}, sh, u.band AS band, u.bkey AS bkey
        FROM psig, unnest([{band_structs}]) AS t(u)
    ),
    cband AS (
        SELECT {id_col}, sh, u.band AS band, u.bkey AS bkey
        FROM csig, unnest([{band_structs}]) AS t(u)
    ),
    cand AS (
        SELECT DISTINCT a.{id_col} AS probe_id, b.{id_col} AS corpus_id,
               a.sh AS sh_a, b.sh AS sh_b
        FROM pband a JOIN cband b
          ON a.band = b.band AND a.bkey = b.bkey
         AND a.{id_col} != b.{id_col}
    )
    SELECT probe_id, corpus_id, {jac} AS jaccard
    FROM cand
    WHERE {jac} >= {threshold}
    """


# --------------------------------------------------------------------------
# Persisted MinHash band index: build once, probe batches forever
# --------------------------------------------------------------------------

#: bkey-hash bucket count for the banding table's partition layout. 4
#: bands x 16 buckets = 64 directories — coarse enough that each holds
#: full row groups at scale, fine enough that a probe batch's band-join
#: prunes to the buckets its keys actually hash into.
MINHASH_INDEX_BUCKETS = 16

#: ``shingles`` (the add-only anti-join's key) size-targeted, then
#: ``bands`` one file per (band, bucket) directory; both drop
#: tombstoned ids.
MINHASH_LAYOUT = (
    IndexDataset("shingles", (), drop_tombstoned),
    IndexDataset("bands", ("band", "bucket"), drop_tombstoned),
)


def _minhash_bands(
    sigs: DataFrame, id_col: str, bands: int, rows: int, n_buckets: int,
    *, alias: str | None = None, carry: list | tuple = (),
) -> DataFrame:
    """(id, *carry, band, bkey, bucket): one row per (signature, band),
    ``bucket = pmod(bkey, n_buckets)`` naming its partition directory —
    the band explode the index build, upsert and probe share. ``alias``
    renames the id column."""
    out = alias or id_col
    return sigs.select(
        F.col(id_col).alias(out),
        *carry,
        F.explode(
            kernel(_minhash_band_structs, "sig", bands, rows)
        ).alias("bk"),
    ).select(
        out,
        *carry,
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
        F.pmod(F.col("bk.bkey"), F.lit(n_buckets)).alias("bucket"),
    )


def _minhash_datasets(docs, id_col, text, n_hashes, bands, n_buckets, pin):
    """:data:`MINHASH_LAYOUT`'s (shingles, bands) rows for ``docs``,
    both from one pinned signature frame."""
    sigs = pin(
        docs.select(F.col(id_col), kernel(shingle_hashes, text).alias("sh"))
        .withColumn("sig", kernel(minhash_from_hashes, "sh", minhash_seeds(n_hashes)))
    )
    return (
        sigs.select(id_col, "sh"),
        _minhash_bands(sigs, id_col, bands, n_hashes // bands, n_buckets),
    )


def build_minhash_index(
    corpus: DataFrame,
    path: str,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    n_buckets: int = MINHASH_INDEX_BUCKETS,
) -> None:
    """Materialize the corpus side of :func:`minhash_lsh_pairs_between`
    — the build/serve split for continuous-ingestion dedup (mirrors
    similarity.build_ivf_index's FAISS-style train+add vs search):

    - ``path/bands``: one (id, bkey) row per (doc, band), hive-
      PARTITIONED BY (band, bucket = pmod(bkey, n_buckets)) so a probe
      batch's band equi-join prunes to the directories its keys hash
      into (dynamic partition pruning) instead of scanning every
      posting;
    - ``path/shingles``: (id, shingle-set) for the exact-Jaccard verify
      — joined by candidate id only, never shuffled whole;
    - ``path/meta``: the banding parameters, read back by the probe so
      an index can never be probed with mismatched signatures.

    The expensive parts — shingling + signing the corpus and one shuffle
    into the band layout — run exactly ONCE; after this, per-batch
    ingestion cost is O(batch + matching postings) with zero corpus
    re-signing. At 100 TB the banding table is ~1% of corpus bytes, and
    re-signing the corpus per arriving batch (what the index-less
    ``minhash_lsh_pairs_between`` does) would dominate every batch."""
    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} must divide evenly into bands={bands}")
    build_index(
        corpus, path, MINHASH_LAYOUT,
        lambda docs, pin: _minhash_datasets(
            docs, id_col, text, n_hashes, bands, n_buckets, pin
        ),
        (n_hashes, bands, n_buckets, id_col),
        "n_hashes int, bands int, n_buckets int, id_col string",
    )


def minhash_index_upsert(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    assume_new_ids: bool = False,
) -> None:
    """ADD a document batch to a persisted MinHash index: sign it with
    the index's own parameters and append its shingle sets, then its
    banding rows (:func:`index_upsert` states the contract)."""
    index_upsert(
        spark, index_path, batch, MINHASH_LAYOUT,
        lambda docs, meta, root, pin: _minhash_datasets(
            docs, meta["id_col"], text, meta["n_hashes"], meta["bands"],
            meta["n_buckets"], pin,
        ),
        id_col=id_col, assume_new_ids=assume_new_ids,
    )


def minhash_index_probe(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    watermark: tuple[str, str] | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Probe a persisted MinHash band index with an arriving batch: sign
    the BATCH ONLY, route its distinct (band, bucket) keys into a static
    partition filter on the postings scan (only the probed directories
    are read), equi-join on (band, bucket, bkey), then exact-Jaccard
    verify candidates against ``path/shingles``. Banding parameters come
    from ``path/meta``, so probe signatures always match the index.

    Output contract is identical to :func:`minhash_lsh_pairs_between`:
    (probe_id, corpus_id, jaccard) with jaccard >= threshold, self-pairs
    dropped — an indexed serve path for the same oracle.

    STREAMING: ``batch`` may be a streaming DataFrame; every probe-side
    transform is stateless and the index sides are static, so the gate
    is a stream-static join per micro-batch. For UNBOUNDED runs pass
    ``watermark=(ts_col, delay)``: the probe's shingle set and event
    time ride through the band join so the candidate dedup becomes the
    gate's ONE stateful op (``dropDuplicatesWithinWatermark``) with
    watermark-evicted state. Output contract consequence of that
    eviction: a duplicate (probe_id, corpus_id) candidate arriving MORE
    than the watermark delay after the first is re-emitted (its dedup
    state was already evicted), so unbounded watermarked output can
    contain duplicate pairs that the batch/availableNow path never
    produces — downstream consumers must tolerate or idempotently merge
    re-emitted pairs across watermark windows. Note the stream-static
    band join on this path scans the full postings table per
    micro-batch (the static side cannot take a stream-derived literal
    partition filter) — for per-batch cost independent of corpus size
    use :func:`minhash_index_probe_stream`, which runs each micro-batch
    through this function's BATCH routing inside ``foreachBatch``.

    ``cache_registry``: the batch path caches the probe-signature frame
    for its routing collect and verify join; by default it stays cached
    for the process lifetime (fine for one-shot queries, a leak for
    long-running probe loops). Pass a list and the cached frame is
    appended to it instead — unpersist after materializing results. A
    signature plan the session already caches is read as it is, never
    registered (:func:`cache_once`)."""
    meta = _index_meta(spark, index_path)
    # snapshot the dataset root ONCE: every dataset this probe reads
    # comes from the same index version even if a compaction
    # repoints CURRENT while the probe's plan is still executing.
    root = index_dataset_root(index_path)
    n_hashes, bands, n_buckets = meta["n_hashes"], meta["bands"], meta["n_buckets"]
    rows = n_hashes // bands
    wm_streaming = watermark is not None and batch.isStreaming
    if wm_streaming:
        ts_col, delay = watermark
        batch = batch.withWatermark(ts_col, delay)
    carry = ([ts_col, "sh"] if wm_streaming else [])
    base = batch if batch.isStreaming else with_min_parallelism(batch)
    psigs = base.select(
        F.col(id_col), *([ts_col] if wm_streaming else []),
        kernel(shingle_hashes, text).alias("sh"),
    ).withColumn("sig", kernel(minhash_from_hashes, "sh", minhash_seeds(n_hashes)))
    if not batch.isStreaming:
        psigs = cache_once(psigs, cache_registry)
    pband = _minhash_bands(
        psigs, id_col, bands, rows, n_buckets, alias="probe_id", carry=carry
    )
    postings = read_static_schema(spark, f"{root}/bands")
    if batch.isStreaming:
        # stream-static equi-join per micro-batch; the static side cannot
        # take a batch-derived literal filter, and the stream side cannot
        # broadcast — correctness-identical, pruning-free fallback.
        probe_side = pband
    else:
        # EXPLICIT partition routing (how an index server serves probes):
        # the batch's distinct (band, bucket) keys — a bounded set,
        # <= bands * n_buckets values no matter the batch size — become a
        # literal static PartitionFilter on the postings scan, so only the
        # probed directories are ever read. Deterministic at any scale,
        # unlike the DPP cost heuristic. The keys come from routing_keys:
        # one job, one stage, over the batch's band rows — the same rows
        # this probe broadcasts below — and its first pass fills the
        # signature cache the verify join reads.
        #
        # ONE flat packed-key IN-list instead of an OR-chain of
        # (band = b AND bucket = k) terms: the chain costs a py4j round
        # trip per operator plus Catalyst analysis of a tree hundreds of
        # nodes deep — measured ~2.6 s of the probe's 3.45 s plan time at
        # 256 keys (r9). band * n_buckets + bucket is injective, the
        # expression references only partition columns, and Spark prunes
        # it identically (PartitionFilters: ((band * N) + bucket) IN ...).
        packed = routing_keys(pband, F.col("band") * n_buckets + F.col("bucket"))
        if packed:
            postings = postings.filter(
                _in_literals(f"(band * {int(n_buckets)} + bucket)", packed)
            )
        probe_side = F.broadcast(pband)
    cand = (
        postings.join(probe_side, ["band", "bucket", "bkey"])
        .filter(F.col(meta["id_col"]) != F.col("probe_id"))
        .select(
            "probe_id",
            F.col(meta["id_col"]).alias("corpus_id"),
            *([F.col(ts_col), F.col("sh").alias("sh_a")] if wm_streaming else []),
        )
    )
    # logical deletes; compact_minhash_index folds them in physically
    cand = drop_tombstoned(spark, cand, root, meta, "corpus_id")
    if wm_streaming:
        cand = cand.dropDuplicatesWithinWatermark(["probe_id", "corpus_id"]).drop(
            ts_col
        )
    else:
        cand = cand.dropDuplicates(["probe_id", "corpus_id"])
        sh_p = psigs.select(F.col(id_col).alias("probe_id"), F.col("sh").alias("sh_a"))
        cand = cand.join(sh_p, "probe_id")
    sh_c = read_static_schema(spark, f"{root}/shingles").select(
        F.col(meta["id_col"]).alias("corpus_id"), F.col("sh").alias("sh_b")
    )
    cand = cand.join(sh_c, "corpus_id")
    inter = F.array_size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.array_size("sh_a").cast("double")
        + F.array_size("sh_b").cast("double")
        - inter
    )
    return (
        cand.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("probe_id", "corpus_id", "jaccard")
    )


minhash_index_delete = index_delete


def compact_minhash_index(spark, index_path: str) -> str:
    """:func:`compact_index` over :data:`MINHASH_LAYOUT` (concurrent
    probes and crashes: see :func:`index_dataset_root`)."""
    return compact_index(spark, index_path, MINHASH_LAYOUT)


def minhash_index_probe_stream(
    spark,
    index_path: str,
    stream: DataFrame,
    sink,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    checkpoint: str | None = None,
    upsert: bool = False,
    assume_new_ids: bool = False,
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """The PRODUCTION streaming serve loop for the persisted MinHash
    index: run every micro-batch of ``stream`` through
    :func:`minhash_index_probe`'s BATCH path inside ``foreachBatch`` —
    where the micro-batch is a plain batch frame, so the probe's
    explicit (band, bucket) partition routing applies and each trigger
    reads ONLY the probed postings directories. This restores the
    per-batch-cost-independent-of-corpus-size contract that the
    stream-static join fallback (probing with a streaming frame
    directly) cannot offer, because a static join side cannot take a
    stream-derived literal partition filter. Keep the stream-static
    path when you need in-plan ``dropDuplicatesWithinWatermark``
    exactly-once pair semantics; use this helper for the ingestion
    loop.

    ``sink``: a callable ``(pairs_df, batch_id) -> None`` or a parquet
    directory path (pairs appended, one file per batch). The callable
    MUST materialize ``pairs_df`` (collect/write) before returning —
    with ``upsert=True`` the batch is added to the index right after
    the sink runs, and an unmaterialized lazy frame would then see its
    own batch in the index.

    ``upsert=True`` turns the gate into the full probe-then-upsert
    continuous-ingestion cycle: later batches dedup against earlier
    batches, not just the build-time corpus. foreachBatch is
    at-least-once, so the default ``assume_new_ids=False`` keeps a
    replayed batch idempotent via the upsert's anti-join (one shingles
    id-column scan per batch); set True only when ids are globally
    unique AND the checkpoint guarantees no replay matters.

    ``compact_every=N`` runs :func:`compact_minhash_index` after every
    N-th upserting batch, GC-ing the version it superseded one cycle
    later. Caches created by the probe are unpersisted each batch (no
    per-trigger cache leak).

    Returns the started ``StreamingQuery``. Default trigger is
    ``availableNow`` (drain-what-exists, then stop); pass e.g.
    ``trigger={"processingTime": "30 seconds"}`` for a resident loop."""
    return serve_index_stream(
        spark, index_path, stream, sink,
        lambda batch, caches: minhash_index_probe(
            spark, index_path, batch, text=text, id_col=id_col,
            threshold=threshold, cache_registry=caches,
        ),
        lambda batch: minhash_index_upsert(
            spark, index_path, batch, text=text, id_col=id_col,
            assume_new_ids=assume_new_ids,
        ),
        compact_minhash_index,
        upsert_batches=upsert, compact_every=compact_every,
        checkpoint=checkpoint, trigger=trigger,
    )


# --------------------------------------------------------------------------
# persisted exact-hash index: the build/serve split for incremental
# EXACT dedup (the first gate of every production ingestion loop)
# --------------------------------------------------------------------------

HASH_INDEX_BUCKETS = 64

#: ``hashes`` one file per bucket directory, tombstoned ids dropped.
HASH_LAYOUT = (IndexDataset("hashes", ("bucket",), drop_tombstoned),)


def _hashed(
    docs: DataFrame, id_col: str, text: str, n_buckets: int, alias: str | None = None
) -> DataFrame:
    """(id, content_hash, bucket = pmod(content_hash, n_buckets)) per
    doc — the hash index's build, upsert and probe rows. ``alias``
    renames the id column."""
    return docs.select(
        F.col(id_col).alias(alias or id_col),
        kernel(content_hash, text).alias("content_hash"),
    ).withColumn("bucket", F.pmod(F.col("content_hash"), F.lit(n_buckets)))


def build_hash_index(
    corpus: DataFrame,
    path: str,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = HASH_INDEX_BUCKETS,
) -> None:
    """Materialize the corpus side of :func:`exact_pairs_between` — the
    exact-dedup member of the persisted-index family (MinHash band index
    for near-dup, containment index for embedded-doc, IVF for ANN):

    - ``path/hashes``: one (id, content_hash) row per corpus doc, hive-
      PARTITIONED BY ``bucket = pmod(content_hash, n_buckets)`` so a
      probe batch's distinct buckets — a set bounded by ``n_buckets``
      regardless of batch size — prune the scan to the probed
      directories;
    - ``path/meta``: the bucketing parameters, read back by every probe
      so an index can never be probed with a mismatched layout.

    The corpus is hashed and shuffled into the bucket layout exactly
    ONCE; after this, per-batch ingestion cost is O(batch + matched
    buckets). At 100 TB the hash table is ~16 bytes/doc — a scan of the
    probed 1/``n_buckets`` slices per batch, vs re-hashing the full
    corpus per batch without the index. One file per bucket directory
    (same layout rule as build_minhash_index)."""
    build_index(
        corpus, path, HASH_LAYOUT,
        lambda docs, pin: (pin(_hashed(docs, id_col, text, n_buckets)),),
        (n_buckets, id_col), "n_buckets int, id_col string",
    )


def hash_index_upsert(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    assume_new_ids: bool = False,
) -> None:
    """ADD a document batch to a persisted hash index: hash it and append
    into the touched bucket directories (:func:`index_upsert` states the
    contract)."""
    index_upsert(
        spark, index_path, batch, HASH_LAYOUT,
        lambda docs, meta, root, pin: (
            pin(_hashed(docs, meta["id_col"], text, meta["n_buckets"])),
        ),
        id_col=id_col, assume_new_ids=assume_new_ids,
    )


def hash_index_probe(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe a persisted hash index with an arriving batch: hash the
    BATCH ONLY, route its distinct buckets — bounded by the index's
    ``n_buckets`` no matter the batch size — into a literal static
    PartitionFilter on the hashes scan, then equi-join on
    (bucket, content_hash) with the batch side broadcast. Output
    contract identical to :func:`exact_pairs_between`:
    (probe_id, corpus_id, content_hash), self-pairs dropped.

    STREAMING: ``batch`` may be a streaming frame — every probe
    transform is stateless, so the gate degrades to a stream-static
    join per micro-batch (correctness-identical but pruning-free: the
    static side cannot take a stream-derived literal filter). For
    per-batch cost independent of corpus size use
    :func:`hash_index_probe_stream`, which runs each micro-batch
    through THIS batch routing inside ``foreachBatch``."""
    meta = _index_meta(spark, index_path)
    root = index_dataset_root(index_path)  # one snapshot per probe
    n_buckets = meta["n_buckets"]
    base = batch if batch.isStreaming else with_min_parallelism(batch)
    probe = _hashed(base, id_col, text, n_buckets, alias="probe_id")
    hashes = read_static_schema(spark, f"{root}/hashes")
    if batch.isStreaming:
        probe_side = probe
    else:
        # explicit partition routing, same contract as minhash_index_probe:
        # the distinct probed buckets become a literal IN-filter on the
        # partition column — deterministic pruning at any scale, no DPP
        # cost-heuristic dependence. routing_keys hashes the RAW batch —
        # the rows this probe broadcasts — in one job of one stage; the
        # parallelism-guarded ``base`` would add its round-robin shuffle
        # to a job that only reads one hash per doc.
        buckets = routing_keys(_hashed(batch, id_col, text, n_buckets), "bucket")
        if buckets:
            hashes = hashes.filter(_in_literals("bucket", buckets))
        probe_side = F.broadcast(probe)
    cand = (
        hashes.join(probe_side, ["bucket", "content_hash"])
        .filter(F.col(meta["id_col"]) != F.col("probe_id"))
        .select(
            "probe_id",
            F.col(meta["id_col"]).alias("corpus_id"),
            "content_hash",
        )
    )
    return drop_tombstoned(spark, cand, root, meta, "corpus_id")


hash_index_delete = index_delete


def compact_hash_index(spark, index_path: str) -> str:
    """:func:`compact_index` over :data:`HASH_LAYOUT` (concurrent probes
    and crashes: see :func:`index_dataset_root`)."""
    return compact_index(spark, index_path, HASH_LAYOUT)


def hash_index_probe_stream(
    spark,
    index_path: str,
    stream: DataFrame,
    sink,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
    upsert: bool = False,
    assume_new_ids: bool = False,
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """The streaming serve loop for the persisted hash index — the exact
    twin of :func:`minhash_index_probe_stream`: every micro-batch runs
    through :func:`hash_index_probe`'s BATCH path inside
    ``foreachBatch``, so the bucket partition routing applies and each
    trigger reads only the probed directories. ``sink`` is a callable
    ``(pairs_df, batch_id) -> None`` (must materialize before returning
    when ``upsert=True``) or a parquet directory path. ``upsert=True``
    turns the gate into the probe-then-upsert cycle (later batches
    dedup against earlier batches); foreachBatch is at-least-once, so
    the default anti-join keeps replays idempotent.
    ``compact_every=N`` compacts after every N-th upserting batch.
    Returns the started StreamingQuery (default trigger availableNow)."""
    return serve_index_stream(
        spark, index_path, stream, sink,
        lambda batch, caches: hash_index_probe(
            spark, index_path, batch, text=text, id_col=id_col
        ),
        lambda batch: hash_index_upsert(
            spark, index_path, batch, text=text, id_col=id_col,
            assume_new_ids=assume_new_ids,
        ),
        compact_hash_index,
        upsert_batches=upsert, compact_every=compact_every,
        checkpoint=checkpoint, trigger=trigger,
    )


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------

def token_hashes(text: Column) -> Column:
    """31-bit portable hashes of the whitespace tokens of ``text``."""
    return F.transform(
        tokens_col(text),
        lambda t: (
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % F.lit(MERSENNE_31)
        ),
    )


def _long_array(vals) -> Column:
    # ONE parsed BIGINT-array literal (r12): the former per-element
    # ``F.lit(v).cast("long")`` loop paid a py4j round trip per seed
    # (~120-256 per signature expression, constructed per query); the
    # ``L`` suffix pins each literal to BIGINT, so the parsed array is
    # the identical expression. An empty ``vals`` stays array<bigint>
    # (a bare ``array()`` would type as array<string>).
    body = ",".join(f"{int(v)}L" for v in vals)
    if not body:
        return F.expr("CAST(array() AS array<bigint>)")
    return F.expr(f"array({body})")


def simhash_from_hashes(hashes: Column) -> Column:
    """60-bit SimHash over token hashes (Charikar'02; Manku et al. WWW'07
    use 64 bits — see SIMHASH_SEEDS for why 60): bit i of the signature is
    the majority vote of the low bit of seed-i's universal hash of each
    token. Wide signatures make 15-bit band keys selective — the 8-bit
    bands of a 32-bit signature collide into ~1500-doc buckets on
    boilerplate-heavy corpora (measured at sf0.1: 5.2M candidate pairs
    from 5k docs), which is the quadratic blowup banding exists to avoid.

    Expression SHAPE matters as much as the algorithm: an earlier
    formulation built one filter-pass per bit — a depth-60 tree of
    higher-order functions that took ~55 s of DRIVER-side analysis/codegen
    per plan. This one is constant-depth: seeds live in array literals,
    one ``aggregate`` pass over the tokens accumulates all 60 bit-votes
    via ``zip_with``, and a final fold turns majority votes into the
    signature. Single pass over the data, O(1) plan size."""
    seeds_a = _long_array(a for a, _ in SIMHASH_SEEDS)
    seeds_b = _long_array(b for _, b in SIMHASH_SEEDS)
    powers = _long_array(1 << i for i in range(SIMHASH_BITS))
    n = F.array_size(hashes)
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(
                seeds_a,
                seeds_b,
                lambda a, b: ((a * h + b) % F.lit(MERSENNE_31)).bitwiseAND(F.lit(1)),
            ),
            lambda v, bit: v + bit,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda ones, pw: F.when(ones * 2 > n, pw).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_sig(text: Column) -> Column:
    """Convenience one-shot SimHash (single-use projections only)."""
    return simhash_from_hashes(token_hashes(text))


def simhash_sig_sql(text: str) -> str:
    toks = tokens_sql(text)
    hashes = (
        f"list_transform({toks}, t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % {MERSENNE_31})"
    )
    terms = []
    for bit, (a, b) in enumerate(SIMHASH_SEEDS):
        ones = f"len(list_filter({hashes}, h -> (({a} * h + {b}) % {MERSENNE_31}) & 1 = 1))"
        terms.append(f"(CASE WHEN {ones} * 2 > len({hashes}) THEN {1 << bit} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def simhash_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_dist: int = SIMHASH_MAX_DIST,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: split the 60-bit signature into
    4 bands of 15 bits; hamming distance <= 3 implies >= 1 identical band
    (pigeonhole), so candidates come from a band equi-join and the xor
    popcount verifies. No all-pairs product anywhere. Signatures are
    computed from a materialized token-hash column and cached — both
    join sides read the same 8-byte-per-doc signature table.

    The hamming filter runs BEFORE the pair-distinct: popcount-on-xor is
    ~free per row, while distinct is a shuffle — at sf0.1 filtering first
    cut the distinct's input from 5.2M candidate rows to the true-pair
    set (measured 7s -> sub-second)."""
    sigs = (
        with_min_parallelism(df)
        .select(F.col(id_col), token_hashes(F.col(text)).alias("th"))
        .select(F.col(id_col), simhash_from_hashes(F.col("th")).alias("sig"))
        .cache()
    )
    banded = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                        .alias("bkey"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", dist.cast("long"))
        .filter(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    max_dist: int = SIMHASH_MAX_DIST,
) -> str:
    sig = simhash_sig_sql(text)
    band_structs = ", ".join(
        f"struct_pack(band := {b}, bkey := (sig >> {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1})"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
    WITH sigs AS (SELECT {id_col}, {sig} AS sig FROM {table}),
    banded AS (
        SELECT {id_col}, sig, u.band AS band, u.bkey AS bkey
        FROM sigs, unnest([{band_structs}]) AS t(u)
    )
    SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bkey = b.bkey AND a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_dist}
    """


# --------------------------------------------------------------------------
# exact duplicate n-gram spans (substring-level dedup)
# --------------------------------------------------------------------------

#: word n-gram width for span-level dedup. Lee et al. ("Deduplicating
#: Training Data Makes Language Models Better", ACL'22) use 50 BPE tokens
#: over a suffix array; the distributed re-expression below works at any
#: width — 8 words keeps the operator interesting on the synthetic corpus.
NGRAM_SPAN_N = 8


def _gram_postings(
    df: DataFrame, text: str, id_col: str, n: int
) -> DataFrame:
    """(id, start, gram_hash): one 60-bit-hashed word n-gram per sliding
    position, built scan-side (narrow explode, no shuffle). Token array
    let-bound — the per-position lambda slices a bound attribute, never
    re-splitting the text per gram (portable.let_col)."""
    def body(toks: Column) -> Column:
        ntok = F.array_size(toks)
        starts = F.when(ntok >= n, F.sequence(F.lit(0), ntok - n)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            starts,
            lambda i: F.struct(
                i.cast("long").alias("start"),
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n))), 1, 15
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("gram_hash"),
            ),
        )

    grams = let_col(tokens_col(F.col(text)), body)
    return df.select(F.col(id_col), F.explode(grams).alias("g")).select(
        id_col, "g.start", "g.gram_hash"
    )


def gram_postings(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_SPAN_N,
) -> DataFrame:
    """Public entry to the n-gram posting table — the shared upstream of
    the substring-dedup family (:func:`duplicate_ngram_spans`,
    :func:`clip_duplicate_spans` both take it via ``postings=``).
    Materialize once per corpus (~one row per token position) and feed
    every consumer instead of re-hashing the corpus per query."""
    return _gram_postings(df, text, id_col, n)


def _gram_postings_sql(table: str, text: str, id_col: str, n: int) -> str:
    """DuckDB twin of :func:`_gram_postings` as a CTE body."""
    toks = tokens_sql(text)
    return f"""(
        SELECT {id_col}, CAST(u.i AS BIGINT) AS start,
               ('0x' || substring(
                    md5(array_to_string(toks[(u.i + 1):(u.i + {n})], ' ')), 1, 15
                ))::BIGINT AS gram_hash
        FROM (SELECT {id_col}, {toks} AS toks FROM {table}) t,
             UNNEST(range(0, len(toks) - {n - 1})) AS u(i)
    )"""


def duplicate_ngram_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_SPAN_N,
    skew_safe: bool = False,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated token spans per document: every position whose
    ``n``-gram occurs more than once in the corpus (any doc, any offset —
    including elsewhere in the same doc) is "covered"; overlapping covered
    n-grams merge into maximal ``[span_start, span_end)`` token spans.

    This is the distributed re-expression of suffix-array substring dedup
    (Lee et al. ACL'22): a suffix array is inherently sequential, but the
    *covered-position set* it produces is exactly recoverable from n-gram
    postings, which shard perfectly:

    1. posting list ``(gram_hash, doc, start)`` via a scan-side sliding
       window (no shuffle, linear output);
    2. duplicate flag — count-over-window on gram_hash by default (ONE
       shuffle and one posting explode; a groupBy + join-back recomputes
       the gram-hashing explode twice because the two exchanges carry
       different payloads and can't be reused — measured ~2x slower), or
       the groupBy + join-back form with ``skew_safe=True`` for corpora
       where a single boilerplate gram's postings exceed one task (AQE
       can split skewed JOIN reads but not window partitions; both forms
       return identical results — parity pytest-gated). Measured at
       skew (scripts/skew_probe.py, hot boilerplate gram): the window
       default stays FASTER through every tested level — 1.2x at 10k,
       1.2x at 100k, 1.3x at 400k, 1.4x at 1.5M postings per gram on
       local[32]/16g — because the hot window partition streams with
       spill while join-back pays the double explode. The flag's value
       is structural, beyond the measured range: the window form's
       straggler task is Ω(hot-gram postings) no matter how many
       executors exist, while groupBy's map-side combine collapses the
       hot key to ~one row per mapper — at billions of postings per
       gram (cluster-scale boilerplate) that asymmetry, not these local
       timings, decides;
    3. per-doc gaps-and-islands merge (one shuffle by doc, one sort
       shared by the lag and running-sum windows).

    No all-pairs join anywhere, so the 100 TB cost is O(corpus tokens),
    not O(docs^2).

    ``postings``: a precomputed ``(id_col, start, gram_hash)`` frame
    for the SAME corpus, n, and tokenizer (the shared-upstream
    convention — :func:`gram_postings` materialized once per process,
    consumed by span detection, per-doc stats, and clipping instead of
    re-hashing the corpus per query). When given, ``df``/``text`` are
    not scanned here at all.
    """
    pos = postings if postings is not None else _gram_postings(df, text, id_col, n)
    from pyspark.sql.window import Window

    if skew_safe:
        dup_grams = (
            pos.groupBy("gram_hash")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") >= 2)
        )
        covered = pos.join(dup_grams.hint("shuffle_hash"), "gram_hash").select(
            id_col, "start"
        )
    else:
        gw = Window.partitionBy("gram_hash")
        covered = (
            pos.withColumn("__cnt", F.count(F.lit(1)).over(gw))
            .filter(F.col("__cnt") >= 2)
            .select(id_col, "start")
        )

    w = Window.partitionBy(id_col).orderBy("start")
    brk = F.when(F.col("start") - F.lag("start").over(w) <= n, F.lit(0)).otherwise(
        F.lit(1)
    )
    islands = covered.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(F.min("start").alias("span_start"), (F.max("start") + n).alias("span_end"))
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def duplicate_ngram_spans_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_SPAN_N,
) -> str:
    """DuckDB twin of :func:`duplicate_ngram_spans` (same constants)."""
    return f"""
    WITH pos AS {_gram_postings_sql(table, text, id_col, n)},
    dup_grams AS (
        SELECT gram_hash FROM pos GROUP BY gram_hash HAVING count(*) >= 2
    ),
    covered AS (
        SELECT p.{id_col}, p.start FROM pos p JOIN dup_grams USING (gram_hash)
    ),
    brk AS (
        SELECT {id_col}, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY {id_col} ORDER BY start)
                         <= {n}
                    THEN 0 ELSE 1 END AS b
        FROM covered
    ),
    isl AS (
        SELECT {id_col}, start,
               SUM(b) OVER (PARTITION BY {id_col} ORDER BY start
                            ROWS UNBOUNDED PRECEDING) AS island
        FROM brk
    )
    SELECT {id_col}, MIN(start) AS span_start, MAX(start) + {n} AS span_end,
           MAX(start) + {n} - MIN(start) AS span_tokens
    FROM isl GROUP BY {id_col}, island
    """


#: (doc_id, start) orders identically to doc_id * POS_KEY_BASE + start —
#: a single BIGINT both engines can take MIN over (portable
#: lexicographic argmin) — PROVIDED start < POS_KEY_BASE. 2^26 allows
#: 67M tokens per document and ~1.4e11 documents before BIGINT overflow;
#: the Spark side enforces the start bound per row with assert_true (a
#: silent violation would corrupt canonical selection), so oversized
#: documents fail loudly instead of clipping wrongly.
POS_KEY_BASE = 1 << 26


def clip_duplicate_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_SPAN_N,
    *,
    cache_registry: list | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """The TRANSFORMATION half of substring dedup (Lee et al. ACL'22
    remove duplicated substrings from the training corpus, keeping one
    occurrence): rebuild every document with duplicated n-gram spans
    removed, except the CANONICAL occurrence of each gram — the posting
    with the lexicographically smallest (doc_id, start), encoded as the
    BIGINT doc_id * 2^26 + start (guarded — see POS_KEY_BASE) so both
    engines argmin the same way.

    Guarantee: every token position belonging to ANY canonical posting
    is protected absolutely — removable positions are subtracted by the
    protected-position set, so a gram's canonical occurrence survives
    intact even where it overlaps a DIFFERENT duplicated gram's
    removable occurrence (without the subtraction, overlapping removals
    could silently destroy every copy of a duplicated sequence).

    Pipeline: gram postings -> duplicate flag + canonical key as two
    window measures over ONE gram_hash shuffle -> removable and
    protected postings each explode to their n covered positions ->
    (removable MINUS protected) per doc -> token positions anti-join
    that set -> ordered re-assembly via
    sort_array(collect_list(struct(pos, token))). Output is the cleaned
    corpus: (id, cleaned_text, n_tokens, n_removed_tokens); cleaned_text
    is whitespace-normalized lowercase (the tokenizer's canonical form).
    Cost: O(corpus tokens) with one gram shuffle + one doc shuffle —
    the same bound as span *detection*; nothing is quadratic. Hot-gram
    skew note: see duplicate_ngram_spans(skew_safe=...) — the same
    tradeoff applies to these windows.

    ``cache_registry``: the flagged-postings frame is cached because
    both the removable and protected branches consume it; by default it
    stays cached for the process lifetime (fine for one-shot queries, a
    leak for long-running callers). Pass a list and the cached frame is
    appended to it instead — unpersist after materializing results
    (same lifecycle contract as ``minhash_index_probe``).

    ``postings``: precomputed gram postings, same contract as
    :func:`duplicate_ngram_spans` (``df`` is still scanned here — token
    re-assembly needs the raw token positions, which the posting table
    deliberately does not carry).
    """
    from pyspark.sql.window import Window

    pos = postings if postings is not None else _gram_postings(df, text, id_col, n)
    gw = Window.partitionBy("gram_hash")
    # assert_true rides inside the key expression (a standalone column
    # would be pruned away unevaluated): NULL (+0) when in range, loud
    # failure when a document exceeds POS_KEY_BASE tokens.
    # The packed key argmins like lexicographic (doc_id, start) ONLY for
    # non-negative integral doc_ids with start < POS_KEY_BASE: a negative
    # id flips the ordering, and a fractional id type would promote the
    # arithmetic to double (silent precision loss past 2^53) — both
    # corrupt canonical selection silently, so both fail loudly here.
    id_type = dict(df.dtypes)[id_col]
    if id_type not in {"tinyint", "smallint", "int", "bigint"}:
        raise TypeError(
            f"clip_duplicate_spans: id_col {id_col!r} must be integral, "
            f"got {id_type} (packed canonical key needs exact BIGINT math)"
        )
    guard = F.coalesce(
        F.assert_true(
            (F.col("start") < POS_KEY_BASE) & (F.col(id_col) >= 0),
            F.lit(
                f"canonical key out of range: need 0 <= {id_col} and "
                f"start < POS_KEY_BASE={POS_KEY_BASE}"
            ),
        ).cast("long"),
        F.lit(0),
    )
    pos_key = F.col(id_col) * POS_KEY_BASE + F.col("start") + guard
    # cached: the removable and protected branches both consume this
    # frame — without the cache the full posting explode + gram-hash
    # window chain runs twice. Only duplicated postings survive the
    # filter, so the cached frame is the small tail of the corpus.
    flagged = pos.select(
        id_col, "start",
        F.count(F.lit(1)).over(gw).alias("__cnt"),
        F.min(pos_key).over(gw).alias("__canon"),
        pos_key.alias("__key"),
    ).filter(F.col("__cnt") >= 2).cache()
    if cache_registry is not None:
        cache_registry.append(flagged)

    def positions(side: DataFrame) -> DataFrame:
        return side.select(
            id_col,
            F.explode(F.sequence(F.col("start"), F.col("start") + n - 1)).alias("p"),
        ).dropDuplicates([id_col, "p"])

    removable = positions(flagged.filter(F.col("__key") != F.col("__canon")))
    protected = positions(flagged.filter(F.col("__key") == F.col("__canon")))
    rem_positions = removable.join(protected, [id_col, "p"], "left_anti")
    toks = tokens_col(F.col(text))
    tokpos = df.select(
        F.col(id_col), F.posexplode(toks).alias("p", "tok")
    ).withColumn("p", F.col("p").cast("long"))
    kept = tokpos.join(rem_positions, [id_col, "p"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(F.col(id_col), F.array_size(tokens_col(F.col(text))).cast("long").alias("n_tokens"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed_tokens"
            ),
        )
    )


def clip_duplicate_spans_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_SPAN_N,
) -> str:
    """DuckDB twin of :func:`clip_duplicate_spans` (same constants,
    same out-of-range guard: a negative id or an over-long document
    raises instead of silently corrupting the canonical argmin)."""
    toks = tokens_sql(text)
    key_expr = (
        f"CASE WHEN {id_col} >= 0 AND start < {POS_KEY_BASE} "
        f"THEN CAST({id_col} AS BIGINT) * {POS_KEY_BASE} + start "
        f"ELSE CAST(error('canonical key out of range: need 0 <= {id_col} "
        f"and start < {POS_KEY_BASE}') AS BIGINT) END"
    )
    return f"""
    WITH pos AS {_gram_postings_sql(table, text, id_col, n)},
    flagged AS (
        SELECT {id_col}, start,
               count(*) OVER (PARTITION BY gram_hash) AS cnt,
               min({key_expr})
                   OVER (PARTITION BY gram_hash) AS canon,
               {key_expr} AS key
        FROM pos
    ),
    removable AS (
        SELECT DISTINCT {id_col}, u.p AS p
        FROM flagged, UNNEST(range(start, start + {n})) AS u(p)
        WHERE cnt >= 2 AND key != canon
    ),
    protected AS (
        SELECT DISTINCT {id_col}, u.p AS p
        FROM flagged, UNNEST(range(start, start + {n})) AS u(p)
        WHERE cnt >= 2 AND key = canon
    ),
    rem AS (
        SELECT r.{id_col}, r.p
        FROM removable r LEFT JOIN protected g
          ON g.{id_col} = r.{id_col} AND g.p = r.p
        WHERE g.{id_col} IS NULL
    ),
    tokpos AS (
        SELECT {id_col}, CAST(u.i - 1 AS BIGINT) AS p,
               toks[CAST(u.i AS INTEGER)] AS tok
        FROM (SELECT {id_col}, {toks} AS toks FROM {table}) t,
             UNNEST(range(1, len(toks) + 1)) AS u(i)
    ),
    kept AS (
        SELECT t.{id_col}, t.p, t.tok
        FROM tokpos t LEFT JOIN rem r ON r.{id_col} = t.{id_col} AND r.p = t.p
        WHERE r.{id_col} IS NULL
    ),
    rebuilt AS (
        SELECT {id_col}, string_agg(tok, ' ' ORDER BY p) AS cleaned_text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY {id_col}
    )
    SELECT d.{id_col}, COALESCE(r.cleaned_text, '') AS cleaned_text,
           CAST(len({toks}) AS BIGINT) AS n_tokens,
           CAST(len({toks}) AS BIGINT) - COALESCE(r.n_kept, 0)
               AS n_removed_tokens
    FROM {table} d LEFT JOIN rebuilt r ON r.{id_col} = d.{id_col}
    """


CONTAINMENT_THRESHOLD_NUM = 4
CONTAINMENT_THRESHOLD_DEN = 5  # t = 4/5 = 0.8


def containment_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    *,
    t_num: int = CONTAINMENT_THRESHOLD_NUM,
    t_den: int = CONTAINMENT_THRESHOLD_DEN,
    sets: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: pairs where the smaller document's shingle
    set is >= t contained in the other's — |S(A) ∩ S(B)| / min(|S(A)|,
    |S(B)|) >= t. This catches documents EMBEDDED in others (quotes,
    concatenations, page-within-crawl) that resemblance-based MinHash
    misses by construction: a small A inside a huge B has Jaccard
    |A|/|B| ~ 0 no matter how completely B contains A.

    Scale design — the SSJoin/PPJoin prefix filter (Chaudhuri et al.
    ICDE'06; Xiao et al. WWW'08), exact not approximate:

    1. one global shingle-frequency pass orders every doc's shingle set
       rarest-first (any FIXED total order works for correctness;
       rarity order minimizes join traffic);
    2. pigeonhole: if |A ∩ B| >= t*|A|, then among A's first
       |A| - ceil(t*|A|) + 1 shingles in that order at least one is in
       B — so each doc posts only its PREFIX (a (1-t)-fraction), and
       candidates come from prefix-postings ⋈ full-postings on the
       shingle hash. Prefixes are rarest-first, so posted join keys
       have small document frequency by construction — the join never
       keys on corpus-hot shingles unless a doc consists entirely of
       hot shingles;
    3. exact set-intersection verify on candidate pairs only.

    The candidate step is LOSSLESS (pigeonhole theorem), so output
    equals the brute-force all-pairs answer — which is exactly what the
    DuckDB oracle computes. Threshold is a RATIONAL (t_num/t_den):
    ceil(t*|A|) runs in integer arithmetic, so prefix lengths cannot
    drift across engines' float ceils. Output: (id_a, id_b, n_shared,
    containment_r) with id_a < id_b.

    ``sets``: a precomputed ``(id_col, sh)`` shingle-set frame for the
    same corpus and tokenizer — the minhash family's shared signature
    table carries exactly this column, so containment consumes it
    instead of re-shingling (the shared-upstream convention). A
    parquet-backed shared frame re-scans cheaply, so only the computed
    form is cached here."""
    if sets is not None:
        sh_sets = sets.select(F.col(id_col), "sh").withColumn(
            "size", F.array_size("sh")
        )
    else:
        sh_sets = (
            with_min_parallelism(df)
            .select(F.col(id_col), kernel(shingle_hashes, text).alias("sh"))
            .withColumn("size", F.array_size("sh"))
            .cache()
        )
    posts = sh_sets.select(id_col, "size", F.explode("sh").alias("h"))
    df_tab = posts.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = posts.join(df_tab, "h")
    # rarest-first per-doc order; prefix_len = size - ceil(t*size) + 1,
    # with ceil in pure integers: ceil(n*a/b) = (n*a + b - 1) div b
    arr = ranked.groupBy(id_col, "size").agg(
        F.sort_array(F.collect_list(F.struct("df", "h"))).alias("arr")
    )
    prefix_len = (
        F.col("size")
        - F.expr(f"(size * {t_num} + {t_den} - 1) div {t_den}")
        + 1
    )
    prefix_posts = arr.select(
        F.col(id_col).alias("__pid"),
        F.explode(
            F.slice(F.transform(F.col("arr"), lambda s: s["h"]), 1, prefix_len)
        ).alias("h"),
    )
    full_posts = posts.select(F.col(id_col).alias("__fid"), "h")
    cand = (
        prefix_posts.join(full_posts, "h")
        .filter(F.col("__pid") != F.col("__fid"))
        .select(
            F.least("__pid", "__fid").alias("id_a"),
            F.greatest("__pid", "__fid").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    a = sh_sets.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), F.col("size").alias("sz_a")
    )
    b = sh_sets.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), F.col("size").alias("sz_b")
    )
    inter = F.array_size(F.array_intersect("sh_a", "sh_b"))
    c = F.round(
        inter.cast("double") / F.least("sz_a", "sz_b").cast("double"), 6
    )
    # threshold compare in INTEGERS (inter*den >= min_size*num): comparing
    # the 6dp-ROUNDED ratio would admit pairs with true containment just
    # below t, which the pigeonhole prefix guarantee does not cover — the
    # losslessness claim holds only for the unrounded predicate.
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.cast("long").alias("n_shared"),
            c.alias("containment_r"),
            (inter * t_den >= F.least("sz_a", "sz_b") * t_num).alias("__keep"),
        )
        .filter(F.col("__keep"))
        .drop("__keep")
    )


def containment_pairs_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    *,
    t_num: int = CONTAINMENT_THRESHOLD_NUM,
    t_den: int = CONTAINMENT_THRESHOLD_DEN,
) -> str:
    """DuckDB twin of :func:`containment_pairs` — the brute-force
    all-pairs form (the prefix filter is lossless, so outputs match)."""
    sh = shingle_hashes_sql(text)
    return f"""
    WITH s AS (
        SELECT {id_col}, {sh} AS sh, len({sh}) AS sz FROM {table}
    )
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / least(a.sz, b.sz), 6) AS containment_r
    FROM s a JOIN s b ON a.{id_col} < b.{id_col}
    WHERE len(list_intersect(a.sh, b.sh)) * {t_den} >= least(a.sz, b.sz) * {t_num}
    """


def containment_pairs_between(
    probe_df: DataFrame,
    build_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    *,
    t_num: int = CONTAINMENT_THRESHOLD_NUM,
    t_den: int = CONTAINMENT_THRESHOLD_DEN,
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """INCREMENTAL asymmetric containment: an arriving probe batch
    checked against a static corpus — "is this document already covered
    by (or does it swallow) something we have?" — the ingestion-gate
    form of :func:`containment_pairs`, candidates probe x corpus only.

    Losslessness needs the PREFIX on whichever side is smaller (the
    side whose containment is measured), and either side can be smaller
    — a probe can be a fragment of a corpus doc or a concatenation
    containing one — so candidates are the UNION of two prefix legs:
    probe-prefix x corpus-full and probe-full x corpus-prefix. The
    corpus legs (full postings, prefix postings, shingle sets) are
    computed once per run from the static side; at scale they are the
    persisted index.

    Rarity note: the incremental form orders prefixes by shingle hash
    (corpus df would drift as the corpus grows and the probe batch's df
    is meaningless); ANY fixed order keeps the pigeonhole guarantee —
    rarity ordering in :func:`containment_pairs` is a cost optimization
    only, which the batch form keeps because it sees the whole corpus.

    STREAMING: ``probe_df`` may be a streaming DataFrame — every
    probe-side step is a per-row expression plus stream-static
    equi-joins against the corpus postings. State caveat: the candidate
    ``dropDuplicates`` and the candidate→probe-shingle join both hold
    STREAM-side state that Spark keeps ACROSS micro-batches (the dedup
    keys globally; the self-join buffers probe rows) — bounded for
    availableNow/bounded replays. For UNBOUNDED continuous runs pass
    ``watermark=(ts_col, delay)``: the probe's shingle set and event
    time then ride through both posting legs, the shingle re-join
    (which would be stream-stream) disappears, and the candidate dedup
    becomes ``dropDuplicatesWithinWatermark`` — the gate's one stateful
    op, with watermark-evicted state. Output contract consequence: a
    duplicate (probe_id, corpus_id) candidate arriving MORE than the
    watermark delay after the first is re-emitted (its dedup state was
    already evicted), so unbounded watermarked output can contain
    duplicate pairs the batch/availableNow path never produces —
    downstream consumers must tolerate or idempotently merge re-emitted
    pairs across watermark windows. Returns (probe_id, corpus_id,
    n_shared, containment_r)."""
    wm_streaming = watermark is not None and probe_df.isStreaming
    if wm_streaming:
        ts_col, delay = watermark
        probe_df = probe_df.withWatermark(ts_col, delay)

    def _sets(df: DataFrame, keep: list[str]) -> DataFrame:
        base = df if df.isStreaming else with_min_parallelism(df)
        return (
            base.select(
                F.col(id_col), *keep, kernel(shingle_hashes, text).alias("sh")
            )
            .withColumn("size", F.array_size("sh"))
        )

    prefix_len = (
        F.col("size")
        - F.expr(f"(size * {t_num} + {t_den} - 1) div {t_den}")
        + 1
    )

    # the probe side carries (ts, sh, size) through its posting explodes
    # in watermarked mode — probe-sized duplication, and what turns the
    # verify step into candidate-local expressions instead of a
    # stream-stream join
    p_keep = [ts_col, "sh", "size"] if wm_streaming else []

    def _prefix_posts(sets: DataFrame, pid: str, keep: list[str]) -> DataFrame:
        # hash-ordered prefix (sort_array on the set — already distinct)
        return sets.select(
            F.col(id_col).alias(pid),
            *keep,
            F.explode(
                F.slice(F.sort_array(F.col("sh")), 1, prefix_len)
            ).alias("h"),
        )

    def _full_posts(sets: DataFrame, pid: str, keep: list[str]) -> DataFrame:
        return sets.select(
            F.col(id_col).alias(pid), *keep, F.explode("sh").alias("h")
        )

    psets = _sets(probe_df, [ts_col] if wm_streaming else [])
    csets = _sets(build_df, []).cache()
    pk = (
        [F.col(ts_col), F.col("sh").alias("sh_p"), F.col("size").alias("sz_p")]
        if wm_streaming
        else []
    )
    leg1 = _prefix_posts(psets, "probe_id", pk).join(
        _full_posts(csets, "corpus_id", []), "h"
    )
    leg2 = _full_posts(psets, "probe_id", pk).join(
        _prefix_posts(csets, "corpus_id", []), "h"
    )
    cand = (
        leg1.unionByName(leg2)
        .filter(F.col("probe_id") != F.col("corpus_id"))
        .select(
            "probe_id",
            "corpus_id",
            *([ts_col, "sh_p", "sz_p"] if wm_streaming else []),
        )
    )
    if wm_streaming:
        cand = cand.dropDuplicatesWithinWatermark(["probe_id", "corpus_id"]).drop(
            ts_col
        )
    else:
        cand = cand.dropDuplicates(["probe_id", "corpus_id"])
        pa = psets.select(
            F.col(id_col).alias("probe_id"),
            F.col("sh").alias("sh_p"),
            F.col("size").alias("sz_p"),
        )
        cand = cand.join(pa, "probe_id")
    ca = csets.select(
        F.col(id_col).alias("corpus_id"),
        F.col("sh").alias("sh_c"),
        F.col("size").alias("sz_c"),
    )
    inter = F.array_size(F.array_intersect("sh_p", "sh_c"))
    c = F.round(
        inter.cast("double") / F.least("sz_p", "sz_c").cast("double"), 6
    )
    # integer threshold compare — see containment_pairs
    return (
        cand.join(ca, "corpus_id")
        .select(
            "probe_id",
            "corpus_id",
            inter.cast("long").alias("n_shared"),
            c.alias("containment_r"),
            (inter * t_den >= F.least("sz_p", "sz_c") * t_num).alias("__keep"),
        )
        .filter(F.col("__keep"))
        .drop("__keep")
    )


def containment_pairs_between_sql(
    probe_pred: str,
    build_pred: str,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    *,
    t_num: int = CONTAINMENT_THRESHOLD_NUM,
    t_den: int = CONTAINMENT_THRESHOLD_DEN,
) -> str:
    """DuckDB twin of :func:`containment_pairs_between` with the two
    sides selected from ``table`` by predicate — the brute-force
    probe x corpus form (both prefix legs are lossless, so outputs
    match the prefix-filtered Spark plan exactly)."""
    sh = shingle_hashes_sql(text)
    return f"""
    WITH p AS (
        SELECT {id_col}, {sh} AS sh, len({sh}) AS sz FROM {table}
        WHERE {probe_pred}
    ),
    c AS (
        SELECT {id_col}, {sh} AS sh, len({sh}) AS sz FROM {table}
        WHERE {build_pred}
    )
    SELECT p.{id_col} AS probe_id, c.{id_col} AS corpus_id,
           CAST(len(list_intersect(p.sh, c.sh)) AS BIGINT) AS n_shared,
           round(CAST(len(list_intersect(p.sh, c.sh)) AS DOUBLE)
                 / least(p.sz, c.sz), 6) AS containment_r
    FROM p JOIN c ON p.{id_col} != c.{id_col}
    WHERE len(list_intersect(p.sh, c.sh)) * {t_den} >= least(p.sz, c.sz) * {t_num}
    """


# --------------------------------------------------------------------------
# Persisted containment index: shingle the corpus once, probe batches forever
# --------------------------------------------------------------------------

#: ``sets`` (the add-only anti-join's key), then the ``full`` and
#: ``prefix`` postings, all size-targeted with tombstoned ids dropped.
#: Compaction preserves rows, it does not re-derive them: a doc left
#: partially posted by a crashed upsert is healed by a rebuild.
CONTAINMENT_LAYOUT = tuple(
    IndexDataset(leg, (), drop_tombstoned) for leg in ("sets", "full", "prefix")
)


def _containment_sets(docs: DataFrame, id_col: str, text: str) -> DataFrame:
    """(id, shingle set, size) per doc."""
    return docs.select(
        F.col(id_col), kernel(shingle_hashes, text).alias("sh")
    ).withColumn("size", F.array_size("sh"))


def _containment_postings(
    sets: DataFrame, id_col: str, t_num: int, t_den: int, alias: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """The (full, prefix) posting rows (id, h) of shingle ``sets``: every
    shingle, and the hash-ordered prefix that keeps the threshold
    ``t_num / t_den`` lossless — shared by the index build, upsert and
    probe. ``alias`` renames the id column."""
    pid = F.col(id_col).alias(alias or id_col)
    prefix_len = (
        F.col("size")
        - F.expr(f"(size * {t_num} + {t_den} - 1) div {t_den}")
        + 1
    )
    return (
        sets.select(pid, F.explode("sh").alias("h")),
        sets.select(
            pid, F.explode(F.slice(F.sort_array(F.col("sh")), 1, prefix_len)).alias("h")
        ),
    )


def _containment_datasets(docs, id_col, text, t_num, t_den, pin):
    """:data:`CONTAINMENT_LAYOUT`'s (sets, full, prefix) rows for
    ``docs``, the postings from the pinned sets."""
    sets = pin(_containment_sets(docs, id_col, text))
    return (sets, *_containment_postings(sets, id_col, t_num, t_den))


def build_containment_index(
    corpus: DataFrame,
    path: str,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    t_num: int = CONTAINMENT_THRESHOLD_NUM,
    t_den: int = CONTAINMENT_THRESHOLD_DEN,
) -> None:
    """Materialize the corpus side of :func:`containment_pairs_between`
    (the same build/serve split as ``build_minhash_index``): ``sets``
    (id, shingle set, size — the verify table), ``full`` postings
    (h, id), and hash-ordered ``prefix`` postings, plus the threshold in
    ``meta`` so probes can never use mismatched parameters.

    What the index buys: the inline incremental gate re-shingles and
    re-sorts the WHOLE corpus on every call — O(corpus text) of CPU per
    batch. Serving from the index replaces that with parquet scans of
    two slim (h, id) posting tables and one sets table; per-batch CPU is
    O(batch). The posting scans are still corpus-sized I/O — inherent
    to exact set-similarity join (every corpus shingle must be
    probe-able); the probe keeps them map-side by broadcasting its own
    batch-bounded posting legs, so no corpus shuffle ever happens.

    Prefix order note: prefixes here are HASH-ordered (identical to the
    incremental gate) — any fixed total order keeps the pigeonhole
    guarantee; corpus-frequency order would go stale as batches arrive.
    """
    build_index(
        corpus, path, CONTAINMENT_LAYOUT,
        lambda docs, pin: _containment_datasets(docs, id_col, text, t_num, t_den, pin),
        (t_num, t_den, id_col), "t_num int, t_den int, id_col string",
    )


def containment_index_probe(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    cache_registry: list | None = None,
) -> DataFrame:
    """Probe a persisted containment index with an arriving batch —
    output contract identical to :func:`containment_pairs_between`
    (probe_id, corpus_id, n_shared, containment_r), same oracle.
    Threshold and id column come from the index meta.

    Both lossless candidate legs run with the BATCH side broadcast
    (batch-bounded posting lists), so the corpus posting scans never
    shuffle; the verify step joins only candidates against the
    persisted sets table. ``cache_registry``: same lifecycle contract
    as ``minhash_index_probe`` — the batch's shingle-set frame is
    cached; pass a list to own the unpersist."""
    meta = _index_meta(spark, index_path)
    root = index_dataset_root(index_path)  # one snapshot per probe
    t_num, t_den = meta["t_num"], meta["t_den"]
    base = batch if batch.isStreaming else with_min_parallelism(batch)
    psets = _containment_sets(base, id_col, text)
    if not batch.isStreaming:
        psets = psets.cache()
        if cache_registry is not None:
            cache_registry.append(psets)
    p_full, p_prefix = _containment_postings(
        psets, id_col, t_num, t_den, alias="probe_id"
    )
    cid = meta["id_col"]
    c_full = read_static_schema(spark, f"{root}/full").select(
        F.col(cid).alias("corpus_id"), "h"
    )
    c_prefix = read_static_schema(spark, f"{root}/prefix").select(
        F.col(cid).alias("corpus_id"), "h"
    )
    leg1 = F.broadcast(p_prefix).join(c_full, "h")
    leg2 = F.broadcast(p_full).join(c_prefix, "h")
    cand = (
        leg1.unionByName(leg2)
        .filter(F.col("probe_id") != F.col("corpus_id"))
        .select("probe_id", "corpus_id")
        .dropDuplicates(["probe_id", "corpus_id"])
    )
    pa = psets.select(
        F.col(id_col).alias("probe_id"),
        F.col("sh").alias("sh_p"),
        F.col("size").alias("sz_p"),
    )
    ca = read_static_schema(spark, f"{root}/sets").select(
        F.col(cid).alias("corpus_id"),
        F.col("sh").alias("sh_c"),
        F.col("size").alias("sz_c"),
    )
    # logical deletes; compact_containment_index folds them in physically
    cand = drop_tombstoned(spark, cand, root, meta, "corpus_id")
    inter = F.array_size(F.array_intersect("sh_p", "sh_c"))
    c = F.round(inter.cast("double") / F.least("sz_p", "sz_c").cast("double"), 6)
    return (
        cand.join(pa, "probe_id")
        .join(ca, "corpus_id")
        .select(
            "probe_id",
            "corpus_id",
            inter.cast("long").alias("n_shared"),
            c.alias("containment_r"),
            (inter * t_den >= F.least("sz_p", "sz_c") * t_num).alias("__keep"),
        )
        .filter(F.col("__keep"))
        .drop("__keep")
    )


def containment_index_upsert(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    assume_new_ids: bool = False,
) -> None:
    """ADD a document batch to a persisted containment index: shingle it
    with the index's own threshold and append its sets row, then its
    full and prefix postings (:func:`index_upsert` states the contract).
    Prefixes stay hash-ordered, which is what makes incremental adds
    sound — a frequency-ordered prefix scheme would need re-sorting the
    whole corpus as frequencies drift."""
    index_upsert(
        spark, index_path, batch, CONTAINMENT_LAYOUT,
        lambda docs, meta, root, pin: _containment_datasets(
            docs, meta["id_col"], text, meta["t_num"], meta["t_den"], pin
        ),
        id_col=id_col, assume_new_ids=assume_new_ids,
    )


containment_index_delete = index_delete


def compact_containment_index(spark, index_path: str) -> str:
    """:func:`compact_index` over :data:`CONTAINMENT_LAYOUT` (concurrent
    probes and crashes: see :func:`index_dataset_root`)."""
    return compact_index(spark, index_path, CONTAINMENT_LAYOUT)


# --------------------------------------------------------------------------
# Bloom-filter index: the negative-probe fast path of the exact gate
# --------------------------------------------------------------------------

BLOOM_SEGMENTS = 16
#: 63 bits per word keeps every mask strictly positive in a signed int64
#: (1 << 63 flips the sign bit and engines disagree on overflow wrapping).
BLOOM_BITS_PER_WORD = 63
BLOOM_WORDS_PER_SEGMENT = 64  # 64 words x 63 bits = 4032 bits/segment
BLOOM_K = 5
#: (a, b) seed pairs for the k member hashes h_i = ((a*h + b) % M31) % m —
#: fixed primes so build and probe derive the identical family.
BLOOM_SEEDS = (
    (1299721, 15485863),
    (2750161, 32452843),
    (4256233, 49979687),
    (5800079, 67867967),
    (7368787, 86028121),
)


def _bloom_bit_rows(
    df: DataFrame,
    *,
    hash_expr: Column,
    n_segments: int,
    words_per_segment: int,
    k: int,
    keep: list | None = None,
) -> DataFrame:
    """(segment, word_idx, mask) rows for every member-hash position of
    every input row — the shared kernel of the Bloom and keyset
    indexes' build, upsert, and probe. ``hash_expr`` is any
    non-negative BIGINT column expression (content hash for the doc
    filter, hash60 of the raw key for the keyset index); ``keep`` is a
    list of aliased Columns to carry through (probe shape)."""
    if k > len(BLOOM_SEEDS):
        raise ValueError(f"k={k} exceeds the fixed seed family ({len(BLOOM_SEEDS)})")
    m_bits = words_per_segment * BLOOM_BITS_PER_WORD

    # hash_expr (an md5-based conv for every caller) is let-bound so the
    # k position expressions + the segment all derive from ONE evaluation
    # per row — inline it would md5 each key k+1 times (portable.let_col).
    def seg_pos(h: Column) -> Column:
        folded = h % F.lit(MERSENNE_31)
        return F.array(
            *[
                F.struct(
                    F.pmod(h, F.lit(n_segments)).alias("segment"),
                    (
                        ((F.lit(a) * folded + F.lit(b)) % F.lit(MERSENNE_31))
                        % F.lit(m_bits)
                    ).alias("pos"),
                )
                for a, b in BLOOM_SEEDS[:k]
            ]
        )

    keep = list(keep or [])
    keep_names = [df.select(c).columns[0] for c in keep]
    rows = df.select(
        *keep, F.explode(let_col(hash_expr, seg_pos)).alias("__sp")
    ).select(*keep_names, F.col("__sp.segment").alias("segment"), F.col("__sp.pos").alias("pos"))
    return rows.select(
        *keep_names,
        "segment",
        F.floor(F.col("pos") / F.lit(BLOOM_BITS_PER_WORD)).cast("long").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_BITS_PER_WORD} AS INT))").alias("mask"),
    )


def _bloom_words(
    df: DataFrame, hash_expr: Column, n_segments: int, words_per_segment: int, k: int
) -> DataFrame:
    """(segment, word_idx, word): the member bits of every ``df`` row
    OR-folded per filter word — the rows the Bloom and keyset builds
    write and their upserts append."""
    return (
        _bloom_bit_rows(
            df,
            hash_expr=hash_expr,
            n_segments=n_segments,
            words_per_segment=words_per_segment,
            k=k,
        )
        .groupBy("segment", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


#: ``bits`` one file per segment directory, bit rows OR-folded.
BLOOM_LAYOUT = (IndexDataset("bits", ("segment",), or_fold_bits),)


def build_bloom_index(
    corpus: DataFrame,
    path: str,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    n_segments: int = BLOOM_SEGMENTS,
    words_per_segment: int = BLOOM_WORDS_PER_SEGMENT,
    k: int = BLOOM_K,
) -> None:
    """Materialize a partitioned Bloom filter over the corpus's 60-bit
    content hashes — the NEGATIVE-probe fast path in front of the
    persisted hash index (the fifth persisted-index family member after
    the hash, MinHash band, containment, and IVF indexes).

    Why it exists at 100 TB: in steady-state continuous ingestion most
    arriving docs are NEW, so the common case of the exact gate is a
    miss. The hash index answers a miss by scanning the probed bucket
    directories; the Bloom filter answers it from ~10 bits/doc of
    set-membership state with zero false negatives, so only the
    (rare) maybe-duplicates ever touch the hash index at all. Sizing:
    bits = n_docs * bits_per_key (9.6 bits/key = 1% FPR at k=5-7), then
    n_segments = bits / (words_per_segment * 63); at 1e10 docs and 1%
    FPR that is ~12 GB of bits total — far too big to broadcast whole,
    which is exactly why the filter is hash-partitioned into segments:
    a probe batch routes each doc to ONE segment directory and reads
    only the probed segments' sparse (word_idx, word) rows.

    Layout: ``path/bits`` = (word_idx, word) hive-partitioned by
    ``segment`` (one file per directory, same rule as the other
    indexes); ``path/meta`` = every derivation parameter, read back by
    probes so a filter can never be probed with a mismatched family.

    Deletes: a plain Bloom filter cannot unset bits. The exact gate's
    correctness is owned by the CONFIRMING hash-index probe (which
    honors its tombstones); a deleted doc only costs a false positive
    here until the next rebuild. That is the standard production
    trade (RocksDB/Cassandra SSTable filters behave identically)."""
    build_index(
        corpus, path, BLOOM_LAYOUT,
        lambda docs, pin: (pin(_bloom_words(
            docs, kernel(content_hash, text), n_segments, words_per_segment, k
        )),),
        (n_segments, words_per_segment, k, id_col, text),
        "n_segments int, words_per_segment int, k int, id_col string, text_col string",
    )


def bloom_index_probe(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    cache_registry: list | None = None,
) -> DataFrame:
    """Membership pre-test for an arriving batch: (probe_id,
    content_hash) for every batch doc the filter CANNOT rule out.
    Guarantees: no false negatives (every true exact-dup survives);
    false positives bounded by the build-time bits/key. The batch
    hashes ONLY itself; its distinct segments — bounded by the index's
    ``n_segments`` no matter the batch size — become a literal static
    PartitionFilter on the bits scan, the probed segments' rows fold
    once (bounded by words_per_segment x probed segments, so the
    pre-fold shuffle is constant-sized), and the batch's per-word needs
    broadcast into one map-side inner join. A doc passes iff every one
    of its needed words has all needed bits set."""
    meta = _index_meta(spark, index_path)
    root = index_dataset_root(index_path)  # one snapshot per probe
    base = batch if batch.isStreaming else with_min_parallelism(batch)
    # hash the CALLER's text column, exactly like hash_index_probe: the
    # composed bloom->hash exact gate must hash the same column in both
    # stages, or the pre-test can rule out docs the confirm join would
    # have matched (silent false negatives). meta["text_col"] records
    # the build-time column for audits; it is not a probe-time default.
    h = kernel(content_hash, text)
    need = (
        _bloom_bit_rows(
            base,
            hash_expr=h,
            n_segments=meta["n_segments"],
            words_per_segment=meta["words_per_segment"],
            k=meta["k"],
            keep=[F.col(id_col).alias("probe_id"), h.alias("content_hash")],
        )
        .groupBy("probe_id", "content_hash", "segment", "word_idx")
        .agg(F.bit_or("mask").alias("need"))
    )
    # need feeds the segment-routing collect, the hits leg, and the
    # totals leg — cache it on the batch path so its upstream (the
    # batch scan + content hash + bit fold) runs once, not three times
    # (the keyset_index_probe lifecycle).
    if not batch.isStreaming:
        need = need.cache()
        if cache_registry is not None:
            cache_registry.append(need)
    bits = read_static_schema(spark, f"{root}/bits")
    if not batch.isStreaming:
        # need is batch-bounded: it broadcasts into the hits join below
        segs = routing_keys(need, "segment")
        if not segs:
            return need.select("probe_id", "content_hash").limit(0)
        bits = bits.filter(_in_literals("segment", segs))
    # upsert batches append rows per (segment, word_idx); fold them so a
    # doc's bits spread across appends still count as set.
    folded = bits.groupBy("segment", "word_idx").agg(F.bit_or("word").alias("word"))
    hits = (
        folded.join(F.broadcast(need), ["segment", "word_idx"])
        .filter(F.col("word").bitwiseAND(F.col("need")) == F.col("need"))
        .groupBy("probe_id", "content_hash")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    totals = need.groupBy("probe_id", "content_hash").agg(
        F.count(F.lit(1)).alias("n_need")
    )
    return (
        totals.join(hits, ["probe_id", "content_hash"])
        .filter(F.col("n_hit") == F.col("n_need"))
        .select("probe_id", "content_hash")
    )


def bloom_index_upsert(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    text: str = "text",
) -> None:
    """OR the batch's bits into the filter: append (word_idx, word) rows
    to the touched segment directories (:func:`index_upsert` states the
    contract). Bit-OR is associative, commutative and idempotent, so
    upsert-then-probe is bit-identical to rebuild-then-probe and a
    replayed batch needs no id anti-join."""
    index_upsert(
        spark, index_path, batch, BLOOM_LAYOUT,
        lambda docs, meta, root, pin: (pin(_bloom_words(
            docs, kernel(content_hash, text), meta["n_segments"],
            meta["words_per_segment"], meta["k"],
        )),),
    )


def compact_bloom_index(spark, index_path: str) -> str:
    """:func:`compact_index` over :data:`BLOOM_LAYOUT` (concurrent probes
    and crashes: see :func:`index_dataset_root`)."""
    return compact_index(spark, index_path, BLOOM_LAYOUT)


def bloom_gated_exact_probe(
    spark,
    bloom_path: str,
    hash_index_path: str,
    batch: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    cache_registry: list | None = None,
) -> DataFrame:
    """The composed exact gate a production ingestion loop runs: Bloom
    pre-test first (ZERO false negatives, so nothing true is lost),
    then ONLY the maybe-duplicates probe the persisted hash index for
    confirmation. Output contract identical to :func:`hash_index_probe`
    — (probe_id, corpus_id, content_hash) — because the confirm step
    eliminates every Bloom false positive; at steady state (mostly-new
    batches) the hash index sees a small fraction of the batch and
    pure-new batches skip it entirely.

    ``cache_registry``: forwarded to :func:`bloom_index_probe`, whose
    batch path caches its probe-need frame — a per-micro-batch loop
    (the documented foreachBatch pattern) must pass a registry and
    unpersist after each batch, or cached frames accrete for the life
    of the process (the keyset_index_probe lifecycle contract)."""
    maybe = bloom_index_probe(
        spark, bloom_path, batch, text=text, id_col=id_col,
        cache_registry=cache_registry,
    ).select(F.col("probe_id").alias(id_col))
    gated = batch.join(F.broadcast(maybe), id_col, "left_semi")
    if not batch.isStreaming:
        # pin the gated slice: the hash probe consumes it TWICE (its
        # bucket-routing collect + the confirm join) and its lineage
        # includes the whole bloom hits/totals join — without the cache
        # the bloom legs re-execute per consumer (measured ~1.5 s of the
        # composed gate's plan time at sf0.1). Registered like the rest.
        gated = gated.cache()
        if cache_registry is not None:
            cache_registry.append(gated)
    return hash_index_probe(spark, hash_index_path, gated, text=text, id_col=id_col)


# --------------------------------------------------------------------------
# Keyset index: bloom-fronted exact-membership set over arbitrary keys
# --------------------------------------------------------------------------

#: ``bits`` before ``keys``: a crash between the two appends leaves
#: bits without their keys, which the retry's membership probe re-adds
#: (the reverse order would leave keys the filter rules out: Bloom
#: false negatives). ``bits`` OR-folded and ``keys`` unchanged (upserts
#: append only fresh keys, so they are duplicate-free), one file per
#: segment directory each.
KEYSET_LAYOUT = (
    IndexDataset("bits", ("segment",), or_fold_bits),
    IndexDataset("keys", ("segment",)),
)


def _keyset_base(keys: DataFrame, key_col: str, n_segments: int) -> DataFrame:
    """Distinct (key, segment = pmod(hash60(key), n_segments)) rows."""
    return (
        keys.select(F.col(key_col).alias("key"))
        .distinct()
        .withColumn("segment", F.pmod(hash60(F.col("key")), F.lit(n_segments)))
    )


def _keyset_datasets(keys, n_segments, words_per_segment, k, pin):
    """:data:`KEYSET_LAYOUT`'s (bits, keys) rows for distinct (key,
    segment) rows, both from the pinned keys."""
    keys = pin(keys)
    bits = _bloom_words(keys, hash60(F.col("key")), n_segments, words_per_segment, k)
    return bits, keys


def build_keyset_index(
    keys: DataFrame,
    path: str,
    *,
    key_col: str = "key",
    n_segments: int = BLOOM_SEGMENTS,
    words_per_segment: int = BLOOM_WORDS_PER_SEGMENT,
    k: int = BLOOM_K,
) -> None:
    """Materialize an exact-membership SET over arbitrary string keys
    with a Bloom-filter negative fast path — the generalization of the
    content-hash Bloom index from "is this document in the corpus" to
    "is this KEY in a protected set". The motivating workload is
    benchmark DECONTAMINATION when the protected n-gram set is too big
    to broadcast (the whole-corpus cross-wave case, or a consolidated
    eval suite at 1e9+ grams): membership must stay EXACT (a missed
    contamination is a train/test leak), but most corpus grams are NOT
    protected, so the common case should never touch the exact set.

    Layout: ``path/bits`` = the Bloom filter over hash60(key), segment-
    partitioned exactly like the doc filter; ``path/keys`` = the exact
    keys (RAW STRINGS — the confirm join matches strings, so a 60-bit
    hash collision can never produce a false member at any scale),
    hive-partitioned by the same segment; ``path/meta``. Probe cost:
    negatives resolve from probed bit segments (~10 bits/key of state);
    only Bloom-positives join the keys table, segment-pruned.

    Deletes: drop rows from ``keys`` and rebuild ``bits`` — bits alone
    cannot unset; until then a deleted key costs a confirm lookup, never
    a wrong answer (membership truth lives in ``keys``)."""
    build_index(
        keys, path, KEYSET_LAYOUT,
        lambda rows, pin: _keyset_datasets(
            _keyset_base(rows, key_col, n_segments), n_segments,
            words_per_segment, k, pin,
        ),
        (n_segments, words_per_segment, k, key_col),
        "n_segments int, words_per_segment int, k int, key_col string",
    )


def keyset_index_probe(
    spark,
    index_path: str,
    probe: DataFrame,
    *,
    key_col: str = "key",
    cache_registry: list | None = None,
    segments: list[int] | None = None,
    confirm_segments: list[int] | None = None,
) -> DataFrame:
    """Exact membership test for a batch of keys: returns the DISTINCT
    probe keys that ARE in the set (one ``key`` column). Two stages,
    both pruned by the batch: (1) Bloom pre-test — distinct probe keys
    hash to positions, probed segments become a literal PartitionFilter
    on the bits scan, zero false negatives; (2) confirm — only the
    Bloom-positives equi-join the exact keys table on the RAW STRING
    (collision-proof), again scanning only their segment directories.
    Negatives — the common case in decontamination — never touch the
    keys table at all.

    The distinct probe-key frame is CACHED on the batch path: the two
    segment-routing collects (bits, then keys) plus the final job would
    otherwise each re-run the probe's full upstream lineage — for a
    corpus-wide decontamination sweep that is the shingle explode three
    times. ``cache_registry``: same lifecycle contract as
    :func:`minhash_index_probe` — by default the frame stays cached for
    the process; pass a list to drain/unpersist per batch.

    ``segments`` / ``confirm_segments`` (batch-only): precomputed
    routing SUPERSETS of the probe keys' ``pmod(hash60(key),
    n_segments)`` values for the bits scan and the keys-table confirm
    scan respectively. A key lives in exactly ONE segment, so the
    Bloom-positive keys' confirm segments are always a subset of the
    probe keys' — a caller may pass the SAME superset for both,
    trading a few extra keys-table directories for the adaptive
    maybe-collect (the confirm join is still exact on (key, segment)). An EMPTY list asserts the probe provably has no
    keys and short-circuits to an empty result."""
    meta = _index_meta(spark, index_path)
    root = index_dataset_root(index_path)  # one snapshot per probe
    base = probe if segments is not None else with_min_parallelism(probe)
    pkeys = base.select(F.col(key_col).alias("key")).distinct()
    if not probe.isStreaming:
        pkeys = pkeys.cache()
        if cache_registry is not None:
            cache_registry.append(pkeys)
    h = hash60(F.col("key"))
    need = (
        _bloom_bit_rows(
            pkeys,
            hash_expr=h,
            n_segments=meta["n_segments"],
            words_per_segment=meta["words_per_segment"],
            k=meta["k"],
            keep=[F.col("key")],
        )
        .groupBy("key", "segment", "word_idx")
        .agg(F.bit_or("mask").alias("need"))
    )
    # need (|distinct keys| x k rows behind a shuffle) feeds the segment-
    # routing collect, the hits leg, AND the totals leg — cache it on the
    # batch path so the fold shuffle runs once, not three times; same
    # lifecycle as pkeys.
    if not probe.isStreaming:
        need = need.cache()
        if cache_registry is not None:
            cache_registry.append(need)
    bits = read_static_schema(spark, f"{root}/bits")
    if not probe.isStreaming:
        if segments is None:
            # the one routing collect that keeps its .distinct(): need is
            # |distinct probe keys| x k rows — corpus-vocabulary-sized
            # for a whole-corpus decontamination sweep, never broadcast
            # (see below) — so its keys are deduplicated on the cluster.
            segs = [
                r["segment"] for r in need.select("segment").distinct().collect()
            ]
        else:
            segs = sorted({int(s) for s in segments})
        if not segs:
            return pkeys.limit(0)
        bits = bits.filter(_in_literals("segment", segs))
    folded = bits.groupBy("segment", "word_idx").agg(F.bit_or("word").alias("word"))
    # broadcast the BITS fold, not the probe's need rows: folded is
    # bounded by the index geometry (probed segments x words/segment)
    # no matter the probe size, while need is |distinct probe keys| x k
    # — corpus-vocabulary-sized for a whole-corpus decontamination
    # sweep (broadcasting it measured ~2.5 s of the bloom-gated
    # contamination query at sf0.1; guide §3.1 — broadcast the side
    # that is PROVABLY small). The left join + one conditional-count
    # aggregate replaces the former hits/totals two-aggregate join:
    # a word_idx absent from the fold (no set bits) makes the AND test
    # null -> counted 0, exactly the inner join's miss.
    hit = F.col("word").bitwiseAND(F.col("need")) == F.col("need")
    maybe = (
        need.join(F.broadcast(folded), ["segment", "word_idx"], "left")
        .groupBy("key", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_need"),
            F.sum(F.when(hit, 1).otherwise(0)).alias("n_hit"),
        )
        .filter(F.col("n_hit") == F.col("n_need"))
        .select("key", "segment")
    )
    keys_tbl = read_static_schema(spark, f"{root}/keys")
    if not probe.isStreaming:
        if confirm_segments is None:
            # maybe feeds the keys-segment routing collect and the final
            # confirm semi-join — cache it so the Bloom-verify join runs
            # once per batch.
            maybe = maybe.cache()
            if cache_registry is not None:
                cache_registry.append(maybe)
            # maybe is batch-bounded: it broadcasts into the confirm
            msegs = routing_keys(maybe, "segment")
        else:
            # caller-supplied superset (one segment per key, so probe-key
            # segments always cover the Bloom-positives'): no adaptive
            # collect, no cache — maybe is consumed exactly once below.
            msegs = sorted({int(s) for s in confirm_segments})
        if not msegs:
            return pkeys.limit(0)
        keys_tbl = keys_tbl.filter(_in_literals("segment", msegs))
    return keys_tbl.join(F.broadcast(maybe), ["key", "segment"], "left_semi").select(
        "key"
    )


def keyset_index_upsert(
    spark,
    index_path: str,
    new_keys: DataFrame,
    *,
    key_col: str = "key",
) -> None:
    """Add keys to the set: OR their bits into the filter and append the
    keys to the touched segment directories (:func:`index_upsert` states
    the contract). Instead of an id anti-join, a membership probe of the
    index picks the fresh keys, so replays and re-adds are idempotent
    and the keys table stays duplicate-free."""
    meta = _index_meta(spark, index_path)
    base = _keyset_base(new_keys, key_col, meta["n_segments"])
    probe_caches: list = []
    existing = keyset_index_probe(
        spark, index_path, base, cache_registry=probe_caches
    )
    index_upsert(
        spark, index_path, base.join(F.broadcast(existing), "key", "left_anti"),
        KEYSET_LAYOUT,
        lambda fresh, meta, root, pin: _keyset_datasets(
            fresh, meta["n_segments"], meta["words_per_segment"], meta["k"], pin
        ),
    )
    for frame in probe_caches:
        frame.unpersist()


def compact_keyset_index(spark, index_path: str) -> str:
    """:func:`compact_index` over :data:`KEYSET_LAYOUT` (concurrent
    probes and crashes: see :func:`index_dataset_root`)."""
    return compact_index(spark, index_path, KEYSET_LAYOUT)


# --------------------------------------------------------------------------
# Line-level dedup (C4-style: exact-duplicate lines keep one occurrence)
# --------------------------------------------------------------------------

#: words per "line". The synthetic corpus is a flat token stream (no
#: newlines), so lines are consecutive fixed-width word windows — the
#: same segmentation C4 applies to real newline-delimited text (Raffel
#: et al., JMLR'20 §2.2 dedup at the "three-sentence span"/line level;
#: exact-line here, complementing the substring-level dedup_ngram_span_*
#: operators which re-express Lee et al. ACL'22).
LINE_WIDTH = 5

#: canonical-occurrence key = doc_id * LINE_KEY_BASE + line_idx — a
#: portable integer (no struct-comparison semantics to match across
#: engines). Safe while docs stay under LINE_KEY_BASE lines, which a
#: 100 TB corpus of documents satisfies by ~6 orders of magnitude.
LINE_KEY_BASE = 100_000


def line_occurrences(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", width: int = LINE_WIDTH
) -> DataFrame:
    """(id, line_idx, line, nw, key): every doc's word stream split into
    consecutive ``width``-word lines (ragged tail kept — it is a line).
    Pure per-row HOFs into one posexplode; no shuffle. Word array
    let-bound — the per-line lambda slices a bound attribute, never
    re-splitting the text per line (portable.let_col)."""
    def body(words: Column) -> Column:
        # greatest(n_lines, 1): sequence(0, -1) would DESCEND and
        # fabricate two phantom lines for an empty token array — today
        # unreachable only because split('') yields [''], an invariant
        # correctness shouldn't hinge on (ADVICE r7).
        n_lines = F.greatest(
            F.ceil(F.size(words) / F.lit(width)).cast("int"), F.lit(1)
        )
        return F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.struct(
                F.array_join(F.slice(words, i * width + 1, width), " ").alias(
                    "line"
                ),
                F.size(F.slice(words, i * width + 1, width))
                .cast("long")
                .alias("nw"),
            ),
        )

    chunks = let_col(tokens_col(F.col(text)), body)
    # the packed canonical key silently collides for >= LINE_KEY_BASE
    # lines (or ids near 2^63 / LINE_KEY_BASE) — fail LOUD instead of
    # mis-attributing canonical owners (ADVICE r7). assert_true returns
    # NULL on success, so the guard never changes the key's value.
    in_range = (F.col("line_idx") < F.lit(LINE_KEY_BASE)) & (
        F.abs(F.col(id_col)) < F.lit((1 << 62) // LINE_KEY_BASE)
    )
    key = F.when(
        F.assert_true(in_range, F.lit("line key overflow/collision")).isNull(),
        F.col(id_col) * LINE_KEY_BASE + F.col("line_idx"),
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("line_idx", "c")
    ).select(
        id_col,
        "line_idx",
        F.col("c.line").alias("line"),
        F.col("c.nw").alias("nw"),
        key.alias("key"),
    )


def line_dedup_stats(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", width: int = LINE_WIDTH
) -> DataFrame:
    """Per-doc line-dedup report: of the doc's ``n_lines`` lines, how
    many are non-canonical repeats of a line seen elsewhere
    (``n_dup_lines`` — the canonical copy is the globally FIRST
    occurrence by (doc, position), which keeps exactly one copy
    corpus-wide, C4's rule) and how many words removal would drop
    (``n_tokens_removed``). ONE corpus scan: the canonical owner is a
    min window over the line partition (unbounded-frame agg, no sort —
    a boilerplate line repeated millions of times costs a partial min,
    never a blowup), then one per-doc re-aggregate — two shuffles total
    (line, then doc), no self-join, no second scan."""
    from pyspark.sql.window import Window

    occ = line_occurrences(df, text=text, id_col=id_col, width=width)
    own = F.min("key").over(Window.partitionBy("line"))
    dup = F.col("key") != F.col("own")
    return (
        occ.withColumn("own", own)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(dup.cast("long")).alias("n_dup_lines"),
            F.coalesce(F.sum(F.when(dup, F.col("nw"))), F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def line_dedup_stats_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    width: int = LINE_WIDTH,
) -> str:
    """DuckDB twin of :func:`line_dedup_stats` (same aliases)."""
    toks = tokens_sql(text)
    return f"""
    WITH occ AS (
        SELECT {id_col}, (u.idx - 1) // {width} AS line_idx, u.tok, u.idx
        FROM (SELECT {id_col}, {toks} AS ts FROM {table}),
             unnest(list_transform(ts, (t, i) -> struct_pack(tok := t, idx := i))) AS t(u)
    ),
    lines AS (
        SELECT {id_col}, line_idx,
               string_agg(tok, ' ' ORDER BY idx) AS line,
               CAST(COUNT(*) AS BIGINT) AS nw,
               {id_col} * {LINE_KEY_BASE} + line_idx AS key
        FROM occ GROUP BY {id_col}, line_idx
    ),
    canon AS (SELECT line, MIN(key) AS own FROM lines GROUP BY line)
    SELECT l.{id_col},
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN l.key != c.own THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_lines,
           CAST(COALESCE(SUM(CASE WHEN l.key != c.own THEN l.nw END), 0) AS BIGINT)
               AS n_tokens_removed
    FROM lines l JOIN canon c USING (line)
    GROUP BY l.{id_col}
    """
