"""LLM training-data pipeline queries (SURVEY.md §7 M5 / the driver's
north star): text analysis, dedup (exact / Jaccard / MinHash-LSH /
SimHash), similarity search (brute-force + LSH ANN), and multimodal
plumbing — every one oracle-checked except where genuinely non-SQL.

These run over ``documents`` (doc_id, text, lang, source, n_chars) and
``embeddings`` (vec_id, embedding array<float>, label).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.artifacts import artifact
from kafka_streams_the_clojure_way_spark.functions import portable as P
from kafka_streams_the_clojure_way_spark.operators import clustering as C
from kafka_streams_the_clojure_way_spark.operators import dedup as D
from kafka_streams_the_clojure_way_spark.operators import sketches as SK
from kafka_streams_the_clojure_way_spark.operators import similarity as S
from kafka_streams_the_clojure_way_spark.operators import text as T
from kafka_streams_the_clojure_way_spark.functions import codecs as CC
from kafka_streams_the_clojure_way_spark.operators.multimodal import (
    corrupt_assets,
    decode_assets,
    encode_text_assets,
    extract_features,
    sample_frames,
    wrap_binary_assets,
)
from kafka_streams_the_clojure_way_spark.queries.registry import ORACLES, query
from kafka_streams_the_clojure_way_spark.sources.files import (
    load_table,
    read_static_schema,
    with_min_parallelism,
)


def _select_sql(exprs: dict[str, str], table: str, extra: str = "doc_id") -> str:
    cols = ", ".join(f"{sql} AS {alias}" for alias, sql in exprs.items())
    return f"SELECT {extra}, {cols} FROM {table}"


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

@query("text_token_stats", oracle=_select_sql(T.token_stats_sql(), "documents"))
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish subword proxy count,
    chars/token. Narrow per-row map — pipelined into the scan."""
    docs = load_table(spark, sf_dir, "documents")
    return T.token_stats(docs).select(
        "doc_id", "n_tokens", "n_bpeish_tokens", "chars_per_token"
    )


@query(
    "text_bpe_token_stats",
    oracle=f"""
    WITH bpe AS (SELECT doc_id, n_tokens_bpe FROM {T.bpe_token_counts_sql()} b)
    SELECT d.doc_id,
           CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_tokens_ws,
           b.n_tokens_bpe
    FROM documents d JOIN bpe b USING (doc_id)
    """,
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-FAITHFUL token accounting: greedy longest-match subword
    segmentation of every word against the frozen literal vocab
    (operators/text.BPE_VOCAB) — the unit real pipelines budget, shard,
    and mix in (whitespace counts misprice morphology-heavy text). The
    tokenizer is JVM-side HOF folds, no UDF — and the oracle replays the
    identical greedy fold as a DuckDB recursive CTE, so the
    SEGMENTATION, not just the count shape, is value-checked. Batch
    form: the fold runs once per DISTINCT word (operators/text.
    bpe_token_counts — Zipf makes that ~10x fewer folds than the
    per-occurrence form, which remains the streaming-safe variant)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = T.bpe_token_counts(docs)
    return (
        _shared_tokens(spark, sf_dir)
        .select("doc_id", F.col("n_toks").alias("n_tokens_ws"))
        .join(counts, "doc_id")
    )


@query("text_quality_scores", oracle=_select_sql(T.quality_scores_sql(), "documents"))
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword features + composite
    0-100 score for corpus filtering."""
    docs = load_table(spark, sf_dir, "documents")
    return T.quality_scores(docs).select(
        "doc_id", "n_chars_obs", "punct_ratio", "stopword_ratio", "quality_score"
    )


@query("text_lang_id", oracle=_select_sql(T.lang_id_sql(), "documents"))
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID with per-language evidence counts."""
    docs = load_table(spark, sf_dir, "documents")
    return T.lang_id(docs).select("doc_id", "n_en", "n_de", "n_es", "n_fr", "lang_pred")


@query(
    "text_fingerprint",
    oracle=f"SELECT doc_id, {T.fingerprint_sql()} AS fingerprint FROM documents",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (portable md5
    token hashes folded mod M31)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.fingerprint(docs).select("doc_id", "fingerprint")


_WINNOW_SQL = T.winnow_sql()


@query(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, {_WINNOW_SQL['grams']} AS grams FROM documents
    ),
    w AS (
        SELECT doc_id, len(grams) AS n_grams, {_WINNOW_SQL['sel']} AS sel
        FROM g
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(sel) AS BIGINT) AS n_fingerprints,
           CAST({_WINNOW_SQL['fp_xor']} AS BIGINT) AS fp_xor
    FROM w
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary (Schleimer et al. SIGMOD'03, the
    MOSS scheme): per-doc count + XOR digest of the window-minimum
    k-gram hashes. The LOCAL dedup guarantee MinHash lacks: any shared
    token run of >= k+w-1 tokens produces a shared fingerprint, so the
    selected-hash sets feed partial-copy / plagiarism detection the way
    the band index feeds whole-doc near-dup. Row-local higher-order
    functions end to end — zero shuffle, zero Python."""
    docs = load_table(spark, sf_dir, "documents")
    return T.winnow_fingerprints(docs).select(
        "doc_id", "n_grams", "n_fingerprints", "fp_xor"
    )


_WINNOW_MIN_SHARED = 3


@query(
    "dedup_winnow_pairs",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, {_WINNOW_SQL['grams']} AS grams FROM documents
    ),
    posts AS (
        SELECT doc_id, unnest({_WINNOW_SQL['sel']}) AS h FROM g
    ),
    live AS (
        SELECT h FROM posts GROUP BY h
        HAVING COUNT(*) <= {T.WINNOW_MAX_DF}
    ),
    lp AS (SELECT p.doc_id, p.h FROM posts p JOIN live USING (h))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM lp a JOIN lp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-copy candidate pairs via shared winnowing fingerprints —
    the corpus-level MOSS join. Complements the resemblance (MinHash)
    and containment (prefix-posting) dedup tiers with the LOCAL-overlap
    tier: two documents sharing any >= k+w-1-token run share a selected
    fingerprint, so extensive quotation / section reuse surfaces even
    when whole-doc Jaccard and containment are both low. The df cap
    drops boilerplate fingerprints (df > {T.WINNOW_MAX_DF}) before the
    join, bounding any single key's pair fanout — the hot-shingle
    pathology structurally can't occur."""
    return T.winnow_pairs(
        None,
        min_shared=_WINNOW_MIN_SHARED,
        posts=_shared_winnow_posts(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------

@query(
    "dedup_exact_documents",
    oracle=f"""
    SELECT ('0x' || substring(md5(text), 1, 15))::BIGINT AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by 60-bit content hash; lowest doc_id is canonical.
    One shuffle keyed on the hash; AQE splits skewed boilerplate keys."""
    return D.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


_JACCARD_THRESHOLD = 0.8

def _materialized_sigs(
    spark: SparkSession, sf_dir: str, kind: str, builder, *, table: str = "documents"
):
    """A shared signature table: ``builder()`` returns the DataFrame,
    which is written to parquet once as an :func:`artifact` watching
    the source ``table``; every consumer reads the parquet back
    (cheap column-pruned scans, survives clearCache). At corpus scale
    these ARE the production artifacts — signature tables a few % of
    corpus bytes, written once, fed to every consumer. The read uses
    the static-schema cache: the table is immutable once written (a
    rebuild goes to a fresh dir), so it skips the per-consumer
    footer-inference job (~80 ms x consumers x passes)."""

    def build(path: str) -> str:
        builder().write.mode("overwrite").parquet(path)
        return path

    return read_static_schema(
        spark, artifact(spark, sf_dir, f"{kind}_sigs", build, sources=(table,))
    )


def _shared_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _materialized_sigs(
        spark,
        sf_dir,
        "minhash",
        lambda: D.minhash_signatures(load_table(spark, sf_dir, "documents")),
    )


def _shared_gram_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, start, gram_hash) 8-gram posting table —
    the shared upstream of the substring-dedup family (span detection,
    per-doc stats, clipping), which each re-hashed the corpus per query
    until r10 (VERDICT r9 #3). One row per token position: at corpus
    scale this is the suffix-array stand-in you write once."""
    return _materialized_sigs(
        spark,
        sf_dir,
        "grampos",
        lambda: D.gram_postings(
            with_min_parallelism(load_table(spark, sf_dir, "documents"))
        ),
    )


def _shared_winnow_posts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, h) selected winnowing-fingerprint postings
    (~1/w of the gram stream) — the MOSS join's shared upstream."""
    return _materialized_sigs(
        spark,
        sf_dir,
        "winnowposts",
        lambda: T.winnow_posts(
            with_min_parallelism(load_table(spark, sf_dir, "documents"))
        ),
    )


def _shared_doc_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, source, s) 5-gram STRING shingles — the
    contamination family's shared upstream (benchmark slice and corpus
    slice are both filters over it; ``source`` is a parquet pushdown
    column, so each consumer reads only its slice's row groups)."""

    def build() -> DataFrame:
        docs = with_min_parallelism(load_table(spark, sf_dir, "documents"))
        return docs.select(
            "doc_id",
            "source",
            F.explode_outer(T.shingles_col(F.col("text"))).alias("s"),
        ).filter(F.col("s").isNotNull())

    return _materialized_sigs(spark, sf_dir, "docgrams", build)


def _shared_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized TOKENIZED corpus (doc_id, lang, source, toks,
    n_toks) — the canonical LLM-pipeline artifact (you tokenize a
    100 TB corpus once, not once per consumer; r12, VERDICT r11 #3).
    ``toks`` is exactly ``T.tokens_col(text)`` and ``n_toks`` its
    array_size, both materialized, so substituting this table for the
    inline expressions is equivalence-preserving by construction. The
    scalar routing columns (lang, source, n_toks) ride along so
    count-only consumers never rejoin documents — and never even read
    the ``toks`` bytes (parquet column pruning)."""

    def build() -> DataFrame:
        docs = with_min_parallelism(load_table(spark, sf_dir, "documents"))
        # the real documents table always carries lang/source; property
        # tests drive query functions through the load_table seam with
        # narrower literal frames, so ride only the columns present
        scalars = [c for c in ("lang", "source") if c in docs.columns]
        return docs.select(
            "doc_id",
            *scalars,
            T.tokens_col(F.col("text")).alias("toks"),
        ).withColumn("n_toks", F.array_size("toks").cast("long"))

    return _materialized_sigs(spark, sf_dir, "tokens", build)


@query(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({D.shingle_hashes_sql('text')}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {_JACCARD_THRESHOLD}
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index
    (explode -> self equi-join on shingle -> group). This is the exact
    verifier; at 100 TB the candidate generation must come from LSH
    (next query) — an unblocked shingle join on a boilerplate-heavy crawl
    is the classic quadratic blowup."""
    # posting list from the SHARED materialized signature table (the
    # shingle arrays are already on disk — exploding a parquet column
    # beats recomputing per-trigram md5s, and the three consumers below
    # are cheap column-pruned re-scans, no cache needed)
    sh = _shared_minhash_sigs(spark, sf_dir).select(
        "doc_id", F.explode(F.col("sh")).alias("s")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.round(F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")), 6)
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


def _shared_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair table, pinned once: the pairs,
    cluster-assignment and keep-best queries all start from it (r11).
    Result-sized, like the cluster labels below."""
    return artifact(
        spark,
        sf_dir,
        "lsh_pairs",
        lambda _: D.minhash_lsh_pairs_from_sigs(
            _shared_minhash_sigs(spark, sf_dir), threshold=_JACCARD_THRESHOLD
        ).cache(),
    )


def _shared_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_the_clojure_way_spark.operators import graph as G

    return artifact(
        spark,
        sf_dir,
        "lsh_clusters",
        lambda _: G.cluster_assignments(
            load_table(spark, sf_dir, "documents").select("doc_id"),
            _shared_lsh_pairs(spark, sf_dir),
        ).cache(),
    )


@query(
    "dedup_minhash_lsh_pairs",
    oracle=D.minhash_lsh_pairs_sql(threshold=_JACCARD_THRESHOLD),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands x 4 rows) candidates, exact-Jaccard
    verified at 0.8 — the scale path for near-dedup (SURVEY §7 M5).
    Everything is equi-joins on band keys; cost tracks candidates, not
    n^2. Seeds are fixed constants => reproducible + oracle-checkable.
    Consumes the SHARED materialized signature table (signed once per
    process+sf, like the index builds) — the whole minhash family
    (pairs / between / clustering / keep-best) reads it instead of
    re-shingling the corpus per query."""
    return _shared_lsh_pairs(spark, sf_dir)


_INCR_NEW_MOD = 10  # doc_id % 10 == 0 -> the "arriving batch"


@query(
    "dedup_incremental_new_docs",
    oracle=D.minhash_lsh_pairs_between_sql(
        probe_pred=f"doc_id % {_INCR_NEW_MOD} = 0",
        build_pred=f"doc_id % {_INCR_NEW_MOD} != 0",
        threshold=_JACCARD_THRESHOLD,
    ),
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the continuous-ingestion shape: an arriving
    batch (here a deterministic 10% slice) probes the existing corpus
    for near-dups WITHOUT ever re-joining corpus x corpus. Per-batch
    cost is O(batch + matching bands) no matter how big the corpus is;
    in production the corpus side of operators/dedup.py's
    minhash_lsh_pairs_between is a persisted signature table, so only
    the batch is ever re-hashed. This is what turns the one-shot dedup
    sweep into a pipeline a 100 TB corpus can actually keep running.
    Both sides come from the shared materialized signature table (one
    filter each) — in production the corpus side IS that persisted
    table and only the batch is freshly signed."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % _INCR_NEW_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _INCR_NEW_MOD != 0)
    sigs = _shared_minhash_sigs(spark, sf_dir)
    return D.minhash_lsh_pairs_between(
        new,
        corpus,
        threshold=_JACCARD_THRESHOLD,
        probe_sigs=sigs.filter(F.col("doc_id") % _INCR_NEW_MOD == 0),
        build_sigs=sigs.filter(F.col("doc_id") % _INCR_NEW_MOD != 0),
    )


def _minhash_index_path(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_hashes: int = D.N_MINHASH,
    bands: int = D.LSH_BANDS,
    n_buckets: int = D.MINHASH_INDEX_BUCKETS,
) -> str:
    """The corpus slice's MinHash band index: the corpus is signed and
    banded once, and every probe after that pays only its own batch —
    the production ingestion contract."""

    def build(path: str) -> str:
        docs = load_table(spark, sf_dir, "documents")
        D.build_minhash_index(
            docs.filter(F.col("doc_id") % _INCR_NEW_MOD != 0),
            path,
            n_hashes=n_hashes,
            bands=bands,
            n_buckets=n_buckets,
        )
        return path

    return artifact(
        spark, sf_dir, "minhash_index", build,
        _INCR_NEW_MOD, n_hashes, bands, n_buckets,
    )


@query(
    "dedup_incremental_indexed",
    oracle=D.minhash_lsh_pairs_between_sql(
        probe_pred=f"doc_id % {_INCR_NEW_MOD} = 0",
        build_pred=f"doc_id % {_INCR_NEW_MOD} != 0",
        threshold=_JACCARD_THRESHOLD,
    ),
)
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-INDEX serve path for incremental dedup — same
    arriving batch and same oracle as dedup_incremental_new_docs, but
    the corpus side is a pre-built band index on disk
    (operators/dedup.build_minhash_index, mirroring the IVF train+add
    vs search split): the batch signs only itself, band-joins the hive-
    partitioned postings (partition pruning from the probe's band/bucket
    keys), and verifies against the persisted shingle table. This closes
    the loop the index-less query's docstring promises: per-batch cost
    independent of corpus size, corpus signed exactly once."""
    path = _minhash_index_path(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % _INCR_NEW_MOD == 0)
    return D.minhash_index_probe(spark, path, new, threshold=_JACCARD_THRESHOLD)


#: deterministic "re-crawl" batch for the exact gate: every 50th doc
#: re-arrives byte-identical under a fresh id (the canonical production
#: scenario exact dedup exists for — the synthetic corpus itself has no
#: cross-doc exact dups at small SF, so the fixture constructs the
#: re-arrival instead of sampling for one).
_EXACT_PROBE_MOD = 50
_EXACT_PROBE_ID_SHIFT = 1_000_000

def _hash_index_path(
    spark: SparkSession, sf_dir: str, *, n_buckets: int = D.HASH_INDEX_BUCKETS
) -> str:
    def build(path: str) -> str:
        D.build_hash_index(
            load_table(spark, sf_dir, "documents"), path, n_buckets=n_buckets
        )
        return path

    return artifact(spark, sf_dir, "hash_index", build, n_buckets)


@query(
    "dedup_incremental_exact_indexed",
    oracle=f"""
    SELECT a.doc_id + {_EXACT_PROBE_ID_SHIFT} AS probe_id,
           b.doc_id AS corpus_id,
           {D.content_hash_sql('a.text')} AS content_hash
    FROM documents a JOIN documents b ON md5(a.text) = md5(b.text)
    WHERE a.doc_id % {_EXACT_PROBE_MOD} = 0
    """,
)
def dedup_incremental_exact_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT dedup against a PERSISTED hash index — the
    first gate of the production ingestion loop (an exact byte-match is
    free to detect and certain, so it runs before any near-dup pass).
    The corpus's 60-bit content hashes live on disk hive-partitioned by
    hash bucket (operators/dedup.build_hash_index — the fourth member
    of the persisted-index family after the MinHash band, containment,
    and IVF indexes); the arriving batch hashes ONLY itself and routes
    its distinct buckets into a literal PartitionFilter, so per-batch
    cost is O(batch + matched buckets) at any corpus size. The batch is
    a deterministic re-crawl fixture: every 50th doc re-arrives
    byte-identical under a shifted id."""
    path = _hash_index_path(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % _EXACT_PROBE_MOD == 0).select(
        (F.col("doc_id") + F.lit(_EXACT_PROBE_ID_SHIFT)).alias("doc_id"), "text"
    )
    return D.hash_index_probe(spark, path, batch)


def _bloom_index_path(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> str:
        D.build_bloom_index(load_table(spark, sf_dir, "documents"), path)
        return path

    return artifact(
        spark, sf_dir, "bloom_index", build,
        D.BLOOM_SEGMENTS, D.BLOOM_WORDS_PER_SEGMENT, D.BLOOM_K,
    )


@query(
    "dedup_incremental_bloom_gated",
    oracle=f"""
    SELECT a.doc_id + {_EXACT_PROBE_ID_SHIFT} AS probe_id,
           b.doc_id AS corpus_id,
           {D.content_hash_sql('a.text')} AS content_hash
    FROM documents a JOIN documents b ON md5(a.text) = md5(b.text)
    WHERE a.doc_id % {_EXACT_PROBE_MOD} = 0
    """,
)
def dedup_incremental_bloom_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact gate with its NEGATIVE-probe fast path: a partitioned
    Bloom filter over the corpus's content hashes (~10 bits/doc,
    operators/dedup.build_bloom_index — the fifth persisted-index
    family member) pre-tests the arriving batch, and only the
    maybe-duplicates probe the hash index for confirmation. No false
    negatives (the filter ORs the same member-hash family the probe
    tests), so the output — and the oracle — are identical to
    dedup_incremental_exact_indexed; what changes is the steady-state
    cost profile: mostly-new batches resolve from the filter's probed
    segment directories alone and touch zero corpus hash buckets."""
    bloom = _bloom_index_path(spark, sf_dir)
    hashes = _hash_index_path(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % _EXACT_PROBE_MOD == 0).select(
        (F.col("doc_id") + F.lit(_EXACT_PROBE_ID_SHIFT)).alias("doc_id"), "text"
    )
    return D.bloom_gated_exact_probe(spark, bloom, hashes, batch)


@query("dedup_simhash_pairs", oracle=D.simhash_pairs_sql())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60) near-dup pairs with 4x15-bit banding: hamming<=3 is
    guaranteed caught by >=1 exact band match (Manku et al. WWW'07
    pigeonhole argument) — so candidates again come from an equi-join."""
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"))


def _shared_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated spans, pinned once: the span query and its
    per-doc stats consumer compute the identical result-sized table
    from the shared gram postings (r11)."""
    return artifact(
        spark,
        sf_dir,
        "ngram_spans",
        lambda _: D.duplicate_ngram_spans(
            None, postings=_shared_gram_postings(spark, sf_dir)
        ).cache(),
    )


@query("dedup_ngram_span_documents", oracle=D.duplicate_ngram_spans_sql())
def dedup_ngram_span_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. ACL'22, suffix-array semantics
    re-expressed as sharded n-gram postings): maximal token spans per doc
    whose every 8-gram occurs more than once in the corpus. Postings
    group map-side, candidates come from an AQE-splittable equi-join, and
    span merging is one gaps-and-islands window per doc — O(tokens), no
    all-pairs stage."""
    return _shared_ngram_spans(spark, sf_dir)


@query(
    "dedup_ngram_span_doc_stats",
    oracle=f"""
    WITH spans AS ({D.duplicate_ngram_spans_sql()}),
    per_doc AS (
        SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_tokens,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           round(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
                 / greatest(CAST(len({T.tokens_sql('text')}) AS BIGINT), 1), 6)
               AS dup_fraction
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_ngram_span_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signal a curation pipeline actually filters on: per-doc count
    and fraction of tokens inside corpus-duplicated 8-gram spans (Lee et
    al. drop or clip docs above a dup-fraction threshold). Left join back
    to the corpus so clean docs report 0 — span extraction shuffles only
    the covered positions, the join is keyed on doc_id."""
    spans = _shared_ngram_spans(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(F.sum("span_tokens").alias("dup_tokens"))
    return (
        _shared_tokens(spark, sf_dir)
        .select("doc_id", F.col("n_toks").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


@query("text_clip_duplicate_spans", oracle=D.clip_duplicate_spans_sql())
def text_clip_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transformation half of substring dedup: the corpus REBUILT
    with duplicated 8-gram spans removed, keeping each gram's canonical
    (lowest doc_id, start) occurrence — Lee et al.'s "deduplicate the
    training data", not just flag it. Canonical selection is a window
    argmin on the same gram_hash shuffle that counts duplicates; token
    re-assembly is one sort_array(collect_list) per doc. O(corpus
    tokens) end to end."""
    return D.clip_duplicate_spans(
        load_table(spark, sf_dir, "documents"),
        postings=_shared_gram_postings(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_QUERY_MOD = 50  # vec_id % 50 == 0 -> small deterministic probe set
#: Absolute probe-set bound: the registered probe set is BOTH a modulus
#: slice AND an id cap, so its size is provably <= _PROBE_ID_CAP /
#: _QUERY_MOD (= 2000) at ANY corpus size — a constant, not a corpus
#: fraction. At the shipped SFs (max vec_id 1999) the cap is inactive,
#: so oracle outputs are unchanged; at production scale it is what lets
#: every brute-force-backed query stay lazy (assume_bounded=True) and
#: within brute_force_topk's 10k contract instead of raising.
_PROBE_ID_CAP = 100_000
_PROBE_PRED = f"vec_id % {_QUERY_MOD} = 0 AND vec_id < {_PROBE_ID_CAP}"


def _queries_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % _QUERY_MOD == 0) & (F.col("vec_id") < _PROBE_ID_CAP)
    )


_SIM_ORACLE_BASE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
               WHERE {_PROBE_PRED}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {S.cosine_sql('q.qvec', 'e.embedding')} AS cosine
        FROM q JOIN embeddings e ON e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank,
               round(cosine, 6) AS cosine_r
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, cosine_r FROM ranked WHERE rank <= 10
"""


@query("sim_cosine_topk_bruteforce", oracle=_SIM_ORACLE_BASE)
def sim_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for a probe set: broadcast queries x streamed
    corpus, partial top-k below the shuffle. The correctness baseline for
    any ANN variant."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(
        emb, _queries_frame(spark, sf_dir), k=10, assume_bounded=True
    )


_LSH_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding,
                      {S.lsh_bucket_sql('embedding')} AS bucket FROM embeddings),
    q0 AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM e
           WHERE {_PROBE_PRED}),
    q AS (SELECT query_id, qvec, xor(bucket, m.mask) AS bucket
          FROM q0, unnest([{', '.join(str(m) for m in S._probe_masks())}]) AS m(mask)),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {S.cosine_sql('q.qvec', 'e.embedding')} AS cosine
        FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank,
               round(cosine, 6) AS cosine_r
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, cosine_r FROM ranked WHERE rank <= 10
"""


@query("sim_lsh_ann_topk", oracle=_LSH_ORACLE)
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via multi-probe random-hyperplane LSH (8 planes,
    2-flip probes, deterministic weights): candidates = bucket equi-join
    against the query's 37 probe buckets, exact cosine within candidates.
    The 100 TB shape: corpus scanned once to bucket; probing multiplies
    only the broadcast query side."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, _queries_frame(spark, sf_dir), k=10)


@query("sim_ivf_ann_topk", oracle=S.ivf_topk_sql(query_mod=_QUERY_MOD, id_cap=_PROBE_ID_CAP))
def sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF coarse quantization: assign every vector
    to its nearest (broadcast) centroid, probe the query's 3 best cells,
    exact cosine within candidates. At 100 TB the cell assignment is the
    persisted index — partition by cell and probes prune partitions."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb,
        _queries_frame(spark, sf_dir),
        k=10,
        cent_rows=_ivf_cent_rows(spark, sf_dir),
    )


def _ivf_index_path(
    spark: SparkSession,
    sf_dir: str,
    *,
    centroid_mod: int = S.IVF_CENTROID_MOD,
    n_cells: int = S.IVF_N_CELLS,
) -> str:
    """The persisted IVF index, registered right next to the inline
    query so the oracle checks exercise the index itself."""

    def build(path: str) -> str:
        S.build_ivf_index(
            load_table(spark, sf_dir, "embeddings"),
            path,
            centroid_mod=centroid_mod,
            n_cells=n_cells,
        )
        return path

    return artifact(
        spark, sf_dir, "ivf_index", build, centroid_mod, n_cells,
        sources=("embeddings",),
    )


@query(
    "sim_ivf_index_topk",
    oracle=S.ivf_topk_sql(query_mod=_QUERY_MOD, id_cap=_PROBE_ID_CAP),
)
def sim_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index serve path for IVF ANN — same answers and
    same oracle as sim_ivf_ann_topk, but the corpus side is the on-disk
    index built once per process (build_ivf_index: centroids parquet +
    postings hive-partitioned by cell): probes pick their 3 best cells
    against the broadcast centroid table and the postings scan prunes to
    the probed cell directories. The ANN twin of
    dedup_incremental_indexed — the serve cost a production deployment
    actually pays per query batch."""
    return S.ivf_index_topk(
        spark, _ivf_index_path(spark, sf_dir), _queries_frame(spark, sf_dir), 10
    )


#: deterministic deleted slice for the registered tombstone query —
#: ~2.5% of the corpus, disjoint from the centroid subset at the
#: shipped SFs is NOT required (frozen-quantizer semantics keep a
#: deleted vector's centroid), matching exclude_sql in the oracle.
_IVF_TOMB_MOD, _IVF_TOMB_REM = 40, 3


def _ivf_tomb_index_path(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> str:
        emb = load_table(spark, sf_dir, "embeddings")
        S.build_ivf_index(emb, path)
        S.ivf_index_delete(
            spark,
            path,
            emb.filter(F.col("vec_id") % _IVF_TOMB_MOD == _IVF_TOMB_REM).select(
                "vec_id"
            ),
        )
        return path

    return artifact(
        spark, sf_dir, "ivf_tomb_index", build,
        S.IVF_CENTROID_MOD, S.IVF_N_CELLS, _IVF_TOMB_MOD, _IVF_TOMB_REM,
        sources=("embeddings",),
    )


@query(
    "sim_ivf_index_tombstone_topk",
    oracle=S.ivf_topk_sql(
        query_mod=_QUERY_MOD,
        id_cap=_PROBE_ID_CAP,
        exclude_sql=f"neighbor_id % {_IVF_TOMB_MOD} = {_IVF_TOMB_REM}",
    ),
)
def sim_ivf_index_tombstone_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETE path of the persisted IVF index under the driver's
    value gate: a deterministic slice of the corpus is tombstoned
    (ivf_index_delete — the takedown/opt-out operation a production
    embedding store must support without rebuilds) and the serve path
    must answer as if those vectors never existed, while the frozen
    coarse quantizer keeps any centroids they seeded. The oracle models
    exactly that: candidates excluded, centroid subset untouched.
    Deleted state is a broadcast anti-join bounded by the live tombstone
    count; compact_ivf_index folds it in physically (parity pinned in
    tests/test_ann_recall.py)."""
    return S.ivf_index_topk(
        spark, _ivf_tomb_index_path(spark, sf_dir), _queries_frame(spark, sf_dir), 10
    )


_QUANT_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, {S.quantize_sql('embedding')} AS qq
               FROM embeddings WHERE {_PROBE_PRED}),
    c AS (SELECT vec_id AS neighbor_id, {S.quantize_sql('embedding')} AS qc
          FROM embeddings),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               {S.quantized_cosine_sql('q.qq', 'c.qc')} AS qcosine
        FROM q JOIN c ON c.neighbor_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qcosine DESC, neighbor_id) AS rank,
               round(qcosine, 6) AS qcosine_r
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, qcosine_r FROM ranked WHERE rank <= 10
"""


@query("sim_quantized_topk", oracle=_QUANT_ORACLE)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 over int8-QUANTIZED embeddings: 4x less scan bandwidth and
    ANN memory than float32 — the standard first compression tier for
    100 TB embedding stores. Quantized cosine reduces to integer dot
    products (scales cancel), so unlike float accumulation this ANN
    variant is bit-reproducible and carries a FULL value oracle. Same
    broadcast-probe/streamed-corpus shape as the brute-force baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.quantized_topk(emb, _queries_frame(spark, sf_dir), k=10)


def _ivf_cent_rows(spark: SparkSession, sf_dir: str) -> list:
    """The inline-IVF coarse quantizer: the deterministic centroid
    subset is THE model (n_cells rows), collected once so each probe
    query routes row-locally without a model-collect job per call
    (r11)."""
    return artifact(
        spark,
        sf_dir,
        "ivf_cent_rows",
        lambda _: S.ivf_centroid_rows(load_table(spark, sf_dir, "embeddings")),
        S.IVF_CENTROID_MOD,
        S.IVF_N_CELLS,
        sources=("embeddings",),
    )


def _kmeans_model(
    spark: SparkSession, sf_dir: str, *, k: int = 8, n_iter: int = 3
) -> DataFrame:
    """The ONE trained k-means model: every k-means consumer
    (assignments query, SemDeDup, cluster-balanced sampling) assigns
    against the same persisted quantizer — train once, serve
    everywhere. Assignment against the model is bit-equal to inline
    training (kmeans_fit persists exactly the post-n_iter centroids),
    so the unrolled-CTE oracles are untouched."""
    return artifact(
        spark,
        sf_dir,
        "kmeans_model",
        lambda path: C.kmeans_fit(
            load_table(spark, sf_dir, "embeddings"),
            k=k,
            n_iter=n_iter,
            path=f"{path}/centroids",
        ),
        k,
        n_iter,
        sources=("embeddings",),
    )


@query("cluster_kmeans_embeddings", oracle=C.kmeans_sql())
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means (k=8, 3 Lloyd iterations) over the embedding
    corpus — the trained coarse quantizer the IVF path stubs with an id
    subset, and the semantic grouping a mixture-balanced training set
    needs. Fully deterministic by construction (id-ordered init, per-row
    sequential-fold distances, INTEGER-unit mean sums — no cross-row
    float accumulation anywhere), so the whole iterative algorithm
    carries a bit-exact oracle: the identical iterations unrolled as a
    DuckDB CTE chain generated from the same constants. Serves from the
    shared per-process model (train once, assign against it)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return C.kmeans_assignments(emb, model=_kmeans_model(spark, sf_dir))


#: shared CTE: per-(label, dim) INTEGER-unit sums of the embedding
#: corpus — the exact cross-row vector aggregation (the fixed_point_sums
#: trick from the k-means update step) that both centroid queries build
#: on. 1-based dims to match DuckDB's unnest(range(...)) convention.
_LABEL_SUMS_CTE = f"""v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    per AS (
        SELECT label, CAST(i AS INTEGER) AS dim,
               CAST(SUM(CAST(floor(v[CAST(i AS INTEGER)] * {C.MEAN_UNITS}
                                   + 0.5) AS BIGINT)) AS BIGINT) AS su,
               COUNT(*) AS n
        FROM v, unnest(range(1, len(v) + 1)) AS t(i)
        GROUP BY 1, 2
    )"""


def _label_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, dim, su, n): integer-unit per-dimension sums per label —
    the Spark twin of _LABEL_SUMS_CTE."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "val"
        ),
    )
    return (
        x.groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.sum(
                F.floor(F.col("val") * C.MEAN_UNITS + 0.5).cast("long")
            ).alias("su"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "agg_embedding_centroid_per_label",
    oracle=f"""
    WITH {_LABEL_SUMS_CTE}
    SELECT CAST(label AS BIGINT) AS label,
           CAST(dim AS BIGINT) AS dim,
           round(CAST(su AS DOUBLE) / {C.MEAN_UNITS} / n, 6) AS centroid_r,
           CAST(n AS BIGINT) AS n_vecs
    FROM per
    """,
)
def agg_embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes) — the cross-ROW
    vector aggregation a prototype classifier, per-class drift monitor,
    or cluster-seed warm start needs. Means use the k-means update
    step's INTEGER-unit sum (floor(x * 1e9 + 0.5) longs), so the only
    cross-row float hazard — summation order — is eliminated and the
    result is bit-exact cross-engine.

    Scale shape: ONE posexplode shuffle to (label, dim) partial sums —
    |labels| x dim output rows regardless of corpus size, and the sums
    combine map-side."""
    return _label_sums(spark, sf_dir).select(
        F.col("label").cast("long"),
        F.col("dim").cast("long"),
        F.round(
            F.col("su").cast("double") / C.MEAN_UNITS / F.col("n"), 6
        ).alias("centroid_r"),
        F.col("n").cast("long").alias("n_vecs"),
    )


@query(
    "sim_centroid_classify",
    oracle=f"""
    WITH {_LABEL_SUMS_CTE},
    cent AS (
        SELECT label AS pred_label,
               list(CAST(su AS DOUBLE) / {C.MEAN_UNITS} / n ORDER BY dim)
                   AS c
        FROM per GROUP BY label
    ),
    assigned AS (
        SELECT vec_id, label, pred_label FROM (
            SELECT v.vec_id, v.label, cent.pred_label,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {C._sq_dist_sql('v.v', 'cent.c')},
                                cent.pred_label
                   ) AS r
            FROM v CROSS JOIN cent
        ) WHERE r = 1
    )
    SELECT CAST(label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned GROUP BY 1, 2
    """,
)
def sim_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean classification confusion matrix: assign every
    vector to its closest label centroid (portable squared-L2 fold,
    ties to the lower label) and count (true_label, pred_label) cells —
    the label-separability diagnostic that says whether the embedding
    space supports label-driven curation at all (a near-diagonal matrix
    justifies per-label sampling; the isotropic synthetic corpus should
    show the opposite). Deterministic end to end: integer-unit centroid
    means + per-row fold distances, same as k-means, so the eval
    carries a bit-exact oracle.

    Scale shape: centroid construction is the one posexplode shuffle
    (|labels| x dim sums, map-side combine); the |labels|-row centroid
    table then BROADCASTS into the same tiny-cross argmin shape as
    Lloyd assignment; the confusion matrix is a |labels|^2-row groupBy."""
    sums = _label_sums(spark, sf_dir)
    cent = sums.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("dim"),
                        (
                            F.col("su").cast("double")
                            / C.MEAN_UNITS
                            / F.col("n")
                        ).alias("cval"),
                    )
                )
            ),
            lambda s: s.cval,
        ).alias("c")
    ).select(F.col("label").alias("pred_label"), "c")

    # |labels|-row model: collect it (the former broadcast build was a
    # driver job of the same size) and classify ROW-LOCALLY — array_min
    # over the attached (distance, pred_label) struct array replaces the
    # |labels|-way broadcast join + top-1 window (r11, guide §2.4; same
    # shape and same bit-equality argument as clustering._assign — the
    # collected doubles are the exact aggregated values).
    cent_rows = [
        (int(r["pred_label"]), [float(x) for x in r["c"]])
        for r in cent.collect()
    ]
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda e: F.struct(
                C._sq_dist(F.col("v"), e["v"]).alias("d"),
                e["pl"].alias("pl"),
            ),
        )
    )["pl"]
    assigned = C.attach_model(
        vecs,
        "__cents",
        cent_rows,
        "array<struct<pl:int,v:array<double>>>",
    ).select("label", best.alias("pred_label"))
    return (
        assigned.groupBy(
            F.col("label").cast("long").alias("true_label"),
            F.col("pred_label").cast("long").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_CLUSTER_SAMPLE_K = 32
_CLUSTER_SAMPLE_SALT = "cluster-sample:v1:"


@query(
    "sample_cluster_balanced_embeddings",
    oracle=f"""
    SELECT vec_id, cluster, CAST(rn AS BIGINT) AS rn FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster
                   ORDER BY {P.hash60_sql(f"'{_CLUSTER_SAMPLE_SALT}' || CAST(vec_id AS VARCHAR)")},
                            vec_id
               ) AS rn
        FROM ({C.kmeans_sql()}) AS assignments
    ) WHERE rn <= {_CLUSTER_SAMPLE_K}
    """,
)
def sample_cluster_balanced_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full semantic-curation flow composed: deterministic k-means
    clusters the embedding corpus, then a fixed-size per-CLUSTER sample
    (k smallest salted hashes, the per-group reservoir equivalent)
    rebalances the mixture so no semantic cluster dominates the training
    set — cluster-balanced selection à la DoReMi/cluster-based dedup
    pipelines, end-to-end oracle-exact. Plans as the k-means rounds plus
    ONE WindowGroupLimit partial top-k: the exchange carries at most
    k x |clusters| rows regardless of corpus size."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    assign = C.kmeans_assignments(emb, model=_kmeans_model(spark, sf_dir))
    hk = P.hash60(
        F.concat(F.lit(_CLUSTER_SAMPLE_SALT), F.col("vec_id").cast("string"))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("hk").asc(), F.col("vec_id").asc())
    return (
        assign.withColumn("hk", hk)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CLUSTER_SAMPLE_K)
        .select("vec_id", "cluster", F.col("rn").cast("long").alias("rn"))
    )


_RERANK_CANDIDATES = 50

_RERANK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                      {S.quantize_sql('embedding')} AS qq
               FROM embeddings WHERE {_PROBE_PRED}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
                 {S.quantize_sql('embedding')} AS qc
          FROM embeddings),
    stage1 AS (
        SELECT q.query_id, c.neighbor_id, q.qvec, c.cvec,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {S.quantized_cosine_sql('q.qq', 'c.qc')} DESC,
                                           c.neighbor_id) AS qrank
        FROM q JOIN c ON c.neighbor_id != q.query_id
    ),
    rerank AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {S.cosine_sql('qvec', 'cvec')} DESC,
                                           neighbor_id) AS rank,
               round({S.cosine_sql('qvec', 'cvec')}, 6) AS cosine_r
        FROM stage1 WHERE qrank <= {_RERANK_CANDIDATES}
    )
    SELECT query_id, neighbor_id, rank, cosine_r FROM rerank WHERE rank <= 10
"""


@query("sim_quantized_rerank_topk", oracle=_RERANK_ORACLE)
def sim_quantized_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (int8 scan -> float re-rank) — the production
    ANN pattern: the corpus-sized pass runs on quantized vectors (4x
    bandwidth), exact float cosine touches only 50 candidates per query.
    Both stages are deterministic (integer stage-1 scores, identical
    float folds), so the COMPOSED pipeline carries a full value oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.quantized_rerank_topk(
        emb, _queries_frame(spark, sf_dir), k=10,
        n_candidates=_RERANK_CANDIDATES,
    )


def _pq_oracle() -> str:
    from kafka_streams_the_clojure_way_spark.operators.pq import pq_topk_sql

    return pq_topk_sql(query_mod=_QUERY_MOD, id_cap=_PROBE_ID_CAP)


@query("sim_pq_adc_topk", oracle=_pq_oracle())
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. TPAMI'11): 4 subspaces x
    16 codes trained by a grouped deterministic Lloyd pass (all
    subspaces share the same Spark jobs), corpus collapsed to one packed
    4-code row per vector, queries answered by ADC — each query's full
    M x K lookup table broadcast as one array row and folded row-locally
    against the code arrays (r12), distances summed as exact integer
    units so even this approximate index carries a full value oracle.
    The 32x-compression memory tier FAISS-style IVF-PQ builds on; see
    operators/pq.py for the 100 TB shape."""
    from kafka_streams_the_clojure_way_spark.operators.pq import (
        PQ_ITERS,
        PQ_K,
        PQ_M,
        adc_topk,
        pq_model,
    )

    def build(_) -> tuple:
        emb = load_table(spark, sf_dir, "embeddings")
        codebook, codes = pq_model(emb, m=PQ_M, k=PQ_K, n_iter=PQ_ITERS)
        return codebook, codes.cache()

    codebook, codes = artifact(
        spark, sf_dir, "pq_model", build, PQ_M, PQ_K, PQ_ITERS,
        sources=("embeddings",),
    )
    return adc_topk(codes, codebook, _queries_frame(spark, sf_dir))


def _ivfpq_oracle() -> str:
    from kafka_streams_the_clojure_way_spark.operators.pq import ivfpq_topk_sql

    return ivfpq_topk_sql(query_mod=_QUERY_MOD, id_cap=_PROBE_ID_CAP)


@query("sim_ivfpq_topk", oracle=_ivfpq_oracle())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS-workhorse composition, end to end: coarse
    cells route every vector (sim_ivf_ann_topk's deterministic
    centroids), product quantization encodes the RESIDUAL x - centroid,
    and queries probe 3 cells with per-(query, cell) integer-unit ADC
    lookup arrays. Candidates come from a broadcast equi-join on cell
    with a row-local M-term fold over the packed code arrays (r12) —
    probed cells only, 4-byte codes only — yet the whole composed index
    is bit-exact against one DuckDB CTE chain. Serves from the per-process trained model (ivfpq_model /
    ivfpq_serve — the same build/serve split as every index here). See
    operators/pq.py."""
    from kafka_streams_the_clojure_way_spark.operators.pq import (
        PQ_ITERS,
        PQ_K,
        PQ_M,
        ivfpq_model,
        ivfpq_serve,
    )

    cent_rows, codebook, codes = artifact(
        spark,
        sf_dir,
        "ivfpq_model",
        lambda _: ivfpq_model(
            load_table(spark, sf_dir, "embeddings"),
            centroid_mod=17, m=PQ_M, k=PQ_K, n_iter=PQ_ITERS,
            n_cells=S.IVF_N_CELLS,
        ),
        17, PQ_M, PQ_K, PQ_ITERS, S.IVF_N_CELLS,
        sources=("embeddings",),
    )
    return ivfpq_serve(cent_rows, codebook, codes, _queries_frame(spark, sf_dir))


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------

@query(
    "multimodal_asset_metadata",
    oracle="""
    SELECT doc_id,
           'image/png' AS mime,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           CAST((octet_length(CAST(text AS BLOB)) % 64) + 1 AS INTEGER) AS width,
           CAST(((octet_length(CAST(text AS BLOB)) // 64) % 64) + 1 AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS n_frames,
           CAST(-1 AS INTEGER) AS sample_rate
    FROM documents
    """,
)
def multimodal_asset_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset pipeline: lift bytes into the asset struct, decode
    metadata via Arrow-batched mapInPandas. The decoder is the documented
    stub (no image libs in this container) but is *deterministic*, so even
    the Pandas-UDF path gets a full value-level oracle: the stub's
    geometry is a pure function of byte length, reproduced in SQL."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    assets = wrap_binary_assets(docs, "payload", "image/png")
    return decode_assets(assets)


@query(
    "multimodal_feature_histogram",
    oracle="""
    WITH counts AS (
        SELECT doc_id,
               unicode(substr(text, CAST(i AS INTEGER), 1)) % 8 AS bin,
               COUNT(*) AS c
        FROM documents, unnest(range(1, length(text) + 1)) AS t(i)
        GROUP BY doc_id, bin
    ),
    bins AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS bin)
    SELECT d.doc_id,
           b.bin,
           ROUND(CAST(COALESCE(c.c, 0) AS DOUBLE) / length(d.text), 9) AS frac
    FROM documents d
    CROSS JOIN bins b
    LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = b.bin
    """,
)
def multimodal_feature_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature vectors (dim 8) per asset via numpy-over-Arrow
    mapInPandas — the feature-extraction plumbing a real encoder would slot
    into. The vector is exploded to (doc_id, bin, frac) scalar rows
    (registry discipline: no nested output types) and — because the stub
    featurizer is a pure byte histogram and the corpus is ASCII — the
    Pandas-UDF path gets a FULL value oracle: DuckDB recomputes the same
    histogram from code points. frac is the same IEEE-754 division of the
    same integers in both engines, so round(.,9) is deterministic."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    assets = wrap_binary_assets(docs, "payload", "image/png")
    return extract_features(assets).select(
        "doc_id", F.posexplode("features").alias("bin", "frac")
    ).select("doc_id", "bin", F.round("frac", 9).alias("frac"))


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH geo AS (
        SELECT doc_id,
               (octet_length(CAST(text AS BLOB)) + {CC.Y4M_FRAME_LEN - 1})
                   // {CC.Y4M_FRAME_LEN} AS nf
        FROM documents
    )
    SELECT doc_id,
           CAST(t.idx AS INTEGER) AS frame_idx,
           CAST({CC.Y4M_FRAME_LEN} AS BIGINT) AS frame_len
    FROM geo, unnest(range(0, nf, 5)) AS t(idx)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1->N mapInPandas expansion) over a REAL
    PUBLIC container: each doc's bytes are muxed into a YUV4MPEG2
    stream (functions/codecs.y4m_encode_video — genuine ASCII stream +
    FRAME headers, Cmono luma planes), and sample_frames DEMUXES it
    with the real parser (header + colorspace validation, fixed-size
    frame slicing), emitting every 5th frame. Y4M fixes frame geometry
    in the stream header, so every frame is exactly {CC.Y4M_FRAME_LEN}
    bytes (the final chunk space-padded — the PNG convention) and the
    oracle reproduces the sampled geometry with range arithmetic — the
    decode path is real, the correctness gate stays exact.
    dedup_video_phash_pairs composes this demux with the pHash kernel
    for content-level near-dup; the bespoke-PGM demuxer remains for
    mixed-container corpora (container="auto" dispatches by mime)."""
    assets = _encode_video_mixed(load_table(spark, sf_dir, "documents"))
    return sample_frames(assets, container="y4m").select(
        "doc_id", "frame_idx", "frame_len"
    )


@query("dedup_line_level_stats", oracle=D.line_dedup_stats_sql())
def dedup_line_level_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style LINE-level dedup report (Raffel et al. JMLR'20 §2.2):
    every doc's word stream splits into consecutive {D.LINE_WIDTH}-word
    lines; a line occurring more than once corpus-wide keeps exactly its
    globally-first occurrence (by doc, position) and every other copy is
    flagged for removal — the exact-line complement to the substring-
    level dedup_ngram_span_* operators (Lee et al. ACL'22). Per doc:
    n_lines, n_dup_lines, n_tokens_removed. Plan: per-row chunking HOFs
    -> one hash-groupBy on the line text (group state is a single min —
    boilerplate lines repeated millions of times cost a partial min,
    never a blowup) -> join back, the dedup_exact_documents shuffle
    shape."""
    docs = load_table(spark, sf_dir, "documents")
    return D.line_dedup_stats(docs)


# --------------------------------------------------------------------------
# Image near-dup dedup: deterministic integer pHash + Hamming banding
# --------------------------------------------------------------------------

from kafka_streams_the_clojure_way_spark.operators import imagehash as IH


def _image_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard image-asset frame: each doc's UTF-8 payload encoded
    as a REAL spec-conformant grayscale PNG (functions/codecs — zlib
    IDAT, CRC-validated chunks, filtered scanlines). Every image query
    below decodes these through the real parser (decode="png"), so the
    pHash tier hashes genuinely decoded pixels; the oracle reproduces
    the pixel stream as the text plus the documented scanline space-pad
    (CC.png_pixels_sql)."""
    return encode_text_assets(
        load_table(spark, sf_dir, "documents"), "png"
    )


#: DuckDB expression for the decoded-PNG pixel stream of a doc's text.
_PNG_PIXELS_SQL = CC.png_pixels_sql("text")


@query(
    "multimodal_image_phash",
    oracle=f"SELECT doc_id, phash FROM {IH.phash_sql(text=_PNG_PIXELS_SQL)} p",
)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image perceptual hash over REAL decoded pixels: each payload
    is a genuine grayscale PNG (zlib inflate, CRC checks, scanline
    defilter — functions/codecs.png_decode_gray), and the hash is 8x8
    nearest-neighbor downsample of the DECODED pixel stream ->
    fixed-point integer 2D DCT-II -> median threshold over the 63 AC
    coefficients -> 63-bit signature (operators/imagehash.py). The
    kernel is a vectorized mapInPandas over the binary asset column (one
    einsum per Arrow batch); every step after decode is exact int64
    arithmetic and 8-bit grayscale decode round-trips the payload, so
    the DuckDB oracle recomputes the hash BIT-FOR-BIT from the text plus
    the documented space-pad — the per-doc value pin under the
    pair/index queries below."""
    return (
        _shared_image_phashes(spark, sf_dir)
        .filter(F.col("doc_id") < _TWIN_OFFSET)
        .select("doc_id", "phash")
    )


#: resize target for the transcode audit query (16x16 = 256 pixels;
#: 256 % PNG_WIDTH == 0, so the re-encoded 16-wide PNG needs no pad).
_RESIZE_W = 16
_RESIZE_H = 16


@query(
    "multimodal_image_resize",
    oracle=f"""
    WITH geo AS (
        SELECT doc_id, {CC.png_pixels_sql('text')} AS padded,
               {CC.png_padded_len_sql('text')} AS n
        FROM documents
    )
    SELECT doc_id,
           CAST({_RESIZE_W * _RESIZE_H} AS BIGINT) AS n_pix,
           (SELECT CAST(SUM(unicode(substr(padded,
                    CAST((k.g * n) // {_RESIZE_W * _RESIZE_H} AS INT) + 1, 1)))
                   AS BIGINT)
            FROM generate_series(0, {_RESIZE_W * _RESIZE_H - 1}) k(g)) AS pix_sum,
           CAST(unicode(substr(padded, 1, 1)) AS BIGINT) AS pix_head,
           CAST(unicode(substr(padded,
                CAST(({_RESIZE_W * _RESIZE_H - 1} * n) // {_RESIZE_W * _RESIZE_H}
                     AS INT) + 1, 1)) AS BIGINT) AS pix_tail
    FROM geo
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image transcode through the real stdlib codec: every
    doc's PNG is DECODED (inflate, CRC checks, defilter), nearest-
    neighbor RESAMPLED to {_RESIZE_W}x{_RESIZE_H}, RE-ENCODED as a valid
    PNG of the new geometry, then the resized container is decoded AGAIN
    and checksummed (length, byte sum, endpoints) — two full decode
    passes and one encode per asset, the transcode loop a thumbnail/
    preprocessing stage runs at scale. The oracle reproduces every
    output pixel with substring arithmetic (the resampler's sampling
    rule is the phash kernel's ``out[k] = pix[(k*n)//target]``), so a
    mis-decode, mis-sample, or re-encode corruption anywhere in the
    loop surfaces as a value mismatch. Payload-in/payload-out (no
    funnel) — the one multimodal op to budget shuffle/IO ~= input."""
    # parallelism-guard the docs BEFORE the 4-codec-pass Python chain
    # (decode -> resample -> re-encode -> re-decode runs fused in one
    # stage): the fixture parquet scans as one split, which serializes
    # the whole transcode onto one core. Targeted guard — measured
    # 3.55 s -> 1.20 s interleaved min-of-3 at sf0.1; a blanket guard in
    # encode_text_assets REGRESSED trivial-kernel queries (family 9.9 s
    # -> 16.2 s — see the encode_text_assets note).
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        transcode_checksum_assets,
    )

    # ONE fused transcode+checksum Python pass (r11): the former
    # encode -> resize_assets -> asset_pixel_checksum 3-stage chain ran
    # three Python workers per task and shipped every intermediate
    # payload across two extra Arrow hops — pure overhead next to the
    # ~30 ms/core of actual codec CPU (see transcode_checksum_assets;
    # operator-level parity pinned, oracle unchanged).
    return transcode_checksum_assets(
        encode_text_assets(
            with_min_parallelism(load_table(spark, sf_dir, "documents")), "png"
        ),
        _RESIZE_W,
        _RESIZE_H,
    )


#: residue classes of the seeded corruption fixture (multimodal.
#: corrupt_assets): doc_id % 4 -> 0 clean, 1 IDAT byte flip (chunk CRC
#: mismatch), 2 IEND dropped (truncation), 3 magic zeroed.
_QUARANTINE_KIND_SQL = (
    "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'ok' WHEN 1 THEN 'crc_mismatch' "
    "WHEN 2 THEN 'truncated' ELSE 'bad_magic' END"
)


@query(
    "multimodal_decode_quarantine",
    oracle=f"""
    WITH geo AS (
        SELECT doc_id, {CC.png_pixels_sql('text')} AS p,
               {CC.png_padded_len_sql('text')} AS n
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN 'ok' ELSE 'quarantined' END AS status,
           {_QUARANTINE_KIND_SQL} AS error_kind,
           CASE WHEN doc_id % 4 = 0 THEN CAST(n AS BIGINT)
                ELSE -1 END AS n_pix,
           CASE WHEN doc_id % 4 = 0
                THEN CAST(list_sum(list_transform(
                         range(1, CAST(n AS INT) + 1),
                         j -> unicode(substr(p, CAST(j AS INT), 1))))
                     AS BIGINT)
                ELSE -1 END AS pix_sum,
           CASE WHEN doc_id % 4 = 0
                THEN CAST(unicode(substr(p, 1, 1)) AS BIGINT)
                ELSE -1 END AS pix_head,
           CASE WHEN doc_id % 4 = 0
                THEN CAST(unicode(substr(p, CAST(n AS INT), 1)) AS BIGINT)
                ELSE -1 END AS pix_tail
    FROM geo
    """,
)
def multimodal_decode_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE decode over a corpus with seeded corruptions — the
    failure-handling contract a 100 TB ingest needs (VERDICT r8 #1):
    every doc's PNG runs through the real stdlib decoder with
    ``mode="permissive"``; a corrupt asset becomes ONE quarantine row
    (status='quarantined', a deterministic ``error_kind`` from the
    closed codec vocabulary, -1 checksum sentinels) instead of killing
    the stage -> job. The fixture corrupts by doc_id residue
    (multimodal.corrupt_assets): an IDAT body-byte XOR (chunk CRC
    mismatch — CRC-32 linearity guarantees detection), the IEND chunk
    dropped (truncation), the magic zeroed (bad magic) — the
    tests/test_codecs.py corruptor classes as a corpus fixture. Clean
    rows carry the REAL decoded-pixel checksum (bit-identical to strict
    mode, pytest-pinned in tests/test_multimodal.py), so the oracle
    pins both the quarantine verdicts AND the surviving decode values
    per row — strictly stronger than per-kind counts. Plan shape
    unchanged from the strict path: one mapInPandas funnel, no
    shuffle."""
    assets = corrupt_assets(_image_assets(spark, sf_dir))
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        asset_pixel_checksum,
    )

    return asset_pixel_checksum(assets, decode="png", mode="permissive").select(
        "doc_id", "status", "error_kind", "n_pix", "pix_sum", "pix_head",
        "pix_tail"
    )


@query(
    "multimodal_quarantine_kind_counts",
    oracle=f"""
    SELECT {_QUARANTINE_KIND_SQL} AS error_kind,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents
    GROUP BY 1
    """,
)
def multimodal_quarantine_kind_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine SIDE-OUTPUT a production ingest monitors: per-kind
    counts over the permissive decode of the seeded-corruption corpus
    (one hash-groupBy over the funnel output — counts are batch-sized,
    never corpus-sized; in the streaming loop this is the per-trigger
    quarantine metric)."""
    assets = corrupt_assets(_image_assets(spark, sf_dir))
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        asset_pixel_checksum,
    )

    return (
        asset_pixel_checksum(assets, decode="png", mode="permissive")
        .groupBy("error_kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: truecolor row stride in bytes (3 channels x PNG_WIDTH pixels).
_RGB_ROW_BYTES = CC.PNG_RGB_BPP * CC.PNG_WIDTH

_RGB_LUMA_EXPR = (
    f"({CC.LUMA_R} * unicode(substr(p, CAST(3*j+1 AS INT), 1))"
    f" + {CC.LUMA_G} * unicode(substr(p, CAST(3*j+2 AS INT), 1))"
    f" + {CC.LUMA_B} * unicode(substr(p, CAST(3*j+3 AS INT), 1))) // 256"
)


@query(
    "multimodal_image_rgb_luma",
    oracle=f"""
    WITH geo AS (
        SELECT doc_id,
               rpad(text, CAST(pl AS INT), ' ') AS p,
               pl // 3 AS nl
        FROM (
            SELECT doc_id, text,
                   greatest((octet_length(CAST(text AS BLOB))
                             + {_RGB_ROW_BYTES - 1}) // {_RGB_ROW_BYTES}, 1)
                       * {_RGB_ROW_BYTES} AS pl
            FROM documents
        )
    )
    SELECT doc_id,
           CAST(nl AS BIGINT) AS n_luma,
           CAST(coalesce(list_sum(list_transform(
                range(0, CAST(nl AS INT)),
                j -> {_RGB_LUMA_EXPR})), 0) AS BIGINT) AS luma_sum,
           CAST(coalesce(list_sum(list_transform(
                range(0, CAST(nl AS INT)),
                j -> ({_RGB_LUMA_EXPR}) * (j + 1))), 0) AS BIGINT) AS luma_poly
    FROM geo
    """,
)
def multimodal_image_rgb_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUECOLOR leg of the real-decode seam: every doc's bytes encode
    as a genuine color-type-2 PNG (interleaved RGB triples, filter
    predictors stepping by bpp=3 per the spec), decode back through the
    shared chunk-CRC/inflate/all-five-filters engine, convert to the
    integer-luma plane (77R+150G+29B >> 8 — weights sum to 256, exact
    arithmetic), and reduce to an order-sensitive checksum
    (position-weighted luma sum). The oracle reproduces every luma
    value from the text with substring arithmetic, so a wrong bpp step
    in Sub/Average/Paeth, a channel swap, or a scanline shift flips the
    value hash — the color decode path is pinned end to end, not just
    its row count. Funnel shape: payload bytes in, 4 columns out."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assets = encode_text_assets(docs, "png_rgb")
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        rgb_luma_stats,
    )

    return rgb_luma_stats(assets)


_PAL_LUMA_EXPR = CC.png_palette_luma_sql("unicode(substr(p, CAST(j+1 AS INT), 1))")


@query(
    "multimodal_image_palette_luma",
    oracle=f"""
    WITH geo AS (
        SELECT doc_id,
               rpad(text, CAST({CC.png_padded_len_sql('text')} AS INT), ' ') AS p,
               {CC.png_padded_len_sql('text')} AS nl
        FROM documents
    )
    SELECT doc_id,
           CAST(nl AS BIGINT) AS n_luma,
           CAST(coalesce(list_sum(list_transform(
                range(0, CAST(nl AS INT)),
                j -> {_PAL_LUMA_EXPR})), 0) AS BIGINT) AS luma_sum,
           CAST(coalesce(list_sum(list_transform(
                range(0, CAST(nl AS INT)),
                j -> ({_PAL_LUMA_EXPR}) * (j + 1))), 0) AS BIGINT) AS luma_poly
    FROM geo
    """,
)
def multimodal_image_palette_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PALETTED leg of the real-decode seam (VERDICT r9 #4 — color
    type 3 is the most common crawl PNG class): every doc's bytes
    encode as a genuine paletted PNG (payload bytes are palette
    indexes, bpp=1 filters, a fixed non-identity 256-entry PLTE), the
    decoder validates + inflates + unfilters through the shared engine
    and maps each index through the PLTE to RGB, then the integer-luma
    plane reduces to the same position-weighted checksum as the
    truecolor leg. The palette is deliberately NOT a grayscale ramp
    (entry i = (i, 255-i, (7i+13) mod 256)), so a decoder that skips
    the lookup, transposes channels, or misreads PLTE produces a
    different luma for almost every index — the oracle inlines the
    palette formulas per byte and catches it. Paletted PNGs that fail
    structurally (bad PLTE length, out-of-range index) raise classified
    kinds for the quarantine path (pinned in tests/test_codecs.py)."""
    # targeted parallelism guard (see multimodal_image_resize note):
    # palette decode (bpp=1 filters + PLTE expansion + luma) measured
    # 1.36 s -> 0.98 s interleaved min-of-3 at sf0.1 with the fan-out.
    docs = with_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    assets = encode_text_assets(docs, "png_palette")
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        rgb_luma_stats,
    )

    return rgb_luma_stats(assets, decode="png_palette")


@query(
    "multimodal_image_interlaced_checksum",
    oracle=f"""
    WITH geo AS (
        SELECT doc_id, {_PNG_PIXELS_SQL} AS p,
               {CC.png_padded_len_sql('text')} AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_pix,
           CAST(list_sum(list_transform(
                range(1, CAST(n AS INT) + 1),
                j -> unicode(substr(p, CAST(j AS INT), 1)))) AS BIGINT)
               AS pix_sum,
           CAST(unicode(substr(p, 1, 1)) AS BIGINT) AS pix_head,
           CAST(unicode(substr(p, CAST(n AS INT), 1)) AS BIGINT) AS pix_tail
    FROM geo
    """,
)
def multimodal_image_interlaced_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAM7-INTERLACED grayscale decode over a MIXED corpus (r10 —
    the second-most-common crawl PNG shape after palette): even doc_ids
    encode sequentially, odd ids through the real seven-pass Adam7
    interlacer (each pass an independently-filtered sub-image, IHDR
    interlace=1), and BOTH decode through the shared engine to the
    identical pixel stream — interlacing reorders wire bytes, never
    the image, which is exactly what the one shared oracle pins: a
    wrong pass geometry, a filter inverse applied across pass
    boundaries, or a misplaced sparse write flips the per-doc checksum
    (sum + endpoints) for the odd ids only. Truecolor/paletted
    interlace stays a classified quarantine kind
    (tests/test_codecs.py). Funnel shape: one mapInPandas decode, four
    small columns out."""
    # targeted parallelism guard BEFORE the parity split (see
    # multimodal_image_resize note): Adam7 encode + 7-pass deinterlace
    # is the heavy kernel class; guarding once upstream means both legs
    # inherit the fan-out with a single exchange. Measured
    # 2.12 s -> 1.72 s interleaved min-of-3 at sf0.1.
    docs = with_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        asset_pixel_checksum,
        encode_text_assets_by,
    )

    assets = encode_text_assets_by(
        docs.withColumn(
            "__codec",
            F.expr(
                "CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN 'png' "
                "ELSE 'png_adam7' END"
            ),
        ),
        "__codec",
    )

    return asset_pixel_checksum(assets, decode="png")


#: offset for synthetic "re-encoded copy" ids — keeps the twin id space
#: disjoint from real doc ids at every SF.
_TWIN_OFFSET = 10_000_000

#: DuckDB twin of :func:`_twin_text_expr` — the SAME single-byte
#: substitution, so both engines hash identical payloads.
_TWIN_TEXT_SQL = (
    "substring(text, 1, CAST(doc_id % length(text) AS INT)) || 'x' || "
    "substring(text, CAST(doc_id % length(text) AS INT) + 2)"
)


def _perturbed_twins(docs: DataFrame) -> DataFrame:
    """A deterministically corrupted copy of every doc — one byte
    substituted at a doc_id-derived position (the stand-in for a
    re-encode/transcode artifact: most substitutions miss the 64
    sampled pixels entirely, some nudge a few DCT bits — the exact
    corruption class a perceptual hash exists to see through)."""
    text2 = F.expr(
        "concat(substring(text, 1, CAST(doc_id % length(text) AS INT)), 'x', "
        "substring(text, CAST(doc_id % length(text) AS INT) + 2))"
    )
    return docs.select(
        (F.col("doc_id") + _TWIN_OFFSET).alias("doc_id"), text2.alias("text")
    )


def _docs_and_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(_perturbed_twins(docs))


def _shared_image_phashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, phash) over originals + perturbed twins —
    encode + REAL PNG decode + DCT hash run once per (process, sf);
    every image consumer (per-doc hash query, banded pairs) reads the
    table instead of re-decoding the corpus (the minhash shared-table
    pattern applied to the image tier)."""
    return _materialized_sigs(
        spark,
        sf_dir,
        "imagephash",
        lambda: IH.phash_assets(
            encode_text_assets(_docs_and_twins(spark, sf_dir), "png"),
            decode="png",
        ),
    )


def _shared_audio_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, frame_idx, fp) over originals + twins —
    the audio tier's shared signature table (encode + RIFF decode +
    fingerprint once per process)."""
    return _materialized_sigs(
        spark,
        sf_dir,
        "audiofp",
        lambda: AFP.audio_fingerprints(
            encode_text_assets(_docs_and_twins(spark, sf_dir), "wav"),
            decode="wav",
        ),
    )


def _encode_video_mixed(df) -> "DataFrame":
    """MIXED-CONTAINER video fixture (VERDICT r9 #2, widened r10 #5):
    doc_id % 4 muxes Cmono / REAL C420 / C422 / C444 — the colorspace
    spread real crawls ship. Every encoder carries exactly
    {CC.Y4M_FRAME_LEN} luma payload bytes per frame (the subsampled
    geometries reshape W x H, never the luma plane), and the decoder
    returns the luma plane only — so every luma-level oracle (frame
    sample, pHash pairs, index probe, layout) is container-invariant
    and stays bit-exact over the whole mix. Only the header-walk
    metadata oracle sees the per-colorspace W x H geometry."""
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        encode_text_assets_by,
    )

    # per-row codec dispatch (r11): one mapInPandas instead of four
    # filter+encode legs unioned — same encoders row for row
    return encode_text_assets_by(
        df.withColumn(
            "__codec",
            F.expr(
                "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'y4m' "
                "WHEN 1 THEN 'y4m420' WHEN 2 THEN 'y4m422' "
                "ELSE 'y4m444' END"
            ),
        ),
        "__codec",
    )


def _shared_video_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, frame_idx, phash) over originals + twins —
    the video tier's shared signature table (Y4M demux + per-frame
    pHash once per process)."""
    return _materialized_sigs(
        spark,
        sf_dir,
        "videophash",
        lambda: IH.video_frame_phashes(
            _encode_video_mixed(_docs_and_twins(spark, sf_dir))
        ),
    )


_PHASH_PAIRS_ORACLE = f"""
WITH all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_TWIN_OFFSET} AS doc_id, {_TWIN_TEXT_SQL} AS text
    FROM documents
),
sigs AS (SELECT doc_id, phash FROM {IH.phash_sql('all_docs', text=_PNG_PIXELS_SQL)} s)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {IH.PHASH_MAX_DIST}
"""


@query("dedup_image_phash_pairs", oracle=_PHASH_PAIRS_ORACLE)
def dedup_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by pHash Hamming banding over a corpus of
    originals + re-encoded copies (each doc unioned with its perturbed
    twin — the synthetic corpus has no byte-level image dups of its
    own): 9 bands x 7 bits over the 63-bit signature, band equi-join
    for candidates, popcount-on-xor verify at distance <= 8 — lossless
    by pigeonhole, so the banded plan must equal the oracle's all-pairs
    definition exactly. Unrelated docs sit at distance >= 14 on this
    corpus while most twins land at 0-8, so the threshold separates
    cleanly (twins past 8 drop from BOTH sides — the approximation
    contract is value-checked, not idealized). The image twin of
    dedup_simhash_pairs; n_bands is the scale dial (3 bands x 21 bits
    for tight-distance web-scale corpora)."""
    return IH.phash_pairs(None, sigs=_shared_image_phashes(spark, sf_dir))


def _phash_index_path(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> str:
        IH.build_phash_index(
            _image_assets(spark, sf_dir).filter(
                F.col("doc_id") % _INCR_NEW_MOD != 0
            ),
            path,
            decode="png",
        )
        return path

    return artifact(
        spark, sf_dir, "phash_index", build, _INCR_NEW_MOD, IH.PHASH_BANDS, "png"
    )


#: the probe slice: re-encoded copies of docs already IN the corpus
#: (doc_id % 10 == 1 c corpus slice % 10 != 0) — the steady-state
#: ingestion event an image dedup index exists to catch.
_PHASH_PROBE_MOD_VAL = 1

_PHASH_INDEXED_ORACLE = f"""
WITH probe_docs AS (
    SELECT doc_id + {_TWIN_OFFSET} AS doc_id, {_TWIN_TEXT_SQL} AS text
    FROM documents WHERE doc_id % {_INCR_NEW_MOD} = {_PHASH_PROBE_MOD_VAL}
),
corpus_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % {_INCR_NEW_MOD} != 0
),
psig AS (SELECT doc_id, phash FROM {IH.phash_sql('probe_docs', text=_PNG_PIXELS_SQL)} s),
csig AS (SELECT doc_id, phash FROM {IH.phash_sql('corpus_docs', text=_PNG_PIXELS_SQL)} s)
SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id,
       CAST(bit_count(xor(p.phash, c.phash)) AS BIGINT) AS hamming
FROM psig p JOIN csig c ON true
WHERE bit_count(xor(p.phash, c.phash)) <= {IH.PHASH_MAX_DIST}
"""


@query("dedup_image_phash_indexed", oracle=_PHASH_INDEXED_ORACLE)
def dedup_image_phash_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-INDEX serve path for incremental image near-dup —
    the seventh index family (after hash, MinHash band, containment,
    IVF, Bloom, keyset): the corpus's band rows live hive-partitioned by
    (band, bkey); the arriving batch — re-encoded copies of already-
    ingested images — signs ONLY itself, routes its distinct keys into a
    literal PartitionFilter, and verifies by popcount against the stored
    8-byte signatures. Build once, probe per batch at O(batch + matching
    postings) — corpus payload bytes are never re-decoded. Same
    probe/upsert/compact lifecycle contracts as
    dedup.build_minhash_index (pytest-pinned in tests/test_imagehash.py)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    probe_docs = _perturbed_twins(
        docs.filter(F.col("doc_id") % _INCR_NEW_MOD == _PHASH_PROBE_MOD_VAL)
    )
    probe = encode_text_assets(probe_docs, "png")
    # probe signatures from the shared materialized table (same decode
    # codec the index meta pins; the batch is a filter of the twins)
    psigs = _shared_image_phashes(spark, sf_dir).filter(
        (F.col("doc_id") >= _TWIN_OFFSET)
        & ((F.col("doc_id") - _TWIN_OFFSET) % _INCR_NEW_MOD == _PHASH_PROBE_MOD_VAL)
    )
    return IH.phash_index_probe(
        spark, _phash_index_path(spark, sf_dir), probe, sigs=psigs
    )


_PHASH_LAYOUT_ORACLE = f"""
WITH sigs AS (
    SELECT doc_id, phash
    FROM {IH.phash_sql(text=_PNG_PIXELS_SQL)} s
    WHERE doc_id % {_INCR_NEW_MOD} != 0
)
SELECT doc_id, phash, b.g AS band,
       (phash >> (b.g * {IH.PHASH_BAND_BITS})) & {(1 << IH.PHASH_BAND_BITS) - 1}
           AS bkey,
       ((phash >> (b.g * {IH.PHASH_BAND_BITS})) & {(1 << IH.PHASH_BAND_BITS) - 1})
           % {IH.PHASH_INDEX_BUCKETS} AS bucket
FROM sigs, generate_series(0, {IH.PHASH_BANDS - 1}) b(g)
"""


@query("meta_phash_index_layout", oracle=_PHASH_LAYOUT_ORACLE)
def meta_phash_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit of the persisted pHash band index: every
    (doc_id, phash, band, bkey, bucket) posting read from the ON-DISK
    artifact, oracle-checked against recomputing the full hash + band
    decomposition + bucket routing in SQL — the index's exact bits AND
    routing keys, not just its counts, pinned engine-independently (a
    drifted DCT table, band shift, or bucket modulus mis-routes probes
    into silent false negatives). Scan cost: the bands table only
    (9 rows x ~20 bytes per image), never the corpus payloads."""
    root = D.index_dataset_root(_phash_index_path(spark, sf_dir))
    return (
        read_static_schema(spark, f"{root}/bands")
        .select(
            "doc_id",
            "phash",
            F.col("band").cast("long").alias("band"),
            F.col("bkey").cast("long").alias("bkey"),
            F.col("bucket").cast("long").alias("bucket"),
        )
    )


@query(
    "multimodal_container_metadata",
    oracle=f"""
    WITH geo AS (
        SELECT doc_id, doc_id % 3 AS m,
               octet_length(CAST(text AS BLOB)) AS n
        FROM documents
    )
    SELECT doc_id,
           CASE m WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                  ELSE 'video/x-yuv4mpeg' END AS mime,
           CAST(CASE m WHEN 0 THEN {CC.PNG_WIDTH} WHEN 1 THEN -1
                       ELSE CASE WHEN doc_id % 4 IN (0, 3) THEN {CC.Y4M_FRAME_LEN}
                                 ELSE {CC.Y4M_FRAME_LEN // 2} END
                END AS INT) AS width,
           CAST(CASE m WHEN 0 THEN greatest((n + {CC.PNG_WIDTH - 1}) // {CC.PNG_WIDTH}, 1)
                       WHEN 1 THEN -1
                       ELSE CASE WHEN doc_id % 4 IN (0, 3) THEN 1 ELSE 2 END
                END AS INT) AS height,
           CAST(CASE m WHEN 0 THEN 1 WHEN 1 THEN n
                       ELSE (n + {CC.Y4M_FRAME_LEN - 1}) // {CC.Y4M_FRAME_LEN}
                END AS INT) AS n_frames,
           CAST(CASE m WHEN 1 THEN {CC.WAV_RATE} ELSE -1 END AS INT)
               AS sample_rate
    FROM geo
    """,
)
def multimodal_container_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata extraction over a MIXED-MODALITY corpus with REAL
    container parsing: each doc becomes a PNG, WAV, or YUV4MPEG2
    asset by doc_id % 3, and decode_assets(decoder="stdlib") reads the
    geometry from the actual container headers — PNG IHDR (CRC
    validated, no inflate), WAV via the std RIFF parser, Y4M stream +
    FRAME header walking — never from the stub arithmetic. The catalog-building scan
    shape: header-only parses, payload bytes never decompressed, output
    rows orders of magnitude smaller than input (the funnel). The
    oracle recomputes the expected geometry from the encoders'
    documented layout, so a header mis-parse (wrong endianness, off-by-
    one in the chunk walk) surfaces as a value mismatch."""
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        encode_text_assets_by,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # one per-row-dispatch encode pass (r11); the video slice stays
    # MIXED Cmono/C420/C422/C444 — the header walk must report each
    # container's true geometry (64x1 vs 32x2)
    assets = encode_text_assets_by(
        docs.withColumn(
            "__codec",
            F.expr(
                "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' "
                "WHEN 1 THEN 'wav' "
                "ELSE CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'y4m' "
                "WHEN 1 THEN 'y4m420' WHEN 2 THEN 'y4m422' "
                "ELSE 'y4m444' END END"
            ),
        ),
        "__codec",
    )
    return decode_assets(assets, decoder="stdlib").select(
        "doc_id", "mime", "width", "height", "n_frames", "sample_rate"
    )


_VIDEO_PAIRS_ORACLE = IH.video_phash_pairs_sql(
    "all_docs",
    frame_len=CC.Y4M_FRAME_LEN,
    pad_frames=True,
    prelude_ctes=f"""all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_TWIN_OFFSET} AS doc_id, {_TWIN_TEXT_SQL} AS text
        FROM documents
    ),""",
)


@query("dedup_video_phash_pairs", oracle=_VIDEO_PAIRS_ORACLE)
def dedup_video_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-dup pairs over originals + re-encoded copies (the
    perturbed-twin convention): each video is a real YUV4MPEG2 stream
    DEMUXED by the actual parser, every 5th frame is pHashed,
    and two videos pair when >= {IH.VIDEO_MIN_FRAMES} aligned sampled
    frames sit within Hamming {IH.VIDEO_MAX_DIST} — frame-position
    alignment (the audio_fp_pairs discipline) composed with pHash
    banding (the image tier). Banding here is {IH.VIDEO_BANDS} bands x
    21 bits, NOT the image default: the per-frame join key space is
    2^21 per band, so band buckets stay near-singleton at corpus scale
    while pigeonhole keeps the candidate set lossless to distance
    {IH.VIDEO_MAX_DIST}. A one-byte corruption disturbs at most one
    frame, so twins pair via their untouched frames; unrelated videos
    essentially never align a 21-bit band at the same position. The
    oracle computes the all-pairs per-aligned-frame definition from
    substring-reproduced frames — exact, because Y4M luma planes
    round-trip the chunk bytes (final frame space-padded per the
    fixed-geometry stream header; the oracle adds one rpad)."""
    return IH.video_phash_pairs(None, sigs=_shared_video_sigs(spark, sf_dir))


def _video_index_path(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> str:
        corpus = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") % _INCR_NEW_MOD != 0)
        )
        IH.build_video_phash_index(_encode_video_mixed(corpus), path)
        return path

    return artifact(
        spark, sf_dir, "video_phash_index", build,
        _INCR_NEW_MOD, IH.VIDEO_BANDS, IH.VIDEO_INDEX_BUCKETS, "y4m_mixed",
    )


_VIDEO_INDEXED_ORACLE = IH.video_phash_pairs_between_sql(
    probe_pred=f"doc_id >= {_TWIN_OFFSET}",
    corpus_pred=f"doc_id < {_TWIN_OFFSET}",
    table="combined",
    frame_len=CC.Y4M_FRAME_LEN,
    pad_frames=True,
    prelude_ctes=f"""combined AS (
        SELECT doc_id + {_TWIN_OFFSET} AS doc_id, {_TWIN_TEXT_SQL} AS text
        FROM documents
        WHERE doc_id % {_INCR_NEW_MOD} = {_PHASH_PROBE_MOD_VAL}
        UNION ALL
        SELECT doc_id, text FROM documents
        WHERE doc_id % {_INCR_NEW_MOD} != 0
    ),""",
)


@query("dedup_video_phash_indexed", oracle=_VIDEO_INDEXED_ORACLE)
def dedup_video_phash_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-INDEX serve path for incremental video near-dup —
    the NINTH index family, completing tier symmetry (every modality's
    near-dup gate now has a build/probe/upsert/compact serve side): the
    corpus's per-frame pHash band rows live hive-partitioned by
    (band, bucket = bkey mod {IH.VIDEO_INDEX_BUCKETS}) — 21-bit band
    keys hash into buckets because one directory per key would mean 2^21
    directories (the minhash-index layout, not the 7-bit image index's
    one-dir-per-key luxury). The arriving batch — re-encoded uploads of
    already-ingested footage — demuxes and hashes ONLY itself, routes
    its distinct (band, bucket) keys into a literal PartitionFilter, and
    verifies per ALIGNED frame by popcount before the >= {IH.VIDEO_MIN_FRAMES}
    aligned-close-frames bar. Build once, probe per batch at O(batch +
    matching postings) — archive footage is never re-demuxed. Lifecycle
    pytest-pinned in tests/test_video_index.py."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    probe_docs = _perturbed_twins(
        docs.filter(F.col("doc_id") % _INCR_NEW_MOD == _PHASH_PROBE_MOD_VAL)
    )
    psigs = _shared_video_sigs(spark, sf_dir).filter(
        (F.col("doc_id") >= _TWIN_OFFSET)
        & ((F.col("doc_id") - _TWIN_OFFSET) % _INCR_NEW_MOD == _PHASH_PROBE_MOD_VAL)
    )
    return IH.video_phash_index_probe(
        spark,
        _video_index_path(spark, sf_dir),
        _encode_video_mixed(probe_docs),
        sigs=psigs,
    )


_VIDEO_LAYOUT_ORACLE = f"""
WITH corpus_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % {_INCR_NEW_MOD} != 0
),
vframes AS (
    SELECT doc_id * {IH.VIDEO_FID_BASE} + t.idx AS fid,
           rpad(substring(text, CAST(t.idx * {CC.Y4M_FRAME_LEN} + 1 AS INT),
                          {CC.Y4M_FRAME_LEN}), {CC.Y4M_FRAME_LEN}, ' ') AS ftext
    FROM corpus_docs,
         unnest(range(0, (octet_length(CAST(text AS BLOB)) + {CC.Y4M_FRAME_LEN - 1})
                         // {CC.Y4M_FRAME_LEN}, 5)) AS t(idx)
),
fsigs AS (
    SELECT fid // {IH.VIDEO_FID_BASE} AS doc_id,
           fid % {IH.VIDEO_FID_BASE} AS frame_idx, phash
    FROM {IH.phash_sql('vframes', 'fid', 'ftext')} s
)
SELECT doc_id, frame_idx, phash, b.g AS band,
       (phash >> (b.g * {IH.PHASH_BITS // IH.VIDEO_BANDS}))
           & {(1 << (IH.PHASH_BITS // IH.VIDEO_BANDS)) - 1} AS bkey,
       ((phash >> (b.g * {IH.PHASH_BITS // IH.VIDEO_BANDS}))
           & {(1 << (IH.PHASH_BITS // IH.VIDEO_BANDS)) - 1})
           % {IH.VIDEO_INDEX_BUCKETS} AS bucket
FROM fsigs, generate_series(0, {IH.VIDEO_BANDS - 1}) b(g)
"""


@query("meta_video_phash_index_layout", oracle=_VIDEO_LAYOUT_ORACLE)
def meta_video_phash_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit of the persisted video frame index: every
    (doc_id, frame_idx, phash, band, bkey, bucket) row read from the
    ON-DISK artifact, oracle-checked against recomputing the demux,
    per-frame hash, band decomposition, AND the bucket routing in SQL —
    the index's exact bits and partition keys pinned engine-
    independently (a drifted bucket modulus would silently route probes
    past their postings). Scan cost: the frames table only, never the
    corpus payloads."""
    root = D.index_dataset_root(_video_index_path(spark, sf_dir))
    return read_static_schema(spark, f"{root}/frames").select(
        "doc_id",
        "frame_idx",
        "phash",
        F.col("band").cast("long").alias("band"),
        F.col("bkey").cast("long").alias("bkey"),
        F.col("bucket").cast("long").alias("bucket"),
    )


# --------------------------------------------------------------------------
# Audio fingerprint dedup: frame band-energy sign fingerprints
# --------------------------------------------------------------------------

from kafka_streams_the_clojure_way_spark.operators import audiofp as AFP


def _audio_assets_from(docs: DataFrame) -> DataFrame:
    """Each doc's UTF-8 bytes encoded as a REAL RIFF/WAVE file (mono
    8-bit PCM via the std `wave` writer); every audio query decodes
    these through the real RIFF parser (decode="wav"). 8-bit PCM
    samples ARE raw bytes, so the decoded stream round-trips the text
    exactly and the fingerprint oracles are unchanged."""
    return encode_text_assets(docs, "wav")


@query(
    "multimodal_audio_fingerprint",
    oracle=f"SELECT doc_id, frame_idx, fp FROM {AFP.audio_fingerprints_sql()} s",
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip audio fingerprints (operators/audiofp.py — the
    Chromaprint/Haitsma-Kalker shape) over REALLY DECODED samples: each
    payload is a genuine RIFF/WAVE file parsed by the std `wave` reader
    (decode="wav"), then 32-sample frames, 8 band energies, one 7-bit
    fingerprint per adjacent frame pair from the SIGN of the energy
    double-difference across (band, time) — volume-invariant by
    construction. Vectorized mapInPandas kernel; exact integer
    arithmetic and 8-bit PCM decode round-trips the byte stream, so the
    oracle recomputes every fingerprint bit-for-bit from the text."""
    return (
        _shared_audio_fps(spark, sf_dir)
        .filter(F.col("doc_id") < _TWIN_OFFSET)
        .select("doc_id", "frame_idx", "fp")
    )


def _encode_audio_mixed(df) -> "DataFrame":
    """MIXED-PROFILE audio fixture (r11 codec tail): even doc_ids mux
    as 16-bit stereo WAV, odd as 24-bit stereo (wav_encode_pcm24 — the
    studio/master profile). Both profiles decode through
    ``wav_decode_pcm``'s documented downmix + high-byte requantization
    to the SAME pairwise byte average of the padded text, so every
    sample-level oracle is wire-profile-invariant."""
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        encode_text_assets_by,
    )

    return encode_text_assets_by(
        df.withColumn(
            "__codec",
            F.expr(
                "CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN 'wav16' "
                "ELSE 'wav24' END"
            ),
        ),
        "__codec",
    )


@query(
    "multimodal_audio_fingerprint_pcm16",
    oracle=(
        "SELECT doc_id, frame_idx, fp FROM "
        f"{AFP.audio_fingerprints_sql(stream='pcm16_stereo')} s"
    ),
)
def multimodal_audio_fingerprint_pcm16(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio fingerprints over 16-BIT STEREO WAV — the wire profile
    real speech/music corpora ship (VERDICT r8 #2; 8-bit mono is a
    fixture convenience). Each doc's bytes encode as a genuine RIFF
    file with 16-bit signed LE samples alternating two channels
    (functions/codecs.wav_encode_pcm16); decode="pcm" parses it back
    through the std ``wave`` reader and reduces to one 8-bit stream by
    the DOCUMENTED integer pipeline — downmix ``(L+R)>>1`` in 16-bit
    space first, then requantize ``(m+32768)>>8`` — so the fingerprint
    input is the pairwise byte average of the (space-padded) text and
    the oracle recomputes every fingerprint bit-for-bit with substring
    arithmetic. Same kernel, same plan shape as the mono path; only
    the decoder profile widens. r11: the corpus is a MIXED 16/24-bit
    wire profile (doc_id parity muxes wav16 vs wav24 stereo) — the
    24-bit branch's downmix + ``(m + 2^23) >> 16`` requantization
    reduces to the SAME pairwise byte average, so one oracle covers
    both profiles and a requantization slip in either flips the hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return AFP.audio_fingerprints(
        _encode_audio_mixed(docs), decode="pcm"
    )


@query(
    "multimodal_audio_pcm16_checksum",
    oracle="""
    WITH geo AS (
        SELECT doc_id,
               rpad(text, CAST(octet_length(CAST(text AS BLOB))
                    + (octet_length(CAST(text AS BLOB)) % 2) AS INT), ' ') AS p,
               (octet_length(CAST(text AS BLOB)) + 1) // 2 AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_pix,
           CAST(coalesce(list_sum(list_transform(
                range(0, CAST(n AS INT)),
                g -> (unicode(substr(p, CAST(2*g AS INT) + 1, 1))
                      + unicode(substr(p, CAST(2*g AS INT) + 2, 1))) // 2)), 0)
                AS BIGINT) AS pix_sum,
           CASE WHEN n > 0
                THEN CAST((unicode(substr(p, 1, 1))
                           + unicode(substr(p, 2, 1))) // 2 AS BIGINT)
                ELSE -1 END AS pix_head,
           CASE WHEN n > 0
                THEN CAST((unicode(substr(p, CAST(2*n AS INT) - 1, 1))
                           + unicode(substr(p, CAST(2*n AS INT), 1))) // 2
                     AS BIGINT)
                ELSE -1 END AS pix_tail
    FROM geo
    """,
)
def multimodal_audio_pcm16_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end content pin for the 16-bit stereo decode path: every
    decoded-downmixed-requantized sample stream's length, sum, and
    endpoints, reproduced by the oracle as pairwise byte averages of
    the padded text — a wrong channel interleave, a sign/offset slip in
    requantization, or an off-by-one in the downmix flips the value
    hash. One mapInPandas funnel. r11: runs over the MIXED 16/24-bit
    stereo corpus (see multimodal_audio_fingerprint_pcm16) — both
    profiles decode to the same pairwise byte average, one oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        asset_pixel_checksum,
    )

    return asset_pixel_checksum(
        _encode_audio_mixed(docs), decode="pcm"
    )


#: decimation factor for the audio transcode audit (every 4th sample).
_RESAMPLE_FACTOR = 4


@query(
    "multimodal_audio_resample",
    oracle=f"""
    WITH geo AS (
        SELECT doc_id, text,
               (octet_length(CAST(text AS BLOB)) + {_RESAMPLE_FACTOR - 1})
                   // {_RESAMPLE_FACTOR} AS n_out
        FROM documents
    ),
    sums AS (
        SELECT doc_id,
               CAST(SUM(unicode(substr(text,
                    CAST(k.g * {_RESAMPLE_FACTOR} AS INT) + 1, 1))) AS BIGINT)
                   AS s
        FROM geo, unnest(range(0, n_out)) AS k(g)
        GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(g.n_out AS BIGINT) AS n_pix,
           COALESCE(s.s, 0) AS pix_sum,
           CASE WHEN g.n_out > 0 THEN CAST(unicode(substr(g.text, 1, 1)) AS BIGINT)
                ELSE -1 END AS pix_head,
           CASE WHEN g.n_out > 0
                THEN CAST(unicode(substr(g.text,
                     CAST((g.n_out - 1) * {_RESAMPLE_FACTOR} AS INT) + 1, 1))
                     AS BIGINT)
                ELSE -1 END AS pix_tail
    FROM geo g LEFT JOIN sums s USING (doc_id)
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio transcode through the real stdlib codec: every
    doc's WAV is DECODED (RIFF parse), DECIMATED by {_RESAMPLE_FACTOR}
    (``out[k] = samples[k * {_RESAMPLE_FACTOR}]`` — the nearest-neighbor
    rule, so the oracle reproduces every output sample with substring
    arithmetic), RE-ENCODED as a valid WAV at the reduced rate, then the
    resampled container is decoded AGAIN and checksummed (length, sum,
    endpoints) — the audio twin of multimodal_image_resize, covering the
    rate-conversion preprocessing stage a speech pipeline runs at scale.
    A real-codec build swaps in a windowed-sinc resampler behind the
    same seam; the plan is two chained mapInPandas stages, no shuffle."""
    resampled = AFP.resample_audio_assets(
        _audio_assets_from(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ),
        _RESAMPLE_FACTOR,
    )
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        asset_pixel_checksum,
    )

    return asset_pixel_checksum(resampled, decode="wav")


_AUDIO_PAIRS_ORACLE = AFP.audio_fp_pairs_sql(
    "all_docs",
    prelude_ctes=f"""all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_TWIN_OFFSET} AS doc_id, {_TWIN_TEXT_SQL} AS text
        FROM documents
    ),""",
)


@query("dedup_audio_fp_pairs", oracle=_AUDIO_PAIRS_ORACLE)
def dedup_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs over originals + re-encoded copies (the
    perturbed-twin convention of dedup_image_phash_pairs): docs sharing
    >= {AFP.AUDIO_MIN_SHARED} frame-aligned fingerprints pair up — a
    one-byte corruption disturbs at most two frames' fingerprints, so a
    twin shares nearly all of them, while unrelated clips rarely reach
    4 aligned collisions (measured knee — see AUDIO_MIN_SHARED; twins
    shorter than ~6 frames drop from BOTH engines symmetrically, the
    approximation contract value-checked as usual). Posting keys in more than
    {AFP.AUDIO_DF_CAP} docs are dropped BEFORE the join (df-cap, the
    winnowing discipline — the oracle applies the same cap), so no
    boilerplate fingerprint can fan out quadratically."""
    return AFP.audio_fp_pairs(None, fps=_shared_audio_fps(spark, sf_dir))


def _audiofp_index_path(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> str:
        corpus = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") % _INCR_NEW_MOD != 0)
        )
        AFP.build_audiofp_index(_audio_assets_from(corpus), path, decode="wav")
        return path

    return artifact(
        spark, sf_dir, "audiofp_index", build,
        _INCR_NEW_MOD, AFP.AUDIO_DF_CAP, AFP.AUDIO_MIN_SHARED, "wav",
    )


_AUDIO_INDEXED_ORACLE = AFP.audio_fp_pairs_between_sql(
    probe_pred=f"doc_id >= {_TWIN_OFFSET}",
    corpus_pred=f"doc_id < {_TWIN_OFFSET}",
    table="combined",
    prelude_ctes=f"""combined AS (
        SELECT doc_id + {_TWIN_OFFSET} AS doc_id, {_TWIN_TEXT_SQL} AS text
        FROM documents
        WHERE doc_id % {_INCR_NEW_MOD} = {_PHASH_PROBE_MOD_VAL}
        UNION ALL
        SELECT doc_id, text FROM documents
        WHERE doc_id % {_INCR_NEW_MOD} != 0
    ),""",
)


@query("dedup_audio_fp_indexed", oracle=_AUDIO_INDEXED_ORACLE)
def dedup_audio_fp_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-INDEX serve path for incremental audio near-dup —
    the EIGHTH index family, closing the one dedup tier that had no
    serve side (VERDICT r7 gap #2): the corpus's (frame_idx, fp)
    postings live hive-partitioned by the 7-bit fingerprint with the
    over-cap keys in a persisted drop list; the arriving batch —
    re-encoded copies of already-ingested clips — fingerprints ONLY
    itself through the real WAV parser, routes its <= 128 distinct fp
    values into a literal PartitionFilter, anti-joins the drop list
    (cap semantics identical to a fresh rebuild), and counts
    frame-aligned shared fingerprints against the stored postings.
    Build once, probe per batch at O(batch + matching postings) —
    corpus audio is never re-decoded. Lifecycle (probe/upsert/compact +
    df-cap maintenance under upserts) pytest-pinned in
    tests/test_audiofp_index.py."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    probe_docs = _perturbed_twins(
        docs.filter(F.col("doc_id") % _INCR_NEW_MOD == _PHASH_PROBE_MOD_VAL)
    )
    pfps = _shared_audio_fps(spark, sf_dir).filter(
        (F.col("doc_id") >= _TWIN_OFFSET)
        & ((F.col("doc_id") - _TWIN_OFFSET) % _INCR_NEW_MOD == _PHASH_PROBE_MOD_VAL)
    )
    return AFP.audiofp_index_probe(
        spark,
        _audiofp_index_path(spark, sf_dir),
        _audio_assets_from(probe_docs),
        fps=pfps,
    )


_AUDIOFP_LAYOUT_ORACLE = f"""
WITH corpus_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % {_INCR_NEW_MOD} != 0
),
cfps AS (
    SELECT doc_id, frame_idx, fp
    FROM {AFP.audio_fingerprints_sql('corpus_docs')} s
),
ckeys AS (
    SELECT frame_idx, fp FROM cfps
    GROUP BY frame_idx, fp HAVING COUNT(*) <= {AFP.AUDIO_DF_CAP}
)
SELECT c.doc_id, c.frame_idx, c.fp
FROM cfps c JOIN ckeys USING (frame_idx, fp)
"""


@query("meta_audiofp_index_layout", oracle=_AUDIOFP_LAYOUT_ORACLE)
def meta_audiofp_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit of the persisted audio fingerprint index: every
    VISIBLE posting — the on-disk postings anti-joined with the on-disk
    drop list, exactly what a probe sees — oracle-checked against
    recomputing the corpus fingerprints and the df cap in SQL. Pins the
    index's exact bits, frame alignment, AND the cap bookkeeping
    engine-independently (a drifted energy band or a missed drop-list
    entry would mis-match probes silently). Scan cost: the postings +
    drop tables only, never the corpus audio."""
    root = D.index_dataset_root(_audiofp_index_path(spark, sf_dir))
    postings = AFP._read_postings(spark, root, "doc_id")
    dropped = read_static_schema(spark, f"{root}/dropped")
    return (
        postings.join(F.broadcast(dropped), ["frame_idx", "fp"], "left_anti")
        .select("doc_id", "frame_idx", F.col("fp").cast("long").alias("fp"))
    )


# --------------------------------------------------------------------------
# Near-dup clustering (iterative connected components over LSH pairs)
# --------------------------------------------------------------------------

@query(
    "dedup_cluster_assignments",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT id_a, id_b FROM (
            {D.minhash_lsh_pairs_sql(threshold=_JACCARD_THRESHOLD)}
        ) p
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
        SELECT u AS node, LEAST(u, MIN(v)) AS cluster_id
        FROM reach GROUP BY u
    )
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def dedup_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    MinHash-LSH verified pair graph (operators/graph.py, hash-min label
    propagation — driver-side loop control, data never collected), every
    document labeled with min-doc_id-of-component; singletons label
    themselves. Keeping canonicals is then `doc_id == cluster_id`. The
    oracle computes the same fixpoint as a DuckDB recursive CTE
    transitive closure — exact, because component ids are
    order-independent."""
    return _shared_lsh_clusters(spark, sf_dir)


# --------------------------------------------------------------------------
# Sampling (training-data subset selection)
# --------------------------------------------------------------------------

_SAMPLE_SALT = "sample:v1:"
_SAMPLE_PCT = 10  # keep hash-bucket < 10 of 100 => deterministic ~10%


@query(
    "sample_hash_documents",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ({P.hash60_sql(f"'{_SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")} % 100)
          < {_SAMPLE_PCT}
    """,
)
def sample_hash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling — THE sampling primitive for training
    corpora: md5-bucket on a salted key gives a sample that is (a)
    reproducible across runs/engines (bit-exact oracle), (b) stable
    under repartition (row-position-independent, unlike TABLESAMPLE /
    rand(seed)), and (c) consistent across tables — the same salt+key
    rule applied to a second corpus selects ALIGNED subsets, so joins
    between sampled tables still work. Changing the salt string draws a
    fresh independent sample. Pure per-row predicate: pipelined into the
    scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        P.hash60(F.concat(F.lit(_SAMPLE_SALT), F.col("doc_id").cast("string"))) % 100
    )
    return docs.filter(bucket < _SAMPLE_PCT).select("doc_id", "lang", "n_chars")


_STRATA_FRACTIONS = {"en": 0.25, "de": 0.8, "es": 0.8, "fr": 0.8, "zh": 0.5}


@query(
    "sample_stratified_documents",
    oracle=f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, true AS in_rate_bound
    FROM documents
    WHERE lang IN ({', '.join(repr(k) for k in sorted(_STRATA_FRACTIONS))})
    GROUP BY lang
    """,
)
def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-language) Bernoulli sampling via ``sampleBy`` —
    rebalances a skewed corpus by downsampling the dominant stratum
    (here: keep 25% of `en`, most of the rest). Seeded => deterministic
    within Spark, but the RNG stream is engine-specific, so the hashable
    output is the RATE VERDICT: per stratum, the sampled count must sit
    within the 4-sigma Bernoulli envelope of n*frac — computed in-query
    against the per-stratum totals, asserted constant-true by the
    oracle over the same totals. The row-level determinism of the
    sampler stays pytest-gated (tests/test_sampling.py); the
    deterministic salted-hash variant with a full row-level oracle is
    sample_stratified_hash_documents. Per-row filter plus one
    strata-sized aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = (
        docs.sampleBy("lang", _STRATA_FRACTIONS, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    frac = F.create_map(
        *[F.lit(x) for kv in _STRATA_FRACTIONS.items() for x in kv]
    )[F.col("lang")]
    totals = (
        docs.filter(F.col("lang").isin(*_STRATA_FRACTIONS))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    j = totals.join(sampled, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce(F.col("k"), F.lit(0)).alias("k"),
        frac.alias("frac"),
    )
    sigma = F.sqrt(F.col("n_docs") * F.col("frac") * (1 - F.col("frac")))
    return j.select(
        "lang",
        "n_docs",
        (
            F.abs(F.col("k") - F.col("n_docs") * F.col("frac"))
            <= 4 * sigma + F.lit(1)
        ).alias("in_rate_bound"),
    )


_STRATA_BUCKETS = 10_000  # per-stratum keep threshold resolution (0.01%)


@query(
    "sample_stratified_hash_documents",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ({P.hash60_sql(f"'{_SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")}
           % {_STRATA_BUCKETS}) <
          CASE lang
              {' '.join(f"WHEN '{lang}' THEN {int(frac * _STRATA_BUCKETS)}"
                        for lang, frac in _STRATA_FRACTIONS.items())}
              ELSE 0
          END
    """,
)
def sample_stratified_hash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling, deterministic form: per-language keep rates
    applied via the salted portable hash instead of ``sampleBy``'s RNG —
    same rebalancing semantics as sample_stratified_documents but
    reproducible across runs, engines, AND partitionings, so it carries a
    bit-exact oracle (the RNG variant stays registered as the rows-only
    representative of Spark's native sampler). The hash bucket is
    compared against a per-stratum threshold (resolution 0.01%); strata
    absent from the fraction map are dropped, matching sampleBy. Pure
    per-row predicate, pipelined into the scan — no shuffle at any
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        P.hash60(F.concat(F.lit(_SAMPLE_SALT), F.col("doc_id").cast("string")))
        % _STRATA_BUCKETS
    )
    threshold = F.lit(0)
    for lang, frac in _STRATA_FRACTIONS.items():
        threshold = F.when(
            F.col("lang") == lang, F.lit(int(frac * _STRATA_BUCKETS))
        ).otherwise(threshold)
    return docs.filter(bucket < threshold).select("doc_id", "lang", "n_chars")


@query(
    "text_gopher_quality_flags",
    oracle=_select_sql(T.gopher_quality_sql(), "documents"),
)
def text_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules (Rae et al. 2021 §A1.1 adapted): word
    count bounds, mean word length, symbol-to-word ratio, distinct-token
    ratio, composite keep/drop. The filter every web-scale corpus applies
    before training; row-local expressions, no shuffle, pipelined into
    the scan at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return T.gopher_quality(docs).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_word_ratio",
        "distinct_token_ratio",
        "quality_keep",
    )


@query(
    "diff_documents_revision",
    oracle="""
    WITH newv AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END
                   AS text
        FROM documents WHERE doc_id % 11 <> 0
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text
        FROM documents WHERE doc_id % 17 = 0
    ),
    d AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM documents o FULL OUTER JOIN newv n ON n.doc_id = o.doc_id
    )
    SELECT doc_id, status FROM d WHERE status <> 'unchanged'
    """,
)
def diff_documents_revision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-revision diff (operators.relational.dataset_diff): which
    documents a new corpus version added / removed / changed — the audit
    step between crawl or filter revisions, and the work-list for
    incremental reprocessing (recompute embeddings/signatures only for
    added+changed). The 'new version' here is derived deterministically
    from the corpus (drop %11, edit %13, add %17 under shifted ids) so
    the full-outer-join diff gets an exact oracle. One keyed shuffle;
    bucket both snapshots on doc_id at scale for a zero-exchange diff."""
    from kafka_streams_the_clojure_way_spark.operators.relational import (
        dataset_diff,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    newv = (
        docs.filter(did % 11 != 0)
        .withColumn(
            "text",
            F.when(did % 13 == 0, F.concat(F.col("text"), F.lit(" [rev2]")))
            .otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(did % 17 == 0).withColumn("doc_id", did + 10_000_000)
        )
    )
    return dataset_diff(docs, newv, ["doc_id"], compare_cols=["text"])


@query("text_repetition_flags", oracle=T.repetition_stats_sql())
def text_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetitive-content signature (Gopher §A1.1 adapted): top-bigram
    coverage fraction and duplicate-5-gram fraction per document — the
    boilerplate/looping-text signals per-token quality scores miss.
    Serves from the shared materialized token table (r12 — tokens-only
    consumer, same §1.2 conversion as the LM/budget family: ``toks`` IS
    ``tokens_col(text)``, pinned row-by-row); both count aggregations
    shuffle one row per distinct gram per doc."""
    tok = with_min_parallelism(
        _shared_tokens(spark, sf_dir).select("doc_id", "toks")
    )
    return T.repetition_stats(tok, toks_col="toks")


# Deterministic PII fabrication: the synthetic corpus carries no real
# PII (verified), so the demo query plants one email/URL/phone per doc —
# the operator itself is generic and the oracle checks the scrub result
# value-exactly, varying per doc_id.
_PII_SUFFIX_SPARK = (
    " contact user{0}@example.com via https://ex.com/doc/{0} or +1 (555) 010-{1}"
)


@query(
    "text_pii_scrub",
    oracle=(
        "WITH aug AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com via https://ex.com/doc/' || CAST(doc_id AS VARCHAR)"
        " || ' or +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " AS text FROM documents) "
        + _select_sql(T.pii_scrub_sql(), "aug")
    ),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/URLs/phones) with per-kind counts — the
    hygiene pass before any corpus release. Patterns live in the
    Java-regex ∩ RE2 subset so Spark and the DuckDB oracle interpret
    them identically; applied in a fixed order on progressively scrubbed
    text so spans can't double-count. Pure per-row regex, pipelined into
    the scan. The corpus is synthetic (zero real PII), so the query
    plants one deterministic email/URL/phone per document and the oracle
    verifies the scrubbed text value-exactly."""
    docs = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), sid, F.lit("@example.com via https://ex.com/doc/"),
        sid, F.lit(" or +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return T.pii_scrub(docs.withColumn("text", aug)).select(
        "doc_id", "n_emails", "n_urls", "n_phones", "clean"
    )


_BENCH_SOURCE = "src0"  # held-out "benchmark" slice of the corpus


@query(
    "text_ngram_contamination",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, source, {T.shingles_sql('text')} AS shingles
        FROM documents
    ),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS s FROM sh
        WHERE source = '{_BENCH_SOURCE}'
    ),
    corpus AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
        WHERE source <> '{_BENCH_SOURCE}'
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           round(CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS contamination_frac
    FROM corpus c LEFT JOIN bench b ON b.s = c.s
    GROUP BY c.doc_id
    """,
)
def text_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination check: the fraction of each document's
    distinct 5-gram shingles that also appear in a held-out probe set
    (here: the '{src0}' source slice stands in for an eval benchmark).
    The standard pre-training hygiene step (GPT-3 appendix C / PaLM §7).
    Scale: the benchmark shingle set is tiny (eval suites are KBs-MBs) —
    broadcast it; the corpus side explodes to one row per distinct
    shingle and aggregates straight back to doc_id, so the only shuffle
    is the final per-doc count at benchmark-set-independent width.
    Shingle construction is CPU-bound per row, so the input is
    parallelism-guarded (single-row-group test files would otherwise run
    it in one task; a no-op on well-split corpora)."""
    grams = _shared_doc_grams(spark, sf_dir)
    bench = (
        grams.filter(F.col("source") == _BENCH_SOURCE)
        .select("s")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus = grams.filter(F.col("source") != _BENCH_SOURCE).select("doc_id", "s")
    hit = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    return (
        corpus.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            hit.alias("n_contaminated"),
            F.round(hit.cast("double") / F.count(F.lit(1)), 6).alias(
                "contamination_frac"
            ),
        )
    )


_CHUNK_TOKENS = 50
_CHUNK_STRIDE = 40  # 10-token overlap between consecutive chunks


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {T.tokens_sql('text')} AS toks,
               CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n
        FROM documents
    ),
    shaped AS (
        SELECT doc_id, toks, n,
               CASE WHEN n <= {_CHUNK_TOKENS} THEN 1
                    ELSE CAST(ceil(CAST(n - {_CHUNK_TOKENS} AS DOUBLE)
                                   / {_CHUNK_STRIDE}) AS BIGINT) + 1
               END AS n_chunks
        FROM tok
    )
    SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_id,
           array_to_string(
               toks[(u.i * {_CHUNK_STRIDE} + 1):(u.i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS})],
               ' ') AS chunk_text,
           CAST(least(n - u.i * {_CHUNK_STRIDE}, {_CHUNK_TOKENS}) AS BIGINT)
               AS chunk_tokens
    FROM shaped, UNNEST(range(0, n_chunks)) AS u(i)
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the step that turns documents
    into model-context-sized pieces (RAG indexing, long-doc training):
    {chunk} tokens per chunk, stride {stride} (so consecutive chunks
    share the boundary tokens and no split point loses context). One
    narrow posexplode per doc — output rows ~ n_tokens/stride per doc,
    no shuffle at all; the chunker runs scan-side at any corpus size."""

    def _chunks(toks: F.Column) -> F.Column:
        n = F.array_size(toks).cast("long")
        n_chunks = F.when(n <= _CHUNK_TOKENS, F.lit(1).cast("long")).otherwise(
            F.ceil((n - _CHUNK_TOKENS).cast("double") / _CHUNK_STRIDE).cast("long")
            + 1
        )
        return F.transform(
            F.sequence(F.lit(0).cast("long"), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, (i * _CHUNK_STRIDE + 1).cast("int"), _CHUNK_TOKENS),
                " ",
            ),
        )

    # r12: chunk from the materialized token arrays — `toks` is a plain
    # scan attribute, so the per-chunk lambda slices it directly (the
    # let_col binding only existed to avoid re-splitting raw text).
    chunks = _chunks(F.col("toks"))
    return (
        _shared_tokens(spark, sf_dir)
        .select(
            "doc_id",
            F.col("n_toks").alias("n"),
            F.posexplode(chunks).alias("chunk_id", "chunk_text"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "chunk_text",
            F.least(
                F.col("n") - F.col("chunk_id") * _CHUNK_STRIDE, F.lit(_CHUNK_TOKENS)
            ).cast("long").alias("chunk_tokens"),
        )
    )


_PACK_BUDGET = 512  # tokens per training sequence


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens AS BIGINT) AS stream_offset,
           CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id
    FROM tok
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate each source's token stream in
    deterministic doc_id order and cut it into fixed {budget}-token
    training sequences — each doc gets the pack it STARTS in plus its
    offset in the stream (docs may straddle pack boundaries; that is the
    standard concat-then-split packing used for pre-training batches).
    One running-sum window per source — a single shuffle on the source
    key; at 100 TB, partition the corpus by (source, date) first and the
    window runs per partition without a global sort."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        _shared_tokens(spark, sf_dir)  # r12: count-only read, toks pruned
        .select("doc_id", "source", F.col("n_toks").alias("n_tokens"))
        .withColumn("stream_offset", (cum - F.col("n_tokens")).cast("long"))
        .withColumn(
            "pack_id", F.floor(F.col("stream_offset") / _PACK_BUDGET).cast("long")
        )
    )


_TFIDF_TOPK = 3


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({T.tokens_sql('text')}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ),
    df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf_r
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tfidf_r DESC, term ASC) AS rnk
        FROM scored
    )
    SELECT doc_id, term, tfidf_r, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_TFIDF_TOPK}
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{k} TF-IDF terms — the classic two-pass corpus
    operator (keyword extraction / topic labeling). Pass 1 aggregates
    term and document frequencies; pass 2 joins them back and ranks per
    doc. Scale: tf shuffles on (doc_id, term), df on term; the df table
    (vocabulary-sized, millions of rows at worst) broadcasts back into
    the scored join; ranking is a WindowGroupLimit partial top-k, so
    only <=k rows per doc survive the final exchange. Ranking on the
    ROUNDED score (ties broken by term) keeps row selection identical
    across engines' last-ulp log differences."""
    from pyspark.sql.window import Window

    art = _shared_tokens(spark, sf_dir)  # one row per doc, r12
    tok = art.select(
        "doc_id", F.explode_outer(F.col("toks")).alias("term")
    ).filter(F.col("term").isNotNull())
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = art.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf_r"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_r").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_TOPK)
        .withColumn("rnk", F.col("rnk").cast("long"))
    )


_UNIGRAM_HEAD_K = 64  # Zipf head vocabulary broadcast size


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({T.tokens_sql('text')}) AS tok FROM documents
    ),
    uni AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM uni)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(avg(log10(u.cnt / tot.n)), 6) AS avg_logprob_r,
           round(min(log10(u.cnt / tot.n)), 6) AS min_logprob_r
    FROM tok t JOIN uni u USING (tok) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model scoring — the classic KenLM-style
    perplexity proxy for training-data quality filtering, built from the
    corpus itself (pass 1: unigram counts; pass 2: per-doc mean/min token
    log-probability). Low avg_logprob = jargon/noise; min_logprob flags
    the single rarest token (typo/garbage detector).

    Scale shape: the token->count join is Zipf-skewed — 'the' alone can
    be ~5% of all token instances, so a plain shuffle join puts the head
    keys on single reducers no matter how many partitions. The split here
    is the standard fix: the top-{_UNIGRAM_HEAD_K} head vocabulary (tiny,
    covers most instances) BROADCASTS so head tokens never shuffle, and
    only the near-uniform tail shuffles on token. At 100 TB the full
    vocabulary (billions of distinct tokens) cannot broadcast, but the
    head always can — the split is what makes the plan scale-safe, not a
    micro-optimization. Rounding avg/min to 6 keeps engines' last-ulp
    log10 differences out of the hash (same trick as tfidf/geomean)."""
    tok = _shared_tokens(spark, sf_dir).select(
        "doc_id", F.explode_outer(F.col("toks")).alias("tok")
    ).filter(F.col("tok").isNotNull())
    uni = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = uni.agg(F.sum("cnt").cast("double").alias("n"))
    head = uni.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(
        _UNIGRAM_HEAD_K
    )
    tail = uni.join(F.broadcast(head.select("tok")), "tok", "left_anti")
    scored = tok.join(F.broadcast(head), "tok").unionByName(
        tok.join(tail, "tok")
    )
    lp = F.log10(F.col("cnt") / F.col("n"))
    return (
        scored.crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(lp), 6).alias("avg_logprob_r"),
            F.round(F.min(lp), 6).alias("min_logprob_r"),
        )
    )


@query(
    "agg_heavy_hitter_tokens",
    oracle=SK.exact_heavy_hitters_sql("documents", T.tokens_sql("text")),
)
def agg_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with freq >= ceil(N/64)) via the
    Misra-Gries two-pass: per-partition bounded-memory sketch -> tiny
    candidate summary -> broadcast-pruned exact recount. The oracle is
    the full group-by the sketch path avoids shuffling at 100 TB; both
    produce the identical exact answer."""
    # r12: the sketch + recount passes each scan the materialized token
    # table instead of tokenizing the corpus twice
    return SK.exact_heavy_hitters(_shared_tokens(spark, sf_dir), F.col("toks"))


@query(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT id_a, id_b FROM (
            {D.minhash_lsh_pairs_sql(threshold=_JACCARD_THRESHOLD)}
        ) p
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
        SELECT u AS node, LEAST(u, MIN(v)) AS cluster_id
        FROM reach GROUP BY u
    ),
    scored AS (
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               {T.quality_scores_sql()['quality_score']} AS q
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc_id, cluster_id, q AS quality_r,
           CAST(cs AS BIGINT) AS cluster_size
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
              ORDER BY q DESC, doc_id ASC) AS rn,
              COUNT(*) OVER (PARTITION BY cluster_id) AS cs
          FROM scored) t
    WHERE rn = 1
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL step, end to end: near-dup pairs ->
    connected components -> keep the highest-QUALITY document per
    cluster (not the min-id one — canonical selection should keep the
    best copy, the policy real corpus dedup ships). Tie-break on doc_id
    keeps selection deterministic. Shape on top of clustering: one join
    to attach quality, one WindowGroupLimit top-1 per cluster. Oracle:
    the recursive-CTE transitive closure + the same quality formula."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    clusters = _shared_lsh_clusters(spark, sf_dir)
    scored = (
        T.quality_scores(docs)
        .select("doc_id", F.col("quality_score").alias("quality_r"))
        .join(clusters, "doc_id")
    )
    w = Window.partitionBy("cluster_id")
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.col("quality_r").desc(), F.col("doc_id").asc())
            ),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "quality_r", "cluster_size")
    )


_WSAMPLE_SALT = "wsample:v1:"
_WSAMPLE_DENOM = 1_000_000  # hash-unit resolution


@query(
    "sample_weighted_documents",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, n_chars,
               ({P.hash60_sql(f"'{_WSAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")}
                % {_WSAMPLE_DENOM}) AS u,
               least({T.quality_scores_sql()['quality_score']} / 100.0, 1.0)
                   AS keep_p
        FROM documents
    )
    SELECT doc_id, lang, n_chars, round(keep_p, 6) AS keep_p_r
    FROM scored
    WHERE u < keep_p * {_WSAMPLE_DENOM}
    """,
)
def sample_weighted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted (importance) sampling: each document survives
    with probability = its quality score (capped at 1), decided by the
    salted portable hash instead of an RNG — so the draw is reproducible
    across runs AND engines (oracle-exact, unlike sampleBy's
    engine-specific RNG stream), stable under repartition, and
    re-drawable by changing the salt. The modern curation move (quality
    classifiers gating what enters training) as a pure per-row
    predicate: pipelined into the scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    u = P.hash60(
        F.concat(F.lit(_WSAMPLE_SALT), F.col("doc_id").cast("string"))
    ) % _WSAMPLE_DENOM
    scored = T.quality_scores(docs).select(
        "doc_id",
        "lang",
        "n_chars",
        u.alias("u"),
        F.least(F.col("quality_score") / 100.0, F.lit(1.0)).alias("keep_p"),
    )
    return scored.filter(
        F.col("u") < F.col("keep_p") * _WSAMPLE_DENOM
    ).select("doc_id", "lang", "n_chars", F.round("keep_p", 6).alias("keep_p_r"))


_MIX_SALT = "mixture:v1:"


@query(
    "sample_mixture_rebalance",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_tokens,
               ({P.hash60_sql(f"'{_MIX_SALT}' || CAST(doc_id AS VARCHAR)")}
                % {_WSAMPLE_DENOM}) AS u
        FROM documents
    ),
    totals AS (
        SELECT source, SUM(n_tokens) AS s_tokens FROM tok GROUP BY source
    ),
    grand AS (
        SELECT SUM(s_tokens) AS t_tokens,
               COUNT(*) AS n_sources
        FROM totals
    ),
    rates AS (
        SELECT t.source,
               least(1.0, (CAST(g.t_tokens AS DOUBLE) / g.n_sources)
                          / CAST(t.s_tokens AS DOUBLE)) AS rate
        FROM totals t CROSS JOIN grand g
    )
    SELECT k.doc_id, k.source, k.n_tokens, round(r.rate, 6) AS rate_r
    FROM tok k JOIN rates r ON r.source = k.source
    WHERE k.u < r.rate * {_WSAMPLE_DENOM}
    """,
)
def sample_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: compute per-source keep rates FROM the
    corpus (each source downsampled toward an equal share of total
    tokens), then gate each document on the salted portable hash — the
    mixture step every pre-training data pipeline runs, fully
    deterministic and oracle-exact. Shape: one per-source aggregate
    (tiny), rates broadcast back, per-row predicate; the corpus is never
    shuffled."""
    u = P.hash60(
        F.concat(F.lit(_MIX_SALT), F.col("doc_id").cast("string"))
    ) % _WSAMPLE_DENOM
    tok = _shared_tokens(spark, sf_dir).select(
        "doc_id",
        "source",
        F.col("n_toks").alias("n_tokens"),
        u.alias("u"),
    )
    totals = tok.groupBy("source").agg(F.sum("n_tokens").alias("s_tokens"))
    grand = totals.agg(
        F.sum("s_tokens").alias("t_tokens"), F.count(F.lit(1)).alias("n_sources")
    )
    rates = totals.crossJoin(F.broadcast(grand)).select(
        "source",
        F.least(
            F.lit(1.0),
            (F.col("t_tokens").cast("double") / F.col("n_sources"))
            / F.col("s_tokens").cast("double"),
        ).alias("rate"),
    )
    return (
        tok.join(F.broadcast(rates), "source")
        .filter(F.col("u") < F.col("rate") * _WSAMPLE_DENOM)
        .select("doc_id", "source", "n_tokens", F.round("rate", 6).alias("rate_r"))
    )


_TEMP_SALT = "tempmix:v1:"
_TEMP_ALPHA = 0.3  # mC4/T5 operating point
_TEMP_BUDGET_FRAC = 0.5  # keep half the corpus tokens


@query(
    "sample_temperature_mixture",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_tokens,
               ({P.hash60_sql(f"'{_TEMP_SALT}' || CAST(doc_id AS VARCHAR)")}
                % {_WSAMPLE_DENOM}) AS u
        FROM documents
    ),
    totals AS (
        SELECT source, SUM(n_tokens) AS s_tokens FROM tok GROUP BY source
    ),
    grand AS (SELECT CAST(SUM(s_tokens) AS DOUBLE) AS t FROM totals),
    wt AS (
        SELECT source, s_tokens, g.t,
               pow(CAST(s_tokens AS DOUBLE) / g.t, {_TEMP_ALPHA}) AS w
        FROM totals CROSS JOIN grand g
    ),
    z AS (SELECT SUM(w) AS z FROM wt),
    rates AS (
        SELECT source,
               round(least(1.0,
                   ({_TEMP_BUDGET_FRAC} * t) * (w / z.z)
                   / CAST(s_tokens AS DOUBLE)), 6) AS rate
        FROM wt CROSS JOIN z
    )
    SELECT k.doc_id, k.source, k.n_tokens, r.rate AS rate_r
    FROM tok k JOIN rates r ON r.source = k.source
    WHERE k.u < r.rate * {_WSAMPLE_DENOM}
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-scaled source mixture (the mC4/T5 multilingual trick,
    alpha=0.3): target share of source s is p_s^alpha renormalized —
    flatter than natural (head sources downsampled, tail sources kept)
    without going all the way to uniform like sample_mixture_rebalance.
    Keep rates are computed FROM the corpus to
    hit a half-of-tokens budget, capped at 1, rounded
    to 6 places on BOTH engines before gating so the pow() last-ulp
    difference can't flip a document. Same scale shape as the mixture
    query: tiny per-source aggregate, rates broadcast back, per-row
    hash gate — the corpus never shuffles."""
    u = P.hash60(
        F.concat(F.lit(_TEMP_SALT), F.col("doc_id").cast("string"))
    ) % _WSAMPLE_DENOM
    tok = _shared_tokens(spark, sf_dir).select(
        "doc_id",
        "source",
        F.col("n_toks").alias("n_tokens"),
        u.alias("u"),
    )
    totals = tok.groupBy("source").agg(F.sum("n_tokens").alias("s_tokens"))
    grand = totals.agg(F.sum("s_tokens").cast("double").alias("t"))
    wt = totals.crossJoin(F.broadcast(grand)).select(
        "source",
        "s_tokens",
        "t",
        F.pow(F.col("s_tokens").cast("double") / F.col("t"), _TEMP_ALPHA).alias("w"),
    )
    z = wt.agg(F.sum("w").alias("z"))
    rates = wt.crossJoin(F.broadcast(z)).select(
        "source",
        F.round(
            F.least(
                F.lit(1.0),
                (F.lit(_TEMP_BUDGET_FRAC) * F.col("t"))
                * (F.col("w") / F.col("z"))
                / F.col("s_tokens").cast("double"),
            ),
            6,
        ).alias("rate"),
    )
    return (
        tok.join(F.broadcast(rates), "source")
        .filter(F.col("u") < F.col("rate") * _WSAMPLE_DENOM)
        .select("doc_id", "source", "n_tokens", F.col("rate").alias("rate_r"))
    )


@query(
    "agg_source_lang_entropy",
    oracle="""
    WITH c AS (
        SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT source, SUM(n) AS tot FROM c GROUP BY source)
    SELECT c.source,
           CAST(MAX(t.tot) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           round(-SUM((CAST(n AS DOUBLE) / tot)
                      * log2(CAST(n AS DOUBLE) / tot)), 6) AS lang_entropy_r
    FROM c JOIN t ON c.source = t.source
    GROUP BY c.source
    """,
)
def agg_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-distribution Shannon entropy — the mixture
    diagnostic that tells a curation pipeline which sources are
    monolingual (entropy ~0) vs mixed, feeding stratification decisions.
    Two tiny aggregates over (source, lang) — the corpus shuffles once on
    a low-cardinality composite key with map-side partials."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(F.broadcast(t), "source")
        .groupBy("source")
        .agg(
            F.max("tot").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("lang_entropy_r"),
        )
    )


_SPLIT_SALT = "split:v1:"
_SPLIT_VALID_PCT = 5
_SPLIT_TEST_PCT = 5


@query(
    "sample_train_valid_test_split",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, source,
               ({P.hash60_sql(f"'{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")}
                % 100) AS bucket
        FROM documents
    )
    SELECT doc_id, source, bucket,
           CASE WHEN bucket < {100 - _SPLIT_VALID_PCT - _SPLIT_TEST_PCT}
                    THEN 'train'
                WHEN bucket < {100 - _SPLIT_TEST_PCT} THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """,
)
def sample_train_valid_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test assignment (90/5/5) by salted hash
    of the STABLE id — the split discipline that matters at corpus
    scale: re-running, repartitioning, or appending new data never
    reassigns an existing document across the boundary (an RNG split
    re-deals every row on every run, silently leaking yesterday's test
    set into today's train). Pure per-row expression — pipelined into
    the scan, no shuffle, and any table keyed by the same id splits
    consistently (cross-table alignment for paired text/embedding
    rows)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        P.hash60(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string")))
        % 100
    )
    train_hi = 100 - _SPLIT_VALID_PCT - _SPLIT_TEST_PCT
    valid_hi = 100 - _SPLIT_TEST_PCT
    return docs.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        F.when(bucket < train_hi, "train")
        .when(bucket < valid_hi, "valid")
        .otherwise("test")
        .alias("split"),
    )


_CONTAM_CUTOFF = 0.5


@query(
    "curated_training_set",
    oracle=f"""
    WITH canon AS (
        SELECT MIN(doc_id) AS keep_id
        FROM documents
        GROUP BY ('0x' || substring(md5(text), 1, 15))::BIGINT
    ),
    flags AS (
        SELECT doc_id, source,
               {T.gopher_quality_sql()['quality_keep']} AS quality_keep
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source, {T.shingles_sql('text')} AS shingles
        FROM documents
    ),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS s FROM sh
        WHERE source = '{_BENCH_SOURCE}'
    ),
    contam AS (
        SELECT c.doc_id,
               round(CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS contamination_frac
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
              WHERE source <> '{_BENCH_SOURCE}') c
        LEFT JOIN bench b ON b.s = c.s
        GROUP BY c.doc_id
    )
    SELECT f.doc_id, f.source,
           COALESCE(ct.contamination_frac, 0.0) AS contamination_r
    FROM flags f
    JOIN canon k ON k.keep_id = f.doc_id
    LEFT JOIN contam ct ON ct.doc_id = f.doc_id
    WHERE f.quality_keep
      AND f.source <> '{_BENCH_SOURCE}'
      AND COALESCE(ct.contamination_frac, 0.0) < {_CONTAM_CUTOFF}
    """,
)
def curated_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel END TO END in one Catalyst plan: exact-dedup
    canonical (left-semi on min-id per content hash) ∧ Gopher quality
    keep ∧ benchmark contamination below {cutoff} — the composition every
    training-data pipeline ships, here as ONE declarative query: the
    stages fuse into a single job — narrow scans of the same file on
    each join branch, no intermediate materialization and no driver
    round-trips between stages. Each stage is separately oracle-locked
    by its own registry query; this locks the composition."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        exact_dedup_groups,
    )

    docs = load_table(spark, sf_dir, "documents")
    canon = exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    flags = T.gopher_quality(docs).select("doc_id", "source", "quality_keep")
    contam = text_ngram_contamination(spark, sf_dir).select(
        "doc_id", "contamination_frac"
    )
    return (
        flags.join(canon, "doc_id", "left_semi")
        .join(contam, "doc_id", "left")
        .withColumn(
            "contamination_r", F.coalesce(F.col("contamination_frac"), F.lit(0.0))
        )
        .filter(
            F.col("quality_keep")
            & (F.col("source") != _BENCH_SOURCE)
            & (F.col("contamination_r") < _CONTAM_CUTOFF)
        )
        .select("doc_id", "source", "contamination_r")
    )


_KSAMPLE_SALT = "ksample:v1:"
_KSAMPLE_K = 20


@query(
    "sample_fixed_k_per_lang",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang, n_chars,
               {P.hash60_sql(f"'{_KSAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")}
                   AS hk
        FROM documents
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY hk ASC, doc_id ASC) AS rn
        FROM h
    )
    SELECT doc_id, lang, n_chars, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_KSAMPLE_K}
    """,
)
def sample_fixed_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sample: exactly {k} documents per language,
    chosen as the k SMALLEST salted-hash values — the deterministic
    equivalent of per-group reservoir sampling (same marginal
    distribution, but reproducible across runs/engines and stable under
    repartition; a fresh draw is a new salt). Plans as a WindowGroupLimit
    partial top-k: each task keeps at most k rows per language before the
    shuffle, so the exchange carries k*|strata| rows no matter the corpus
    size."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    hk = P.hash60(F.concat(F.lit(_KSAMPLE_SALT), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(F.col("hk").asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", "n_chars", hk.alias("hk"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KSAMPLE_K)
        .select("doc_id", "lang", "n_chars", F.col("rn").cast("long").alias("rn"))
    )


@query(
    "scd2_documents_history",
    oracle=f"""
    WITH newv AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END
                   AS text
        FROM documents WHERE doc_id % 11 <> 0
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text
        FROM documents WHERE doc_id % 17 = 0
    ),
    j AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               o.text AS otext, n.text AS ntext
        FROM documents o FULL OUTER JOIN newv n ON n.doc_id = o.doc_id
    )
    SELECT doc_id, {P.hash60_sql('otext')} AS content_hash,
           CAST(1 AS BIGINT) AS valid_from, CAST(2 AS BIGINT) AS valid_to,
           FALSE AS is_current
    FROM j WHERE otext IS NOT NULL AND (ntext IS NULL OR ntext <> otext)
    UNION ALL
    SELECT doc_id, {P.hash60_sql('otext')},
           CAST(1 AS BIGINT), CAST(NULL AS BIGINT), TRUE
    FROM j WHERE otext IS NOT NULL AND ntext = otext
    UNION ALL
    SELECT doc_id, {P.hash60_sql('ntext')},
           CAST(2 AS BIGINT), CAST(NULL AS BIGINT), TRUE
    FROM j WHERE ntext IS NOT NULL AND (otext IS NULL OR ntext <> otext)
    """,
)
def scd2_documents_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: applying a corpus revision (the
    diff_documents_revision synthesis — %13 changed, %11 removed, %17
    added) produces the full validity history — unchanged rows stay open
    at version 1, changed/removed rows close at version 2, changed/added
    rows open a new version-2 row. ONE full-outer join + a conditional
    row-explode (no per-case rescans), which is the shape that applies a
    CDC batch to a 100 TB dimension: shuffle both sides once on the key,
    emit 1-2 history rows per key."""
    docs = load_table(spark, sf_dir, "documents")
    newv = (
        docs.filter(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 10000000).alias("doc_id"), "text"
            )
        )
    )
    j = (
        docs.select("doc_id", F.col("text").alias("otext"))
        .join(newv.select("doc_id", F.col("text").alias("ntext")), "doc_id", "full_outer")
    )
    nul = F.lit(None).cast("long")

    def row(h: F.Column, vf: int, vt, cur: bool) -> F.Column:
        return F.struct(
            h.alias("content_hash"),
            F.lit(vf).cast("long").alias("valid_from"),
            (nul if vt is None else F.lit(vt).cast("long")).alias("valid_to"),
            F.lit(cur).alias("is_current"),
        )

    ho, hn = P.hash60(F.col("otext")), P.hash60(F.col("ntext"))
    unchanged = F.col("ntext") == F.col("otext")
    rows = (
        F.when(F.col("otext").isNull(), F.array(row(hn, 2, None, True)))
        .when(F.col("ntext").isNull(), F.array(row(ho, 1, 2, False)))
        .when(unchanged, F.array(row(ho, 1, None, True)))
        .otherwise(F.array(row(ho, 1, 2, False), row(hn, 2, None, True)))
    )
    return j.select("doc_id", F.explode(rows).alias("r")).select(
        "doc_id", "r.content_hash", "r.valid_from", "r.valid_to", "r.is_current"
    )


# --------------------------------------------------------------------------
# Retrieval scoring + importance resampling (round 3)
# --------------------------------------------------------------------------

#: deterministic probe query for BM25 — mid-frequency corpus terms, the
#: retrieval-side twin of the contamination probe set.
_BM25_TERMS = ("spark", "hash", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


#: shared BM25 scoring CTE chain (per-doc rounded score for the fixed
#: probe terms) — the sparse leg of both text_bm25_topk and the RRF
#: hybrid query, extracted so the two oracles cannot drift.
_BM25_SCORED_CTES = f"""dl AS (
        SELECT doc_id, CAST(len({T.tokens_sql('text')}) AS DOUBLE) AS dl
        FROM documents
    ),
    stats AS (
        SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
    ),
    tok AS (
        SELECT doc_id, unnest({T.tokens_sql('text')}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok
        WHERE term IN {repr(tuple(_BM25_TERMS))}
        GROUP BY 1, 2
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT tf.doc_id,
               SUM(
                   ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({_BM25_K1} + 1.0)
                   / (tf.tf + {_BM25_K1}
                      * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
               ) AS score
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )"""


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {_BM25_SCORED_CTES},
    ranked AS (
        SELECT doc_id, round(score, 6) AS bm25_r,
               ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id)
                   AS rnk
        FROM scored
    )
    SELECT doc_id, bm25_r, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_BM25_TOPK}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Robertson/Sparck-Jones probabilistic
    relevance; the Lucene ``ln(1 + (N-df+.5)/(df+.5))`` idf form, which
    is always positive): top-{k} documents for a fixed probe query —
    the corpus-side retrieval primitive for building eval/contamination
    sets and for query-driven corpus audits.

    Scale shape: the explode filters to the (tiny) query vocabulary
    IMMEDIATELY, so only matching postings survive — the tf table is
    O(docs containing a query term), not O(corpus tokens). df and the
    corpus stats (avgdl, N) are scalar/4-row aggregates that BROADCAST;
    the only corpus-wide shuffle is the per-doc dl table joining tf on
    doc_id. Ranking on the ROUNDED score (doc_id tiebreak) keeps row
    selection identical across engines' last-ulp ln differences; the
    final top-k is TakeOrderedAndProject — each partition surfaces its
    own k rows and the driver merges k x partitions; only the k
    SURVIVORS see the (trivially small) ranking window, where a global
    ranking window before the limit would move every scored doc to one
    task."""
    from pyspark.sql.window import Window

    top = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25_r").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
    )
    w = Window.orderBy(F.col("bm25_r").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25_r): per-doc rounded BM25 score for the fixed probe
    terms — the Spark twin of _BM25_SCORED_CTES, shared by
    text_bm25_topk and the RRF hybrid query so the two cannot drift."""
    art = _shared_tokens(spark, sf_dir)  # r12
    dl = art.select(
        "doc_id", F.col("n_toks").cast("double").alias("dl")
    )
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tok = art.select(
        "doc_id", F.explode_outer(F.col("toks")).alias("term")
    ).filter(F.col("term").isin(*_BM25_TERMS))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1
        * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25_r"))
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of BM25 + dense cosine
# --------------------------------------------------------------------------

#: RRF constant (Cormack, Clarke & Buettcher SIGIR'09 use k=60) and the
#: candidate-list / fused-output sizes. Contributions are folded as
#: INTEGER micro-units 1_000_000 div (k + rank), so the fused score is
#: bit-identical in both engines — no float summation anywhere.
_RRF_K = 60
_RRF_N_CAND = 50
_RRF_TOPK = 20
#: the dense leg's fixed probe: the embedding of vec_id 0 (documents and
#: embeddings align 1:1 by id at every SF). One row — broadcasts.
_RRF_QUERY_VEC_ID = 0


@query(
    "sim_rrf_hybrid_topk",
    oracle=f"""
    WITH {_BM25_SCORED_CTES},
    sparse AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id)
                   AS s_rnk
        FROM scored
        QUALIFY s_rnk <= {_RRF_N_CAND}
    ),
    q AS (SELECT embedding AS qvec FROM embeddings
          WHERE vec_id = {_RRF_QUERY_VEC_ID}),
    dense AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY {S.cosine_sql('q.qvec', 'e.embedding')} DESC,
                            e.vec_id
               ) AS d_rnk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != {_RRF_QUERY_VEC_ID}
        QUALIFY d_rnk <= {_RRF_N_CAND}
    ),
    fused AS (
        SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
               s.s_rnk, d.d_rnk,
               COALESCE(1000000 // ({_RRF_K} + s.s_rnk), 0)
                   + COALESCE(1000000 // ({_RRF_K} + d.d_rnk), 0)
                   AS rrf_micro
        FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
    )
    SELECT doc_id,
           CAST(s_rnk AS BIGINT) AS sparse_rnk,
           CAST(d_rnk AS BIGINT) AS dense_rnk,
           CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id)
                AS BIGINT) AS rnk
    FROM fused
    QUALIFY rnk <= {_RRF_TOPK}
    """,
)
def sim_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion (Cormack et al.
    SIGIR'09): the sparse leg ranks documents by BM25 for the fixed
    probe terms, the dense leg ranks by cosine against one probe
    embedding, and the fused score sums 1/(60 + rank) over the legs a
    doc appears in — the standard way to combine lexical and semantic
    retrieval without score calibration, since only RANKS cross the
    fusion boundary. Contributions are integer micro-units
    (1_000_000 div (60 + rank)), so fusion is exact and order-free.

    Scale shape: each leg independently reduces to a bounded candidate
    list ({_RRF_N_CAND} rows) via TakeOrderedAndProject BEFORE any
    ranking window — per-partition top-N, driver merge; the fusion join
    and both ranking windows then touch at most 2 x {_RRF_N_CAND} rows
    total regardless of corpus size. The dense leg broadcasts its
    single query vector (1-row frame) against the streamed corpus — no
    corpus shuffle in either leg."""
    from pyspark.sql.window import Window

    sparse_top = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25_r").desc(), F.col("doc_id").asc())
        .limit(_RRF_N_CAND)
    )
    sw = Window.orderBy(F.col("bm25_r").desc(), F.col("doc_id").asc())
    sparse = sparse_top.select(
        "doc_id", F.row_number().over(sw).alias("s_rnk")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"),
        S.norm_col(F.col("embedding")).alias("qn"),
    )
    # one dot fold per corpus row — the query norm rides the 1-row
    # broadcast, the row norm is per-row (bit-equal: cosine_prenorm)
    cos = S.cosine_prenorm(
        S.dot(F.col("qvec"), F.col("embedding")),
        F.col("qn"),
        S.norm_col(F.col("embedding")),
    )
    dense_top = (
        emb.filter(F.col("vec_id") != _RRF_QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
        .limit(_RRF_N_CAND)
    )
    dw = Window.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
    dense = dense_top.select(
        "doc_id", F.row_number().over(dw).alias("d_rnk")
    )

    def contrib(r: str):  # SQL `div` = exact integer division, as the oracle's //
        return F.coalesce(
            F.expr(f"1000000 div ({_RRF_K} + {r})").cast("long"), F.lit(0).cast("long")
        )

    fused = sparse.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.col("s_rnk").cast("long").alias("sparse_rnk"),
        F.col("d_rnk").cast("long").alias("dense_rnk"),
        (contrib("s_rnk") + contrib("d_rnk")).alias("rrf_micro"),
    )
    top = fused.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc()).limit(
        _RRF_TOPK
    )
    fw = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(fw).cast("long"))


#: DSIR hashed-feature bucket count (Xie et al., NeurIPS'23 "Data
#: Selection for Language Models via Importance Resampling"): unigram
#: features hashed into a FIXED number of buckets, so the target/source
#: distributions are B-row tables regardless of vocabulary size.
_DSIR_BUCKETS = T.DSIR_BUCKETS  # single source of truth: operators/text.py


@query(
    "sample_dsir_logweights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest({T.tokens_sql('text')}) AS tok
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, lang,
               {P.hash60_sql('tok')} % {_DSIR_BUCKETS} AS bucket
        FROM tok
    ),
    dist AS (
        SELECT bucket,
               COUNT(*) AS n_s,
               COUNT(*) FILTER (WHERE lang = 'en') AS n_t
        FROM bucketed GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(n_s) AS DOUBLE) AS t_s, CAST(SUM(n_t) AS DOUBLE) AS t_t
        FROM dist
    ),
    ratio AS (
        SELECT bucket,
               ln(((n_t + 1.0) / (t_t + {_DSIR_BUCKETS}))
                  / ((n_s + 1.0) / (t_s + {_DSIR_BUCKETS}))) AS log_ratio
        FROM dist CROSS JOIN tot
    ),
    doc_buckets AS (
        SELECT doc_id, bucket, COUNT(*) AS cnt FROM bucketed GROUP BY 1, 2
    )
    SELECT d.doc_id,
           CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
           round(SUM(d.cnt * r.log_ratio), 6) AS dsir_logweight_r
    FROM doc_buckets d JOIN ratio r USING (bucket)
    GROUP BY d.doc_id
    """,
)
def sample_dsir_logweights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. NeurIPS'23): per-document
    log importance weight log p_target(x)/p_source(x) under hashed
    unigram bag-of-words models with add-1 smoothing — the standard
    "make web data look like the target domain" resampling score. The
    target here is the ``lang='en'`` slice; the source is the whole
    corpus; downstream selection is a trivial filter/sample on the
    weight column.

    Scale shape (the reason DSIR hashes features): the target/source
    unigram models are {_DSIR_BUCKETS}-row tables NO MATTER the corpus
    or vocabulary size — both distributions come out of ONE token pass
    (conditional aggregation, no second scan for the target slice), and
    the ratio table BROADCASTS into the per-doc scoring join, so the
    plan is explode -> (doc, bucket) count shuffle -> broadcast join ->
    per-doc sum. Nothing grows with vocabulary; per-row work is one md5.
    Rounded to 6 to keep engines' last-ulp ln out of the hash."""
    return _dsir_scored(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("w"), 6).alias("dsir_logweight_r"),
    )


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared DSIR scorer (r11): logweights and resample-topk run
    the identical two-pass scoring pipeline, whose OUTPUT is one row
    per doc (doc_id, n_tokens, w) — document-count-sized, NOT
    token-scale, so unlike the rejected (doc, lang, bucket) cache this
    pin is the model/result-sized artifact both consumers serve from."""
    return artifact(spark, sf_dir, "dsir_scored", lambda _: _dsir_score(spark, sf_dir))


def _dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _shared_tokens(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.explode_outer(F.col("toks")).alias("tok"),
    ).filter(F.col("tok").isNotNull())
    bucketed = tok.select(
        "doc_id",
        "lang",
        (P.hash60(F.col("tok")) % _DSIR_BUCKETS).alias("bucket"),
    )
    # TWO map-side-combined corpus passes, deliberately (r11 A/B): the
    # "one corpus pass" variant (cache a (doc, lang, bucket) count
    # table, derive both branches) measured 3.1-3.5 s vs 2.0 s for this
    # shape at sf0.1 — materializing the doc x bucket table costs more
    # than the second explode, and at 100 TB caching a token-scale
    # table is the wrong trade outright. Each pass partial-aggregates
    # before its shuffle (bucket: _DSIR_BUCKETS-row output; (doc, bucket):
    # bounded by tokens), so neither pass shuffles the token stream.
    dist = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_s"),
        F.count_if(F.col("lang") == "en").alias("n_t"),
    )
    tot = dist.agg(
        F.sum("n_s").cast("double").alias("t_s"),
        F.sum("n_t").cast("double").alias("t_t"),
    )
    ratio = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.log(
            ((F.col("n_t") + 1.0) / (F.col("t_t") + _DSIR_BUCKETS))
            / ((F.col("n_s") + 1.0) / (F.col("t_s") + _DSIR_BUCKETS))
        ).alias("log_ratio"),
    )
    doc_buckets = bucketed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        doc_buckets.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("log_ratio")).alias("w"),
        )
        .cache()
    )


_BIGRAM_HEAD_K = 64  # Zipf-head broadcast size, same policy as the unigram LM
_BIGRAM_SEP = "\x1f"


def _bigrams_from_toks(toks: F.Column) -> F.Column:
    """array<string> of unit-separator-joined adjacent token pairs from
    a token ARRAY column; empty (not reversed-sequence garbage) for
    docs under 2 tokens."""
    n = F.array_size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                _BIGRAM_SEP, F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bigrams_col(text: F.Column) -> F.Column:
    """Bigrams from raw text. Token array let-bound — the per-pair
    lambda indexes a bound attribute, never re-splitting the text per
    bigram (portable.let_col)."""
    return P.let_col(T.tokens_col(text), _bigrams_from_toks)


def _bigrams_sql(text: str) -> str:
    toks = T.tokens_sql(text)
    return (
        f"[{toks}[i] || chr(31) || {toks}[i + 1] "
        f"for i in range(1, len({toks}))]"
    )


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH bg AS (
        SELECT doc_id, unnest({_bigrams_sql('text')}) AS bg FROM documents
    ),
    counts AS (SELECT bg, COUNT(*) AS c_bg FROM bg GROUP BY bg),
    ctx AS (
        SELECT split_part(bg, chr(31), 1) AS w1, SUM(c_bg) AS c_w1
        FROM counts GROUP BY 1
    ),
    probs AS (
        SELECT counts.bg, log10(c_bg / CAST(c_w1 AS DOUBLE)) AS logp
        FROM counts JOIN ctx ON split_part(counts.bg, chr(31), 1) = ctx.w1
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(AVG(p.logp), 6) AS avg_logprob_r,
           round(MIN(p.logp), 6) AS min_logprob_r
    FROM bg b JOIN probs p USING (bg)
    GROUP BY b.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-BIGRAM language-model scoring: per-doc mean/min
    log10 P(w_i | w_{{i-1}}) with MLE conditionals c(w1,w2)/c(w1,·) —
    one Markov order above text_unigram_logprob, so it catches locally
    implausible SEQUENCES (shuffled text, boilerplate splices) that
    unigram frequency cannot.

    Scale shape: bigram and context counts are VOCABULARY-sized tables
    built from one explode; they join each other on the prefix (a
    vocab x vocab-prefix shuffle, never corpus-sized) into a probs
    table, and the corpus token stream then joins probs ONCE — with the
    same Zipf-head split as the unigram LM (top-{_BIGRAM_HEAD_K}
    bigrams broadcast; only the near-uniform tail shuffles), because
    'the a'-class bigrams concentrate instances exactly like head
    unigrams do. Docs under 2 tokens have no bigrams and are absent,
    identically on both engines."""
    # r12: bigrams derive from the materialized tokenized corpus (the
    # split/regex pass is paid once per process, not per consumer)
    bg = _shared_tokens(spark, sf_dir).select(
        "doc_id", F.explode(_bigrams_from_toks(F.col("toks"))).alias("bg")
    )
    # THE corpus pass: one explode + one map-side-combining groupBy into
    # the doc-bigram matrix (8M instances -> ~70k distinct (doc, bg)
    # pairs at 30x sf0.1). Cached for the same reason minhash caches
    # signatures: the doc-term matrix is the artifact you materialize
    # once and reuse — EVERYTHING downstream (bigram counts, probs,
    # scoring) derives from it, so the whole query explodes the corpus
    # exactly once (was 2-3 explodes: measured 27 s -> 12 s at 30x).
    doc_bg = (
        bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("n")).cache()
    )
    counts = doc_bg.groupBy("bg").agg(F.sum("n").alias("c_bg"))
    ctx = counts.select(
        F.split_part(F.col("bg"), F.lit(_BIGRAM_SEP), F.lit(1)).alias("w1"),
        "c_bg",
    ).groupBy("w1").agg(F.sum("c_bg").alias("c_w1"))
    # cached: probs is VOCAB-sized (distinct bigrams, Zipf-bounded) with
    # three consumers (head, tail, and head's anti-join) — cheap to keep
    # hot; the heavy lifting was already absorbed by the doc_bg cache
    # above (uncached probs alone measured 5.0x wall at 10x corpus).
    probs = counts.join(
        ctx,
        F.split_part(F.col("bg"), F.lit(_BIGRAM_SEP), F.lit(1)) == F.col("w1"),
    ).select(
        "bg",
        "c_bg",
        F.log10(F.col("c_bg") / F.col("c_w1").cast("double")).alias("logp"),
    ).cache()
    # head = highest-INSTANCE-COUNT bigrams (the hot join keys), exactly
    # the unigram LM's policy — not extreme-probability rows.
    head = (
        probs.orderBy(F.col("c_bg").desc(), F.col("bg").asc())
        .limit(_BIGRAM_HEAD_K)
        .select("bg", "logp")
    )
    tail = probs.select("bg", "logp").join(
        F.broadcast(head.select("bg")), "bg", "left_anti"
    )
    # Score the doc-bigram matrix, not the instance stream; avg over
    # INSTANCES is recovered exactly as sum(n*logp)/sum(n).
    scored = doc_bg.join(F.broadcast(head), "bg").unionByName(
        doc_bg.join(tail, "bg")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.round(F.sum(F.col("n") * F.col("logp")) / F.sum("n"), 6).alias(
            "avg_logprob_r"
        ),
        F.round(F.min("logp"), 6).alias("min_logprob_r"),
    )


_MMR_K = 5
_MMR_NCAND = S.MMR_N_CAND   # single source of truth: operators/similarity.py
_MMR_LAMBDA = S.MMR_LAMBDA


def _mmr_oracle() -> str:
    cos_qe = S.cosine_sql("q.qvec", "e.embedding")
    cos_ab = S.cosine_sql("a.embedding", "b.embedding")
    lam, k, n_cand = _MMR_LAMBDA, _MMR_K, _MMR_NCAND
    return f"""
    WITH RECURSIVE q AS (
        SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
        WHERE {_PROBE_PRED}
    ),
    cand0 AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.embedding,
               round({cos_qe}, 6) AS rel,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos_qe} DESC, e.vec_id) AS rnk
        FROM q JOIN embeddings e ON e.vec_id != q.query_id
    ),
    cand AS (SELECT query_id, neighbor_id, embedding, rel
             FROM cand0 WHERE rnk <= {n_cand}),
    pairs AS (
        SELECT a.query_id, a.neighbor_id AS ida, b.neighbor_id AS idb,
               round({cos_ab}, 6) AS sim
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
    ),
    first_pick AS (
        SELECT query_id, [neighbor_id] AS sel, 1 AS step
        FROM (SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY rel DESC, neighbor_id) AS r
              FROM cand) WHERE r = 1
    ),
    mmr AS (
        SELECT * FROM first_pick
        UNION ALL
        SELECT m.query_id,
               list_append(m.sel, (
                   SELECT c.neighbor_id FROM cand c
                   WHERE c.query_id = m.query_id
                     AND NOT list_contains(m.sel, c.neighbor_id)
                   ORDER BY round({lam} * c.rel - (1.0 - {lam}) * (
                       SELECT MAX(p.sim) FROM pairs p
                       WHERE p.query_id = m.query_id
                         AND p.ida = c.neighbor_id
                         AND list_contains(m.sel, p.idb)
                   ), 6) DESC, c.neighbor_id
                   LIMIT 1
               )) AS sel,
               m.step + 1 AS step
        FROM mmr m WHERE m.step < {k}
    ),
    final AS (SELECT query_id, sel FROM mmr WHERE step = {k})
    SELECT query_id, sel[i] AS neighbor_id, CAST(i AS BIGINT) AS pick
    FROM final, unnest(range(1, {k} + 1)) AS t(i)
    WHERE sel[i] IS NOT NULL
    """


@query("sim_mmr_diversified_topk", oracle=_mmr_oracle())
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval (Carbonell & Goldstein SIGIR'98): the
    probe set's brute-force top-{n} shortlist reranked so each of the
    {k} picks maximizes lambda*relevance - (1-lambda)*redundancy against
    the already-picked set — the standard diversification pass over a
    dense-retrieval shortlist and the dedup-aware flavor of few-shot
    example selection. The greedy argmax chain is inherently sequential
    in k, so the operator keeps k and the candidate count as bounded
    constants and distributes over QUERIES: every round advances all
    queries at once via one equi-join + WindowGroupLimit argmax over the
    cached n_cand^2-per-query sim table (operators/similarity.mmr_topk).
    Oracle: DuckDB recursive CTE carrying the selected set as a LIST,
    same round-6-then-argmax discipline at every step."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.mmr_topk(
        emb,
        _queries_frame(spark, sf_dir),
        k=_MMR_K,
        n_cand=_MMR_NCAND,
        lam=_MMR_LAMBDA,
        assume_bounded=True,
    )


@query("dedup_semantic_cluster_flags", oracle=C.semdedup_sql())
def dedup_semantic_cluster_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    within each cluster drop every vector with cosine >= threshold to a
    lower-id cluster-mate — semantic near-dup removal whose pair
    comparisons are CONFINED to clusters (sum n_c^2, never N^2; k
    scales like sqrt(N) in production so cluster size stays bounded).
    Composes the deterministic-Lloyd assignments with a cluster-keyed
    pair equi-join and an anti-join keep rule; every vector comes back
    as (vec_id, cluster, is_kept). Assigns against the shared
    per-process k-means model (the round-3 review's heaviest-query fix:
    SemDeDup no longer retrains Lloyd inline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return C.semdedup_flags(emb, model=_kmeans_model(spark, sf_dir))


_KCENTER_K = S.KCENTER_K  # single source of truth: operators/similarity.py


def _kcenter_oracle() -> str:
    cos = S.cosine_sql("c.embedding", "s.embedding")
    k = _KCENTER_K
    return f"""
    WITH RECURSIVE seed AS (
        SELECT [vec_id] AS sel, 1 AS step FROM embeddings
        ORDER BY vec_id LIMIT 1
    ),
    kc AS (
        SELECT * FROM seed
        UNION ALL
        SELECT list_append(m.sel, (
                   SELECT c.vec_id FROM embeddings c
                   WHERE NOT list_contains(m.sel, c.vec_id)
                   ORDER BY (
                       SELECT MIN(round(1.0 - {cos}, 6)) FROM embeddings s
                       WHERE list_contains(m.sel, s.vec_id)
                   ) DESC, c.vec_id
                   LIMIT 1
               )) AS sel,
               m.step + 1 AS step
        FROM kc m WHERE m.step < {k}
    ),
    final AS (SELECT sel FROM kc WHERE step = {k})
    SELECT sel[i] AS vec_id, CAST(i AS BIGINT) AS pick
    FROM final, unnest(range(1, {k} + 1)) AS t(i)
    WHERE sel[i] IS NOT NULL
    """


@query("sample_kcenter_coreset", oracle=_kcenter_oracle())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez'85 farthest-point traversal;
    Sener & Savarese ICLR'18's data-selection rule): {k} exemplars
    spread to cover the embedding space by repeatedly taking the point
    with maximal min-cosine-distance to everything already picked — the
    diversity-first data PRUNING primitive (complement of MMR's
    per-query rerank). Each round broadcasts the <=k selected vectors
    into one streamed corpus pass + TakeOrdered(1); k rounds = k corpus
    scans, no pairwise materialization, no corpus shuffle
    (operators/similarity.kcenter_coreset). round-6 + lowest-id
    discipline at every argmax keeps the chain bit-exact vs the DuckDB
    recursive-CTE oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kcenter_coreset(emb, k=_KCENTER_K)


@query(
    "text_entropy_stats",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({T.tokens_sql('text')}) AS tok FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ),
    n AS (
        SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n_tok FROM tf GROUP BY 1
    )
    SELECT tf.doc_id,
           CAST(n.n_tok AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           round(COUNT(*) / n.n_tok, 6) AS ttr_r,
           round(-SUM((c / n.n_tok) * log2(c / n.n_tok)), 6) AS entropy_r
    FROM tf JOIN n USING (doc_id)
    GROUP BY tf.doc_id, n.n_tok
    """,
)
def text_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy + type-token ratio — the
    lexical-diversity quality signals (low entropy = repetitive
    boilerplate/spam; TTR near 1/n = one token repeated): standard
    membership tests in web-corpus filter stacks alongside the Gopher
    rules and repetition flags.

    Scale shape: one explode into a map-side-combining (doc, token)
    count, then a per-doc aggregate computing n/types/entropy in one
    pass (the per-doc total rides along via a window-free sum-over-sum:
    both aggregates group on doc_id, so Catalyst fuses them into the
    same exchange). Entropy sums (c/n)*log2(c/n) per DISTINCT token —
    the frame is the doc-term matrix, never the instance stream.
    Rounded to 6 for cross-engine log parity."""
    tok = _shared_tokens(spark, sf_dir).select(
        "doc_id", F.explode_outer(F.col("toks")).alias("tok")
    ).filter(F.col("tok").isNotNull())
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = tf.groupBy("doc_id").agg(F.sum("c").cast("double").alias("n_tok"))
    p = F.col("c") / F.col("n_tok")
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id", "n_tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_r"),
        )
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tokens"),
            "n_types",
            F.round(F.col("n_types") / F.col("n_tok"), 6).alias("ttr_r"),
            "entropy_r",
        )
    )


@query(
    "timeseries_ohlc_hourly",
    oracle="""
    WITH pv AS (
        SELECT event_id, value,
               (epoch_ns(ts) // 3600000000000) AS hour_bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY (epoch_ns(ts) // 3600000000000)
                   ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (
                   PARTITION BY (epoch_ns(ts) // 3600000000000)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events WHERE event_type = 'purchase'
    )
    SELECT hour_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           round(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open_r,
           round(MAX(value), 6) AS high_r,
           round(MIN(value), 6) AS low_r,
           round(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close_r
    FROM pv GROUP BY hour_bucket
    """,
)
def timeseries_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling (the finance/candlestick aggregate; equally the
    sensor-rollup shape): per hour bucket of purchase events, the
    opening/closing values by event time plus high/low/count. Open and
    close are edge picks, not min/max, so they ride ROW_NUMBER windows
    ordered (ts, event_id) both directions — the same ONE exchange
    serves both window sorts AND the final groupBy (bucket = the window
    partition key, so Catalyst reuses the partitioning; WindowGroupLimit
    would not apply since every row must survive into high/low/count).
    Deterministic under duplicate timestamps via the event_id tiebreak;
    values rounded to 6 for cross-engine parity."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    # FLOOR division in pure integers (a - pmod(a,b) is the largest
    # multiple of b <= a): matches the DuckDB oracle's `//` (floor) even
    # for pre-epoch timestamps, where `div` (truncate toward zero) would
    # land negative epochs in the adjacent hour bucket.
    bucket = F.expr(
        "((unix_micros(ts) * 1000 - pmod(unix_micros(ts) * 1000, 3600000000000))"
        " div 3600000000000)"
    )
    pv = ev.select(
        "event_id", "value", "ts", bucket.alias("hour_bucket")
    )
    wa = Window.partitionBy("hour_bucket").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("hour_bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    pv = pv.select(
        "hour_bucket",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return pv.groupBy("hour_bucket").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 6).alias(
            "open_r"
        ),
        F.round(F.max("value"), 6).alias("high_r"),
        F.round(F.min("value"), 6).alias("low_r"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 6).alias(
            "close_r"
        ),
    )


_TOKEN_BUDGET_PER_SOURCE = 300


@query(
    "sample_token_budget_per_source",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    running AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY n_tokens DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sized
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM running WHERE cum_tokens <= {_TOKEN_BUDGET_PER_SOURCE}
    """,
)
def sample_token_budget_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGETED selection per source — the mixture-weights step of
    corpus assembly stated in the unit that matters: each source
    contributes documents by priority until its token budget
    ({_TOKEN_BUDGET_PER_SOURCE} here) is exhausted, so the output
    mixture is controlled in TOKENS, not documents (doc-count quotas
    drift with per-source length distributions). Priority is longest-
    first with doc_id tiebreak; swap in any quality score without
    changing the plan.

    Scale shape: token counts are a scan-side map (array_size, no
    explode); the greedy cut is one running-sum window per source — a
    single shuffle on source, integer arithmetic end to end (no float
    threshold ambiguity). Per-source skew equals docs-per-source, the
    same profile every per-source op here carries.

    ``tokenizer``: the counting unit — 'ws' (whitespace words) or 'bpe'
    (the greedy-subword count of text_bpe_token_stats; budgets stated in
    the unit the training run actually consumes). Both forms are
    registered and oracle-locked."""
    return _token_budget_per_source(spark, sf_dir, tokenizer="ws")


#: the BPE budget prices the SAME selection pressure in the finer unit:
#: greedy-subword counts run ~3x whitespace counts on this corpus.
_TOKEN_BUDGET_PER_SOURCE_BPE = 3 * _TOKEN_BUDGET_PER_SOURCE


def _token_budget_per_source(
    spark: SparkSession, sf_dir: str, *, tokenizer: str
) -> DataFrame:
    from pyspark.sql.window import Window

    if tokenizer == "ws":
        budget = _TOKEN_BUDGET_PER_SOURCE
        sized = _shared_tokens(spark, sf_dir).select(
            "doc_id", "source", F.col("n_toks").alias("n_tokens")
        )
    elif tokenizer == "bpe":
        docs = load_table(spark, sf_dir, "documents")
        # distinct-word fold (operators/text.bpe_token_counts) re-joined
        # onto (doc, source) — same integer counts as the occurrence
        # fold, ~10x fewer folds under Zipf.
        budget = _TOKEN_BUDGET_PER_SOURCE_BPE
        sized = docs.select("doc_id", "source").join(
            T.bpe_token_counts(docs).withColumnRenamed(
                "n_tokens_bpe", "n_tokens"
            ),
            "doc_id",
        )
    else:
        raise ValueError(f"tokenizer must be 'ws' or 'bpe', got {tokenizer!r}")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
    )


@query(
    "sample_token_budget_per_source_bpe",
    oracle=f"""
    WITH sized AS (
        SELECT d.doc_id, d.source, b.n_tokens_bpe AS n_tokens
        FROM documents d JOIN {T.bpe_token_counts_sql()} b USING (doc_id)
    ),
    running AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY n_tokens DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sized
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM running WHERE cum_tokens <= {3 * _TOKEN_BUDGET_PER_SOURCE}
    """,
)
def sample_token_budget_per_source_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sample_token_budget_per_source with the budget stated in GREEDY-
    SUBWORD tokens (tokenizer='bpe') — the unit the training run
    consumes. Same one-window plan; only the scan-side count expression
    changes (the HOF fold of text_bpe_token_stats), which is exactly the
    property a tokenizer= switch should have: re-pricing the budget must
    never re-shape the plan."""
    return _token_budget_per_source(spark, sf_dir, tokenizer="bpe")


_SHARD_TOKEN_BUDGET = 2_000

_SHARD_ASSIGN_SQL = f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    src_tot AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot
        FROM sized GROUP BY source
    ),
    src_off AS (
        SELECT source,
               CAST(COALESCE(SUM(tot) OVER (
                   ORDER BY source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS base
        FROM src_tot
    ),
    running AS (
        SELECT s.doc_id, s.source, s.n_tokens,
               o.base + SUM(s.n_tokens) OVER (
                   PARTITION BY s.source ORDER BY s.doc_id
                   ROWS UNBOUNDED PRECEDING) - s.n_tokens AS cum_before
        FROM sized s JOIN src_off o USING (source)
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum_before // {_SHARD_TOKEN_BUDGET} AS BIGINT) AS shard
    FROM running
"""


def _shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted shard ids for the whole corpus in the canonical
    export order (sources sorted, doc_id within source). The 100 TB
    shape: the corpus-sized running sum is PER-SOURCE windows (parallel,
    one partition each — at scale the partition key is
    source x date-slice, same math), and the cross-source stitching is a
    window over the |sources|-row totals frame — model-sized, broadcast
    back. No global single-partition window ever touches corpus rows."""
    from pyspark.sql.window import Window

    sized = _shared_tokens(spark, sf_dir).select(
        "doc_id", "source", F.col("n_toks").alias("n_tokens")
    )
    src_tot = sized.groupBy("source").agg(F.sum("n_tokens").alias("tot"))
    w_off = (
        Window.orderBy("source")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    src_off = src_tot.select(
        "source",
        F.coalesce(F.sum("tot").over(w_off), F.lit(0)).cast("long").alias("base"),
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.join(F.broadcast(src_off), "source")
        .withColumn(
            "cum_before",
            F.col("base") + F.sum("n_tokens").over(w_run) - F.col("n_tokens"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr(f"cum_before div {_SHARD_TOKEN_BUDGET}").alias("shard"),
        )
    )


@query("meta_shard_assignments", oracle=_SHARD_ASSIGN_SQL)
def meta_shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXPORT step of a training pipeline: assign every document a
    webdataset-style shard id by greedy token-budget fill
    ({_SHARD_TOKEN_BUDGET} tokens/shard) over the canonical corpus order
    — the deterministic doc->shard map a 1000-writer export partitions
    on (write_partitioned by shard = one directory per shard). See
    _shard_assignments for why the running sum never needs a global
    single-partition window."""
    return _shard_assignments(spark, sf_dir)


@query(
    "meta_shard_manifest",
    oracle=f"""
    WITH assign AS ({_SHARD_ASSIGN_SQL})
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(source) AS first_source, MAX(source) AS last_source
    FROM assign GROUP BY shard
    """,
)
def meta_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard MANIFEST the export publishes next to the data files
    (doc counts + token totals per shard, source span) — what a training
    job reads to plan epochs/data-loader splits without touching
    payloads. One map-side-combining groupBy over the assignment map."""
    return _shard_assignments(spark, sf_dir).groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.min("source").alias("first_source"),
        F.max("source").alias("last_source"),
    )


@query("dedup_containment_pairs", oracle=D.containment_pairs_sql())
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment dedup (SSJoin/PPJoin prefix filter,
    Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): pairs where the
    smaller document's shingle set is >=80% inside the other's — the
    embedded-document/quote/concatenation case that resemblance MinHash
    structurally misses (small-inside-huge has Jaccard ~ 0). Candidates
    come from a LOSSLESS rarest-first prefix posting join (each doc
    posts only a (1-t)-fraction of its rarest shingles; pigeonhole
    guarantees no qualifying pair is lost), so the oracle is the exact
    brute-force all-pairs answer. Prefix lengths use integer-rational
    ceil, immune to cross-engine float drift."""
    return D.containment_pairs(
        None, sets=_shared_minhash_sigs(spark, sf_dir).select("doc_id", "sh")
    )


#: fixed-point DCG position gains: round(1e9 / log2(r+1)) for ranks
#: 1..10, precomputed as INTEGER constants shared by both engines — the
#: per-query DCG is then an integer sum (exact, summation-order-free),
#: where summing 1/log2(r+1) doubles would expose Spark's nondeterministic
#: aggregation order at the last ulp.
_DCG_GAIN_UNITS = tuple(
    round(1_000_000_000 / __import__("math").log2(r + 1)) for r in range(1, 11)
)
_IDCG_UNITS = sum(_DCG_GAIN_UNITS)


@query(
    "eval_ann_quantized_quality",
    oracle=f"""
    WITH truth AS (SELECT query_id, neighbor_id FROM ({_SIM_ORACLE_BASE}) t),
    approx AS (SELECT query_id, neighbor_id, rank FROM ({_QUANT_ORACLE}) a),
    hits AS (
        SELECT a.query_id, a.rank
        FROM approx a JOIN truth t
          ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
    ),
    scored AS (
        SELECT query_id,
               COUNT(*) AS n_hits,
               SUM([{', '.join(str(g) for g in _DCG_GAIN_UNITS)}][rank]) AS dcg_units
        FROM hits GROUP BY query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(s.n_hits, 0) AS BIGINT) AS n_hits,
           round(COALESCE(s.n_hits, 0) / 10.0, 6) AS recall_r,
           round(COALESCE(s.dcg_units, 0) / {float(_IDCG_UNITS)}, 6) AS ndcg_r
    FROM (SELECT DISTINCT query_id FROM truth) q
    LEFT JOIN scored s USING (query_id)
    """,
)
def eval_ann_quantized_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality EVAL as a first-class query: per probe query,
    recall@10 and (binary-relevance) NDCG@10 of the int8-quantized ANN
    tier against exact brute-force ground truth — the measurement every
    ANN rollout needs, run as the same kind of oracle-paired dataflow as
    the operators it grades. Composes two existing tiers (both
    broadcast-probe/streamed-corpus; candidates join on (query,
    neighbor) — bounded k rows per query per side). DCG uses fixed-point
    INTEGER position gains so the per-query sum is exact and
    summation-order-free on both engines; recall/NDCG divide integers at
    the end and round to 6."""
    approx = S.quantized_topk(
        load_table(spark, sf_dir, "embeddings"),
        _queries_frame(spark, sf_dir),
        k=10,
    ).select("query_id", "neighbor_id", "rank")
    return _ann_quality_frame(spark, sf_dir, approx)


def _ann_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-10, the shared ground truth both ANN eval
    queries grade against (r11) — an n_queries x 10 result table."""
    return artifact(
        spark,
        sf_dir,
        "ann_truth",
        lambda _: S.brute_force_topk(
            load_table(spark, sf_dir, "embeddings"),
            _queries_frame(spark, sf_dir),
            k=10,
            assume_bounded=True,
        )
        .select("query_id", "neighbor_id")
        .cache(),
        sources=("embeddings",),
    )


def _ann_quality_frame(
    spark: SparkSession, sf_dir: str, approx: DataFrame
) -> DataFrame:
    """recall@10 + NDCG@10 of any (query_id, neighbor_id, rank) ANN
    result against exact brute-force ground truth (the shared eval
    kernel — see eval_ann_quantized_quality for the integer-DCG
    portability argument)."""
    truth = _ann_truth(spark, sf_dir)
    gains = F.array(*[F.lit(g) for g in _DCG_GAIN_UNITS])
    # broadcast hints (guide §3.1): both sides are top-k RESULT sets —
    # n_queries x 10 rows by construction (an eval runs on a bounded
    # query sample) — but they sit behind window/agg subtrees whose
    # sizes Catalyst can't estimate, so the static plan fell back to
    # two sort-merge joins (2 extra Exchanges each, r11 plan audit).
    hits = approx.join(F.broadcast(truth), ["query_id", "neighbor_id"]).select(
        "query_id", F.element_at(gains, F.col("rank").cast("int")).alias("g")
    )
    scored = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits"), F.sum("g").alias("dcg_units")
    )
    qids = truth.select("query_id").distinct()
    return (
        qids.join(F.broadcast(scored), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 10.0, 6).alias(
                "recall_r"
            ),
            F.round(
                F.coalesce(F.col("dcg_units"), F.lit(0)) / float(_IDCG_UNITS), 6
            ).alias("ndcg_r"),
        )
    )


_IVF_APPROX_ORACLE = S.ivf_topk_sql(query_mod=_QUERY_MOD, id_cap=_PROBE_ID_CAP)


@query(
    "eval_ann_ivf_quality",
    oracle=f"""
    WITH truth AS (SELECT query_id, neighbor_id FROM ({_SIM_ORACLE_BASE}) t),
    approx AS (SELECT query_id, neighbor_id, rank FROM ({_IVF_APPROX_ORACLE}) a),
    hits AS (
        SELECT a.query_id, a.rank
        FROM approx a JOIN truth t
          ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
    ),
    scored AS (
        SELECT query_id,
               COUNT(*) AS n_hits,
               SUM([{', '.join(str(g) for g in _DCG_GAIN_UNITS)}][rank]) AS dcg_units
        FROM hits GROUP BY query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(s.n_hits, 0) AS BIGINT) AS n_hits,
           round(COALESCE(s.n_hits, 0) / 10.0, 6) AS recall_r,
           round(COALESCE(s.dcg_units, 0) / {float(_IDCG_UNITS)}, 6) AS ndcg_r
    FROM (SELECT DISTINCT query_id FROM truth) q
    LEFT JOIN scored s USING (query_id)
    """,
)
def eval_ann_ivf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same retrieval-quality eval for the IVF tier (cell-probing
    loss instead of quantization loss): recall@10 + NDCG@10 of
    3-of-n-cells IVF against exact brute force — together with the
    quantized eval this brackets the IVF-PQ composition's two loss
    sources separately. Shares the integer-DCG kernel."""
    approx = S.ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        _queries_frame(spark, sf_dir),
        k=10,
        cent_rows=_ivf_cent_rows(spark, sf_dir),
    ).select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    return _ann_quality_frame(spark, sf_dir, approx)


@query(
    "eval_cluster_label_agreement",
    oracle=f"""
    WITH assignments AS ({C.kmeans_sql()}),
    j AS (
        SELECT a.vec_id, a.cluster, e.label
        FROM assignments a JOIN embeddings e USING (vec_id)
    ),
    cont AS (SELECT cluster, label, COUNT(*) AS n FROM j GROUP BY 1, 2),
    per_cluster AS (
        SELECT cluster, SUM(n) AS a, MAX(n) AS top FROM cont GROUP BY cluster
    ),
    per_label AS (SELECT label, SUM(n) AS b FROM cont GROUP BY label),
    s AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_points,
               CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
               CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
               CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS pairs_both
        FROM cont
    ),
    sa AS (
        SELECT CAST(SUM((a * (a - 1)) // 2) AS BIGINT) AS pairs_cluster,
               CAST(SUM(top) AS BIGINT) AS purity_hits
        FROM per_cluster
    ),
    sb AS (
        SELECT CAST(SUM((b * (b - 1)) // 2) AS BIGINT) AS pairs_label
        FROM per_label
    )
    SELECT s.n_points, s.n_clusters, s.n_labels,
           s.pairs_both, sa.pairs_cluster, sb.pairs_label,
           round(CAST((s.n_points * (s.n_points - 1)) // 2 + 2 * s.pairs_both
                      - sa.pairs_cluster - sb.pairs_label AS DOUBLE)
                 / CAST((s.n_points * (s.n_points - 1)) // 2 AS DOUBLE),
                 6) AS rand_index_r,
           round(CAST(sa.purity_hits AS DOUBLE) / s.n_points, 6) AS purity_r
    FROM s CROSS JOIN sa CROSS JOIN sb
    """,
)
def eval_cluster_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality eval against the corpus's reference labels:
    pair-counting Rand index + purity of the deterministic k-means
    assignment vs the embeddings' ``label`` column — the quantitative
    gate for "did semantic clustering recover the known grouping",
    run before a cluster-balanced sample or SemDeDup pass trusts the
    clusters. All pair counts are INTEGER combinatorics over the
    (clusters x labels) contingency table — n*(n-1) div 2 sums, no
    float accumulation — so the iterative-algorithm eval carries a
    bit-exact oracle like the clustering itself.

    Scale shape: ONE shuffle builds the contingency table (groupBy
    cluster,label — at most k x |labels| rows regardless of corpus
    size); everything after is arithmetic over that tiny frame, stitched
    by 1-row broadcast crosses. The Rand index is computed from
    contingency marginals, never from materialized pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign = C.kmeans_assignments(emb, model=_kmeans_model(spark, sf_dir))
    j = assign.join(emb.select("vec_id", "label"), "vec_id")
    # ONE job: the contingency table is at most k x |labels| rows —
    # model-sized by construction, the same bound as the r11
    # sim_centroid_classify collect — so the marginal folds (three
    # aggregation subtrees + two broadcast crosses in r11, ~15 driver
    # jobs of fixed overhead each) run as exact Python-int arithmetic
    # over the collected rows instead (r12). The two rounded doubles
    # stay IN Spark (F.round over the integer fields below), so the
    # rounding semantics are bit-identical to the former plan.
    rows = j.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("n")).collect()

    def comb2(c: int) -> int:
        return (c * (c - 1)) // 2

    a_sum: dict = {}
    a_top: dict = {}
    b_sum: dict = {}
    n_points = 0
    pairs_both = 0
    for r in rows:
        c, l, n = r["cluster"], r["label"], r["n"]
        n_points += n
        pairs_both += comb2(n)
        a_sum[c] = a_sum.get(c, 0) + n
        a_top[c] = max(a_top.get(c, 0), n)
        b_sum[l] = b_sum.get(l, 0) + n
    pairs_cluster = sum(comb2(a) for a in a_sum.values())
    purity_hits = sum(a_top.values())
    pairs_label = sum(comb2(b) for b in b_sum.values())
    out = spark.createDataFrame(
        [
            (
                n_points,
                len(a_sum),
                len(b_sum),
                pairs_both,
                pairs_cluster,
                pairs_label,
                purity_hits,
            )
        ],
        "n_points long, n_clusters long, n_labels long, pairs_both long,"
        " pairs_cluster long, pairs_label long, purity_hits long",
    )
    pairs_total = F.expr("(n_points * (n_points - 1)) div 2")
    return out.select(
        "n_points",
        "n_clusters",
        "n_labels",
        "pairs_both",
        "pairs_cluster",
        "pairs_label",
        F.round(
            (
                pairs_total
                + 2 * F.col("pairs_both")
                - F.col("pairs_cluster")
                - F.col("pairs_label")
            ).cast("double")
            / pairs_total.cast("double"),
            6,
        ).alias("rand_index_r"),
        F.round(
            F.col("purity_hits").cast("double") / F.col("n_points"), 6
        ).alias("purity_r"),
    )


@query(
    "agg_source_overlap_matrix",
    oracle=f"""
    WITH posts AS (
        SELECT DISTINCT source, unnest({D.shingle_hashes_sql('text')}) AS h
        FROM documents
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM posts GROUP BY source),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS shared_shingles
        FROM posts a JOIN posts b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT s.src_a, s.src_b, s.shared_shingles,
           round(CAST(s.shared_shingles AS DOUBLE)
                 / (ta.n + tb.n - s.shared_shingles), 6) AS overlap_jaccard_r
    FROM shared s
    JOIN tot ta ON ta.source = s.src_a
    JOIN tot tb ON tb.source = s.src_b
    """,
)
def agg_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap matrix — the corpus-level diagnostic
    behind mixture design and leakage audits ("how much of src_a is
    also in src_b?"): for every source pair, the number of distinct
    shared 3-token shingles and their set Jaccard.

    Scale shape: ONE posting pass (explode + distinct on (source,
    shingle)), then a groupBy-shingle combination explode — per shingle
    the fanout is C(|sources containing it|, 2), bounded by the SOURCE
    count, never the corpus, and skew-immune where a postings self-join
    on a hot shingle would emit |sources|^2 rows through a single
    reducer key. Totals are a |sources|-row broadcast. Output is
    |sources|^2 / 2 rows — model-sized at any corpus scale."""
    docs = with_min_parallelism(load_table(spark, sf_dir, "documents"))
    # two consumers (per-source totals AND the per-shingle source
    # sets) share THE corpus pass through exchange reuse: both branches
    # aggregate the identical distinct subtree, so its Exchange is
    # computed once (ReusedExchange). An explicit cache pin here
    # measured SLOWER (materialization cost on top of the same single
    # pass) — r11.
    posts = docs.select(
        "source", F.explode(P.kernel(D.shingle_hashes, "text")).alias("h")
    ).distinct()
    tot = posts.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    srcs = posts.groupBy("h").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pairs = srcs.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) -> "
                "transform(slice(srcs, i + 2, size(srcs)), "
                "y -> struct(x AS src_a, y AS src_b))))"
            )
        ).alias("p")
    ).select("p.src_a", "p.src_b")
    shared = pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("shared_shingles")
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_shingles",
            F.round(
                F.col("shared_shingles").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_shingles")),
                6,
            ).alias("overlap_jaccard_r"),
        )
    )


@query(
    "agg_source_curation_report",
    oracle=f"""
    WITH per_doc AS (
        SELECT source, lang,
               CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_toks,
               {D.content_hash_sql('text')} AS h,
               CAST(round({T.quality_scores_sql()['quality_score']} * 10000)
                    AS BIGINT) AS qmicro
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           round(CAST(SUM(qmicro) AS DOUBLE) / COUNT(*) / 10000, 6)
               AS avg_quality,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_docs,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS exact_dup_docs,
           CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en_docs
    FROM per_doc GROUP BY source
    """,
)
def agg_source_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report — the one-screen artifact a
    curation run publishes per ingest wave: doc and token counts, mean
    quality score, distinct-content count (exact-dup pressure), and
    English share, grouped by source.

    Scale shape: one corpus pass computing per-doc features (all
    JVM-side expressions), one partial-agg shuffle on ``source``
    (|sources| groups — model-sized output at any corpus size).
    ULP-proofing: the quality average is summed as BIGINT micro-units
    (each per-doc score is already rounded to 4 decimals, so the
    micro-unit is integer-exact) — the order-independent integer sum
    makes the rounded average bit-reproducible against the SQL oracle,
    the same trick as the ingestion DSIR gate."""
    docs = with_min_parallelism(load_table(spark, sf_dir, "documents"))
    scored = T.quality_scores(docs)
    per_doc = scored.select(
        "source",
        "lang",
        F.array_size(T.tokens_col(F.col("text"))).cast("long").alias("n_toks"),
        P.kernel(D.content_hash, "text").alias("h"),
        F.round(F.col("quality_score") * 10000, 0).cast("long").alias("qmicro"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.round(
            F.sum("qmicro").cast("double") / F.count(F.lit(1)) / F.lit(10000), 6
        ).alias("avg_quality"),
        F.countDistinct("h").alias("n_distinct_docs"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("exact_dup_docs"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_en_docs"),
    )


# --------------------------------------------------------------------------
# Persisted-index integrity audits: recompute each index's on-disk
# partition layout from the base table in SQL and compare bit-for-bit —
# the check an operator runs after a restore/compaction/migration to
# prove the serve artifact still equals what a fresh build would write.
# --------------------------------------------------------------------------

def _minhash_band_structs_sql(n_hashes: int, bands: int) -> str:
    rows = n_hashes // bands
    return ", ".join(
        f"struct_pack(band := {b}, bkey := {D._band_key_sql('sig', b, rows)})"
        for b in range(bands)
    )


@query(
    "meta_hash_index_layout",
    oracle=f"""
    SELECT {D.content_hash_sql('text')} % {D.HASH_INDEX_BUCKETS} AS bucket,
           COUNT(*) AS n_postings,
           CAST(COUNT(DISTINCT {D.content_hash_sql('text')}) AS BIGINT)
               AS n_distinct_hashes
    FROM documents GROUP BY 1
    """,
)
def meta_hash_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit of the persisted exact-hash index: per-bucket
    posting and distinct-hash counts read from the ON-DISK artifact
    (build_hash_index's hive layout), oracle-checked against a SQL
    recomputation from the documents table. A drifted, truncated, or
    double-appended index shows up as a count mismatch here before it
    silently corrupts probe results. Scan cost: the index's hash table
    only (~16 bytes/doc), never the corpus text."""
    path = _hash_index_path(spark, sf_dir)
    return (
        read_static_schema(spark, f"{D.index_dataset_root(path)}/hashes")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.countDistinct("content_hash").alias("n_distinct_hashes"),
        )
        .select(F.col("bucket").cast("long").alias("bucket"), "n_postings", "n_distinct_hashes")
    )


@query(
    "meta_minhash_index_layout",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id, {D.minhash_signature_sql('text')} AS sig
        FROM documents WHERE doc_id % {_INCR_NEW_MOD} != 0
    ),
    banded AS (
        SELECT doc_id, u.band AS band, u.bkey AS bkey
        FROM sig, unnest([{_minhash_band_structs_sql(D.N_MINHASH, D.LSH_BANDS)}]) AS t(u)
    )
    SELECT band, bkey % {D.MINHASH_INDEX_BUCKETS} AS bucket,
           COUNT(*) AS n_postings,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM banded GROUP BY 1, 2
    """,
)
def meta_minhash_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit of the persisted MinHash band index: per
    (band, bucket) posting and doc counts from the on-disk bands table,
    oracle-checked against re-signing the corpus slice in SQL. Pins the
    full build path — shingling, signatures, band keys, bucket routing,
    AND the hive partition layout — as one bit-exact artifact check;
    the serve-path probes are only as good as this table. Scan cost:
    the banding table (~1% of corpus bytes), never the corpus text."""
    path = _minhash_index_path(spark, sf_dir)
    return (
        read_static_schema(spark, f"{D.index_dataset_root(path)}/bands")
        .groupBy("band", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .select(
            F.col("band").cast("long").alias("band"),
            F.col("bucket").cast("long").alias("bucket"),
            "n_postings",
            "n_docs",
        )
    )


# --------------------------------------------------------------------------
# corpus drift / quality-model scoring / bloom-index audit
# --------------------------------------------------------------------------

#: PSI token-length bins — single source of truth in operators/text.py
#: (shared with the streaming drift monitor, whose parity with this
#: query is pinned by tests/test_streaming_psi.py).
_PSI_BINS = T.PSI_BINS
_PSI_LO = T.PSI_LO
_PSI_WIDTH = T.PSI_WIDTH
_PSI_Q = T.PSI_Q

_PSI_ORACLE = f"""
WITH binned AS (
    SELECT source,
           doc_id % 40 < 20 AS is_a,
           least({_PSI_BINS - 1},
                 greatest(0, len({T.tokens_sql('text')}) - {_PSI_LO})
                     // {_PSI_WIDTH}) AS bin
    FROM documents
),
counts AS (
    SELECT source, bin,
           CAST(count_if(is_a) AS BIGINT) AS c_a,
           CAST(count_if(NOT is_a) AS BIGINT) AS c_b
    FROM binned GROUP BY 1, 2
),
totals AS (
    SELECT source, CAST(SUM(c_a) AS BIGINT) AS n_a,
           CAST(SUM(c_b) AS BIGINT) AS n_b
    FROM counts GROUP BY 1
),
grid AS (
    SELECT t.source, t.n_a, t.n_b, g.bin,
           COALESCE(c.c_a, 0) AS c_a, COALESCE(c.c_b, 0) AS c_b
    FROM totals t
    CROSS JOIN (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin) g
    LEFT JOIN counts c ON c.source = t.source AND c.bin = g.bin
),
terms AS (
    SELECT source, n_a, n_b,
           CAST(round(((CAST(c_a + 1 AS DOUBLE) / CAST(n_a + {_PSI_BINS} AS DOUBLE)
                        - CAST(c_b + 1 AS DOUBLE) / CAST(n_b + {_PSI_BINS} AS DOUBLE))
                       * ln((CAST(c_a + 1 AS DOUBLE) / CAST(n_a + {_PSI_BINS} AS DOUBLE))
                            / (CAST(c_b + 1 AS DOUBLE) / CAST(n_b + {_PSI_BINS} AS DOUBLE))))
                      * 1000000.0) AS BIGINT) AS q
    FROM grid
)
SELECT source, n_a, n_b,
       round(CAST(SUM(q) AS DOUBLE) / {_PSI_Q}, 6) AS psi_r
FROM terms GROUP BY source, n_a, n_b
"""


@query("dq_source_drift_psi", oracle=_PSI_ORACLE)
def dq_source_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus revisions per
    source — the drift monitor a data-ops team reads when a crawler or
    an upstream filter changes behavior between ingest waves (PSI > 0.1
    = investigate, > 0.25 = the distribution moved; standard credit-
    scoring thresholds). Revisions are deterministic doc_id blocks
    (doc_id % 40 < 20 — NOT even/odd, which would degenerate because
    the synthetic source is doc_id % 20, putting every source wholly in
    one parity class; the block split halves each source);
    the feature is token count over {_PSI_BINS} FIXED bins (fixed edges,
    so the binning itself cannot absorb the drift), add-1 smoothed so
    empty bins stay defined.

    Scale design: ONE corpus scan into a (source x bin) count grid —
    a shuffle of |sources| x {_PSI_BINS} rows — then all PSI arithmetic
    happens on that grid; the bin completion is an explode of the
    |sources|-row totals frame, never a corpus-sized join. Per-bin
    terms quantize to BIGINT micro-units before the sum (same
    ULP-proofing as the quantized DSIR gate), so the reported PSI is
    bit-reproducible at any partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    bin_ = T.psi_token_bin(F.col("text"))
    counts = (
        docs.select(
            "source", bin_.alias("bin"), (F.col("doc_id") % 40 < 20).alias("is_a")
        )
        .groupBy("source", "bin")
        .agg(
            F.count_if(F.col("is_a")).alias("c_a"),
            F.count_if(~F.col("is_a")).alias("c_b"),
        )
    )
    totals = counts.groupBy("source").agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    full = (
        totals.select(
            "source",
            "n_a",
            "n_b",
            F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("bin"),
        )
        .join(counts, ["source", "bin"], "left")
        .select(
            "source",
            "n_a",
            "n_b",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    pa = (F.col("c_a") + F.lit(1)).cast("double") / (
        F.col("n_a") + F.lit(_PSI_BINS)
    ).cast("double")
    pb = (F.col("c_b") + F.lit(1)).cast("double") / (
        F.col("n_b") + F.lit(_PSI_BINS)
    ).cast("double")
    q = F.round(((pa - pb) * F.log(pa / pb)) * F.lit(1000000.0)).cast("long")
    return (
        full.select("source", "n_a", "n_b", q.alias("q"))
        .groupBy("source", "n_a", "n_b")
        .agg(F.round(F.sum("q").cast("double") / F.lit(_PSI_Q), 6).alias("psi_r"))
    )


#: fixed integer micro-unit weights for the quality logit — the shape of
#: a trained fastText/logreg quality filter's serve path (training is
#: out of scope; what matters at 100 TB is that scoring is a row-local
#: dot product over in-plan features, zero shuffle, zero Python).
_QL_W_TOKENS = 12_000        # longer docs lean higher-quality
_QL_W_REPEATS = -45_000      # repeated tokens lean boilerplate
_QL_W_STOP = -20_000         # stopword-heavy leans low-information
_QL_BIAS = -300_000
_QL_THRESHOLD = 0
_QL_STOPWORDS = ("the", "a", "of", "and", "to")

_QL_STOP_IN = ", ".join(f"'{w}'" for w in _QL_STOPWORDS)

_QUALITY_LOGIT_ORACLE = f"""
WITH feats AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) AS n_repeats,
           CAST(len(list_filter(toks, t -> t IN ({_QL_STOP_IN}))) AS BIGINT)
               AS n_stop
    FROM (SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents)
)
SELECT doc_id, n_tokens, n_repeats, n_stop,
       {_QL_BIAS} + {_QL_W_TOKENS} * n_tokens
                  + {_QL_W_REPEATS} * n_repeats
                  + {_QL_W_STOP} * n_stop AS logit_micro,
       ({_QL_BIAS} + {_QL_W_TOKENS} * n_tokens
                   + {_QL_W_REPEATS} * n_repeats
                   + {_QL_W_STOP} * n_stop) >= {_QL_THRESHOLD} AS admit
FROM feats
"""


@query("text_quality_logit", oracle=_QUALITY_LOGIT_ORACLE)
def text_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored quality filter SERVE path (the fastText/logistic-
    regression quality classifier every production pretraining pipeline
    runs — CCNet, Gopher, LLaMA all gate on one): a linear model over
    in-plan engineered features, weights as INTEGER micro-unit
    literals so the logit is exact integer arithmetic — the admit
    threshold can never flip on float ULPs, and the oracle is bit-exact
    by construction. Features (token count, repeated-token count,
    stopword count) are row-local higher-order-function expressions:
    the whole score is one narrow projection inside WholeStageCodegen —
    zero shuffle, zero Python, embarrassingly parallel at any corpus
    size. Swapping in real trained weights changes the literals, not
    the plan."""
    docs = load_table(spark, sf_dir, "documents")
    # projection boundary: the three feature columns reference the token
    # array 4x — split once per row.
    docs = docs.withColumn("__toks", P.tokens(F.col("text")))
    toks = F.col("__toks")
    n_tokens = F.size(toks).cast("long")
    n_repeats = (F.size(toks) - F.size(F.array_distinct(toks))).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in _QL_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
        "long"
    )
    feats = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_repeats.alias("n_repeats"),
        n_stop.alias("n_stop"),
    )
    logit = (
        F.lit(_QL_BIAS)
        + F.lit(_QL_W_TOKENS) * F.col("n_tokens")
        + F.lit(_QL_W_REPEATS) * F.col("n_repeats")
        + F.lit(_QL_W_STOP) * F.col("n_stop")
    )
    return feats.select(
        "doc_id",
        "n_tokens",
        "n_repeats",
        "n_stop",
        logit.alias("logit_micro"),
        (logit >= F.lit(_QL_THRESHOLD)).alias("admit"),
    )


_BLOOM_M_BITS = D.BLOOM_WORDS_PER_SEGMENT * D.BLOOM_BITS_PER_WORD

_BLOOM_SEED_VALUES = ", ".join(f"({a}, {b})" for a, b in D.BLOOM_SEEDS[: D.BLOOM_K])

_BLOOM_LAYOUT_ORACLE = f"""
WITH h AS (
    SELECT {D.content_hash_sql('text')} AS h FROM documents
),
pos AS (
    SELECT h % {D.BLOOM_SEGMENTS} AS segment,
           ((s.a * (h % {P.MERSENNE_31}) + s.b) % {P.MERSENNE_31})
               % {_BLOOM_M_BITS} AS pos
    FROM h CROSS JOIN (VALUES {_BLOOM_SEED_VALUES}) AS s(a, b)
)
SELECT segment,
       pos // {D.BLOOM_BITS_PER_WORD} AS word_idx,
       bit_or(1::BIGINT << CAST(pos % {D.BLOOM_BITS_PER_WORD} AS INT)) AS word
FROM pos GROUP BY 1, 2
"""


@query("meta_bloom_index_layout", oracle=_BLOOM_LAYOUT_ORACLE)
def meta_bloom_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit of the persisted Bloom filter: every (segment,
    word_idx, word) bit-word read from the ON-DISK artifact, oracle-
    checked against recomputing the whole member-hash family and
    bit-fold in SQL — so the filter's exact BITS, not just its counts,
    are pinned engine-independently. A drifted seed family, a wrong
    modulus, or a lost upsert flips a word here before it silently
    turns into false negatives (the one failure a Bloom gate must never
    have). Scan cost: the bits table only (~10 bits/doc), never the
    corpus text."""
    root = D.index_dataset_root(_bloom_index_path(spark, sf_dir))
    return (
        read_static_schema(spark, f"{root}/bits")
        .groupBy("segment", "word_idx")
        .agg(F.bit_or("word").alias("word"))
        .select(F.col("segment").cast("long").alias("segment"), "word_idx", "word")
    )


def _bench_keyset_path(spark: SparkSession, sf_dir: str) -> str:
    """Keyset index over the benchmark slice's shingles: the serve side
    of the decontamination query here and of the ingestion topology's
    contamination gate."""

    def build(path: str) -> str:
        docs = load_table(spark, sf_dir, "documents")
        bench_grams = (
            docs.filter(F.col("source") == _BENCH_SOURCE)
            .select(F.explode_outer(T.shingles_col(F.col("text"))).alias("key"))
            .filter(F.col("key").isNotNull())
        )
        D.build_keyset_index(bench_grams, path)
        return path

    return artifact(
        spark, sf_dir, "bench_keyset", build,
        _BENCH_SOURCE, T.CONTAM_NGRAM,
        D.BLOOM_SEGMENTS, D.BLOOM_WORDS_PER_SEGMENT, D.BLOOM_K,
    )


@query("text_contamination_bloom_gated", oracle=ORACLES["text_ngram_contamination"])
def text_contamination_bloom_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination against a PERSISTED keyset index — the
    serve path for protected n-gram sets too big to broadcast (the
    whole-corpus cross-wave case, consolidated eval suites at 1e9+
    grams; text_ngram_contamination's broadcast of the full gram set is
    its small-set oracle twin). The benchmark slice's 5-gram shingles
    are built ONCE into a bloom-fronted exact-membership set
    (operators/dedup.build_keyset_index); each corpus document's grams
    probe it: non-protected grams — the overwhelming majority — resolve
    from ~10 bits/gram of probed filter segments, and only
    Bloom-positives confirm against the exact keys table (RAW-STRING
    join, so a hash collision can never flag a clean doc). Same per-doc
    contamination counts, same oracle, as the broadcast form."""
    path = _bench_keyset_path(spark, sf_dir)
    # corpus grams come from the shared materialized 5-gram table
    # (source is a pushdown filter — only the non-bench row groups read)
    corpus = (
        _shared_doc_grams(spark, sf_dir)
        .filter(F.col("source") != _BENCH_SOURCE)
        .select("doc_id", "s")
    )
    # full-segment routing superset (r11): a WHOLE-CORPUS sweep probes
    # essentially every segment, so the probe's two adaptive
    # segment-routing collects — each a job over the vocabulary-sized
    # distinct-key frame — buy no pruning here; the caller-supplied
    # superset is output-identical by the probe's routing contract and
    # skips both collects (and the need-frame cache they forced). Small
    # probe batches (the ingestion gate) keep adaptive routing.
    all_segs = list(range(int(D._index_meta(spark, path)["n_segments"])))
    members = (
        D.keyset_index_probe(
            spark,
            path,
            corpus.select(F.col("s").alias("key")),
            segments=all_segs,
            confirm_segments=all_segs,
        )
        .withColumnRenamed("key", "s")
        .withColumn("__hit", F.lit(1))
    )
    hit = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    return (
        corpus.join(members, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            hit.alias("n_contaminated"),
            F.round(hit.cast("double") / F.count(F.lit(1)), 6).alias(
                "contamination_frac"
            ),
        )
    )


_KEYSET_LAYOUT_ORACLE = f"""
WITH bench AS (
    SELECT DISTINCT unnest({T.shingles_sql('text')}) AS key
    FROM documents WHERE source = '{_BENCH_SOURCE}'
),
h AS (
    SELECT key, {P.hash60_sql('key')} AS h FROM bench
),
pos AS (
    SELECT h % {D.BLOOM_SEGMENTS} AS segment,
           ((s.a * (h % {P.MERSENNE_31}) + s.b) % {P.MERSENNE_31})
               % {_BLOOM_M_BITS} AS pos
    FROM h CROSS JOIN (VALUES {_BLOOM_SEED_VALUES}) AS s(a, b)
)
SELECT segment,
       pos // {D.BLOOM_BITS_PER_WORD} AS word_idx,
       bit_or(1::BIGINT << CAST(pos % {D.BLOOM_BITS_PER_WORD} AS INT)) AS word
FROM pos GROUP BY 1, 2
"""


@query("meta_keyset_index_layout", oracle=_KEYSET_LAYOUT_ORACLE)
def meta_keyset_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit of the persisted keyset index's Bloom leg: every
    (segment, word_idx, word) read from the ON-DISK artifact,
    oracle-checked against recomputing the member-hash family over the
    benchmark gram set in SQL. A wrong seed family or a lost upsert
    flips a word here before it turns into a false NEGATIVE — the one
    failure a decontamination gate must never have (a false positive
    just costs a confirm lookup; a false negative is a silent
    train/test leak). Scan cost: the bits table only (~10 bits/gram)."""
    root = D.index_dataset_root(_bench_keyset_path(spark, sf_dir))
    return (
        read_static_schema(spark, f"{root}/bits")
        .groupBy("segment", "word_idx")
        .agg(F.bit_or("word").alias("word"))
        .select(F.col("segment").cast("long").alias("segment"), "word_idx", "word")
    )


#: Gumbel-top-k resample size and the exact-rational uniform's modulus:
#: 2^53 keeps every intermediate ((h % M) + 0.5) / M exactly
#: representable in a double, so both engines derive the identical
#: uniform — and therefore the identical Gumbel key — from the hash.
_RESAMPLE_K = 50
_GUMBEL_M = 1 << 53

_DSIR_RESAMPLE_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, lang, unnest({T.tokens_sql('text')}) AS tok
    FROM documents
),
bucketed AS (
    SELECT doc_id, lang,
           {P.hash60_sql('tok')} % {_DSIR_BUCKETS} AS bucket
    FROM tok
),
dist AS (
    SELECT bucket,
           COUNT(*) AS n_s,
           COUNT(*) FILTER (WHERE lang = 'en') AS n_t
    FROM bucketed GROUP BY bucket
),
tot AS (
    SELECT CAST(SUM(n_s) AS DOUBLE) AS t_s, CAST(SUM(n_t) AS DOUBLE) AS t_t
    FROM dist
),
ratio AS (
    SELECT bucket,
           ln(((n_t + 1.0) / (t_t + {_DSIR_BUCKETS}))
              / ((n_s + 1.0) / (t_s + {_DSIR_BUCKETS}))) AS log_ratio
    FROM dist CROSS JOIN tot
),
doc_buckets AS (
    SELECT doc_id, bucket, COUNT(*) AS cnt FROM bucketed GROUP BY 1, 2
),
scored AS (
    SELECT d.doc_id,
           CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
           SUM(d.cnt * r.log_ratio) AS w
    FROM doc_buckets d JOIN ratio r USING (bucket)
    GROUP BY d.doc_id
),
keyed AS (
    SELECT doc_id, n_tokens, w,
           w - ln(-ln((({P.hash60_sql("CAST(doc_id AS VARCHAR) || ':gumbel'")}
                        % {_GUMBEL_M}) + 0.5) / {_GUMBEL_M})) AS gkey
    FROM scored
)
SELECT doc_id, n_tokens,
       round(w, 6) AS dsir_logweight_r,
       round(gkey, 6) AS gumbel_key_r
FROM keyed
ORDER BY gkey DESC
LIMIT {_RESAMPLE_K}
"""


@query("sample_dsir_resample_topk", oracle=_DSIR_RESAMPLE_ORACLE)
def sample_dsir_resample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING (the actual sampling step of Xie et
    al. NeurIPS'23, which sample_dsir_logweights only scores): draw k
    documents WITHOUT replacement with probability proportional to
    exp(logweight) via the Gumbel-top-k trick — key = logweight +
    Gumbel(0,1), take the k largest. The Gumbel noise is DERIVED, not
    drawn: u = ((hash60(doc_id || ':gumbel') % 2^53) + 0.5) / 2^53 is
    an exact-rational uniform in (0,1) (every intermediate exactly
    representable in a double), so the sample is reproducible across
    engines, reruns, and repartitioning — the property a training-data
    pipeline needs from its sampler and RNG-based sampling cannot give.

    Scale: the weight computation is the DSIR shape (one token pass,
    256-row broadcast ratio table); the key is a row-local expression;
    selection is TakeOrderedAndProject (per-partition top-k, k-row
    driver merge) — no global sort at any corpus size."""
    scored = _dsir_scored(spark, sf_dir)
    u = (
        (
            P.hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":gumbel")))
            % F.lit(_GUMBEL_M)
        )
        + F.lit(0.5)
    ) / F.lit(float(_GUMBEL_M))
    gkey = F.col("w") - F.log(-F.log(u))
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            F.round(F.col("w"), 6).alias("dsir_logweight_r"),
            F.round(gkey, 6).alias("gumbel_key_r"),
            gkey.alias("__gkey"),
        )
        .orderBy(F.col("__gkey").desc())
        .limit(_RESAMPLE_K)
        .drop("__gkey")
    )


_TRAINING_ORDER_ORACLE = f"""
WITH feats AS (
    SELECT doc_id, source,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) AS n_repeats,
           CAST(len(list_filter(toks, t -> t IN ({_QL_STOP_IN}))) AS BIGINT)
               AS n_stop
    FROM (SELECT doc_id, source, {T.tokens_sql('text')} AS toks FROM documents)
),
scored AS (
    SELECT doc_id, source,
           {_QL_BIAS} + {_QL_W_TOKENS} * n_tokens
                      + {_QL_W_REPEATS} * n_repeats
                      + {_QL_W_STOP} * n_stop AS logit_micro
    FROM feats
),
ranked AS (
    SELECT doc_id, source, logit_micro,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY logit_micro DESC, doc_id
           ) AS BIGINT) AS rank_in_source
    FROM scored
),
srcs AS (
    SELECT source,
           CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) AS src_ix,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
    FROM (SELECT DISTINCT source FROM documents)
)
SELECT r.doc_id, r.source, r.logit_micro, r.rank_in_source,
       (r.rank_in_source - 1) * s.n_sources + s.src_ix AS train_pos
FROM ranked r JOIN srcs s USING (source)
"""


@query("meta_training_order", oracle=_TRAINING_ORDER_ORACLE)
def meta_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAINING ORDER for the curated corpus: quality-
    descending within each source (the text_quality_logit score — exact
    integer arithmetic, so ranks can never flip on ULPs; doc_id breaks
    ties), round-robin interleaved ACROSS sources so no single source
    monopolizes any stretch of training — the standard anti-curriculum-
    collapse ordering a pretraining run wants from its data loader, as
    a reproducible column instead of loader-side shuffling.

    Scale: the per-source rank is a window PARTITIONED BY source (each
    partition ranks in parallel; no global sort), and the interleave
    arithmetic joins a |sources|-row broadcast frame — train_pos is
    computed, never materialized by a single-partition global window.
    Writing the corpus range-sorted on train_pos (write_range_sorted)
    then gives the loader sequential reads in training order."""
    docs = load_table(spark, sf_dir, "documents")
    # projection boundary: the logit references the token array 4x —
    # split once per row.
    docs = docs.withColumn("__toks", P.tokens(F.col("text")))
    toks = F.col("__toks")
    logit = (
        F.lit(_QL_BIAS)
        + F.lit(_QL_W_TOKENS) * F.size(toks).cast("long")
        + F.lit(_QL_W_REPEATS)
        * (F.size(toks) - F.size(F.array_distinct(toks))).cast("long")
        + F.lit(_QL_W_STOP)
        * F.size(
            F.filter(
                toks,
                lambda t: F.array_contains(
                    F.array(*[F.lit(w) for w in _QL_STOPWORDS]), t
                ),
            )
        ).cast("long")
    )
    from pyspark.sql import Window

    scored = docs.select("doc_id", "source", logit.alias("logit_micro"))
    w = Window.partitionBy("source").orderBy(
        F.col("logit_micro").desc(), F.col("doc_id")
    )
    ranked = scored.withColumn(
        "rank_in_source", F.row_number().over(w).cast("long")
    )
    srcs = (
        docs.select("source")
        .distinct()
        .withColumn(
            "src_ix",
            F.row_number()
            .over(Window.orderBy("source"))
            .cast("long"),
        )
        .withColumn("n_sources", F.count(F.lit(1)).over(Window.partitionBy()).cast("long"))
    )
    return ranked.join(F.broadcast(srcs), "source").select(
        "doc_id",
        "source",
        "logit_micro",
        "rank_in_source",
        (
            (F.col("rank_in_source") - 1) * F.col("n_sources") + F.col("src_ix")
        ).alias("train_pos"),
    )


# --------------------------------------------------------------------------
# WARC record demux (the web-crawl ingestion container)
# --------------------------------------------------------------------------

#: record-group shards per source: bounds each assembled WARC blob by
#: the (source, shard) slice, never the corpus — the splittability unit.
_WARC_SHARDS = 4

_WARC_ORACLE = f"""
SELECT doc_id, source,
       CAST(doc_id % {_WARC_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
            PARTITION BY source, doc_id % {_WARC_SHARDS} ORDER BY doc_id
        ) - 1 AS BIGINT) AS rec_idx,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS content_length,
       CAST(coalesce(list_sum(list_transform(
            range(1, CAST(octet_length(CAST(text AS BLOB)) AS INT) + 1),
            i -> unicode(substr(text, i, 1)))), 0) AS BIGINT) AS payload_sum
FROM documents
"""


@query("source_warc_records", oracle=_WARC_ORACLE)
def source_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC demux — the container web-crawl corpora actually arrive in
    (Common Crawl's WARC/WET files; demuxing them is step one of every
    crawl-scale text pipeline). Each (source, shard) slice's documents
    assemble into ONE genuine multi-record WARC/1.0 blob (version line,
    headers, Content-Length framing, record separators — the fixture
    side), then the REAL parser (sources/warc.warc_parse: header
    walking, length-framed payload slicing, mandatory separators) demuxes
    it back and every emitted column comes from the PARSED record — the
    doc id from the WARC-Target-URI header, the length from
    Content-Length, the payload byte-sum from the sliced payload bytes.
    A one-byte framing error shifts every subsequent record and flips
    the value hash, so the parse is pinned end to end.

    Scale shape: record-group size is bounded by the (source, shard)
    key — production WARCs arrive as files and each parses inside one
    task (mapInPandas), emitting small typed rows (the funnel)."""
    from collections.abc import Iterator as _It

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    grouped = (
        docs.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(_WARC_SHARDS)))
        .groupBy("source", "shard")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "text"))).alias("recs"))
    )

    def kernel(batches: _It["pd.DataFrame"]) -> _It["pd.DataFrame"]:
        from kafka_streams_the_clojure_way_spark.sources.warc import (
            warc_encode,
            warc_parse,
        )

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "source": [], "shard": [],
                "rec_idx": [], "content_length": [], "payload_sum": [],
            }
            for src, shard, recs in zip(
                pdf["source"].values, pdf["shard"].values, pdf["recs"].values
            ):
                blob = warc_encode(
                    [
                        (f"urn:doc:{r['doc_id']}", r["text"].encode("utf-8"))
                        for r in recs
                    ]
                )
                for idx, rec in enumerate(warc_parse(blob)):
                    out["doc_id"].append(int(rec["uri"].rsplit(":", 1)[1]))
                    out["source"].append(src)
                    out["shard"].append(int(shard))
                    out["rec_idx"].append(idx)
                    out["content_length"].append(rec["content_length"])
                    out["payload_sum"].append(int(sum(rec["payload"])))
            yield pd.DataFrame(out)

    return grouped.mapInPandas(
        kernel,
        schema=(
            "doc_id long, source string, shard long, rec_idx long, "
            "content_length long, payload_sum long"
        ),
    )


# --------------------------------------------------------------------------
# Compressed JSON-lines ingestion (the other arrival container)
# --------------------------------------------------------------------------


def _jsonl_gz_path(spark: SparkSession, sf_dir: str) -> str:
    """The documents table as gzip JSON lines — the fixture side of the
    ingestion seam."""

    def build(path: str) -> str:
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "lang", "text")
            .write.mode("overwrite")
            .option("compression", "gzip")
            .json(path)
        )
        return path

    return artifact(spark, sf_dir, "docs_jsonl", build)


@query(
    "source_jsonl_gz_roundtrip",
    oracle=f"""
    SELECT doc_id, source, lang,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           {P.hash60_sql('text')} AS text_h60
    FROM documents
    """,
)
def source_jsonl_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed JSON-lines ingestion — the OTHER container text
    corpora arrive in (alongside WARC): the documents table writes once
    per process as gzip JSONL (the fixture side), then the query reads
    it back through Spark's real JSON reader with an EXPLICIT schema (no
    inference scan — at corpus scale schema inference is a second full
    pass) and emits per-doc length + the portable 60-bit content hash of
    the round-tripped text. The oracle computes the same from the
    parquet documents, so a quote/backslash escaping bug, a charset
    mangle, or a dropped row in the JSON path flips the value hash —
    serde fidelity is pinned, not just row counts.

    Scale shape: .gz is NOT splittable — one stripe per file is the
    parallelism unit, which is why the fixture writes Spark's
    one-file-per-partition layout (a production pipeline sizes files to
    the task budget; .zst/.bz2 or uncompressed JSONL restore in-file
    splits). The read is a narrow scan -> projection, no shuffle."""
    path = _jsonl_gz_path(spark, sf_dir)
    docs = spark.read.schema(
        "doc_id long, source string, lang string, text string"
    ).json(path)
    return docs.select(
        "doc_id",
        "source",
        "lang",
        F.octet_length("text").cast("long").alias("n_bytes"),
        P.hash60(F.col("text")).alias("text_h60"),
    )
