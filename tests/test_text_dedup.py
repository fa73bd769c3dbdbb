"""Unit tests for text-analysis and dedup operators on literal data."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators import dedup as D
from kafka_streams_the_clojure_way_spark.operators import text as T


def _docs(spark, texts):
    return spark.createDataFrame(
        [{"doc_id": i, "text": t} for i, t in enumerate(texts)]
    )


def test_token_stats(spark):
    df = _docs(spark, ["Hello world foo", "one"])
    rows = {r.doc_id: r for r in T.token_stats(df).collect()}
    assert rows[0].n_tokens == 3
    assert rows[1].n_tokens == 1
    # BPE-ish: "hello" -> 1 piece, "12" number, "!" symbol
    df2 = _docs(spark, ["ab 12 c!"])
    assert T.token_stats(df2).collect()[0].n_bpeish_tokens == 4


def test_quality_score_monotone_in_length(spark):
    short = "x"
    long = "the quick brown fox jumps over the lazy dog " * 20
    rows = {r.doc_id: r for r in T.quality_scores(_docs(spark, [short, long])).collect()}
    assert rows[1].quality_score > rows[0].quality_score
    assert 0 <= rows[0].quality_score <= 100


def test_lang_id_markers(spark):
    texts = [
        "the cat and the dog of it is",     # en
        "der hund und die katze nicht",      # de
        "el gato y los perros que una",      # es
        "xyzzy qwerty",                       # no markers -> und
    ]
    rows = [r.lang_pred for r in T.lang_id(_docs(spark, texts)).orderBy("doc_id").collect()]
    assert rows == ["en", "de", "es", "und"]


def test_fingerprint_order_sensitive(spark):
    df = _docs(spark, ["alpha beta gamma", "gamma beta alpha", "alpha beta gamma"])
    fps = [r.fingerprint for r in T.fingerprint(df).orderBy("doc_id").collect()]
    assert fps[0] == fps[2]          # identical text -> identical fingerprint
    assert fps[0] != fps[1]          # reordered tokens -> different
    assert all(0 <= f < 2**31 for f in fps)


def test_exact_dedup_groups(spark):
    df = _docs(spark, ["same text", "same text", "different"])
    out = {r.keep_id: r.n_copies for r in D.exact_dedup_groups(df).collect()}
    assert out == {0: 2, 2: 1}


def test_shingle_hashes_short_doc_fallback(spark):
    # < K tokens: whole string is the single shingle; never empty.
    df = _docs(spark, ["one two", ""])
    out = D.shingle_hashes(F.col("text"))
    rows = df.select(out.alias("sh")).collect()
    assert all(len(r.sh) == 1 for r in rows)


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tonight")         # 1-token edit
    far = "completely unrelated words about spark engines and parquet files"
    df = _docs(spark, [base, near, far])
    pairs = D.minhash_lsh_pairs(df, threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]
    assert pairs[0].jaccard > 0.5


def test_minhash_signature_is_deterministic(spark):
    df = _docs(spark, ["some stable text for signatures"])
    s1 = df.select(D.minhash_signature(F.col("text")).alias("s")).collect()[0].s
    s2 = df.select(D.minhash_signature(F.col("text")).alias("s")).collect()[0].s
    assert s1 == s2 and len(s1) == 16


def test_simhash_near_means_small_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy", 1)
    df = _docs(spark, [base, near])
    sigs = [
        r.s for r in df.select(D.simhash_sig(F.col("text")).alias("s")).collect()
    ]
    dist = bin(sigs[0] ^ sigs[1]).count("1")
    assert dist <= D.SIMHASH_MAX_DIST
    pairs = D.simhash_pairs(df).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]


# --------------------------------------------------------------------------
# duplicate n-gram spans (substring-level dedup)
# --------------------------------------------------------------------------

def test_duplicate_ngram_spans_shared_phrase(spark):
    phrase = " ".join(f"p{i}" for i in range(10))          # 10 shared tokens
    a = "a1 a2 a3 a4 a5 " + phrase + " a6 a7 a8 a9 a10"
    b = "b1 b2 b3 b4 b5 " + phrase + " b6 b7 b8 b9 b10"
    c = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"                    # no dup
    out = D.duplicate_ngram_spans(_docs(spark, [a, b, c])).collect()
    spans = {(r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in out}
    # shared 8-grams start at offsets 5..7 -> one maximal span [5, 15) each
    assert spans == {(0, 5, 15, 10), (1, 5, 15, 10)}


def test_duplicate_ngram_spans_self_repetition(spark):
    phrase = " ".join(f"r{i}" for i in range(8))
    doc = phrase + " mid1 mid2 mid3 " + phrase
    out = D.duplicate_ngram_spans(_docs(spark, [doc])).collect()
    spans = sorted((r.span_start, r.span_end) for r in out)
    # the 8-gram repeats at offsets 0 and 11; islands merge iff gap <= 8,
    # and 11 - 0 > 8 -> two separate spans
    assert spans == [(0, 8), (11, 19)]


def test_duplicate_ngram_spans_short_docs_empty(spark):
    out = D.duplicate_ngram_spans(_docs(spark, ["one two", "one two"])).collect()
    assert out == []  # shorter than n -> no n-grams, even if exact dups


def test_clip_duplicate_spans_keeps_canonical(spark):
    phrase = " ".join(f"p{i}" for i in range(10))
    a = "a1 a2 a3 a4 a5 " + phrase + " a6 a7 a8 a9 a10"
    b = "b1 b2 b3 b4 b5 " + phrase + " b6 b7 b8 b9 b10"
    out = {r.doc_id: r for r in D.clip_duplicate_spans(_docs(spark, [a, b])).collect()}
    # doc 0 holds every gram's canonical occurrence -> untouched
    assert out[0].cleaned_text == a and out[0].n_removed_tokens == 0
    # doc 1 loses exactly the shared 10-token phrase
    assert out[1].cleaned_text == "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    assert out[1].n_removed_tokens == 10 and out[1].n_tokens == 20


def test_clip_duplicate_spans_self_repetition(spark):
    phrase = " ".join(f"r{i}" for i in range(8))
    doc = phrase + " mid " + phrase
    out = D.clip_duplicate_spans(_docs(spark, [doc])).collect()[0]
    # first occurrence is canonical; the repeat (offset 9) is removed
    assert out.cleaned_text == phrase + " mid"
    assert out.n_removed_tokens == 8


def test_clip_protects_overlapped_canonical_occurrence(spark):
    """A gram's canonical occurrence must survive even where it overlaps
    a DIFFERENT duplicated gram's removable occurrence — without the
    protected-position subtraction, every copy of G below would vanish."""
    H = [f"h{i}" for i in range(8)]
    W = [f"w{i}" for i in range(4)]
    d1 = " ".join(H + ["f1", "f2", "f3", "f4"])            # H canonical here
    d2 = " ".join(H + W)                                   # G = h4..h7 w0..w3 canonical here
    d3 = " ".join(["z1", "z2", "z3", "z4"] + H[4:] + W)    # G again (removable)
    out = {r.doc_id: r for r in D.clip_duplicate_spans(_docs(spark, [d1, d2, d3])).collect()}
    assert out[0].cleaned_text == d1                       # fully canonical
    # doc2: H's removable occurrence covers 0..7, but G's canonical
    # occupies 4..11 -> only 0..3 removed, G survives intact
    assert out[1].cleaned_text == " ".join(H[4:] + W)
    assert out[1].n_removed_tokens == 4
    # doc3: its G occurrence is non-canonical -> removed wholesale
    assert out[2].cleaned_text == "z1 z2 z3 z4"
    assert out[2].n_removed_tokens == 8


def test_span_detection_skew_safe_parity(spark):
    """The skew_safe (groupBy + join-back) and default (count-over-
    window) formulations must return identical spans."""
    phrase = " ".join(f"p{i}" for i in range(10))
    docs = _docs(
        spark,
        ["a1 a2 a3 " + phrase, "b1 b2 " + phrase + " b3", "c1 c2 c3 c4 c5 c6 c7 c8"],
    )
    base = {tuple(r) for r in D.duplicate_ngram_spans(docs).collect()}
    safe = {tuple(r) for r in D.duplicate_ngram_spans(docs, skew_safe=True).collect()}
    assert base == safe and len(base) > 0


def test_clip_rejects_non_integral_id(spark):
    """The packed canonical key needs exact BIGINT math; a double id
    would silently lose precision past 2^53 — must fail loudly."""
    import pytest

    df = spark.createDataFrame(
        [{"doc_id": 0.5, "text": "a b c d e f g h a b c d e f g h"}]
    )
    with pytest.raises(TypeError, match="must be integral"):
        D.clip_duplicate_spans(df)


def test_clip_rejects_negative_id(spark):
    """A negative doc_id flips the packed-key ordering, corrupting
    canonical selection — the assert_true guard must fire at runtime."""
    import pytest

    phrase = " ".join(f"p{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            {"doc_id": -1, "text": "a1 a2 a3 " + phrase},
            {"doc_id": 1, "text": "b1 b2 b3 " + phrase},
        ]
    )
    with pytest.raises(Exception, match="canonical key out of range"):
        D.clip_duplicate_spans(df).collect()


def _near_dup_corpus():
    base = "the quick brown fox jumps over the lazy dog again and again today"
    return [
        base,
        base + " ok",                     # near-dup of 0
        "completely different words entirely unrelated content here now",
    ]


def test_minhash_banding_default_is_explicit_default(spark):
    """(n_hashes=16, bands=4) must be bit-identical to the unparameterized
    call — parameterization must not move the registered oracles."""
    docs = _docs(spark, _near_dup_corpus())
    a = sorted(tuple(r) for r in D.minhash_lsh_pairs(docs).collect())
    b = sorted(
        tuple(r)
        for r in D.minhash_lsh_pairs(docs, n_hashes=16, bands=4).collect()
    )
    assert a == b and len(a) >= 1


def test_minhash_banding_more_bands_is_superset(spark):
    """Exact-Jaccard verify makes banding a pure recall knob: more bands
    (lower S-curve threshold) can only ADD verified pairs."""
    docs = _docs(spark, _near_dup_corpus())
    few = {tuple(r) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    many = {
        tuple(r)
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, n_hashes=16, bands=8
        ).collect()
    }
    assert few <= many
    assert any(j >= 0.5 for _, _, j in many)


def test_minhash_banding_nondefault_engine_parity(spark):
    """Non-default banding must stay bit-exact across engines (the seeds
    and band fold are shared constants, not just at the default)."""
    import duckdb

    texts = _near_dup_corpus()
    docs = _docs(spark, texts)
    got = sorted(
        tuple(r)
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, n_hashes=24, bands=6
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS t(doc_id, text)"
    )
    sql = D.minhash_lsh_pairs_sql(threshold=0.5, n_hashes=24, bands=6)
    want = sorted(tuple(r) for r in con.sql(sql).fetchall())
    assert got == want and len(got) >= 1


def test_minhash_banding_rejects_indivisible(spark):
    import pytest

    docs = _docs(spark, _near_dup_corpus())
    with pytest.raises(ValueError, match="divide evenly"):
        D.minhash_lsh_pairs(docs, n_hashes=16, bands=5)


def test_containment_catches_embedded_doc_minhash_misses(spark):
    """A small doc fully embedded in a much larger one: containment = 1.0
    (found), while resemblance MinHash misses it (Jaccard ~ |A|/|B|) —
    the operator's reason to exist."""
    small = " ".join(f"core{i}" for i in range(12))
    big = small + " " + " ".join(f"pad{i}" for i in range(120))
    other = " ".join(f"x{i}" for i in range(30))
    docs = _docs(spark, [small, big, other])
    got = {(r.id_a, r.id_b): r.containment_r for r in D.containment_pairs(docs).collect()}
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (0, 2) not in got and (1, 2) not in got
    # resemblance path misses the embedded pair at its 0.8 threshold
    mh = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs).collect()}
    assert (0, 1) not in mh


def test_containment_prefix_filter_is_lossless(spark):
    """Prefix-filtered output == brute-force all-pairs output on real
    corpus data (the pigeonhole guarantee, checked empirically)."""
    import pyspark.sql.functions as F

    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fast = {tuple(r) for r in D.containment_pairs(docs).collect()}
    s = docs.select(
        "doc_id", D.shingle_hashes(F.col("text")).alias("sh"),
        F.array_size(D.shingle_hashes(F.col("text"))).alias("sz"),
    )
    a = s.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b"))
    inter = F.array_size(F.array_intersect("sh_a", "sh_b"))
    cont = F.round(inter.cast("double") / F.least("sz_a", "sz_b").cast("double"), 6)
    brute = {
        tuple(r)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(inter * 5 >= F.least("sz_a", "sz_b") * 4)  # integer predicate
        .select("id_a", "id_b", inter.cast("long").alias("n_shared"), cont.alias("containment_r"))
        .collect()
    }
    assert fast == brute and len(fast) > 0


def test_containment_index_probe_matches_inline(spark, tmp_path):
    """The persisted containment index (build/serve split) must equal
    the inline incremental gate row for row on the sf0.001 slice —
    including both candidate directions (fragment probes AND
    concatenation probes), and leave no cached frames when the caller
    owns the lifecycle."""
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    probe = docs.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "cont_idx")
    D.build_containment_index(corpus, path)

    def rows(df):
        return sorted(
            (r.probe_id, r.corpus_id, r.n_shared, r.containment_r)
            for r in df.collect()
        )

    expected = rows(D.containment_pairs_between(probe, corpus))
    caches: list = []
    got = rows(
        D.containment_index_probe(spark, path, probe, cache_registry=caches)
    )
    assert got == expected and expected
    for frame in caches:
        frame.unpersist()

    # probe meta comes from the index: a mismatched-threshold caller is
    # impossible by construction (t comes out of path/meta)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert (meta["t_num"], meta["t_den"]) == (
        D.CONTAINMENT_THRESHOLD_NUM,
        D.CONTAINMENT_THRESHOLD_DEN,
    )


def test_containment_index_upsert_matches_rebuild_and_is_idempotent(spark, tmp_path):
    """Lifecycle parity with the other persisted indexes: build on
    corpus part A then upsert part B must answer probes identically to
    an index built on A ∪ B, and re-upserting already-indexed docs must
    be a no-op (the add-only anti-join)."""
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    probe = docs.filter(F.col("doc_id") % 10 == 0)
    part_a = corpus.filter(F.col("doc_id") % 3 != 0)
    part_b = corpus.filter(F.col("doc_id") % 3 == 0)

    def rows(df):
        return sorted(
            (r.probe_id, r.corpus_id, r.n_shared, r.containment_r)
            for r in df.collect()
        )

    inc = str(tmp_path / "inc")
    D.build_containment_index(part_a, inc)
    D.containment_index_upsert(spark, inc, part_b)

    full = str(tmp_path / "full")
    D.build_containment_index(corpus, full)

    want = rows(D.containment_index_probe(spark, full, probe))
    got = rows(D.containment_index_probe(spark, inc, probe))
    assert got == want and want

    D.containment_index_upsert(spark, inc, corpus)  # all already indexed
    assert rows(D.containment_index_probe(spark, inc, probe)) == want


def test_containment_index_delete_compact_readd(spark, tmp_path):
    """Tombstone lifecycle: a deleted corpus doc stops matching
    immediately, compaction folds it in physically (byte-identical
    probes, tombstone set cleared), and the id can be re-added after
    the compact."""
    import os

    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    probe = docs.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "tomb")
    D.build_containment_index(corpus, path)

    def rows():
        return sorted(
            (r.probe_id, r.corpus_id, r.n_shared, r.containment_r)
            for r in D.containment_index_probe(spark, path, probe).collect()
        )

    before = rows()
    assert before, "fixture slice must produce containment pairs"
    victim = before[0][1]

    D.containment_index_delete(spark, path, [victim])
    after_del = rows()
    assert after_del == [r for r in before if r[1] != victim]

    D.compact_containment_index(spark, path)
    assert not os.path.exists(f"{D.index_dataset_root(path)}/tombstones")
    assert rows() == after_del
    live = {
        r.doc_id
        for r in spark.read.parquet(f"{D.index_dataset_root(path)}/sets").select("doc_id").collect()
    }
    assert victim not in live

    D.containment_index_upsert(spark, path, corpus.filter(F.col("doc_id") == victim))
    assert rows() == before


def test_long_array_empty_is_typed_bigint(spark):
    """An empty ``_long_array`` must stay array<bigint> (a bare
    ``array()`` types as array<string> and breaks numeric consumers)."""
    from pyspark.sql.types import LongType

    df = spark.range(1).select(
        D._long_array([]).alias("e"), D._long_array([1, 2]).alias("a")
    )
    assert [f.dataType.elementType for f in df.schema.fields] == [LongType()] * 2
    assert [tuple(r) for r in df.collect()] == [([], [1, 2])]
