"""M7 dedup + text analysis operators on small fixtures."""

import pytest
from pyspark.sql import functions as F

from indexlab_spark.operators.dedup import (
    embedding_dup_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
)
from indexlab_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_features,
    token_count,
)

DOCS = [
    (0, "The quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick  brown fox jumps over the lazy dog near the river bank"),  # ws/case dup of 0
    (2, "The quick brown fox jumps over the lazy dog near the river edge"),   # near-dup of 0
    (3, "Spark shuffles partitioned data across the cluster during joins"),
    (4, "completely different content about databases and storage engines"),
    (5, "The quick brown fox jumps over the lazy dog near the river bank"),   # exact dup of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = {r["keep_id"]: r for r in exact_dedup(docs).collect()}
    assert groups[0]["cnt"] == 3  # 0, 1 (normalized), 5
    assert groups[0]["ids"] == [0, 1, 5]
    assert sum(r["cnt"] for r in groups.values()) == 6


def test_exact_dedup_no_normalize(docs):
    groups = exact_dedup(docs, normalize=False).collect()
    by_keep = {r["keep_id"]: r["cnt"] for r in groups}
    assert by_keep[0] == 2  # only 0 and 5 byte-identical


def test_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0  # identical after lowering (shingles on lowered tokens)
    assert pairs[(0, 5)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs and (0, 4) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, threshold=0.5).collect()}
    # high-jaccard pairs must survive LSH banding
    assert (0, 1) in pairs and (0, 5) in pairs and (1, 5) in pairs
    assert (0, 2) in pairs  # near-dup with jaccard ~0.73
    assert (0, 4) not in pairs


def test_simhash_near_dups(docs):
    sh = simhash(docs)
    vals = {r["id"]: r["simhash"] for r in sh.collect()}
    assert vals[0] == vals[1] == vals[5]  # same shingle set -> same fingerprint
    # fingerprint quality: near-dup (0,2) lands much closer than unrelated (0,4)
    h02 = bin(vals[0] ^ vals[2]).count("1")
    h04 = bin(vals[0] ^ vals[4]).count("1")
    assert h02 < 12 < h04  # 60-bit fingerprints: 8 vs 31 on this fixture
    # pair detection: 4x15-bit bands GUARANTEE recall only for hamming <=
    # 3 (pigeonhole) — the dup cluster {0,1,5} (hamming 0) must all pair up
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_pairs(sh, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0 and pairs[(0, 5)] == 0 and pairs[(1, 5)] == 0
    assert (0, 4) not in pairs


def test_embedding_dup_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in
             embedding_dup_pairs(df, threshold=0.95).collect()}
    assert list(pairs) == [(0, 1)]
    assert pairs[(0, 1)] > 0.99


def test_lang_id(spark):
    rows = [
        (0, "the cat and the dog went to the house in the rain"),
        (1, "el perro y el gato en la casa de los vecinos"),
        (2, "der Hund und die Katze sind mit den Kindern"),
        (3, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", lang_id("text").alias("lang")).collect()}
    assert got == {0: "en", 1: "es", 2: "de", 3: "und"}


def test_quality_features(docs):
    q = {r["id"]: r for r in quality_features(docs).collect()}
    assert q[0]["n_tokens"] == 13
    assert q[0]["stop_ratio"] > 0.2  # 'the' x3, 'over', 'near'...
    assert 0.0 <= q[0]["quality_score"] <= 1.0
    # prose with stopwords should outscore keyword soup
    assert q[0]["quality_score"] > q[4]["quality_score"] - 1e-9


def test_token_count(spark):
    df = spark.createDataFrame([(0, "  a  b   c "), (1, "")], "id long, text string")
    got = {r["id"]: r["n"] for r in
           df.select("id", token_count("text").alias("n")).collect()}
    assert got == {0: 3, 1: 0}


def test_fingerprint_equal_for_dups(docs):
    fp = {r["id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert fp[0] == fp[1] == fp[5]
    assert fp[0] != fp[3]


def test_short_text_shingles_empty(spark):
    # regression: sequence(1,0) is descending in Spark; short docs must
    # yield an empty shingle set, not garbage slices
    from indexlab_spark.functions.hashing import token_shingles
    df = spark.createDataFrame(
        [(0, "one two"), (1, "one"), (2, ""), (3, "a b c")], "id long, text string"
    )
    got = {r["id"]: r["sh"] for r in
           df.select("id", token_shingles(F.col("text"), 3).alias("sh")).collect()}
    assert got[0] == [] and got[1] == [] and got[2] == []
    assert got[3] == ["a b c"]


def test_stratified_split_deterministic_and_proportional(spark, tables):
    from indexlab_spark.operators.textstats import stratified_split

    docs = tables["documents"]
    a = stratified_split(docs).groupBy("split").count().collect()
    b = stratified_split(docs).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in a}
    assert counts == {r["split"]: r["count"] for r in b}  # deterministic
    total = sum(counts.values())
    assert 0.7 < counts["train"] / total < 0.9
    assert 0.05 < counts["val"] / total < 0.16
    assert 0.05 < counts["test"] / total < 0.16


def test_stratified_split_bad_weights(spark, tables):
    import pytest as _pytest
    from indexlab_spark.operators.textstats import stratified_split

    with _pytest.raises(ValueError):
        stratified_split(tables["documents"], weights={"train": 50, "test": 20})


def test_embedding_lsh_subset_of_bruteforce(spark, tables):
    """Sign-LSH pairs are a SUBSET of brute-force pairs at the same
    threshold with high recall on planted near-dups, verified cosines
    agree exactly, and the output is deterministic across runs (seeded
    hyperplanes). Runs the operator in its honest regime (cos >= 0.85
    near-duplicates): the raw synthetic embeddings are noise-like, so the
    corpus gets planted dups — a zero-masked-prefix copy of every 10th
    vector, same construction as the gate query."""
    import __spark_entry__ as entry_mod
    from indexlab_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_lsh_pairs,
    )

    corpus = entry_mod._lsh_planted_corpus(tables["embeddings"])
    brute = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_dup_pairs(corpus, threshold=0.85).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_lsh_pairs(corpus, threshold=0.85).collect()
    }
    assert lsh  # finds something
    assert set(lsh) <= set(brute)
    assert len(lsh) >= 0.9 * len(brute)  # multiprobe recall on near-dups
    for k, cos in lsh.items():
        assert cos == brute[k]
    lsh2 = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_lsh_pairs(corpus, threshold=0.85).collect()
    }
    assert lsh == lsh2


def test_heavy_hitters_equals_exact(spark, tables):
    """Misra-Gries + verify must equal the exact full-vocabulary
    GROUP BY ... HAVING — the superset guarantee makes the sketch
    lossless after verification."""
    from pyspark.sql import functions as F

    from indexlab_spark.operators.textstats import heavy_hitters, tokens

    docs = tables["documents"]
    for phi in (0.002, 0.01):
        got = {
            (r["term"], r["freq"])
            for r in heavy_hitters(docs, phi=phi).collect()
        }
        tok = docs.select(F.explode(tokens("text")).alias("term"))
        n = tok.count()
        import math

        thresh = math.floor(n * phi) + 1
        exact = {
            (r["term"], r["freq"])
            for r in tok.groupBy("term")
            .agg(F.count(F.lit(1)).alias("freq"))
            .filter(F.col("freq") >= thresh)
            .collect()
        }
        assert got == exact, f"phi={phi}: sketch+verify != exact"
        assert exact, f"phi={phi}: degenerate test (no heavy hitters)"


def test_heavy_hitters_property_random_streams(spark):
    """Hypothesis: on arbitrary skewed token streams, sketch+verify ==
    exact GROUP BY ... HAVING for arbitrary phi — the lossless-after-
    verify guarantee doesn't depend on the corpus looking like the
    testdata."""
    import math

    from hypothesis import given, settings, strategies as st
    from pyspark.sql import functions as F

    from indexlab_spark.operators.textstats import heavy_hitters

    alphabet = [f"w{i}" for i in range(12)]

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from(alphabet), min_size=1, max_size=40),
            min_size=3,
            max_size=25,
        ),
        st.sampled_from([0.05, 0.15, 0.4]),
    )
    def inner(doc_tokens, phi):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(doc_tokens)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["term"], r["freq"])
            for r in heavy_hitters(docs, phi=phi).collect()
        }
        flat = [t for toks in doc_tokens for t in toks]
        n = len(flat)
        thresh = math.floor(n * phi) + 1
        from collections import Counter

        exact = {
            (t, c) for t, c in Counter(flat).items() if c >= thresh
        }
        assert got == exact, f"phi={phi}: {got} != {exact}"

    inner()


def test_line_dedup_first_occurrence_rebuild(spark):
    """C4-style line dedup: repeated lines keep only the first (id, pos)
    occurrence; short lines always survive; docs that lose every line
    come back as '' (never dropped); empty docs pass through."""
    from indexlab_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [
            ("d1", "alpha\nbeta\nalpha\n\nshort"),
            ("d2", "beta\ngamma\n\nx"),
            ("d3", "alpha\nbeta"),
            ("d4", ""),
        ],
        "doc_id string, text string",
    )
    out = {
        r["id"]: r
        for r in line_dedup(df, min_chars=2).collect()
    }
    assert out["d1"]["clean_text"] == "alpha\nbeta\n\nshort"
    assert out["d1"]["n_lines"] == 5 and out["d1"]["n_removed"] == 1
    # d2's 'beta' duplicates d1's; 'x' is short -> always kept
    assert out["d2"]["clean_text"] == "gamma\n\nx"
    # every eligible line of d3 was seen earlier -> empty doc, still a row
    assert out["d3"]["clean_text"] == "" and out["d3"]["n_removed"] == 2
    assert out["d4"]["clean_text"] == "" and out["d4"]["n_lines"] == 1
    assert out["d4"]["n_removed"] == 0


def test_line_dedup_literal_delimiter(spark):
    """The delimiter is literal (regex metachars must not be interpreted)
    and the operator works at token granularity on newline-free text."""
    from indexlab_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [("a", "x.y.x.zz"), ("b", "zz.y")],
        "doc_id string, text string",
    )
    out = {r["id"]: r for r in line_dedup(df, delimiter=".", min_chars=1).collect()}
    assert out["a"]["clean_text"] == "x.y.zz"
    assert out["b"]["clean_text"] == ""


def test_compression_ratio_orders_repetitive_below_prose(spark):
    from indexlab_spark.operators.textstats import compression_ratio

    df = spark.createDataFrame(
        [
            ("rep", "spam " * 200),
            ("prose", "the quick brown fox jumps over the lazy dog and then "
                      "wanders through seventeen distinct meadow paths "
                      "counting unrepeated wildflower varieties carefully"),
            ("empty", ""),
        ],
        "doc_id string, text string",
    )
    out = {r["id"]: r for r in compression_ratio(df).collect()}
    assert out["rep"]["zlib_ratio"] < out["prose"]["zlib_ratio"]
    assert out["empty"]["zlib_ratio"] == 1.0
    # deterministic across partitionings
    out2 = {r["id"]: r for r in compression_ratio(df.repartition(3)).collect()}
    assert {k: v["zlib_ratio"] for k, v in out.items()} == {
        k: v["zlib_ratio"] for k, v in out2.items()
    }


def test_normalize_text_catches_trivial_variants(spark):
    """NFKC + accent strip + lowercase + whitespace squeeze: curly
    quotes, NBSP, fullwidth chars, accents and case collapse so exact
    dedup catches the variants byte hashing misses."""
    from indexlab_spark.operators.dedup import exact_dedup
    from indexlab_spark.operators.textstats import normalize_text

    df = spark.createDataFrame(
        [
            ("a", "Café  Nap Time"),          # é, NBSP, double space
            ("b", "cafe nap time"),
            ("c", "ＣａｆＥ nap time"),  # fullwidth CAFE
            ("d", "entirely different text"),
        ],
        "doc_id string, text string",
    )
    norm = normalize_text(df)
    texts = {r["doc_id"]: r["text"] for r in norm.collect()}
    assert texts["a"] == texts["b"] == texts["c"] == "cafe nap time"
    groups = exact_dedup(norm, normalize=False)
    dup = [r for r in groups.collect() if r["cnt"] == 3]
    assert len(dup) == 1 and dup[0]["keep_id"] == "a"


def test_jaccard_prefix_equals_naive(docs, spark, tables):
    """Prefix filtering must be EXACT: identical pairs, intersections
    and jaccards to the naive shingle equi-join at several thresholds
    (including float-awkward ones like 0.2/0.3 that stress the ceil
    guard), on both the tiny fixture and the real documents table."""
    from indexlab_spark.operators.dedup import jaccard_join_prefix, jaccard_pairs

    def pairs(df_):
        return {
            (r["id_a"], r["id_b"], r["inter"], r["jaccard"])
            for r in df_.collect()
        }

    for t in (0.2, 0.3, 0.5, 0.7):
        naive = pairs(jaccard_pairs(docs, threshold=t))
        fast = pairs(jaccard_join_prefix(docs, threshold=t))
        assert fast == naive, f"fixture threshold {t}"
    real = tables["documents"]
    naive = pairs(jaccard_pairs(real, threshold=0.3))
    fast = pairs(jaccard_join_prefix(real, threshold=0.3))
    assert fast == naive and len(naive) > 0


def test_pagerank_matches_numpy_power_iteration(spark):
    """Spark PageRank == dense numpy reference on a graph with a hub,
    a chain and a dangling node; ranks sum to 1; hub ranks highest."""
    import numpy as np

    from indexlab_spark.operators.dedup import pagerank

    #   0 -- 1, 0 -- 2, 0 -- 3 (star, undirected)   4 isolated/dangling
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    # L1 delta contracts by ~damping per iteration (0.85^k): 1e-6
    # needs ~90 rounds and bounds the rank error by delta/(1-d) ~ 7e-6
    got = {
        r["id"]: r["rank"]
        for r in pagerank(edges, nodes, tol=1e-6, max_iter=120).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert got[0] == max(got.values())
    assert abs(got[1] - got[2]) < 1e-6 and abs(got[2] - got[3]) < 1e-6

    # dense reference: column-stochastic with uniform dangling fix
    d, n = 0.85, 5
    A = np.zeros((n, n))
    for a, b in [(0, 1), (0, 2), (0, 3)]:
        A[b, a] = 1
        A[a, b] = 1
    colsum = A.sum(0)
    M = np.divide(A, colsum, out=np.zeros_like(A), where=colsum > 0)
    r = np.full(n, 1 / n)
    for _ in range(500):
        dangling = r[colsum == 0].sum()
        r = (1 - d) / n + d * (M @ r + dangling / n)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-4, (i, got[i], r[i])


def test_line_dedup_idempotent(spark, tables):
    """Running line_dedup on its own output changes nothing — every
    surviving line is already globally unique (or short-exempt)."""
    from indexlab_spark.operators.dedup import line_dedup

    docs = tables["documents"]
    once = line_dedup(docs, delimiter=" ", min_chars=4)
    twice = line_dedup(
        once.select(F.col("id").alias("doc_id"), F.col("clean_text").alias("text")),
        delimiter=" ", min_chars=4,
    )
    assert twice.filter(F.col("n_removed") > 0).count() == 0
    a = {r["id"]: r["clean_text"] for r in once.collect()}
    b = {r["id"]: r["clean_text"] for r in twice.collect()}
    assert a == b


def test_pagerank_bad_max_iter_raises_cleanly(spark):
    from indexlab_spark.operators.dedup import pagerank

    edges = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    with pytest.raises(ValueError, match="max_iter"):
        pagerank(edges, nodes, max_iter=0)


def test_jaccard_prefix_property_random_corpora(spark):
    """Hypothesis sweep: prefix filtering equals the naive join on
    random small corpora — short docs (below the shingle width), exact
    duplicates, disjoint and heavily-overlapping token sets, random
    thresholds. Guards the prefix theorem's edge cases (prefix length
    clamps, size-bound boundaries) beyond the fixed fixtures."""
    import random

    from indexlab_spark.operators.dedup import jaccard_join_prefix, jaccard_pairs

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(5):
        docs = []
        for i in range(rng.randint(4, 14)):
            k = rng.randint(0, 12)
            docs.append((i, " ".join(rng.choices(vocab, k=k))))
        if trial % 2 == 0 and len(docs) >= 2:
            docs[1] = (1, docs[0][1])  # plant an exact duplicate
        df = spark.createDataFrame(docs, "doc_id long, text string")
        t = rng.choice([0.15, 0.34, 0.5, 0.77])
        naive = {
            (r["id_a"], r["id_b"], r["inter"], r["jaccard"])
            for r in jaccard_pairs(df, threshold=t).collect()
        }
        fast = {
            (r["id_a"], r["id_b"], r["inter"], r["jaccard"])
            for r in jaccard_join_prefix(df, threshold=t).collect()
        }
        assert fast == naive, f"trial {trial} threshold {t}"


def test_interpolated_lm_logprob_orders_and_drops(spark):
    """Trigram interpolated LM: a doc made of the corpus's dominant
    trigram scores higher than a doc of hapax trigrams; docs with <3
    tokens drop out; the score is a finite negative logprob."""
    from indexlab_spark.operators.textstats import interpolated_lm_logprob

    rows = (
        [(i, "the quick brown fox jumps") for i in range(10)]
        + [(100, "zx qv wk pj mn")]  # all-hapax trigrams
        + [(101, "too short")]       # 2 tokens -> no trigrams
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in interpolated_lm_logprob(df).collect()}
    assert 101 not in out
    assert out[0]["n_trigrams"] == 3
    assert out[0]["avg_logprob"] > out[100]["avg_logprob"]
    assert out[100]["avg_logprob"] < 0


def test_pagerank_restores_aqe_conf(spark, monkeypatch):
    """The five driver-side loops (connected_components, pagerank,
    label_propagation, hits_scores and train_bpe's distributed rounds)
    pause AQE through session._loop_aqe and restore the prior setting
    afterwards, including when they exit through an error. The pause
    rule itself: off below 1M nodes, on at or above it, off without a
    node count."""
    import pytest as _pytest

    from indexlab_spark.operators import bpe
    from indexlab_spark.operators.dedup import (
        connected_components,
        hits_scores,
        label_propagation,
        pagerank,
    )
    from indexlab_spark.session import _loop_aqe

    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    edges = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(3)], "id long")

    def restored(run, error=None):
        if error is None:
            run().count()
        else:
            with _pytest.raises(error):
                run()
        assert spark.conf.get(key) == prior

    restored(lambda: pagerank(edges, nodes, tol=1e-2, max_iter=60))
    restored(lambda: pagerank(edges, nodes, tol=1e-12, max_iter=1), RuntimeError)
    restored(lambda: connected_components(edges, nodes))
    # the path 0-1-2 needs two rounds to converge
    restored(lambda: connected_components(edges, nodes, max_iter=1), RuntimeError)
    restored(lambda: label_propagation(edges, nodes, max_iter=3))
    restored(lambda: hits_scores(edges, iters=2))
    restored(lambda: hits_scores(edges, iters=0), ValueError)

    monkeypatch.setattr(bpe, "_DRIVER_VOCAB_MAX", 0)  # the distributed loop
    docs = spark.createDataFrame(
        [(0, "aa ab"), (1, "aa ba")], "doc_id long, text string"
    )
    assert bpe.train_bpe(docs, n_merges=2)
    assert spark.conf.get(key) == prior

    def failing_merge(left, right):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(bpe, "_make_merge", failing_merge)
    restored(lambda: bpe.train_bpe(docs, n_merges=2), RuntimeError)

    spark.conf.set(key, "false")
    try:
        with _loop_aqe(spark, 999_999):
            assert spark.conf.get(key) == "false"
        with _loop_aqe(spark, 1_000_000):
            assert spark.conf.get(key) == "true"
        assert spark.conf.get(key) == "false"
        spark.conf.set(key, "true")
        with _loop_aqe(spark):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, prior)


def test_train_bpe_matches_pure_python_reference(spark, tables):
    """Distributed BPE training == the driver-only Sennrich reference on
    the same word counts: identical merge list (order, pairs, counts) —
    same tie-break, same stop rule. apply_bpe with the learned merges
    compresses real text (tokens_per_word < characters_per_word) and is
    deterministic."""
    from pyspark.sql import functions as FN

    from indexlab_spark.operators.bpe import (
        _word_vocab,
        apply_bpe,
        train_bpe,
        train_bpe_reference,
    )

    docs = tables["documents"].limit(300)
    merges = train_bpe(docs, n_merges=10)
    wf = {r["word"]: r["freq"] for r in _word_vocab(docs, "text").collect()}
    assert merges == train_bpe_reference(wf, 10)
    assert len(merges) == 10
    # counts are non-increasing? No — merges change pair counts; but
    # every merge must meet the min_pair_count bar
    assert all(n >= 2 for _, _, n in merges)

    out = apply_bpe(docs.limit(40), merges)
    rows = out.collect()
    assert len(rows) == 40
    for r in rows:
        assert r["n_tokens"] > 0 and r["n_words"] > 0
        # with </w> markers, tokens per word <= chars + 1; merges pull it
        # strictly below for natural text
        assert r["tokens_per_word"] < 12
    again = {r["id"]: r["n_tokens"] for r in apply_bpe(docs.limit(40), merges).collect()}
    assert again == {r["id"]: r["n_tokens"] for r in rows}


def test_train_bpe_stop_rule_and_aqe_restore(spark):
    """Training stops early when the best pair drops under
    min_pair_count; AQE is restored after the loop."""
    from indexlab_spark.operators.bpe import train_bpe, train_bpe_reference

    prior = spark.conf.get("spark.sql.adaptive.enabled")
    docs = spark.createDataFrame(
        [(0, "aa ab"), (1, "aa ba")], "doc_id long, text string"
    )
    merges = train_bpe(docs, n_merges=50, min_pair_count=2)
    assert spark.conf.get("spark.sql.adaptive.enabled") == prior
    # exact parity incl. the count-2 ties ('a','</w>') vs ('a','a') —
    # lexicographic tie-break, '<' sorts before 'a'
    ref = train_bpe_reference({"aa": 2, "ab": 1, "ba": 1}, 50)
    assert merges == ref
    assert merges[0] == ("a", "</w>", 3)  # aa x2 + ba
    assert 0 < len(merges) < 50  # stop rule fired well before 50


def test_exact_dedup_incremental_matches_batch_rebuild(spark, tables):
    """Incremental classification vs the persisted hash index: the
    refreshed state (old index + unique new rows) equals a full-batch
    exact_dedup over old ∪ new, and every status/dup_of is consistent
    with the batch groups."""
    from indexlab_spark.operators.dedup import (
        exact_dedup,
        exact_dedup_incremental,
    )

    docs = tables["documents"]
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    old_index = exact_dedup(old).select("text_md5", "keep_id")
    inc = exact_dedup_incremental(new, old_index)
    rows = inc.collect()
    assert len(rows) == new.count()

    # refreshed state = old index + the unique rows
    refreshed = {r["text_md5"]: r["keep_id"] for r in old_index.collect()}
    for r in rows:
        if r["status"] == "unique":
            assert r["dup_of"] is None
            refreshed[r["text_md5"]] = r["id"]
    full = {
        r["text_md5"]: r["keep_id"]
        for r in exact_dedup(docs).select("text_md5", "keep_id").collect()
    }
    # keep_id semantics differ only where a NEW doc has a smaller id
    # than the old group's keeper — the incremental contract keeps the
    # OLD keeper (state is additive, survivors are stable); assert the
    # hash SETS agree and keepers match where the old index had none
    assert set(refreshed) == set(full)
    for h, k in full.items():
        assert refreshed[h] == k or refreshed[h] > k

    # status consistency vs batch groups
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], []).append(r)
    for r in by_status.get("dup_of_old", []):
        assert r["dup_of"] is not None
    for r in by_status.get("dup_of_new", []):
        assert r["dup_of"] < r["id"]


def label_propagation_reference(
    edge_list: list[tuple], node_ids: list, max_iter: int = 20
) -> dict:
    """Driver-only reference of label_propagation's synchronous min-tie
    rule (the test oracle)."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edge_list:
        adj[a].add(b)
        adj[b].add(a)
    lbl = {n: n for n in node_ids}
    for _ in range(max_iter):
        new = {}
        for n in node_ids:
            if not adj[n]:
                new[n] = lbl[n]
                continue
            counts = Counter(lbl[m] for m in adj[n])
            top = max(counts.values())
            new[n] = min(l for l, c in counts.items() if c == top)
        if new == lbl:
            break
        lbl = new
    return lbl


def test_label_propagation_matches_reference_and_finds_communities(spark):
    """Two dense cliques joined by one bridge edge: LPA converges to two
    communities (where connected_components sees ONE component); the
    distributed result equals the synchronous min-tie reference; AQE
    restored; isolated nodes keep their own label."""
    from indexlab_spark.operators.dedup import (
        connected_components,
        label_propagation,
    )

    c1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    bridge = [(4, 10)]
    edge_list = c1 + c2 + bridge
    node_ids = list(range(5)) + list(range(10, 15)) + [99]  # 99 isolated
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    got = {
        r["id"]: r["community"]
        for r in label_propagation(edges, nodes, max_iter=20).collect()
    }
    assert spark.conf.get("spark.sql.adaptive.enabled") == prior
    ref = label_propagation_reference(edge_list, node_ids, max_iter=20)
    assert got == ref
    # communities: both cliques uniform internally, different labels
    assert len({got[i] for i in range(5)}) == 1
    assert len({got[i] for i in range(10, 15)}) == 1
    assert got[0] != got[10]
    assert got[99] == 99
    # CC would merge the bridged cliques into one
    cc = connected_components(edges, nodes)
    comp = {r["id"]: r["cluster"] for r in cc.collect()}
    assert comp[0] == comp[10]


class TestUnigramJSD:
    """r8 VERDICT item 2: unigram_jsd was shipped untested — pin the
    smoothing/JSD arithmetic and the <ALL> summary row against a pure
    python reimplementation, plus the algebraic identities."""

    def _expected(self, a_texts, b_texts, lam=0.5):
        import math
        from collections import Counter

        ca = Counter(t for s in a_texts for t in s.lower().split())
        cb = Counter(t for s in b_texts for t in s.lower().split())
        vocab = sorted(set(ca) | set(cb))
        na, nb, v = sum(ca.values()), sum(cb.values()), len(vocab)
        rows = {}
        total = 0.0
        for term in vocab:
            p = (ca[term] + lam) / (na + lam * v)
            q = (cb[term] + lam) / (nb + lam * v)
            m = (p + q) / 2
            c = 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
            rows[term] = (ca[term], cb[term], round(c, 6))
            total += c
        return rows, na, nb, round(total, 6)

    def test_hand_computed_contributions_and_total(self, spark):
        from indexlab_spark.operators.textstats import unigram_jsd

        a_texts = ["red red blue fish", "blue fish swim"]
        b_texts = ["red cat", "cat cat sat sat sat"]
        a = spark.createDataFrame([(t,) for t in a_texts], "text string")
        b = spark.createDataFrame([(t,) for t in b_texts], "text string")
        got = {
            r["term"]: (r["c_a"], r["c_b"], r["contrib"])
            for r in unigram_jsd(a, b, top_n=100).collect()
        }
        rows, na, nb, total = self._expected(a_texts, b_texts)
        assert got.pop("<ALL>") == (na, nb, total)
        assert got == rows

    def test_identical_corpora_zero_divergence(self, spark):
        from indexlab_spark.operators.textstats import unigram_jsd

        a = spark.createDataFrame(
            [("alpha beta gamma",), ("beta beta delta",)], "text string"
        )
        out = unigram_jsd(a, a, top_n=100).collect()
        assert all(r["contrib"] == 0.0 for r in out)

    def test_symmetric(self, spark):
        from indexlab_spark.operators.textstats import unigram_jsd

        a = spark.createDataFrame([("x x y",), ("y z",)], "text string")
        b = spark.createDataFrame([("x q q",), ("z z z",)], "text string")
        ab = {
            r["term"]: r["contrib"]
            for r in unigram_jsd(a, b, top_n=100).collect()
        }
        ba = {
            r["term"]: r["contrib"]
            for r in unigram_jsd(b, a, top_n=100).collect()
        }
        assert ab == ba

    def test_rejects_nonpositive_smoothing(self, spark):
        import pytest as _pytest

        from indexlab_spark.operators.textstats import unigram_jsd

        a = spark.createDataFrame([("x",)], "text string")
        with _pytest.raises(ValueError, match="smoothing"):
            unigram_jsd(a, a, smoothing=0.0)


def test_bpe_oracle_sql_early_stop_matches_reference():
    """The r12 bpe_merges oracle (_bpe_sql) must freeze once the best
    pair drops under min_pair_count — the break branch the gate corpus
    never exercises (all 8 merges fire there). Runs the generated SQL
    in DuckDB on a tiny corpus where training stops after a few merges
    and compares per-doc token counts against the pure-python Sennrich
    reference + greedy application."""
    import sys

    import duckdb

    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod
    from indexlab_spark.operators.bpe import train_bpe_reference

    docs = [(0, "aa ab"), (1, "aa ba"), (2, "ab aa aa"), (3, "zz")]
    # python: word freqs -> merges (early stop) -> greedy apply
    wf: dict = {}
    for _, t in docs:
        for w in t.lower().split():
            wf[w] = wf.get(w, 0) + 1
    merges = train_bpe_reference(wf, 8)
    assert 0 < len(merges) < 8  # the stop rule fires on this corpus

    def word_tokens(w):
        syms = list(w) + ["</w>"]
        for left, right, _ in merges:
            res, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    res.append(left + right)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return len(syms)

    ref = {}
    for did, t in docs:
        words = t.lower().split()
        nt = sum(word_tokens(w) for w in words)
        ref[did] = (len(words), nt, round(nt / len(words), 6))

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", docs)
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(entry_mod._bpe_sql(n_merges=8)).fetchall()
    }
    assert got == ref


def test_wminhash_oracle_sql_matches_python_chain():
    """The r12 weighted_minhash oracle (_wminhash_sql) cross-engine on
    a synthetic corpus with planted boilerplate-repeat near-dups: the
    DuckDB replay (md5 -> HUGEINT draws -> ICWS argmin -> banding ->
    exact weighted-Jaccard verify) must equal the pure-python chain
    built from dedup.icws_signature — the exact regression net for the
    band-index class of bug this SQL shipped with (integer '/' is
    float division in DuckDB; '//' floors)."""
    import sys

    import duckdb

    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod
    from indexlab_spark.operators.dedup import icws_signature

    base = "the quick brown fox jumps over the lazy dog near the river"
    docs = [
        (0, base),
        (1, base + " today"),                      # near-dup of 0
        (2, ("spam offer " * 10).strip()),         # heavy multiplicity
        (3, ("spam offer " * 9).strip() + " now"),  # near-dup of 2 by tf
        (4, "completely different text about graph algorithms and sql"),
        (5, base),                                  # exact dup of 0
    ]
    threshold = 0.5
    num_hashes, bands = 32, 8

    # python chain
    sigs, tfs, sums = {}, {}, {}
    for did, t in docs:
        toks = [x for x in t.lower().split() if x]
        tf: dict = {}
        for x in toks:
            tf[x] = tf.get(x, 0) + 1
        tfs[did] = tf
        sums[did] = float(len(toks))
        sigs[did] = [f"{k}|{v}" for k, v in icws_signature(tf, num_hashes)]
    rpb = num_hashes // bands
    cand = set()
    ids = [d for d, _ in docs]
    for a in ids:
        for b in ids:
            if a >= b:
                continue
            for band in range(bands):
                ka = "#".join(sigs[a][band * rpb:(band + 1) * rpb])
                kb = "#".join(sigs[b][band * rpb:(band + 1) * rpb])
                if ka == kb:
                    cand.add((a, b))
                    break
    ref = {}
    for a, b in cand:
        summin = sum(
            min(tfs[a][k], tfs[b][k]) for k in tfs[a] if k in tfs[b]
        )
        wj = round(summin / (sums[a] + sums[b] - summin), 6)
        if wj >= threshold:
            ref[(a, b)] = wj
    assert (0, 5) in ref and ref[(0, 5)] == 1.0  # the planted exact dup
    assert (0, 1) in ref                          # the near-dup captured

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", docs)
    got = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            entry_mod._wminhash_sql(threshold=threshold)
        ).fetchall()
    }
    assert got == ref


def test_wminhash_blank_docs_match_oracle(spark):
    """NULL, empty and whitespace-only documents have no tokens, so
    they get no ICWS signature and pair with nothing — as in the DuckDB
    oracle (_wminhash_sql). Two NULL docs used to tokenize as the word
    "none" and come out as a false exact duplicate, and every empty doc
    was a candidate of every other."""
    import sys

    import duckdb

    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod
    from indexlab_spark.operators.dedup import wminhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog near the river"
    docs = [
        (0, base),
        (1, base + " today"),  # the planted near-dup of 0
        (2, None),
        (3, None),
        (4, ""),
        (5, ""),
        (6, "   "),
        (7, " \t\n "),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in wminhash_lsh_pairs(df, threshold=0.65).collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", docs)
    want = sorted(
        con.execute(entry_mod._wminhash_sql(threshold=0.65)).fetchall()
    )
    assert want and [(a, b) for a, b, _ in want] == [(0, 1)]
    assert got == want


def test_compression_quality_cross_engine_net(spark, sf_dir):
    """compression_quality is the registry's one PERMANENT rows-only
    entry: zlib is not SQL-expressible, so the driver can only
    row-count it. This net supplies the missing attestation the same
    way the wminhash/text-embed nets do — an independent NON-Spark
    replay of the full sf0.001 result (pyarrow parquet read + stdlib
    zlib on the driver) asserted cell-exact at 6dp, plus frozen
    literals pinned at first green run so a silent change to either
    engine (zlib level, UTF-8 handling, rounding) fails loudly.

    Quantization (ADVICE r14): the replay must round the way Spark's
    F.round does — BigDecimal.valueOf(double) (shortest decimal repr,
    i.e. Python repr()) then HALF_UP — NOT Python round(), whose
    half-even tie rule diverges on exact 6dp half boundaries, which
    are reachable here whenever a doc's byte length divides 2*10^6
    (e.g. the 128-byte frozen doc 0)."""
    import zlib
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    import __spark_entry__ as entry_mod

    got = {
        r["id"]: (r["n_chars"], r["zlib_ratio"])
        for r in entry_mod._q_compression_quality(spark, sf_dir).collect()
    }

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    assert len(got) == len(rows) == 500
    q6 = Decimal("0.000001")
    for doc_id, text in rows:
        raw = (text or "").encode("utf-8")
        ratio = 1.0 if not raw else len(zlib.compress(raw, 6)) / len(raw)
        want = float(Decimal(repr(ratio)).quantize(q6, rounding=ROUND_HALF_UP))
        assert got[doc_id] == (len(text or ""), want), doc_id

    # frozen at first verified-green run (sf0.001 docs 0-4):
    frozen = {
        0: (128, 0.703125),
        1: (441, 0.428571),
        2: (348, 0.485632),
        3: (280, 0.532143),
        4: (177, 0.632768),
    }
    for doc_id, want in frozen.items():
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
