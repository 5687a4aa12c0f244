"""Edge-case robustness: empty inputs, missing indexes, null handling."""

import pytest
from pyspark.sql import functions as F


def test_knn_matmul_empty_queries(spark, tables):
    from indexlab_spark.operators.knn import knn_matmul

    emb = tables["embeddings"]
    corpus = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    empty_q = corpus.filter("doc_id < 0").select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = knn_matmul(spark, empty_q, corpus, 5)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "doc_id", "score", "rank"}


def test_eval_empty_gold(spark):
    from indexlab_spark.operators.evaluate import eval_metrics, eval_results

    gold = spark.createDataFrame([], "query_id long, expected_id string")
    hits = spark.createDataFrame([], "query_id long, doc_id string, rank int")
    m = eval_metrics(eval_results(gold, hits, 5)).collect()[0]
    assert m["total"] == 0
    # reference: zero-division guarded -> 0.0 (eval_api.py:263-265)
    assert m["recall_at_k"] is None or m["recall_at_k"] == 0.0


def test_load_missing_index_raises(spark, tmp_path):
    from indexlab_spark.config import EngineConfig, IngestConfig
    from indexlab_spark.pipeline import build_index, load_index

    eng = EngineConfig(warehouse_dir=str(tmp_path / "wh"))
    docs = spark.createDataFrame([(0, "hello world")], "doc_no long, text string")
    build_index(spark, docs, IngestConfig(index_name="exists"), eng,
                version="20260101-000000")
    with pytest.raises(FileNotFoundError):
        load_index(spark, "missing", eng)
    with pytest.raises(FileNotFoundError):
        load_index(spark, "exists", eng, version="20991231-000000")


def test_concat_row_null_parity(spark):
    """P2: pandas str(NaN) == 'nan' is kept (non-blank) — parity."""
    from indexlab_spark.functions.text import concat_row

    df = spark.createDataFrame(
        [("a", None, 1.5), (None, "b", None)],
        "x string, y string, z double",
    )
    got = [r[0] for r in df.select(concat_row(["x", "y", "z"])).collect()]
    assert got == ["a | nan | 1.5", "nan | b | nan"]


def test_normalize_df_cleans_names_and_drops_all_null(spark):
    from indexlab_spark.functions.text import normalize_df

    df = spark.createDataFrame(
        [(1, "a"), (None, None), (2, "b")],
        ["  col one\n", "col2  "],
    )
    out = normalize_df(df)
    assert out.columns == ["col one", "col2"]
    assert out.count() == 2  # all-null row dropped (partial nulls kept)


def test_bm25_empty_query(spark):
    from indexlab_spark.operators.bm25 import bm25_search

    docs = spark.createDataFrame([(0, "some text")], "doc_id long, text string")
    queries = spark.createDataFrame([(0, "   ")], "query_id long, query string")
    assert bm25_search(docs, queries, k=5).count() == 0


def test_search_pool_cushion(spark, tmp_path):
    """K8: more than k candidates fetched internally, k returned."""
    from indexlab_spark.config import EngineConfig, IngestConfig
    from indexlab_spark.pipeline import build_index, search

    eng = EngineConfig(warehouse_dir=str(tmp_path / "wh2"))
    docs = spark.createDataFrame(
        [(i, f"text number {i} alpha beta") for i in range(60)],
        "doc_no long, text string",
    )
    build_index(spark, docs, IngestConfig(index_name="pool"), eng,
                version="20260101-000000")
    hits = search(spark, "pool", "alpha text", k=3, engine=eng).collect()
    assert len(hits) == 3
    assert [h["rank"] for h in hits] == [1, 2, 3]


def test_schema_evolution_merge_read(spark, tmp_path):
    """Corpus partitions written at different pipeline versions (columns
    added over time) read back as one frame with mergeSchema — old rows
    surface NULL for later-added columns; no rewrite of old data."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(0, "alpha")], ["doc_id", "text"])
    v1.write.parquet(base + "/batch=v1")
    v2 = spark.createDataFrame(
        [(1, "beta", "en")], ["doc_id", "text", "lang"]
    )
    v2.write.parquet(base + "/batch=v2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"doc_id", "text", "lang", "batch"}
    rows = {r["doc_id"]: (r["text"], r["lang"]) for r in merged.collect()}
    assert rows == {0: ("alpha", None), 1: ("beta", "en")}
    # later-version operators run over the union (null-tolerant)
    n = merged.filter(F.col("lang").isNull()).count()
    assert n == 1


def test_goldset_python_datasource(spark, tmp_path):
    """Custom Python DataSource (Spark 4 API): partitioned executor-side
    gold-set scan == the driver-side load_gold loader on the same bytes,
    with one input partition per file."""
    import json

    d = tmp_path / "gold"
    d.mkdir()
    rows1 = [
        {"Question": "  what is spark? ", "Expected_ID": "doc-1 "},
        {"question": "", "expected_id": "dropped"},
    ]
    rows2 = [
        {"question": "what is an rdd?", "EXPECTED_ID": "doc-2"},
        {"question": "kept?", "expected_id": ""},
    ]
    for i, rows in enumerate([rows1, rows2]):
        (d / f"part{i}.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    from indexlab_spark.sources.goldset_source import register

    register(spark)
    df = spark.read.format("goldset").load(str(d))
    got = {tuple(r) for r in df.collect()}
    assert got == {("what is spark?", "doc-1"), ("what is an rdd?", "doc-2")}
    assert df.rdd.getNumPartitions() == 2  # one partition per file


def test_driver_window_is_all_oracle_backed():
    """The driver's correctness harness verifies the FIRST 50 registry
    entries; a rows-only entry slipping into that window would silently
    shrink external verification. Pin the invariant."""
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    first50 = list(q)[:50]
    missing = [k for k in first50 if k not in o]
    assert not missing, f"rows-only entries inside the driver window: {missing}"
    # every oracle key maps to a registered query
    orphans = [k for k in o if k not in q]
    assert not orphans, f"oracle_sql keys without queries(): {orphans}"


def test_stage_stream_dir(tmp_path):
    """Single parquet FILES get a one-file symlink dir (file stream
    sources need a directory); directories pass through unchanged."""
    import os

    from indexlab_spark.streaming.events import stage_stream_dir

    d = tmp_path / "already_a_dir"
    d.mkdir()
    assert stage_stream_dir(str(d)) == str(d)

    f = tmp_path / "events.parquet"
    f.write_bytes(b"PAR1")
    staged = stage_stream_dir(str(f))
    assert os.path.isdir(staged)
    entries = os.listdir(staged)
    assert entries == ["events.parquet"], "exactly the staged file"
    assert os.path.realpath(os.path.join(staged, entries[0])) == str(f)
    # idempotent: second call reuses the same staging dir
    assert stage_stream_dir(str(f)) == staged


def test_ivf_pruned_empty_queries(spark, tables, tmp_path):
    """ivf_search_pruned on an empty query frame returns an empty,
    correctly-typed result — not a numpy shape error (the guard its
    sibling paths knn_matmul/pq_search already had)."""
    from indexlab_spark.operators.knn import (
        build_ivf, ivf_search_pruned, write_ivf_partitioned,
    )

    emb = tables["embeddings"].select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    assigned, centroids = build_ivf(emb, nlist=4, seed=42)
    path = str(tmp_path / "ivf_empty")
    write_ivf_partitioned(assigned, path)
    empty_q = emb.filter(F.lit(False)).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = ivf_search_pruned(spark, empty_q, path, centroids, 5, nprobe=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "doc_id", "score", "rank"]


def test_asof_null_timestamps_and_ties(spark):
    """NULL right timestamps are excluded (not universal matches), and
    tie_col makes (key, t) ties deterministic."""
    from indexlab_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame(
        [(1, None, 99), (1, 5, 1), (1, 5, 2)], "k long, t long, v long"
    )
    out = asof_join(left, right, on="t", by="k", tie_col="v").collect()
    assert len(out) == 1
    # NULL-t right row must not win; tie at t=5 resolves to max v
    assert out[0]["v_asof"] == 2

    no_match = spark.createDataFrame([(1, 3)], "k long, t long")
    right2 = spark.createDataFrame([(1, None, 99)], "k long, t long, v long")
    out2 = asof_join(no_match, right2, on="t", by="k").collect()
    assert out2[0]["v_asof"] is None, "NULL-t row must never match"


def test_lsh_parameter_guards(spark, tables):
    from indexlab_spark.operators.dedup import (
        embedding_lsh_pairs, minhash_incremental_pairs, minhash_lsh_pairs,
        simhash, simhash_pairs, wminhash_lsh_pairs,
    )

    docs = tables["documents"]
    emb = tables["embeddings"]
    # rows=0 (a constant band key: every pair a candidate) and a split
    # whose remainder no band reads are refused before any job runs
    for num_hashes, bands in [(16, 32), (16, 5)]:
        with pytest.raises(ValueError, match="multiple of"):
            minhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands)
        with pytest.raises(ValueError, match="multiple of"):
            minhash_incremental_pairs(
                docs, docs, num_hashes=num_hashes, bands=bands
            )
    for num_hashes, bands in [(4, 8), (32, 5)]:
        with pytest.raises(ValueError, match="multiple of"):
            wminhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands)
    for n_planes, bands in [(4, 8), (10, 4)]:
        with pytest.raises(ValueError, match="multiple of"):
            embedding_lsh_pairs(emb, n_planes=n_planes, bands=bands)
    sh = simhash(docs.limit(10))
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(sh, max_hamming=4, nbands=4)
    with pytest.raises(ValueError, match="evenly"):
        simhash_pairs(sh, bits=62, nbands=4)


def test_connected_components_nonconvergence_raises(spark):
    from indexlab_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    # diameter 6 > max_iter 2 -> loud failure, not silent split labels
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, nodes, max_iter=2)
    ok = connected_components(chain, nodes, max_iter=10)
    assert {r["cluster"] for r in ok.collect()} == {0}


def test_decontaminate_keep_clean(spark, tables):
    from indexlab_spark.operators.curation import decontaminate

    docs = tables["documents"]
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    full = decontaminate(train, bench, n=5, keep_clean=True)
    assert full.count() == train.count()
    clean = full.filter(~F.col("contaminated"))
    dirty = full.filter(F.col("contaminated"))
    assert clean.count() + dirty.count() == train.count()
    assert clean.filter(F.col("n_overlap") != 0).count() == 0
    # default output == the contaminated subset
    assert decontaminate(train, bench, n=5).count() == dirty.count()


def test_temperature_resample_null_group_kept(spark):
    from indexlab_spark.operators.curation import temperature_resample

    rows = [(i, None if i % 4 == 0 else f"l{i % 3}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_resample(df, budget_frac=0.9)
    n_null = kept.filter(F.col("lang").isNull()).count()
    assert n_null > 0, "NULL-group rows must participate, not vanish"


def test_compare_summary_all_null_deltas_zero(spark):
    from indexlab_spark.operators.evaluate import compare_summary

    df = spark.createDataFrame(
        [(1, None), (2, None)], "query_id long, delta int"
    )
    row = compare_summary(df).collect()[0]
    assert (row["regressions"], row["improvements"], row["changed"]) == (0, 0, 0)


def test_round6_operators_empty_input_edges(spark):
    """Empty-input behavior of the round-6 operators: clean errors for
    missing index state, total functions where a zero default is
    well-defined."""
    import pytest as _pytest

    from indexlab_spark.operators.analytics import psi_drift
    from indexlab_spark.operators.knn import ivf_append, pq_append, sq8_append
    from indexlab_spark.operators.maintenance import zorder_key

    empty_vec = spark.createDataFrame(
        [], "doc_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="empty centroid"):
        ivf_append(
            empty_vec,
            spark.createDataFrame([], "cluster_id int, centroid array<double>"),
        )
    with _pytest.raises(ValueError, match="empty codebook"):
        pq_append(
            empty_vec,
            spark.createDataFrame(
                [], "subspace int, code int, centroid array<double>"
            ),
        )
    with _pytest.raises(ValueError, match="empty params"):
        sq8_append(
            empty_vec,
            spark.createDataFrame([], "dim_idx int, vmin double, vmax double"),
        )
    with _pytest.raises(ValueError, match="no non-null values"):
        psi_drift(
            spark.createDataFrame([], "v double"),
            spark.createDataFrame([(1.0,)], "v double"),
            "v",
        )
    # empty frame: total, zval 0 everywhere (no crash in float(None))
    z = zorder_key(
        spark.createDataFrame([], "id long, x double, y double"), ["x", "y"]
    )
    assert z.count() == 0 and "zval" in z.columns
