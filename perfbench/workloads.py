"""The benchmark's workloads: fixed inputs, the timed operations of one
pass, and the checks of every timed output.

Each operation is (name, build, action): ``build()`` returns the engine's
result (a lazy DataFrame for search and registry rows) and ``action(result)``
forces all of it into pandas with collects on the driver. Operations whose
engine call is itself eager (index builds) have no separate build step.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from perfbench import checks, datagen

#: fixed inputs of each workload (the seed varies only the content)
SPEC = {
    "pipeline": {
        "docs": 1000,
        "delta_docs": 200,
        "chunk_size": 200,
        "chunk_overlap": 40,
        "nlist": 32,
        "nprobe": 4,
        "k": 5,
        "batch_queries": 50,
        "gold_questions": 50,
        "warmup_docs": 40,
        "min_passes": 1,
    },
    "registry": {
        "sf": 0.01,
        "rows": [
            "exact_dedup", "dedup_survival", "normalized_dedup", "cm_event_counts",
            "fd_orders", "asof_forward", "winsorize_prices",
        ],
        "warmup_passes": 1,
        "min_passes": 3,
    },
}


#: the engine's candidate pool for hybrid fusion: max(k, 50) per list
SEARCH_POOL = 50


class Op:
    def __init__(self, name, build, action, check=None):
        self.name, self.build, self.action, self.check = name, build, action, check


def _query_text(rng, chunk_text: str, lo: int, hi: int) -> str:
    words = chunk_text.split()
    n = int(rng.integers(lo, hi + 1))
    start = int(rng.integers(0, max(1, len(words) - n)))
    return " ".join(words[start : start + n])


# ------------------------------------------------------------------ pipeline
class Pipeline:
    """User-facing pipeline API: build_index (flat, IVF), append_to_index,
    one-query flat and hybrid search, batch hybrid and IVF search, and
    evaluate on a gold set (a batch flat search plus the metrics)."""

    name = "pipeline"

    def __init__(self, seed: int) -> None:
        s = self.spec = SPEC["pipeline"]
        rng = np.random.default_rng(seed)
        self.docs = datagen.documents(s["docs"], rng)[["doc_id", "text"]]
        self.delta = datagen.documents(s["delta_docs"], rng)[["doc_id", "text"]]
        self.delta["doc_id"] += s["docs"]
        self.warm_docs = datagen.documents(s["warmup_docs"], rng)[["doc_id", "text"]]
        size, ov = s["chunk_size"], s["chunk_overlap"]
        self.ref_base = checks.ref_chunks(self.docs["text"].tolist(), size, ov)
        self.ref_all = self.ref_base + checks.ref_chunks(
            self.delta["text"].tolist(), size, ov, first_doc_no=len(self.docs)
        )
        self.ref_base_vecs = checks.embed([t for _, _, t in self.ref_base])
        self.ref_all_vecs = np.vstack(
            [self.ref_base_vecs, checks.embed([t for _, _, t in self.ref_all[len(self.ref_base):]])]
        )
        picks = lambda n: [self.ref_base[i] for i in rng.integers(0, len(self.ref_base), size=n)]
        self.q_flat, self.q_hybrid = [_query_text(rng, c[2], 3, 6) for c in picks(2)]
        self.q_batch = [_query_text(rng, c[2], 3, 6) for c in picks(s["batch_queries"])]
        gold = picks(s["gold_questions"])
        self.gold = pd.DataFrame(
            {"question": [_query_text(rng, c[2], 6, 10) for c in gold],
             "expected_id": [f"{c[0]}#{c[1]}" for c in gold]}
        )

    # -- setup
    def prepare(self, spark, work: str) -> None:
        from indexlab_spark.sources.reader import read_any

        os.makedirs(work, exist_ok=True)
        os.environ["INDEXLAB_WAREHOUSE"] = os.path.join(work, "warehouse")
        self.src = os.path.join(work, "docs.parquet")
        self.delta_src = os.path.join(work, "delta.parquet")
        self.warm_src = os.path.join(work, "warm.parquet")
        datagen.write_parquet(self.docs, self.src)
        datagen.write_parquet(self.delta, self.delta_src)
        datagen.write_parquet(self.warm_docs, self.warm_src)
        for path in (self.src, self.delta_src):
            read_any(spark, path).write.format("noop").mode("overwrite").save()

    def warmup(self, spark) -> None:
        """One untimed pass over a small corpus: Python worker start-up and
        the first compilation of every operation's plans stay out of the
        timed passes."""
        for op in self.ops(spark, -1, self.warm_src, self.warm_src):
            op.action(op.build() if op.build else None)

    def before_pass(self, spark) -> None:
        pass

    # -- one pass
    def ops(self, spark, p: int, src: str | None = None, delta_src: str | None = None) -> list[Op]:
        from indexlab_spark import pipeline as P
        from indexlab_spark.config import IngestConfig

        s, src, delta_src = self.spec, src or self.src, delta_src or self.delta_src
        flat, ivf = f"flat_p{p}", f"ivf_p{p}"
        common = dict(text_column="text", chunk_size=s["chunk_size"], chunk_overlap=s["chunk_overlap"])
        collect = lambda df: df.toPandas()
        batch = spark.createDataFrame(list(enumerate(self.q_batch)), "query_id long, query string")
        return [
            Op("build_flat", None,
               lambda _: P.build_index(spark, src, IngestConfig(index_name=flat, **common), version="v1"),
               lambda out: self._check_build(flat, "v1", out, self.ref_base, self.ref_base_vecs)),
            Op("build_ivf", None,
               lambda _: P.build_index(spark, src, IngestConfig(index_name=ivf, backend="ivf", nlist=s["nlist"], nprobe=s["nprobe"], **common), version="v1"),
               lambda out: self._check_build(ivf, "v1", out, self.ref_base, self.ref_base_vecs, ivf=True)),
            Op("append", None,
               lambda _: P.append_to_index(spark, delta_src, flat, version="v2"),
               lambda out: self._check_build(flat, "v2", out, self.ref_all, self.ref_all_vecs)),
            Op("search_1q", lambda: P.search(spark, flat, self.q_flat, k=s["k"]), collect,
               lambda out: self._check_search(out, [self.q_flat], hybrid=False)),
            Op("hybrid_1q", lambda: P.search(spark, flat, self.q_hybrid, k=s["k"], hybrid=True), collect,
               lambda out: self._check_search(out, [self.q_hybrid], hybrid=True)),
            Op("hybrid_batch", lambda: P.search(spark, flat, batch, k=s["k"], hybrid=True), collect,
               lambda out: self._check_search(out, self.q_batch, hybrid=True)),
            Op("ivf_batch", lambda: P.search(spark, ivf, batch, k=s["k"]), collect,
               lambda out: self._check_ivf(ivf, out, self.q_batch)),
            Op("evaluate", lambda: P.evaluate(spark, flat, spark.createDataFrame(self.gold), k=s["k"]),
               lambda res: (res[0].toPandas(), res[1].toPandas()), self._check_eval),
        ]

    # -- checks (read the written tables with pyarrow, never through Spark)
    def _chunks(self, name: str, version: str) -> pd.DataFrame:
        wh = os.environ["INDEXLAB_WAREHOUSE"]
        return pd.read_parquet(os.path.join(wh, "chunks", f"index_name={name}", f"version={version}"))

    def _centroids(self, name: str) -> pd.DataFrame:
        cents = pd.read_parquet(os.path.join(os.environ["INDEXLAB_WAREHOUSE"], "centroids"))
        return cents[(cents["index_name"] == name) & (cents["version"] == "v1")]

    def _check_build(self, name, version, manifest, ref, ref_vecs, ivf=False) -> list[str]:
        rows = self._chunks(name, version)
        errs = checks.check_chunk_table(rows, ref, ref_vecs, f"{name}/{version}")
        if int(manifest["count"]) != len(ref):
            errs.append(f"{name}/{version}: manifest count {manifest['count']} != {len(ref)}")
        if ivf and not errs:
            cents = self._centroids(name)
            rows = rows.sort_values("chunk_pos")
            errs += checks.check_cells(
                np.array(rows["embedding"].tolist()), rows["cluster_id"].to_numpy(),
                np.array(cents["centroid"].tolist()), cents["cluster_id"].to_numpy(), name)
        return errs

    def _ref_corpus(self):
        return [f"{d}#{c}" for d, c, _ in self.ref_all], [t for _, _, t in self.ref_all]

    @staticmethod
    def _ranked_rows(out: pd.DataFrame, qi: int) -> tuple[list[tuple], list[tuple]]:
        """(doc_id, vector_score) and (doc_id, preview) in rank order."""
        got = out[out["query_id"] == qi].sort_values("rank")
        return list(zip(got["doc_id"], got["vector_score"])), list(zip(got["doc_id"], got["preview"]))

    def _check_search(self, out: pd.DataFrame, queries: list[str], hybrid: bool) -> list[str]:
        ids, texts = self._ref_corpus()
        text_by_id = dict(zip(ids, texts))
        errs = []
        for qi, (q, qv) in enumerate(zip(queries, checks.embed(queries))):
            got, previews = self._ranked_rows(out, qi)
            if hybrid:
                errs += checks.check_hybrid(got, ids, texts, self.ref_all_vecs, q, qv, self.spec["k"], SEARCH_POOL, f"hybrid q{qi}")
            else:
                errs += checks.check_vector(got, ids, self.ref_all_vecs, qv, self.spec["k"], f"vector q{qi}")
            errs += checks.check_previews(previews, text_by_id, what=f"q{qi}")
        return errs

    def _check_ivf(self, name: str, out: pd.DataFrame, queries: list[str]) -> list[str]:
        rows = self._chunks(name, "v1")
        cents = self._centroids(name)
        ids = rows["doc_id"].tolist()
        text_by_id = dict(zip(ids, rows["text"]))
        args = (ids, np.array(rows["embedding"].tolist()), rows["cluster_id"].to_numpy(),
                np.array(cents["centroid"].tolist()), cents["cluster_id"].to_numpy())
        errs = []
        for qi, qv in enumerate(checks.embed(queries)):
            got, previews = self._ranked_rows(out, qi)
            errs += checks.check_ivf(got, *args, qv, self.spec["k"], self.spec["nprobe"], f"ivf q{qi}")
            errs += checks.check_previews(previews, text_by_id, what=f"ivf q{qi}")
        return errs

    def _check_eval(self, out) -> list[str]:
        results, metrics = out
        ids, _ = self._ref_corpus()
        qvecs = checks.embed(self.gold["question"].tolist())
        ref = [dict(zip(ids, checks.ip_scores(self.ref_all_vecs, qv).tolist())) for qv in qvecs]
        return checks.check_eval(results, metrics.iloc[0].to_dict(), ref, self.gold["expected_id"].tolist(), self.spec["k"], "evaluate")


# ------------------------------------------------------------------ registry
class Registry:
    """A fixed slice of the ``__spark_entry__.queries()`` registry over
    seeded tables, each output checked against its DuckDB oracle."""

    name = "registry"

    def __init__(self, seed: int) -> None:
        self.spec = SPEC["registry"]
        self.tables = datagen.tables(self.spec["sf"], np.random.default_rng(seed))
        self.oracle: dict[str, list] = {}

    def prepare(self, spark, work: str) -> None:
        from indexlab_spark.session import load_tables

        os.environ["INDEXLAB_WAREHOUSE"] = os.path.join(work, "warehouse")
        self.data = os.path.join(work, "data")
        datagen.write_tables(self.tables, self.data)
        for df in load_tables(spark, self.data, tuple(self.tables)).values():
            df.write.format("noop").mode("overwrite").save()

    def warmup(self, spark) -> None:
        """Untimed passes: the first compiles every row's plans and starts
        the Python workers."""
        for _ in range(self.spec["warmup_passes"]):
            self.before_pass(spark)
            for op in self.ops(spark, -1):
                op.action(op.build())

    def before_pass(self, spark) -> None:
        from indexlab_spark.functions.cache import reset_pins

        reset_pins(spark)

    def ops(self, spark, p: int) -> list[Op]:
        import __spark_entry__ as entry

        qs = entry.queries()
        return [
            Op(name, lambda fn=qs[name]: fn(spark, self.data), lambda df: df.toPandas(),
               lambda out, name=name: self._check(name, out))
            for name in self.spec["rows"]
        ]

    def _check(self, name: str, out: pd.DataFrame) -> list[str]:
        canon = _driver_sim().canon
        if name not in self.oracle:
            import duckdb

            import __spark_entry__ as entry

            con = duckdb.connect()
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
            self.oracle[name] = canon(con.execute(entry.oracle_sql()[name]).fetchdf())
            con.close()
        want_rows, want_cols = self.oracle[name]
        got_rows, got_cols = canon(out)
        if got_cols != want_cols:
            return [f"{name}: columns {got_cols} != {want_cols}"]
        return checks.check_rows(got_rows, want_rows, name)


def _driver_sim():
    """tools/driver_sim.py, imported by path (its canon is the gate's rule)."""
    import importlib.util
    import sys

    mod = sys.modules.get("driver_sim")
    if mod is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location("driver_sim", os.path.join(root, "tools", "driver_sim.py"))
        mod = importlib.util.module_from_spec(spec)
        sys.modules["driver_sim"] = mod
        spec.loader.exec_module(mod)
    return mod


WORKLOADS = {"pipeline": Pipeline, "registry": Registry}
