"""Compare the generated tables with the engine's test tables.

    python3 perfbench/compare_data.py --reference <dir of test tables> \
        --sf 0.01 --seed 1 --out perfbench/results/data_vs_testdata.json

``--reference`` is a directory holding the test tables described in
TESTDATA.md (one parquet file per table) at scale ``--sf``. For each table
the script profiles both sides: row counts, per-column ranges, means,
distinct counts and top-value shares, per-key row counts of the foreign
keys (skew), and for ``documents`` the word and character counts, the
vocabulary, near-duplicate and exact-duplicate counts. With ``--timing``
it also runs the registry workload's rows on both sides in one Spark
session and reports each row's output size (and small outputs whole) and
median wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen  # noqa: E402

#: foreign keys whose per-key row counts show skew
FOREIGN_KEYS = {
    "orders": ["o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["user_id"],
}
TIMING_REPEATS = 4
#: outputs of at most this many rows are recorded whole
SMALL_OUTPUT = 10


def _column(s: pd.Series) -> dict:
    out = {"distinct": int(s.nunique())}
    if pd.api.types.is_numeric_dtype(s) or pd.api.types.is_datetime64_any_dtype(s):
        x = s.astype("int64") / 86_400e6 if pd.api.types.is_datetime64_any_dtype(s) else s.astype(float)
        out.update(min=float(x.min()), max=float(x.max()), mean=round(float(x.mean()), 4),
                   std=round(float(x.std()), 4))
    else:
        out["top_share"] = round(float(s.value_counts(normalize=True).iloc[0]), 4)
    return out


def _documents(d: pd.DataFrame) -> dict:
    words = d["text"].str.split()
    n_words = words.str.len()
    texts = set(d["text"])
    dup = d["text"].str.endswith(" dup")
    return {
        "words_mean": round(float(n_words.mean()), 2),
        "words_min_max": [int(n_words.min()), int(n_words.max())],
        "chars_mean": round(float(d["text"].str.len().mean()), 2),
        "chars_p50": float(d["text"].str.len().median()),
        "vocabulary": len({w for ws in words for w in ws}),
        "near_dup_docs": int(dup.sum()),
        "near_dup_with_base": int(sum(t[:-4] in texts for t in d["text"][dup])),
        "exact_dup_rows": int(d["text"].duplicated().sum()),
        "lang_shares": {k: round(v, 3) for k, v in d["lang"].value_counts(normalize=True).sort_index().items()},
    }


def profile(tables: dict[str, pd.DataFrame]) -> dict:
    out = {}
    for name, df in tables.items():
        p = {"rows": len(df), "columns": {c: _column(df[c]) for c in df.columns}}
        for key in FOREIGN_KEYS.get(name, []):
            counts = df[key].value_counts()
            p[f"{key}_rows_per_key"] = {"max": int(counts.max()), "mean": round(float(counts.mean()), 3),
                                        "keys_used": int(len(counts))}
        if name == "documents":
            p["text"] = _documents(df)
        out[name] = p
    return out


def timing(dirs: dict[str, str], work: str) -> dict:
    """Each registry row on each side: output rows, median wall seconds."""
    from perfbench import run, workloads

    run._environment(work)
    spark = run._session(work)
    try:
        import __spark_entry__ as entry
        from indexlab_spark.functions.cache import reset_pins

        qs = entry.queries()
        out = {}
        for name in workloads.SPEC["registry"]["rows"]:
            walls: dict[str, list[float]] = {side: [] for side in dirs}
            frames = {}
            # the sides alternate, so neither gains from running warmer;
            # the first round is warm-up
            for rep in range(TIMING_REPEATS + 1):
                for side in list(dirs)[:: 1 if rep % 2 else -1]:
                    reset_pins(spark)
                    t = time.time()
                    frames[side] = qs[name](spark, dirs[side]).toPandas()
                    walls[side].append(time.time() - t)
            out[name] = {}
            for side, df in frames.items():
                out[name][side] = {"rows": len(df), "median_s": round(statistics.median(walls[side][1:]), 3)}
                if len(df) <= SMALL_OUTPUT:
                    out[name][side]["output"] = json.loads(df.sort_values(list(df.columns)).to_json(orient="values"))
    finally:
        run._stop(spark)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reference", required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--timing", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()

    gen = datagen.tables(args.sf, np.random.default_rng(args.seed))
    ref = {t: pd.read_parquet(os.path.join(args.reference, f"{t}.parquet")) for t in gen}
    result = {"sf": args.sf, "seed": args.seed,
              "profile": {"testdata": profile(ref), "generated": profile(gen)}}
    if args.timing:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        work = os.path.join(root, ".bench_work", f"compare-{os.getpid()}")
        datagen.write_tables(gen, os.path.join(work, "generated"))
        result["registry_rows"] = timing({"testdata": args.reference, "generated": os.path.join(work, "generated")}, work)
        shutil.rmtree(work, ignore_errors=True)
    text = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
