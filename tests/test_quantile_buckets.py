"""The quantile-bucket and cumulative-count engine of the distribution
operators (`operators/analytics.py`): one implementation per job, held
there by an AST guard, and the cumulative counts and midranks checked
against pandas."""

import ast
import os

import pandas as pd
from pyspark.sql import functions as F

from indexlab_spark.operators.analytics import _cum_counts, _midrank, _two_sample_counts
from indexlab_spark.session import local_frame

ENGINE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "indexlab_spark")

#: the one bucket-index expression builder
BUCKET_INDEX = ("operators/analytics.py", "_bucket_index")
#: the two quantile-grid aggregates: exact edges, and the cumsum kernel's shard edges
QUANTILE_GRIDS = {("operators/analytics.py", "_quantile_edges"), ("operators/analytics.py", "_cum_counts")}


def _loop_names(node) -> set[str]:
    targets = [node.target] if isinstance(node, ast.For) else [g.target for g in node.generators]
    return {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}


def _is_edge_compare(call, names: set[str]) -> bool:
    """``<x>.when(<col> > <edge>, ...)`` whose edge side uses a loop variable."""
    if not (isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute) and call.func.attr == "when"):
        return False
    cond = call.args[0] if call.args else None
    if not (isinstance(cond, ast.Compare) and any(isinstance(op, ast.Gt) for op in cond.ops)):
        return False
    return any(isinstance(n, ast.Name) and n.id in names for c in cond.comparators for n in ast.walk(c))


def _is_quantile_grid(node) -> bool:
    """An f-string ``...percentile(<x>, array({<generated list>})...``: a
    variable-length quantile list interpolated as the whole array."""
    if not isinstance(node, ast.JoinedStr):
        return False
    parts, text = node.values, ""
    for i, p in enumerate(parts[:-2]):
        text += p.value if isinstance(p, ast.Constant) else "{}"
        if (
            "percentile(" in text
            and text.endswith("array(")
            and isinstance(parts[i + 1], ast.FormattedValue)
            and isinstance(parts[i + 2], ast.Constant)
            and parts[i + 2].value.startswith(")")
        ):
            return True
    return False


class _Scan(ast.NodeVisitor):
    def __init__(self, rel: str) -> None:
        self.rel, self.stack, self.chains, self.grids = rel, ["<module>"], [], []

    def visit_FunctionDef(self, node) -> None:
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def _loop(self, node) -> None:
        names = _loop_names(node)
        body = node.body if isinstance(node, ast.For) else [node]
        for stmt in body:
            for n in ast.walk(stmt):
                if _is_edge_compare(n, names):
                    self.chains.append(((self.rel, self.stack[-1]), n.lineno))
        self.generic_visit(node)

    visit_For = visit_ListComp = visit_GeneratorExp = visit_SetComp = _loop

    def visit_JoinedStr(self, node) -> None:
        if _is_quantile_grid(node):
            self.grids.append(((self.rel, self.stack[-1]), node.lineno))
        self.generic_visit(node)


def _scan():
    chains, grids = [], []
    for base, _, files in os.walk(ENGINE):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                scan = _Scan(os.path.relpath(path, ENGINE))
                scan.visit(ast.parse(open(path).read(), path))
                chains += scan.chains
                grids += scan.grids
    return chains, grids


def test_edge_buckets_and_quantile_grids_have_one_home():
    chains, grids = _scan()
    stray_chains = sorted(set(chains) - {c for c in chains if c[0] == BUCKET_INDEX})
    assert not stray_chains, (
        "edge-comparison chain built outside analytics._bucket_index "
        f"(call it instead): {stray_chains}"
    )
    assert [c for c in chains if c[0] == BUCKET_INDEX], "the scan no longer sees _bucket_index"
    stray_grids = sorted(g for g in grids if g[0] not in QUANTILE_GRIDS)
    assert not stray_grids, (
        "quantile-grid percentile outside analytics._quantile_edges / _cum_counts "
        f"(call one of them instead): {stray_grids}"
    )
    assert {g[0] for g in grids} == QUANTILE_GRIDS, "the scan no longer sees the two helpers"


def _ranks(values: pd.Series) -> dict:
    """pandas midrank of every distinct value."""
    return dict(zip(values, values.rank(method="average")))


def test_cumulative_counts_and_midranks_match_pandas(spark):
    """Two populations over many tied values (plus NULLs and a third
    side, both dropped): each side's midrank from its own cumulative
    count, the pooled midrank and ``prev_v`` match pandas at 2, 7 and
    32 shards."""
    rows = [(float((j * 37) % 211) / 7, "ab"[j % 3 == 0]) for j in range(600)]
    pdf = pd.DataFrame(rows, columns=["v", "side"])
    rows += [(None, "a"), (None, "b"), (1.0, "c"), (1000.0, "c")]
    counts = _two_sample_counts(local_frame(spark, rows, "v double, side string"), "a", "b")
    rank_a, rank_b = _ranks(pdf.v[pdf.side == "a"]), _ranks(pdf.v[pdf.side == "b"])
    pooled = _ranks(pdf.v)
    distinct = sorted(set(pdf.v))
    prev = dict(zip(distinct, [None] + distinct[:-1]))
    c_a, c_b = F.col("c_a"), F.col("c_b")
    for n_buckets in (2, 7, 32):
        got = _cum_counts(counts, n_buckets).select(
            "v", "c_a", "c_b", "prev_v",
            _midrank(F.col("cum_a"), c_a).alias("ra"),
            _midrank(F.col("cum_b"), c_b).alias("rb"),
            _midrank(F.col("cum_a") + F.col("cum_b"), c_a + c_b).alias("r"),
        ).collect()
        assert sorted(r["v"] for r in got) == distinct
        for r in got:
            v = r["v"]
            assert r["prev_v"] == prev[v]
            assert r["r"] == pooled[v]
            assert (r["c_a"] > 0) == (v in rank_a) and (r["c_b"] > 0) == (v in rank_b)
            if r["c_a"]:
                assert r["ra"] == rank_a[v]
            if r["c_b"]:
                assert r["rb"] == rank_b[v]
