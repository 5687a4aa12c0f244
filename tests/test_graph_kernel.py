"""The graph family's shared kernel in operators/dedup.py.

Every simple-graph operator sees a multigraph (self-loops, reversed and
duplicate edges, NULL endpoints) exactly as its clean simple graph, and
source scans keep the two shared decisions in one place each: the AQE
pause of driver-side loops (``session._loop_aqe``) and the (degree, id)
edge orientation of the triangle pass (``dedup._triangles``).
"""

import ast
import os

from indexlab_spark.operators.dedup import (
    clustering_coefficients,
    degree_assortativity,
    k_core,
    k_truss,
    link_prediction,
    triangle_count,
)

OPERATORS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "indexlab_spark",
    "operators",
)

# K4 on 1-4, a pendant 4-5, the triangle 5-6-7 and a tail 7-8
CLEAN = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6),
         (5, 7), (6, 7), (7, 8)]
NOISE = [(2, 1), (4, 3), (7, 5), (1, 2), (5, 6), (3, 3), (9, 9),
         (None, 5), (6, None), (None, 10), (None, None)]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_multigraph_input_equals_its_simple_graph(spark):
    schema = "id_a long, id_b long"
    clean = spark.createDataFrame(CLEAN, schema)
    dirty = spark.createDataFrame(CLEAN + NOISE, schema)
    ops = {
        "triangle_count": triangle_count,
        "k_core": lambda e: k_core(e, 2),
        "k_truss": lambda e: k_truss(e, 3),
        "clustering_coefficients": clustering_coefficients,
        "link_prediction": link_prediction,
        "degree_assortativity": lambda e: degree_assortativity(e, "id_a", "id_b"),
    }
    for name, op in ops.items():
        want = _rows(op(clean))
        assert want, name
        assert _rows(op(dirty)) == want, name


# ---------------------------------------------------------------- CI guard
def _docstrings(tree) -> set:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _alias(node) -> str | None:
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "alias"
        and node.args
        and isinstance(node.args[0], ast.Constant)
    ):
        return node.args[0].value
    return None


def _degree_keyed(args) -> bool:
    """A struct whose first field is a degree: it names a degree column,
    or the fields are the kernel's (d, i) pair."""
    return len(args) >= 2 and (
        "deg" in ast.unparse(args[0]) or [_alias(a) for a in args[:2]] == ["d", "i"]
    )


class _Scan(ast.NodeVisitor):
    """AQE conf keys outside docstrings, and ``struct(...)`` calls keyed
    on a degree first, each with its innermost enclosing function."""

    def __init__(self, rel: str, docstrings: set) -> None:
        self.rel, self.docstrings, self.stack = rel, docstrings, ["<module>"]
        self.aqe, self.orientations = [], []

    def visit_FunctionDef(self, node) -> None:
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Constant(self, node) -> None:
        if (
            isinstance(node.value, str)
            and "spark.sql.adaptive" in node.value
            and id(node) not in self.docstrings
        ):
            self.aqe.append((self.rel, self.stack[-1], node.lineno))

    def visit_Call(self, node) -> None:
        func = node.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
        if name == "struct" and _degree_keyed(node.args):
            self.orientations.append((self.rel, self.stack[-1], node.lineno))
        self.generic_visit(node)


def _scan() -> list:
    scans = []
    for base, _, files in os.walk(OPERATORS):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                tree = ast.parse(open(path).read(), path)
                scan = _Scan(os.path.relpath(path, OPERATORS), _docstrings(tree))
                scan.visit(tree)
                scans.append(scan)
    return scans


def test_operators_leave_aqe_to_the_loop_helper():
    found = [hit for scan in _scan() for hit in scan.aqe]
    assert not found, (
        "pause AQE for a driver-side loop with session._loop_aqe, not by "
        f"setting the conf in an operator: {found}"
    )


def test_degree_orientation_lives_in_triangles():
    found = [hit for scan in _scan() for hit in scan.orientations]
    stray = [hit for hit in found if hit[:2] != ("dedup.py", "_triangles")]
    assert not stray, (
        "orient edges by (degree, id) through dedup._triangles, not a "
        f"copy of it: {stray}"
    )
    assert found, "the (degree, id) keys in dedup._triangles were not found"
