"""The banding kernel of the LSH near-dup family in operators/dedup.py.

The five banded operators (minhash, incremental minhash, simhash,
weighted minhash, embedding LSH) share one implementation of each
banding step, and a source scan keeps it that way: the ASCII-whitespace
tokenize lives in ``_grams``, the overfull-bucket count in
``_hot_buckets`` and the ``(band, key)`` candidate self-join in
``_bucket_pairs``. ``minhash_incremental_pairs`` keeps its own pair
join: new rows probe the union of new and old rows, so its pairs arrive
in either id order.
"""

import ast
import os

DEDUP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "indexlab_spark",
    "operators",
    "dedup.py",
)


def _ws_pattern(node) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, str) and "\\s" in node.value


def _attr(node) -> str:
    func = node.func
    return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")


def _on_band_key(args) -> bool:
    return len(args) >= 2 and isinstance(args[1], (ast.List, ast.Tuple)) and [
        getattr(e, "value", None) for e in args[1].elts
    ] == ["band", "key"]


def _inner(node) -> bool:
    how = node.args[2] if len(node.args) > 2 else next(
        (k.value for k in node.keywords if k.arg == "how"), None
    )
    return how is None or getattr(how, "value", None) == "inner"


class _Scan(ast.NodeVisitor):
    """``_occ`` bucket counts, inner joins on ``["band", "key"]`` and
    regex-whitespace splits, each with its innermost enclosing function."""

    def __init__(self, ws_regexes: set) -> None:
        self.ws_regexes = ws_regexes
        self.stack = ["<module>"]
        self.occ, self.pair_joins, self.splits = [], [], []

    def visit_FunctionDef(self, node) -> None:
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Constant(self, node) -> None:
        if node.value == "_occ":
            self.occ.append((self.stack[-1], node.lineno))

    def visit_Call(self, node) -> None:
        name = _attr(node)
        if name == "join" and _on_band_key(node.args) and _inner(node):
            self.pair_joins.append((self.stack[-1], node.lineno))
        receiver = node.func.value if isinstance(node.func, ast.Attribute) else None
        if name == "split" and (
            any(_ws_pattern(a) for a in node.args)
            or (receiver is not None and ast.unparse(receiver) in self.ws_regexes)
        ):
            self.splits.append((self.stack[-1], node.lineno))
        self.generic_visit(node)


def _scan() -> _Scan:
    tree = ast.parse(open(DEDUP).read(), DEDUP)
    # every name bound to a compiled whitespace regex, wherever it is bound
    ws_regexes = {
        ast.unparse(t)
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Call)
        and _attr(node.value) == "compile"
        and node.value.args
        and _ws_pattern(node.value.args[0])
        for t in node.targets
    }
    scan = _Scan(ws_regexes)
    scan.visit(tree)
    return scan


def test_bucket_count_lives_in_hot_buckets():
    found = _scan().occ
    stray = [hit for hit in found if hit[0] != "_hot_buckets"]
    assert not stray, (
        "count overfull (band, key) buckets through dedup._hot_buckets, "
        f"not a copy of it: {stray}"
    )
    assert found, "the bucket count in dedup._hot_buckets was not found"


def test_band_key_pair_join_lives_in_bucket_pairs():
    found = _scan().pair_joins
    stray = [
        hit for hit in found
        if hit[0] not in ("_bucket_pairs", "minhash_incremental_pairs")
    ]
    assert not stray, (
        "join candidates on (band, key) through dedup._bucket_pairs, not "
        f"a copy of it: {stray}"
    )
    assert "_bucket_pairs" in {h[0] for h in found}, (
        "the (band, key) self-join in dedup._bucket_pairs was not found"
    )


def test_whitespace_tokenize_lives_in_grams():
    found = _scan().splits
    stray = [hit for hit in found if hit[0] != "_grams"]
    assert not stray, (
        "tokenize on ASCII whitespace through dedup._grams, not a copy of "
        f"it: {stray}"
    )
    assert found, "the whitespace split in dedup._grams was not found"
