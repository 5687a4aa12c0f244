"""Checker self-tests: every checker accepts the true reference output and
rejects a swapped id, a score off by 1e-3 and a dropped row.

Run with ``python3 -m pytest perfbench/tests``; ``perfbench/run.py`` also
runs ``run_all`` before every benchmark run and refuses to measure if a
checker passes a corrupted output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench import checks, datagen

K = 5


def _corpus():
    rng = np.random.default_rng(7)
    docs = datagen.documents(40, rng)["text"].tolist()
    ref = checks.ref_chunks(docs, 60, 10)
    ids = [f"{d}#{c}" for d, c, _ in ref]
    texts = [t for _, _, t in ref]
    return ref, ids, texts, checks.embed(texts), checks.embed(["fast query join window"])[0]


def _variants(rows: list[tuple], score_at: int = 1):
    """The true rows plus the three corruptions, as (label, rows)."""
    swapped = list(rows)
    swapped[0], swapped[2] = (rows[2][0],) + rows[0][1:], (rows[0][0],) + rows[2][1:]
    off = list(rows)
    off[0] = (rows[0][0],) + tuple(v + 1e-3 if i == score_at - 1 else v for i, v in enumerate(rows[0][1:]))
    return [("swapped id", swapped), ("score off by 1e-3", off), ("dropped row", rows[:-1])]


def _expect(check, true_rows, corrupt: list) -> list[str]:
    bad = [f"{check.__name__}: rejected the true output: {e}" for e in check(true_rows)[:1]]
    for label, rows in corrupt:
        if not check(rows):
            bad.append(f"{check.__name__}: accepted a {label}")
    return bad


def _ok(bad: list[str]) -> None:
    assert not bad, "; ".join(bad)


def _named(fn, name):
    fn.__name__ = name
    return fn


def test_vector():
    _, ids, _, vecs, q = _corpus()
    true = checks.ranked(ids, checks.ip_scores(vecs, q))[:K]
    chk = _named(lambda rows: checks.check_vector(rows, ids, vecs, q, K, "t"), "check_vector")
    _ok(_expect(chk, true, _variants(true)))


def test_hybrid():
    _, ids, texts, vecs, q = _corpus()
    query = "fast query join window"
    scores = checks.ip_scores(vecs, q)
    pool = [d for d, _ in checks.ranked(ids, scores, tie=list(range(len(ids))))[:50]]
    bm = checks.bm25(ids, texts, query)
    bm_pool = [d for d, _ in sorted(bm.items(), key=lambda x: (-x[1], x[0]))[:50]]
    sc = dict(zip(ids, scores.tolist()))
    true = [(d, sc[d] if d in pool else None) for d, _ in checks.rrf([pool, bm_pool], K)]
    chk = _named(lambda rows: checks.check_hybrid(rows, ids, texts, vecs, query, q, K, 50, "t"), "check_hybrid")
    scored = next(i for i, (_, v) in enumerate(true) if v is not None)
    off = list(true)
    off[scored] = (true[scored][0], true[scored][1] + 1e-3)
    corrupt = _variants(true)
    corrupt[1] = ("score off by 1e-3", off)
    _ok(_expect(chk, true, corrupt))


def _ivf_setup():
    _, ids, _, vecs, q = _corpus()
    cents = vecs[:8].astype(np.float64)
    cells = checks.nearest_cells(vecs, cents).argmin(1)
    return ids, vecs, cells, cents, np.arange(8), q


def test_ivf():
    ids, vecs, cells, cents, cell_ids, q = _ivf_setup()
    keep = np.isin(cells, list(checks.ivf_probe(cents, cell_ids, q, 2)))
    kept = [d for d, m in zip(ids, keep) if m]
    true = checks.ranked(kept, checks.ip_scores(vecs[keep], q))[:K]
    chk = _named(lambda rows: checks.check_ivf(rows, ids, vecs, cells, cents, cell_ids, q, K, 2, "t"), "check_ivf")
    _ok(_expect(chk, true, _variants(true)))


def test_cells():
    """Centroid coordinates carry no reference score: the corruptions are
    a chunk moved to another cell and a dropped centroid."""
    _, vecs, cells, cents, cell_ids, _ = _ivf_setup()
    moved = cells.copy()
    i = int(np.flatnonzero(cells != cells[0])[0])
    moved[0], moved[i] = cells[i], cells[0]
    chk = _named(lambda a: checks.check_cells(vecs, a[0], a[1], a[2], "t"), "check_cells")
    _ok(_expect(chk, (cells, cents, cell_ids), [
        ("swapped id", (moved, cents, cell_ids)),
        ("dropped row", (cells, cents[1:], cell_ids[1:])),
    ]))


def test_previews():
    """Previews carry no score or rank: the corruptions are a hit showing
    another chunk's text and a hit whose text is missing."""
    _, ids, texts, _, _ = _corpus()
    by_id = dict(zip(ids, texts))
    chk = _named(lambda rows: checks.check_previews(rows, by_id, max_len=40, what="t"), "check_previews")
    cut = [(d, by_id[d][:40] + "…" if len(by_id[d]) > 40 else by_id[d]) for d in ids[:K]]
    _ok(_expect(chk, cut, [("swapped id", [(ids[0], by_id[ids[2]][:40] + "…")] + cut[1:]),
                           ("dropped text", [(ids[0], None)] + cut[1:])]))


def test_chunk_table():
    ref, ids, _, vecs, _ = _corpus()
    frame = pd.DataFrame(
        {"doc_no": [d for d, _, _ in ref], "chunk_no": [c for _, c, _ in ref], "doc_id": ids,
         "chunk_pos": range(len(ref)), "text": [t for _, _, t in ref], "embedding": list(vecs)}
    )
    swapped = frame.copy()
    swapped.loc[[0, 2], "doc_id"] = swapped.loc[[2, 0], "doc_id"].to_numpy()
    off = frame.copy()
    off.at[0, "embedding"] = vecs[0] + np.float32(1e-3)
    chk = _named(lambda f: checks.check_chunk_table(f, ref, vecs, "t"), "check_chunk_table")
    _ok(_expect(chk, frame, [("swapped id", swapped), ("score off by 1e-3", off), ("dropped row", frame.iloc[:-1])]))


def test_rows():
    true = [("1", "0.5", "a"), ("2", "0.25", "b"), ("3", "0.125", "c")]
    corrupt = [
        ("swapped id", [("3", "0.5", "a"), ("2", "0.25", "b"), ("1", "0.125", "c")]),
        ("score off by 1e-3", [("1", "0.501", "a")] + true[1:]),
        ("dropped row", true[:-1]),
    ]
    chk = _named(lambda rows: checks.check_rows(rows, true, "t"), "check_rows")
    _ok(_expect(chk, true, corrupt))


def test_eval():
    _, ids, _, vecs, _ = _corpus()
    questions = ["fast query join", "window sort merge table", "the customer data"]
    refs = [dict(zip(ids, checks.ip_scores(vecs, qv).tolist())) for qv in checks.embed(questions)]
    tops = [[d for d, _ in sorted(r.items(), key=lambda x: -x[1])[:K]] for r in refs]
    expected = [tops[0][1], tops[1][0], "999#0"]
    ranks = [2, 1, None]
    results = pd.DataFrame(
        {"query_id": [1, 2, 3], "expected_id": expected, "found": [True, True, False],
         "rank": ranks, "top_ids": tops}
    )
    metrics = checks.eval_metrics(ranks)
    swapped = results.copy()
    swapped.at[0, "top_ids"] = [tops[0][2], tops[0][1], tops[0][0]] + tops[0][3:]
    off = dict(metrics, mrr=metrics["mrr"] + 1e-3)
    chk = _named(lambda a: checks.check_eval(a[0], a[1], refs, expected, K, "t"), "check_eval")
    _ok(_expect(chk, (results, metrics), [
        ("swapped id", (swapped, metrics)),
        ("score off by 1e-3", (results, off)),
        ("dropped row", (results.iloc[:-1], metrics)),
    ]))


def run_all() -> list[str]:
    """Every test above; returns the failures (empty when all pass)."""
    bad = []
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
            except AssertionError as e:
                bad.append(f"{name}: {e}")
            except Exception as e:  # noqa: BLE001
                bad.append(f"{name}: {type(e).__name__}: {e}")
    return bad
