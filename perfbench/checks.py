"""Reference computations and output checkers.

The references are written here from the engine's documented contracts
(FIXTURES.md F6 for the hash embedder, the chunker, BM25Okapi, RRF, the
IVF probe) in numpy and plain Python. No Spark operator checks itself.

Every checker returns a list of error strings; an empty list is a pass.
Scores must agree within ``TOL``; ids must match except among entries
whose reference scores tie within ``TOL`` at a rank or at the top-k
boundary.
"""

from __future__ import annotations

import functools
import math
import re
import zlib
from collections import Counter

import numpy as np

TOL = 1e-6
MAX_ERRORS = 5

DIM = 64
RRF_K = 60
BM25_K1, BM25_B, BM25_EPS = 1.5, 0.75, 0.25

_TOKEN_RE = re.compile(r"\W+")


# ------------------------------------------------------------ references
def chunk_fixed(text: str, size: int, overlap: int) -> list[str]:
    """Windows text[i:i+size], next start max(j - overlap, i + 1), stop
    after the window that reaches the end."""
    out, i, n = [], 0, len(text)
    while i < n:
        j = min(i + size, n)
        out.append(text[i:j])
        if j >= n:
            break
        i = max(j - overlap, i + 1)
    return out


def ref_chunks(texts: list[str], size: int, overlap: int, first_doc_no: int = 0):
    """[(doc_no, chunk_no, text)] in (doc_no, chunk_no) order."""
    return [
        (first_doc_no + d, c, piece)
        for d, t in enumerate(texts)
        for c, piece in enumerate(chunk_fixed(t, size, overlap))
    ]


def _gram_contribution(gram: str, dim: int) -> tuple[int, float]:
    b = gram.encode("utf-8")
    return zlib.crc32(b) % dim, (1.0 if zlib.crc32(b"s:" + b) & 1 else -1.0)


def embed(texts: list[str], dim: int = DIM) -> np.ndarray:
    """hash-ngram-<dim>: signed crc32 buckets of each lowercase token's
    ^token$ char-3-grams, L2-normalized, float32."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    memo: dict[str, list[tuple[int, float]]] = {}
    for r, text in enumerate(texts):
        for tok in _TOKEN_RE.split((text or "").lower()):
            if not tok:
                continue
            contrib = memo.get(tok)
            if contrib is None:
                p = f"^{tok}$"
                grams = [p] if len(p) <= 3 else [p[i : i + 3] for i in range(len(p) - 2)]
                contrib = memo[tok] = [_gram_contribution(g, dim) for g in grams]
            for bucket, sign in contrib:
                out[r, bucket] += sign
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return (out / norms).astype(np.float32)


def ip_scores(corpus: np.ndarray, query: np.ndarray) -> np.ndarray:
    return corpus.astype(np.float64) @ query.astype(np.float64)


def ranked(ids: list, scores, tie: list | None = None) -> list[tuple]:
    """[(id, score)] by score desc, then ``tie`` (default: id) asc."""
    tie = ids if tie is None else tie
    order = sorted(range(len(ids)), key=lambda i: (-scores[i], tie[i]))
    return [(ids[i], float(scores[i])) for i in order]


@functools.lru_cache(maxsize=4)
def _bm25_corpus(texts: tuple[str, ...]):
    """Per-doc term counts and lengths, average length and idf of a corpus."""
    toks = [t.lower().split() for t in texts]
    n = len(toks)
    df = Counter(w for t in toks for w in set(t))
    idf = {w: math.log(n - c + 0.5) - math.log(c + 0.5) for w, c in df.items()}
    avg_idf = sum(idf.values()) / len(idf)
    idf = {w: (BM25_EPS * avg_idf if v < 0 else v) for w, v in idf.items()}
    return [(Counter(t), len(t)) for t in toks], sum(len(t) for t in toks) / n, idf


def bm25(doc_ids: list[str], texts: list[str], query: str) -> dict[str, float]:
    """rank_bm25 BM25Okapi over ``lower().split()`` tokens; returns the
    6dp-rounded score of every doc sharing a term with the query."""
    docs, avgdl, idf = _bm25_corpus(tuple(texts))
    q = Counter(query.lower().split())
    out = {}
    for did, (tf, dl) in zip(doc_ids, docs):
        hit = [w for w in q if w in tf]
        if not hit:
            continue
        norm = BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)
        out[did] = round(
            sum(q[w] * idf[w] * tf[w] * (BM25_K1 + 1) / (tf[w] + norm) for w in hit), 6
        )
    return out


def rrf(lists: list[list], k: int) -> list[tuple[str, float]]:
    """Reciprocal-rank fusion of ranked id lists (1-based ranks), scores
    rounded to 9dp, ties by id, top k."""
    fused: dict[str, float] = {}
    for lst in lists:
        for r, did in enumerate(lst, start=1):
            fused[did] = fused.get(did, 0.0) + 1.0 / (RRF_K + r)
    items = sorted(((d, round(s, 9)) for d, s in fused.items()), key=lambda x: (-x[1], x[0]))
    return items[:k]


def ivf_probe(
    centroids: np.ndarray, cell_ids: np.ndarray, query: np.ndarray, nprobe: int
) -> set[int]:
    """The ``nprobe`` cells with the largest inner product, ties by id."""
    sc = centroids.astype(np.float64) @ query.astype(np.float64)
    order = sorted(range(len(cell_ids)), key=lambda i: (-sc[i], cell_ids[i]))
    return {int(cell_ids[i]) for i in order[:nprobe]}


def nearest_cells(vecs: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Squared L2 distance to every centroid, up to the per-row constant."""
    x = vecs.astype(np.float64)
    c = centroids.astype(np.float64)
    return (c * c).sum(1)[None, :] - 2.0 * (x @ c.T)


def eval_metrics(ranks: list[int | None]) -> dict[str, float]:
    n = len(ranks)
    return {
        "total": n,
        "recall_at_k": sum(r is not None for r in ranks) / n,
        "mrr": sum(1.0 / r for r in ranks if r) / n,
        "ndcg": sum(1.0 / math.log2(r + 1.0) for r in ranks if r) / n,
    }


# -------------------------------------------------------------- checkers
def _cap(errs: list[str]) -> list[str]:
    return errs[:MAX_ERRORS] + ([f"... {len(errs) - MAX_ERRORS} more"] if len(errs) > MAX_ERRORS else [])


def check_topk(ref: dict, got: list[tuple], k: int, what: str = "") -> list[str]:
    """``got`` is the engine's ranked [(id, score or None)]. Each rank must
    hold an id whose reference score ties (within TOL) the reference
    score at that rank; given scores must match the reference."""
    errs = []
    want = sorted(ref.values(), reverse=True)[:k]
    if len(got) != len(want):
        errs.append(f"{what}: {len(got)} rows, expected {len(want)}")
    ids = [g[0] for g in got]
    if len(set(ids)) != len(ids):
        errs.append(f"{what}: duplicate ids {ids}")
    for r, (doc, score) in enumerate(got[: len(want)]):
        if doc not in ref:
            errs.append(f"{what}: rank {r + 1} id {doc!r} is not a candidate")
            continue
        if score is not None and abs(score - ref[doc]) > TOL:
            errs.append(f"{what}: {doc!r} score {score!r} != {ref[doc]!r}")
        if abs(ref[doc] - want[r]) > TOL:
            errs.append(f"{what}: rank {r + 1} holds {doc!r} ({ref[doc]!r}), expected score {want[r]!r}")
    return _cap(errs)


def check_rows(got: list[tuple], want: list[tuple], what: str = "") -> list[str]:
    """Exact row-list equality (for canonicalized registry outputs)."""
    if got == want:
        return []
    errs = [f"{what}: {len(got)} rows vs {len(want)} expected"]
    for a, b in zip(got, want):
        if a != b:
            errs.append(f"{what}: got {a} expected {b}")
            break
    return errs


def check_chunk_table(rows, ref: list[tuple], ref_vecs: np.ndarray, what: str) -> list[str]:
    """``rows``: the written chunk table as a pandas frame. It must hold
    exactly the reference chunks, doc_id = doc_no#chunk_no, a dense
    chunk_pos in (doc_no, chunk_no) order, and the reference embeddings."""
    errs = []
    if len(rows) != len(ref):
        return [f"{what}: {len(rows)} chunks, expected {len(ref)}"]
    rows = rows.sort_values("chunk_pos").reset_index(drop=True)
    if rows["chunk_pos"].tolist() != list(range(len(rows))):
        errs.append(f"{what}: chunk_pos is not dense 0..{len(rows) - 1}")
    got = list(zip(rows["doc_no"].astype(int), rows["chunk_no"].astype(int), rows["text"]))
    if got != [tuple(r) for r in ref]:
        bad = next(i for i, (a, b) in enumerate(zip(got, ref)) if a != tuple(b)) if len(got) == len(ref) else 0
        errs.append(f"{what}: chunk {bad} is {got[bad]!r:.80}, expected {ref[bad]!r:.80}")
    want_ids = [f"{d}#{c}" for d, c, _ in ref]
    if rows["doc_id"].tolist() != want_ids:
        errs.append(f"{what}: doc_id is not doc_no#chunk_no")
    vecs = np.array(rows["embedding"].tolist(), dtype=np.float64)
    if vecs.shape != ref_vecs.shape:
        errs.append(f"{what}: embedding shape {vecs.shape}, expected {ref_vecs.shape}")
    else:
        off = np.abs(vecs - ref_vecs).max(initial=0.0)
        if off > TOL:
            errs.append(f"{what}: embeddings differ by {off:.3g}")
    return _cap(errs)


def check_cells(vecs: np.ndarray, cells: np.ndarray, centroids: np.ndarray, cell_ids: np.ndarray, what: str) -> list[str]:
    """Each chunk's cluster_id must name its nearest written centroid."""
    pos = {int(c): i for i, c in enumerate(cell_ids)}
    if any(int(c) not in pos for c in cells):
        return [f"{what}: a cluster_id names no written centroid"]
    d = nearest_cells(vecs, centroids)
    assigned = d[np.arange(len(cells)), [pos[int(c)] for c in cells]]
    worse = np.flatnonzero(assigned > d.min(1) + TOL)
    if len(worse):
        return [f"{what}: {len(worse)} chunks not in their nearest cell (first row {int(worse[0])})"]
    return []


def check_eval(results, metrics: dict, ref_scores: list[dict], expected: list[str], k: int, what: str) -> list[str]:
    """``results``: per-question rows (query_id 1-based, expected_id,
    found, rank, top_ids). top_ids are checked as a tie-tolerant top-k;
    found/rank and the metrics are recomputed from them."""
    errs = []
    if len(results) != len(expected):
        return [f"{what}: {len(results)} result rows, expected {len(expected)}"]
    ranks = []
    for row in results.sort_values("query_id").itertuples(index=False):
        qi = int(row.query_id) - 1
        top = list(row.top_ids)
        errs += check_topk(ref_scores[qi], [(t, None) for t in top], k, f"{what} q{qi + 1}")
        want_rank = top.index(expected[qi]) + 1 if expected[qi] in top else None
        got_rank = None if row.rank is None or (isinstance(row.rank, float) and math.isnan(row.rank)) else int(row.rank)
        if row.expected_id != expected[qi] or bool(row.found) != (want_rank is not None) or got_rank != want_rank:
            errs.append(f"{what} q{qi + 1}: found/rank {row.found}/{got_rank}, expected {want_rank}")
        ranks.append(want_rank)
    for key, val in eval_metrics(ranks).items():
        if abs(float(metrics[key]) - val) > TOL:
            errs.append(f"{what}: {key} {metrics[key]!r} != {val!r}")
    return _cap(errs)


def check_vector(got: list[tuple], ids: list[str], vecs: np.ndarray, qvec: np.ndarray, k: int, what: str) -> list[str]:
    """Flat search: exact inner-product top-k over the whole corpus."""
    return check_topk(dict(zip(ids, ip_scores(vecs, qvec).tolist())), got, k, what)


def check_hybrid(got: list[tuple], ids: list[str], texts: list[str], vecs: np.ndarray, query: str, qvec: np.ndarray, k: int, pool: int, what: str) -> list[str]:
    """Hybrid search: RRF of the vector top-``pool`` (ties by corpus
    position) and the BM25 top-``pool`` (ties by id). Each returned doc
    carries its vector score when it was in the vector pool, else null."""
    scores = ip_scores(vecs, qvec)
    vec_pool = [d for d, _ in ranked(ids, scores, tie=list(range(len(ids))))[:pool]]
    bm = bm25(ids, texts, query)
    bm_pool = [d for d, _ in sorted(bm.items(), key=lambda x: (-x[1], x[0]))[:pool]]
    fused = dict(rrf([vec_pool, bm_pool], k=len(ids)))
    errs = check_topk(fused, [(d, None) for d, _ in got], k, what)
    ref, in_pool = dict(zip(ids, scores.tolist())), set(vec_pool)
    for d, v in got:
        want = ref.get(d) if d in in_pool else None
        missing = v is None or (isinstance(v, float) and math.isnan(v))
        if (want is None) != missing or (want is not None and abs(v - want) > TOL):
            errs.append(f"{what}: {d} vector_score {v!r}, expected {want!r}")
    return _cap(errs)


def check_ivf(got: list[tuple], ids: list[str], vecs: np.ndarray, cells: np.ndarray, centroids: np.ndarray, cell_ids: np.ndarray, qvec: np.ndarray, k: int, nprobe: int, what: str) -> list[str]:
    """IVF search replay: exact top-k inside the probed cells only."""
    keep = np.isin(cells, list(ivf_probe(centroids, cell_ids, qvec, nprobe)))
    kept = [d for d, m in zip(ids, keep) if m]
    return check_topk(dict(zip(kept, ip_scores(vecs[keep], qvec).tolist())), got, k, what)


def check_previews(got: list[tuple], text_by_id: dict[str, str], max_len: int = 220, what: str = "") -> list[str]:
    """Each hit's preview is its chunk's text, cut at ``max_len`` chars
    with an ellipsis."""
    errs = []
    for doc, prev in got:
        text = text_by_id.get(doc)
        want = None if text is None else (text[:max_len] + "…" if len(text) > max_len else text)
        if prev != want:
            errs.append(f"{what}: {doc!r} preview {prev!r:.60} != {want!r:.60}")
    return _cap(errs)
