"""Reference results and comparisons for every benchmark operation.

Each check returns ``None`` when the engine's output is right and a
one-line reason when it is not. They run after the timed loop and never
touch Spark, so ``perfbench/selftest.py`` can feed them deliberately
wrong outputs.
"""

from __future__ import annotations

from collections import Counter

import numpy as np


def canonical(columns: list[str], rows: list[tuple], ordered: bool = False) -> list[tuple]:
    """Rows as ``repr`` tuples with columns in name order; sorted unless
    the row order is part of the result. ``repr`` keeps every float
    digit, so equal means bit-identical."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(repr(r[i]) for i in idx) for r in rows]
    return out if ordered else sorted(out)


def compare_rows(got_cols, got_rows, want_cols, want_rows, ordered: bool = False) -> str | None:
    """Same column names, same row count, same values (as a multiset,
    or as a sequence when ``ordered``)."""
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)} expected"
    if canonical(got_cols, got_rows, ordered) != canonical(want_cols, want_rows, ordered):
        return "row values differ from the reference"
    return None


# BM25: the engine's integer linear-idf formula (plans/retrieval.py),
# replayed over the whole current corpus — the scan-everything reference
# for the index search.
def bm25_top(texts: dict[int, str], q_ids: list[int], k: int = 5) -> list[tuple]:
    """(q_id, doc_id, score_milli, rn) for each query document's top-k
    over ``texts`` (doc_id -> text), excluding the query document."""
    tf: dict[int, Counter] = {d: Counter(t.split(" ")) for d, t in texts.items()}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    df: Counter = Counter()
    for c in tf.values():
        df.update(c.keys())
    n_docs, a_tok = len(texts), sum(dl.values())
    out = []
    for q in q_ids:
        terms = set(tf[q])
        scores = []
        for d, c in tf.items():
            if d == q:
                continue
            shared = terms.intersection(c)
            if not shared:
                continue
            s = sum(
                ((2 * (n_docs - df[t]) + 1) * (22 * a_tok * c[t]) * 1000)
                // ((2 * df[t] + 1) * (10 * a_tok * c[t] + 3 * a_tok + 9 * dl[d] * n_docs))
                for t in shared
            )
            scores.append((-s, d))
        scores.sort()
        out += [(q, d, -s, rn) for rn, (s, d) in enumerate(scores[:k], start=1)]
    return out


def check_bm25(got: list[tuple], texts: dict[int, str], q_ids: list[int], k: int = 5) -> str | None:
    want = bm25_top(texts, q_ids, k)
    if sorted(got) != sorted(want):
        return f"BM25 top-{k} differs from the scan-everything reference"
    return None


def exact_l2_top(vectors: dict[int, np.ndarray], q_ids: list[int], k: int = 5) -> dict[int, list[int]]:
    """Exact L2 top-k neighbour ids per query over ``vectors``."""
    ids = np.fromiter(vectors, dtype=np.int64)
    mat = np.stack([vectors[i] for i in ids]).astype(np.float64)
    out = {}
    for q in q_ids:
        d = ((mat - vectors[q].astype(np.float64)) ** 2).sum(axis=1)
        d[ids == q] = np.inf
        order = np.lexsort((ids, d))[:k]
        out[q] = ids[order].tolist()
    return out


def ann_recall(got: list[tuple], vectors: dict[int, np.ndarray], q_ids: list[int], k: int = 5):
    """(recall, reason): recall@k of (q_id, vec_id, dist, rn) rows
    against the exact L2 top-k, and a reason when the rows are not a
    well-formed top-k (k distinct, existing, non-query ids ranked
    1..k for every query)."""
    by_q: dict[int, list[tuple]] = {}
    for q, v, _dist, rn in got:
        by_q.setdefault(q, []).append((rn, v))
    exact = exact_l2_top(vectors, q_ids, k)
    hits = 0
    for q in q_ids:
        ranked = sorted(by_q.get(q, []))
        ids = [v for _, v in ranked]
        if [rn for rn, _ in ranked] != list(range(1, k + 1)) or len(set(ids)) != k:
            return 0.0, f"query {q}: not a ranked top-{k}"
        if q in ids or any(v not in vectors for v in ids):
            return 0.0, f"query {q}: returned the query itself or an unknown id"
        hits += len(set(ids) & set(exact[q]))
    return hits / (k * len(q_ids)), None
