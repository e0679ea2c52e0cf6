"""Output checks, computed without the package under test.

Truth comes from the planted duplicates in ``inputs.py``, from DuckDB
over the generated files, and from plain Python set arithmetic. Each
check returns ``(recall, precision, ok)``; a run whose ``ok`` is false
counts as failed.
"""

from __future__ import annotations

import duckdb
import numpy as np

# Floors a correct program clears on every seed. Recall is a
# property of the algorithm (blocking, the classifier, LSH banding), so
# the floors sit well under the measured values rather than at 1.0.
MIN_RECALL = {"er_febrl": 0.8, "text_curation": 0.9, "ann": 0.5, "semdedup": 0.9}


def febrl_truth(csv_path: str) -> dict:
    """Blocked-pair count under the lowest-common-block rule, and the
    planted duplicate pairs, straight from the generated CSV.

    A pair co-blocked by both rules (blocking_number, state) is
    compared once, under the lower-numbered rule, so the pair universe
    is pairs(b1) + pairs(b2) - pairs(b1, b2)."""
    con = duckdb.connect()
    try:
        n_pairs, n_planted = con.execute(
            """
            WITH t AS (
                SELECT trim(rec_id) AS rec_id,
                       trim(COALESCE(blocking_number, '')) AS b1,
                       trim(COALESCE(state, '')) AS b2
                FROM read_csv(?, header=true, all_varchar=true)
            ),
            g1 AS (SELECT SUM(n * (n - 1) // 2) AS p
                   FROM (SELECT COUNT(*) AS n FROM t GROUP BY b1)),
            g2 AS (SELECT SUM(n * (n - 1) // 2) AS p
                   FROM (SELECT COUNT(*) AS n FROM t GROUP BY b2)),
            g12 AS (SELECT SUM(n * (n - 1) // 2) AS p
                    FROM (SELECT COUNT(*) AS n FROM t GROUP BY b1, b2)),
            planted AS (SELECT SUM(n * (n - 1) // 2) AS p
                        FROM (SELECT COUNT(*) AS n FROM t
                              GROUP BY split_part(rec_id, '-', 2)))
            SELECT CAST(g1.p + g2.p - g12.p AS BIGINT), CAST(planted.p AS BIGINT)
            FROM g1, g2, g12, planted
            """,
            [csv_path],
        ).fetchone()
    finally:
        con.close()
    return {"n_pairs": n_pairs, "n_planted": n_planted}


def febrl_scored(scored_dir: str, truth: dict):
    """Check the scored pairs written by the pipeline: exactly the
    blocked pair universe, each pair once, canonical order; then the
    confusion matrix against the planted ``rec-<N>`` ids."""
    con = duckdb.connect()
    try:
        n, n_distinct, bad_order, tp, pos = con.execute(
            """
            SELECT COUNT(*), COUNT(DISTINCT (id1, id2)),
                   COUNT(*) FILTER (WHERE id1 >= id2),
                   COUNT(*) FILTER (WHERE prediction = 1.0
                       AND split_part(id1, '-', 2) = split_part(id2, '-', 2)),
                   COUNT(*) FILTER (WHERE prediction = 1.0)
            FROM read_parquet(? || '/*.parquet')
            """,
            [scored_dir],
        ).fetchone()
    finally:
        con.close()
    recall = tp / truth["n_planted"]
    precision = tp / pos if pos else 0.0
    ok = (
        n == truth["n_pairs"]
        and n_distinct == n
        and bad_order == 0
        and recall >= MIN_RECALL["er_febrl"]
        and precision >= 0.9
    )
    return recall, precision, ok


def _shingles(text: str, n: int = 3) -> set:
    w = text.lower().split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def curation(rows, docs, planted: dict, threshold: float):
    """Every document gets one status; emitted duplicates are
    ``exact_dup`` or ``near_dup``. An emitted duplicate that was not
    planted counts as correct only if a lower-id document in its
    component (near) or with the same normalised text (exact) verifies
    it."""
    texts = dict(docs)
    status = {r["doc_id"]: r["status"] for r in rows}
    if len(rows) != len(texts) or set(status) != set(texts):
        return 0.0, 0.0, False
    emitted = {d for d, s in status.items() if s in ("exact_dup", "near_dup")}
    hit = emitted & set(planted)
    comp = {r["doc_id"]: r["comp"] for r in rows}
    norm = {d: " ".join(t.lower().split()) for d, t in texts.items()}
    verified = 0
    for d in emitted - hit:
        if status[d] == "exact_dup":
            verified += any(norm[o] == norm[d] for o in texts if o < d)
        else:
            verified += any(
                comp.get(o) == comp[d] and _jaccard(texts[o], texts[d]) >= threshold
                for o in texts
                if o < d
            )
    recall = len(hit) / len(planted)
    precision = (len(hit) + verified) / len(emitted) if emitted else 0.0
    return recall, precision, recall >= MIN_RECALL["text_curation"] and precision == 1.0


def ingest(found, shard_rows, corpus_rows, planted: dict, threshold: float):
    """``(recall, ok)`` of shard-vs-corpus pairs ``(new_id, corpus_id)``
    against the shard's planted copies. A pair that was not planted
    must verify by a 3-shingle Jaccard match."""
    shard, corpus = dict(shard_rows), dict(corpus_rows)
    pairs = {(r["new_id"], r["corpus_id"]) for r in found}
    hit = {n for n, c in pairs if planted.get(n) == c}
    verified = all(
        n in shard and c in corpus and _jaccard(shard[n], corpus[c]) >= threshold
        for n, c in pairs
        if planted.get(n) != c
    )
    recall = len(hit) / len(planted)
    return recall, verified and recall >= MIN_RECALL["text_curation"]


def _exact_topk(x, qids, k: int):
    """Top-``k`` corpus ids per query by cosine (rows of ``x`` are unit
    vectors), ties to the lower id. A query is not its own neighbour,
    as in the package's kNN operators."""
    sims = x[qids] @ x.T
    sims[np.arange(len(qids)), qids] = -np.inf
    order = np.lexsort((np.broadcast_to(np.arange(x.shape[0]), sims.shape), -sims), axis=1)
    return {q: set(order[i, :k].tolist()) for i, q in enumerate(qids)}


def topk_recall(found, x, qids, k: int):
    """``(recall@k, ok)`` of ``(query_id, neighbor_id)`` rows against an
    exact numpy top-``k``."""
    exact = _exact_topk(x, qids, k)
    got: dict = {}
    for r in found:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = float(np.mean([len(got.get(q, set()) & exact[q]) / k for q in qids]))
    ok = all(len(got.get(q, ())) == k for q in qids) and recall >= MIN_RECALL["ann"]
    return recall, ok


def semdedup(dups, x, planted, threshold: float):
    """``(recall, ok)`` of the ids flagged duplicate against the planted
    near copies. An unplanted one must have a lower-id vector with
    cosine at least ``threshold``."""
    dups, planted = set(dups), set(planted)
    extra = sorted(dups - planted)
    verified = all(float((x[:d] @ x[d]).max(initial=-1.0)) >= threshold for d in extra)
    recall = len(dups & planted) / len(planted)
    return recall, verified and recall >= MIN_RECALL["semdedup"]
