"""Output checks. Each returns a list of problems; empty means correct.

They compare what the library returned against the answers the
generator computed from the same inputs (see gen.py).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from gen import Query, doc_matches


def parse_hit(hit) -> dict:
    """A search hit (prettified JSON line or Row dict) with ``ts``
    also available as epoch seconds under ``ts_epoch``."""
    doc = json.loads(hit) if isinstance(hit, str) else dict(hit)
    ts = doc.get("ts")
    if isinstance(ts, str):
        doc["ts_epoch"] = int(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp())
    elif isinstance(ts, datetime):
        dt = ts if ts.tzinfo else ts.replace(tzinfo=timezone.utc)
        doc["ts_epoch"] = int(dt.timestamp())
    return doc


def check_hits(q: Query, docs: list, k: int) -> list:
    """Every hit satisfies the query and the hit count is what the
    query's expected match count allows under the limit."""
    bad = [f"hit does not match {q.text!r}: {d}" for d in docs if not doc_matches(q.spec, d)]
    want = min(k, q.expected)
    if len(docs) != want:
        bad.append(f"{q.text!r}: {len(docs)} hits, expected {want}")
    return bad


def check_window(q: Query, docs: list, k: int) -> list:
    """Newest-first top-k: the hits' timestamps are exactly the k
    newest matching timestamps, in descending order."""
    bad = check_hits(q, docs, k)
    got = [d["ts_epoch"] for d in docs]
    if got != q.top_ts[:k]:
        bad.append(f"{q.text!r}: newest ts {got[:3]}..., expected {q.top_ts[:3]}...")
    return bad


def check_scored(q: Query, docs: list, k: int) -> list:
    bad = check_hits(q, docs, k)
    scores = [d["_score"] for d in docs]
    if scores != sorted(scores, reverse=True):
        bad.append(f"{q.text!r}: scores not in descending order")
    return bad


def check_panel(q: Query, docs: list, k: int, facets: dict, buckets: dict) -> list:
    bad = check_hits(q, docs, k)
    if facets != q.facets:
        bad.append(f"{q.text!r}: facet counts differ from the generator's")
    if buckets != q.buckets:
        bad.append(f"{q.text!r}: histogram buckets differ from the generator's")
    return bad


def check_doc_count(indexed: int, committed: int) -> list:
    if indexed != committed:
        return [f"index holds {indexed} docs, {committed} were committed"]
    return []


def check_curate(exact_kept: int, expected_exact: int, splits: list, packed_rows: int) -> list:
    """*splits* is ``[(doc_id, cluster_id, split)]``."""
    bad = []
    if exact_kept != expected_exact:
        bad.append(f"exact_kept {exact_kept}, expected {expected_exact}")
    cluster_split: dict = {}
    for _, cl, sp in splits:
        if cluster_split.setdefault(cl, sp) != sp:
            bad.append(f"near-dup cluster {cl} spans two splits")
            break
    train = sum(1 for _, _, sp in splits if sp == "train")
    if packed_rows != train:
        bad.append(f"{packed_rows} packed rows, {train} train rows")
    return bad


def near_dup_recall(splits: list, planted: list) -> "tuple[int, int]":
    """(pairs found in one cluster, planted pairs whose two docs both
    reached the curated splits)."""
    cluster = {d: cl for d, cl, _ in splits}
    both = [(a, b) for a, b in planted if a in cluster and b in cluster]
    return sum(cluster[a] == cluster[b] for a, b in both), len(both)
