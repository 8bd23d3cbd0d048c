"""Output checks against the generators' planted truth.

Plain Python over rows the harness read back with pyarrow, so a check
runs no Spark job and can be tested without Spark (``selftest.py``).
"""

from __future__ import annotations

from collections import Counter


def precision_recall(actual: set, truth: set) -> tuple:
    hit = len(actual & truth)
    precision = hit / len(actual) if actual else 0.0
    recall = hit / len(truth) if truth else 1.0
    return precision, recall


def kg_problems(rows: list, lineage: dict, pred_counts: dict, truth) -> tuple:
    """(precision, recall, [problem, ...]) for one kg_build leg.

    ``rows``: the committed output as (subj, pred, obj, src_doc, bucket);
    ``lineage``: {bucket: (n_docs, n_triples)} from the lineage rows;
    ``pred_counts``: the leg's predicate statistics {pred: n_triples}.

    Near-dup detection is probabilistic (LSH), so the output is held to the
    planted graph by precision/recall >= 0.95, and held EXACTLY to the graph
    the planted inputs imply under the doc mapping the output itself
    declares through its sameAs triples, which may only join docs of one
    planted cluster. Lineage rows must describe the committed rows of their
    bucket. A doc outside every near-dup cluster has a triple of its own,
    so it must be attributed somewhere; a clustered doc may lose all its
    rows to a duplicate in the same bucket.
    """
    triples = {(s, p, o) for s, p, o, _, _ in rows}
    p, r = precision_recall(triples, truth.triples)
    problems = []
    if p < 0.95 or r < 0.95:
        problems.append(f"precision {p:.4f} / recall {r:.4f} below 0.95")
    canon = {}
    for s, pred, o in triples:
        if pred != "sameAs":
            continue
        d, c = s[len("doc:"):], o[len("doc:"):]
        if d not in truth.cluster or truth.cluster.get(c) != truth.cluster[d]:
            problems.append(f"sameAs joins {d} and {c} across planted clusters")
        canon[d] = c
    expected = truth.triples_under(canon)
    if triples != expected:
        problems.append(f"output differs from the planted graph under its own doc "
                        f"mapping: {len(expected - triples)} missing, "
                        f"{len(triples - expected)} unexpected")
    counts: dict = {}
    for _, pred, _ in triples:
        counts[pred] = counts.get(pred, 0) + 1
    if pred_counts != counts:
        problems.append(f"predicate stats {pred_counts} != output {counts}")
    docs: dict = {}
    n_rows: dict = {}
    for _, _, _, doc, bucket in rows:
        docs.setdefault(bucket, set()).add(doc)
        n_rows[bucket] = n_rows.get(bucket, 0) + 1
    committed = {b: (len(docs[b]), n_rows[b]) for b in n_rows}
    if lineage != committed:
        bad = sorted(b for b in set(lineage) | set(committed)
                     if lineage.get(b) != committed.get(b))
        problems.append(f"lineage disagrees with the committed rows in buckets {bad}")
    attributed = set().union(*docs.values()) if docs else set()
    unattributed = {d for d in truth.docs if d not in truth.cluster} - attributed
    if unattributed or not attributed <= truth.docs.keys():
        problems.append(f"{len(unattributed)} unclustered docs unattributed, "
                        f"{len(attributed - truth.docs.keys())} unknown docs attributed")
    return p, r, problems


def precision_recall_rows(actual: list, expected: dict) -> tuple:
    """Exact (precision, recall) of a store table's rows (tuples over key +
    prop columns) against the expected {key tuple: prop tuple}; a row
    stored twice counts once as a hit and once as extra."""
    want = Counter(k + v for k, v in expected.items())
    got = Counter(actual)
    hit = sum((got & want).values())
    precision = hit / len(actual) if actual else 0.0
    recall = hit / len(expected) if expected else 1.0
    return precision, recall
