"""Show that the checks catch corrupted output.

    python3 kgbench/selftest.py

Builds small planted inputs, feeds the checks the exact truth (must pass),
then one corruption at a time (must fail): a dropped triple, an altered
triple, a lineage row that disagrees with the committed rows, a sameAs
across planted clusters, predicate stats that disagree with the output,
and for the store one altered and one missing row. A
missed near-dup pair, which LSH may legitimately produce, must pass. No
Spark session is needed. Exits 1 on any miss.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

FAILS: list = []


def expect(name: str, problems: list, should_fail: bool) -> None:
    ok = bool(problems) == should_fail
    print(f"{'ok ' if ok else 'BAD'} {name}: {problems[:1] if problems else 'passes'}")
    if not ok:
        FAILS.append(name)


def counts(triples: set) -> dict:
    out: dict = {}
    for _, p, _ in triples:
        out[p] = out.get(p, 0) + 1
    return out


def committed(truth, canon: dict, n_buckets: int = 4) -> tuple:
    """(rows, lineage) the pipeline would commit under ``canon``: per-doc
    triples tagged (src_doc, bucket), deduplicated within each bucket."""
    rows, seen = [], set()
    for did in sorted(truth.docs):
        b = int(did[3:]) % n_buckets
        for t in sorted(truth.doc_triples(did, canon)):
            if (b, t) not in seen:
                seen.add((b, t))
                rows.append((*t, did, b))
    lineage: dict = {}
    for b in range(n_buckets):
        mine = [r for r in rows if r[4] == b]
        lineage[b] = (len({r[3] for r in mine}), len(mine))
    return rows, lineage


def kg_cases(tmp: str) -> None:
    truth = gen.kg_corpus(7, 400, os.path.join(tmp, "corpus"), n_files=1)
    planted = {d: c for d, (c, _, _) in truth.docs.items() if c != d}

    def run(name, canon, should_fail, edit=None, stats=None):
        rows, lineage = committed(truth, canon)
        if edit is not None:
            rows, lineage = edit(list(rows), dict(lineage))
        triples = {r[:3] for r in rows}
        _, _, problems = check.kg_problems(
            rows, lineage, counts(triples) if stats is None else stats, truth)
        expect(name, problems, should_fail)

    def drop_unique(rows, lineage):
        # a triple only one row carries, with the lineage left consistent
        n = Counter(r[:3] for r in rows)
        once = [r for r in rows if n[r[:3]] == 1]
        victim = once[len(once) // 2]
        rows.remove(victim)
        b = victim[4]
        lineage[b] = (len({r[3] for r in rows if r[4] == b}), lineage[b][1] - 1)
        return rows, lineage

    def alter(rows, lineage):
        i = next(i for i, r in enumerate(rows) if r[1] == "mentions")
        rows[i] = (rows[i][0], "mentions", "entity::x", *rows[i][3:])
        return rows, lineage

    def lineage_off(rows, lineage):
        nd, nt = lineage[0]
        lineage[0] = (nd, nt + 1)
        return rows, lineage

    run("exact output", planted, False)
    run("one triple dropped", planted, True, edit=drop_unique)
    run("one triple altered", planted, True, edit=alter)
    run("lineage row off by one", planted, True, edit=lineage_off)
    rows, _ = committed(truth, planted)
    run("stats disagree with output", planted, True,
        stats={**counts({r[:3] for r in rows}), "mentions": 1})

    # a member LSH failed to join keeps its own id: tolerated, recall drops
    member = next(iter(planted))
    missed = {d: c for d, c in planted.items() if d != member}
    run("one near-dup pair missed", missed, False)

    loner = next(d for d in truth.docs if d not in truth.cluster)
    run("sameAs across planted clusters", {**missed, loner: planted[member]}, True)


def store_cases(tmp: str) -> None:
    _, _, truth = gen.import_incremental(5, 2000, 100, os.path.join(tmp, "incr"))
    rows = truth.store["tag_person"]

    def run(name, actual_rows, should_fail):
        actual = [k + v for k, v in actual_rows.items()]
        p, r = check.precision_recall_rows(actual, rows)
        expect(name, [] if (p, r) == (1.0, 1.0) else [f"store differs (p={p:.4f} r={r:.4f})"],
               should_fail)

    run("exact store", dict(rows), False)
    k = sorted(rows)[0]
    run("one store row altered", {**rows, k: ('"zz"', rows[k][1])}, True)
    run("one store row missing", {kk: v for kk, v in rows.items() if kk != k}, True)


def main() -> int:
    work = os.path.join(os.path.dirname(HERE), ".kgbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        kg_cases(tmp)
        store_cases(tmp)
    try:
        os.rmdir(work)
    except OSError:
        pass  # a benchmark run is using it
    if FAILS:
        print(f"checker missed: {FAILS}")
        return 1
    print("all corruptions caught")
    return 0


if __name__ == "__main__":
    sys.exit(main())
