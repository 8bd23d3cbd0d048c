"""Seeded input generators with planted ground truth.

Everything here is plain Python (``random.Random(seed)``, pyarrow, csv text):
no module of the program under test is imported, so a change to the
program's own corpus synthesis or fixtures cannot change a workload.

Each generator returns the inputs it wrote plus the truth the checker
compares the program's output against.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# kg_build: interleaved corpus
# --------------------------------------------------------------------------

# 48 entities, each named by its first surface form; 16 further surface
# forms collapse onto one of them (alias collapse), 64 dictionary terms in all.
_ENTITIES = (
    "spark flink trino kafka iceberg parquet arrow hudi delta orc avro hive "
    "druid pinot kudu hbase cassandra redis postgres mysql duckdb clickhouse "
    "snowflake bigquery redshift airflow dagster prefect dbt beam storm samza "
    "pulsar rabbitmq nats zookeeper etcd consul kubernetes docker yarn mesos "
    "ray dask polars pandas numpy arrowflight"
).split()
_ALIASES = {
    "pyspark": "spark", "sparksql": "spark", "presto": "trino",
    "prestosql": "trino", "flinksql": "flink", "kstreams": "kafka",
    "postgresql": "postgres", "pg": "postgres", "mariadb": "mysql",
    "k8s": "kubernetes", "kube": "kubernetes", "bq": "bigquery",
    "ch": "clickhouse", "deltalake": "delta", "hadoopyarn": "yarn",
    "scylla": "cassandra",
}
TERMS = tuple(_ENTITIES) + tuple(_ALIASES)
ALIAS_MAP = {t: f"entity::{t}" for t in _ENTITIES}
ALIAS_MAP.update({a: f"entity::{e}" for a, e in _ALIASES.items()})


def _filler_words(n: int = 600) -> tuple:
    """Fixed non-dictionary vocabulary (consonant-vowel syllable words)."""
    cons, vows = "bdfgklmnprstvz", "aeiou"
    syll = [c + v for c in cons for v in vows]
    rng = random.Random(12345)
    out: set = set()
    while len(out) < n:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 3)))
        if w not in ALIAS_MAP:
            out.add(w)
    return tuple(sorted(out))


FILLER = _filler_words()
FIXTURE_TAG = "product"
FIXTURE_DELIM = "|"
_TOKEN_RE = re.compile(r"[^a-z0-9_]+")


@dataclass
class KGTruth:
    docs: dict  # doc id -> (planted canonical id, mentioned entities, fixture triples)
    cluster: dict  # doc id -> near-dup cluster number, for clustered docs only
    triples: set  # the planted graph
    n_dup_docs: int
    n_clusters: int

    @property
    def n_docs(self) -> int:
        return len(self.docs)

    def doc_triples(self, did: str, canon: dict) -> set:
        """The triples doc ``did`` yields when doc ids map by ``canon``
        (doc id -> canonical id, identity where absent)."""
        _, ents, fixture = self.docs[did]
        subj = f"doc:{canon.get(did, did)}"
        out = {(subj, "tag:Document", "NULL"), *fixture}
        if canon.get(did, did) != did:
            out.add((f"doc:{did}", "sameAs", subj))
        for ent in ents:
            out.add((ent, "tag:Entity", "NULL"))
            out.add((subj, "mentions", ent))
        return out

    def triples_under(self, canon: dict) -> set:
        """The graph the pipeline must emit if it maps doc ids by ``canon``."""
        return set().union(*(self.doc_triples(d, canon) for d in self.docs))


def _words(rng: random.Random, n: int, term_p: float) -> list:
    return [
        rng.choice(TERMS) if rng.random() < term_p else rng.choice(FILLER)
        for _ in range(n)
    ]


def _sku_row(sku: int) -> tuple:
    """Fixed (name, version) per sku, so repeated skus give equal triples."""
    r = random.Random(sku * 7919)
    name = r.choice(TERMS) if r.random() < 0.5 else r.choice(FILLER)
    return name, r.randint(1, 40)


def _base_doc(rng: random.Random) -> list:
    """Spans as [kind, text, media_tag, offset]; media_tag is completed with
    the doc id once it is known. At least one text span always exists."""
    n = rng.randint(5, 10)
    kinds = ["text"] + rng.choices(
        ["text", "image", "audio", "table_row"], weights=[60, 15, 10, 15], k=n - 1
    )
    spans, offset = [], 0
    for k in kinds:
        offset += rng.randint(1, 4)
        if k == "text":
            spans.append(["text", " ".join(_words(rng, rng.randint(6, 12), 0.15)), "", offset])
        elif k in ("image", "audio"):
            # captions carry dictionary terms too, but extraction must skip them
            spans.append([k, " ".join(_words(rng, rng.randint(3, 6), 0.3)), "media", offset])
        elif rng.random() < 0.5:
            sku = rng.randrange(2000)
            name, ver = _sku_row(sku)
            spans.append(["table_row", f"sku{sku}|{name}|{ver}", "fixture", offset])
        else:
            spans.append(["table_row", "|".join(_words(rng, 3, 0.3)), "table", offset])
    return spans


def _mutate(rng: random.Random, spans: list) -> list:
    """Near-duplicate: replace one token of one text span by filler."""
    out = [list(s) for s in spans]
    text_idx = [i for i, s in enumerate(out) if s[0] == "text"]
    i = rng.choice(text_idx)
    toks = out[i][1].split(" ")
    j = rng.randrange(len(toks))
    toks[j] = rng.choice([w for w in FILLER[:50] if w != toks[j]])
    out[i][1] = " ".join(toks)
    return out


def _mentions(spans: list) -> set:
    found = set()
    for kind, text, _, _ in spans:
        if kind in ("text", "table_row"):
            found.update(t for t in _TOKEN_RE.split(text.lower()) if t in ALIAS_MAP)
    return found


def kg_corpus(seed: int, n_docs: int, out_dir: str, n_files: int = 8) -> KGTruth:
    """Write the corpus parquet under ``out_dir`` and return its truth.

    About 5% of docs sit in near-dup pairs (one token changed in the
    second doc); canonical id = the smaller id of a pair.

    Clusters are pairs so that the number of connected-component rounds
    does not depend on the seed: LSH misses some member pairs, and a 3-doc
    cluster it leaves as a path with its smallest id at one end needs one
    more round (six more Spark jobs) than any pair.
    """
    rng = random.Random(seed)
    docs: list = []  # (cluster_id or None, spans)
    n_dup_target = n_docs // 20
    n_clusters = 0
    while len(docs) < n_dup_target:
        base = _base_doc(rng)
        docs.append((n_clusters, base))
        docs.append((n_clusters, _mutate(rng, base)))
        n_clusters += 1
    n_dup = len(docs)
    while len(docs) < n_docs:
        docs.append((None, _base_doc(rng)))
    ids = [f"doc{i:07d}" for i in rng.sample(range(10 * n_docs), len(docs))]

    canon_of_cluster: dict = {}
    for (cl, _), did in zip(docs, ids):
        if cl is not None:
            canon_of_cluster[cl] = min(canon_of_cluster.get(cl, did), did)

    docs_truth: dict = {}
    cluster: dict = {}
    rows = []
    for (cl, spans), did in zip(docs, ids):
        if cl is not None:
            cluster[did] = cl
        fixture = set()
        out_spans = []
        for k, (kind, text, tag, off) in enumerate(spans):
            media = "" if tag == "" else f"{tag}://{did}/{k}"
            out_spans.append(
                {"kind": kind, "text": text, "media_ref": media, "offset": off}
            )
            if tag == "fixture":
                sku, name, ver = text.split(FIXTURE_DELIM)
                vid = f'"{sku}"'
                fixture.add((vid, f"tag:{FIXTURE_TAG}", "NULL"))
                fixture.add((vid, f"{FIXTURE_TAG}.name", f'"{name}"'))
                fixture.add((vid, f"{FIXTURE_TAG}.version", str(ver)))
        ents = frozenset(ALIAS_MAP[t] for t in _mentions(spans))
        canon = did if cl is None else canon_of_cluster[cl]
        docs_truth[did] = (canon, ents, frozenset(fixture))
        rng.shuffle(out_spans)  # array order is not offset order
        rows.append({"doc_id": did, "spans": out_spans})
    rng.shuffle(rows)

    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))])
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * per : (f + 1) * per]
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=schema),
            os.path.join(out_dir, f"part-{f:03d}.parquet"),
        )
    truth = KGTruth(docs_truth, cluster, set(), n_dup, n_clusters)
    truth.triples = truth.triples_under({d: c for d, (c, _, _) in docs_truth.items()})
    return truth


# --------------------------------------------------------------------------
# import_incremental: CSV sources, configs and the expected store
# --------------------------------------------------------------------------

# table -> key columns / prop columns as the store holds them (rendered)
TABLES = {
    "tag_person": (["vid"], ["p_name", "p_age"]),
    "tag_company": (["vid"], ["p_name", "p_founded"]),
    "edge_knows": (["src", "dst", "rank"], ["p_weight"]),
}


def _q(s: str) -> str:
    return f'"{s}"'


def _dbl(s: str) -> str:
    return s if "." in s else s + ".0"


def _spec_yaml(table: str, mode: str) -> str:
    """The YAML mapping entry that fills ``table`` (mode-specific props)."""
    m = f"        mode: {mode}\n"
    if table == "tag_person":
        props = "" if mode == "DELETE" else (
            "        props:\n"
            "          - {name: name, type: STRING, index: 1}\n"
            "          - {name: age, type: INT, index: 2}\n")
        return ("      - name: person\n        id: {type: STRING, index: 0}\n"
                + props + m)
    if table == "tag_company":
        props = "" if mode == "DELETE" else (
            "        props:\n"
            "          - {name: name, type: STRING, index: 1}\n"
            "          - {name: founded, type: INT, index: 2}\n")
        return ("      - name: company\n        id: {type: STRING, index: 0}\n"
                + props + m)
    props = "" if mode == "DELETE" else (
        "        props:\n          - {name: weight, type: DOUBLE, index: 3}\n")
    return ("      - name: knows\n"
            "        src: {id: {type: STRING, index: 0}}\n"
            "        dst: {id: {type: STRING, index: 1}}\n"
            "        rank: {index: 2}\n" + props + m)


def _config(sources: list) -> str:
    """``sources``: [(csv file, [(table, mode), ...])]."""
    out = ["manager:\n  spaceName: bench\n  batch: 128\nsources:\n"]
    for path, specs in sources:
        tags = [t for t in specs if t[0].startswith("tag_")]
        edges = [t for t in specs if t[0].startswith("edge_")]
        out.append(f"  - path: {path}\n    csv: {{delimiter: \",\"}}\n")
        if tags:
            out.append("    tags:\n" + "".join(_spec_yaml(t, m) for t, m in tags))
        if edges:
            out.append("    edges:\n" + "".join(_spec_yaml(t, m) for t, m in edges))
    return "".join(out)


class _Rows:
    """Raw CSV rows per entity kind (values as written, unrendered)."""

    def __init__(self, rng: random.Random, n_person: int, n_company: int):
        self.rng, self.n_person, self.n_company = rng, n_person, n_company

    def person(self, i: int) -> list:
        r = self.rng
        return [f"p{i}", r.choice(FILLER), str(r.randint(18, 90))]

    def company(self, i: int) -> list:
        r = self.rng
        return [f"c{i}", r.choice(FILLER), str(r.randint(1900, 2025))]

    def knows(self) -> list:
        r = self.rng
        w = str(r.randint(0, 9)) if r.random() < 0.3 else f"{r.randint(0, 99) / 100:.2f}"
        return [f"p{r.randrange(self.n_person)}", f"p{r.randrange(self.n_person)}",
                str(r.randint(0, 3)), w]


def _render(table: str, row: list) -> tuple:
    """Raw CSV row → (key tuple, prop tuple) as the store holds them."""
    if table == "tag_person":
        return (_q(row[0]),), (_q(row[1]), row[2])
    if table == "tag_company":
        return (_q(row[0]),), (_q(row[1]), row[2])
    return (_q(row[0]), _q(row[1]), row[2]), (_dbl(row[3]),)


def _malform(rng: random.Random, row: list) -> list:
    return row[:-1] if rng.random() < 0.5 else row + ["x"]


@dataclass
class ImportTruth:
    store: dict  # table -> {key: props}
    failed_rows: dict = field(default_factory=dict)  # csv file -> planted count
    # parsed rows each batch's spec must report, by batch csv
    spec_records: dict = field(default_factory=dict)
    input_rows: int = 0
    input_bytes: int = 0


def _write_csv(path: str, rows: list) -> int:
    data = "".join(",".join(r) + "\n" for r in rows)
    with open(path, "w") as f:
        f.write(data)
    return len(data)


# incremental batches, applied in this order: (table, mode)
# (tag_company is preloaded and never touched: it must stay byte-identical)
_BATCH_PLAN = (
    ("tag_person", "UPSERT"),
    ("edge_knows", "DELETE"),
    ("tag_person", "UPDATE"),
)


def import_incremental(seed: int, n_store: int, n_batch: int, out_dir: str) -> tuple:
    """The preloaded store (``n_store`` rows over person, company and knows)
    and three batch configs of ``n_batch`` rows each, one per mode (UPSERT,
    DELETE, UPDATE). The UPDATE batch carries ~5% keys absent from the
    store; every batch has ~0.2% malformed rows.

    Returns (preload {table: {key: props}}, [(batch config, csv name,
    expected n_failed)], truth) where truth.store is the post-state after
    all batches. Write the preload with :func:`store_arrow`."""
    rng = random.Random(seed)
    n_person, n_company = int(n_store * 0.5), int(n_store * 0.1)
    n_knows = n_store - n_person - n_company
    gen = _Rows(rng, n_person, n_company)
    os.makedirs(out_dir, exist_ok=True)
    store = {t: {} for t in TABLES}
    raw = {t: {} for t in TABLES}  # key -> raw CSV row, for revaluing
    pre = (
        ("tag_person", [gen.person(i) for i in range(n_person)]),
        ("tag_company", [gen.company(i) for i in range(n_company)]),
        ("edge_knows", [gen.knows() for _ in range(n_knows)]),
    )
    for t, rows in pre:
        for row in rows:
            k, p = _render(t, row)
            store[t][k] = p
            raw[t][k] = row
    preload = {t: dict(rows) for t, rows in store.items()}

    truth = ImportTruth(store=store)
    batches = []
    for b, (table, mode) in enumerate(_BATCH_PLAN):
        existing = list(raw[table].values())
        rows, bad = [], set()
        n_missing = 0
        for i in range(n_batch):
            if i > 0 and rng.random() < 0.002:
                bad.add(i)  # malformed: the reader drops it, it is never applied
                rows.append(_malform(rng, list(existing[rng.randrange(len(existing))])))
                continue
            if mode == "UPDATE" and rng.random() < 0.05:
                row = _fresh(gen, table, rng)  # key absent from the store
                while _render(table, row)[0] in store[table]:
                    row = _fresh(gen, table, rng)
                n_missing += 1
            elif mode == "UPSERT" and rng.random() < 0.3:
                row = _fresh(gen, table, rng)  # may create a key
            else:
                row = list(existing[rng.randrange(len(existing))])
                row = _revalue(gen, table, row)
            rows.append(row)
        fname = f"batch{b}.csv"
        data_bytes = _write_csv(os.path.join(out_dir, fname), rows)
        truth.input_bytes += data_bytes
        truth.input_rows += len(rows)
        # apply in file order; an UPDATE row whose key is absent fails
        fails = 0
        for i, row in enumerate(rows):
            if i in bad:
                continue
            k, p = _render(table, row)
            if mode == "DELETE":
                store[table].pop(k, None)
                raw[table].pop(k, None)
            elif mode == "UPDATE" and k not in store[table]:
                fails += 1
            else:
                store[table][k] = p
                raw[table][k] = row
        assert fails == n_missing
        truth.failed_rows[fname] = len(bad)
        truth.spec_records[fname] = len(rows) - len(bad)
        cfg = os.path.join(out_dir, f"batch{b}.yaml")
        with open(cfg, "w") as f:
            f.write(_config([(fname, [(table, mode)])]))
        batches.append((cfg, fname, fails + len(bad)))
    return preload, batches, truth


def _fresh(gen: _Rows, table: str, rng: random.Random) -> list:
    if table == "tag_person":
        return gen.person(gen.n_person + rng.randrange(10 * gen.n_person))
    if table == "tag_company":
        return gen.company(gen.n_company + rng.randrange(10 * gen.n_company))
    r = gen.knows()
    r[0] = f"p{gen.n_person + rng.randrange(10 * gen.n_person)}"
    return r


def _revalue(gen: _Rows, table: str, row: list) -> list:
    """Same key, new prop values."""
    if table == "tag_person":
        new = gen.person(0)
        return [row[0], new[1], new[2]]
    if table == "tag_company":
        new = gen.company(0)
        return [row[0], new[1], new[2]]
    new = gen.knows()
    return [row[0], row[1], row[2], new[3]]


def store_arrow(table: str, rows: dict) -> pa.Table:
    """A store table as Arrow, laid out as the program's store holds it:
    key then prop columns, all rendered strings."""
    keys, props = TABLES[table]
    cols = keys + props
    data = {c: [] for c in cols}
    for k, p in rows.items():
        for c, v in zip(cols, (*k, *p)):
            data[c].append(v)
    return pa.table({c: pa.array(v, pa.string()) for c, v in data.items()})
