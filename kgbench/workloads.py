"""The workloads: inputs, the timed leg, its check, its layer map.

A leg is one closed-loop operation from input to committed result:

* ``kg_build``: ``run_pipeline`` with an output table and a lineage
  checkpoint, then the predicate statistics collected;
* ``import_incremental``: three ``import_config`` calls, each applying one
  small UPSERT, DELETE or UPDATE batch to a preloaded store.

``before_leg`` resets state outside the timed region; ``check`` compares
what the leg committed with the generator's truth.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import check
import gen


def tree_bytes(path: str) -> int:
    return sum(size for size, _ in inventory(path).values())


def inventory(path: str) -> dict:
    """{relative path: (size, mtime_ns)} of every file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def read_rows(path: str, cols: list) -> list:
    """The rows of the parquet table at ``path``, as tuples over ``cols``;
    read with pyarrow, so a check runs no Spark job."""
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def written_bytes(before: dict, after: dict) -> int:
    return sum(v[0] for k, v in after.items() if before.get(k) != v)


class KGBuild:
    name = "kg_build"
    n_docs = 400
    # one leg per run, the first in a fresh session: what a batch run of
    # the pipeline pays. A warm-up leg would cost as much as this cold one
    # whatever its corpus size, and the time budget of 48 runs cannot carry
    # both (README, "Time budget")
    warmup_legs = 0
    scored_legs = 1
    n_buckets = 4

    def __init__(self, work: str, seed: int):
        self.work = work
        self.corpus_dir = os.path.join(work, "corpus")
        self.truth = gen.kg_corpus(seed, self.n_docs, self.corpus_dir)
        self.rows = self.truth.n_docs
        self.input_bytes = tree_bytes(self.corpus_dir)
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")

    def setup(self, spark) -> None:
        from nebula_importer_spark.plans.specs import NodeIDSpec, NodeSpec, PropSpec

        self.spark = spark
        self.corpus = spark.read.parquet(self.corpus_dir)
        self.spec = NodeSpec(
            name=gen.FIXTURE_TAG,
            id=NodeIDSpec(type="STRING", index=0),
            props=[PropSpec(name="name", type="STRING", index=1),
                   PropSpec(name="version", type="INT", index=2)],
        )

    def before_leg(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def leg(self):
        from nebula_importer_spark.pipeline.lineage import Checkpoint
        from nebula_importer_spark.pipeline.run import run_pipeline

        res = run_pipeline(
            self.spark, self.corpus, gazetteer=gen.TERMS, aliases=gen.ALIAS_MAP,
            fixture_node_specs=[self.spec], fixture_delimiter=gen.FIXTURE_DELIM,
            checkpoint=Checkpoint(self.ckpt), output_path=self.out,
            n_buckets=self.n_buckets,
        )
        stats = {r["pred"]: int(r["n_triples"]) for r in res.stats.collect()}
        return res, stats

    def leg_ops(self) -> int:
        return 1

    def written(self) -> int:
        return tree_bytes(self.out) + tree_bytes(self.ckpt)

    def store_written(self) -> int:
        return 0

    def parse_ratio(self, state) -> float:
        return 0.0

    def check(self, state) -> tuple:
        """(failed ops, precision, recall, problems)."""
        res, stats = state
        res.unpersist()
        rows = read_rows(self.out, ["subj", "pred", "obj", "src_doc", "bucket"])
        lin = read_rows(os.path.join(self.ckpt, "lineage"), ["bucket", "n_docs", "n_triples"])
        rows = [(*r[:4], int(r[4])) for r in rows]
        lineage = {int(b): (int(d), int(t)) for b, d, t in lin}
        p, r, problems = check.kg_problems(rows, lineage, stats, self.truth)
        return (1 if problems else 0), p, r, problems

    def patch(self, tracer) -> None:
        from nebula_importer_spark.pipeline import lineage
        from nebula_importer_spark.pipeline import run as run_mod

        for name, layer in (
            ("reassemble", "corpus"), ("explode_spans", "corpus"),
            ("minhash_lsh_pairs", "dedup"), ("canonical_mapping", "canonicalize"),
            ("extract_mentions", "extract"), ("doc_mentions", "extract"),
            ("link_mentions", "link"), ("node_values", "mapping"),
            ("node_triples", "triples"), ("predicate_stats", "materialize"),
        ):
            tracer.patch(run_mod, name, layer, capture=(name == "minhash_lsh_pairs"))
        tracer.patch(run_mod, "write_partitioned", "lineage", force=None)
        tracer.patch(lineage.Checkpoint, "record", "lineage", force=None)
        tracer.patch(run_mod, "with_bucket", None)

    def root(self) -> tuple:
        return "run", "run_pipeline"

    def traced_ratios(self, tracer, state) -> dict:
        """Ratios that need one extra count each, taken after the leg."""
        res, _ = state
        (args, kwargs), = tracer.captured["minhash_lsh_pairs"]
        lsh = tracer.original("minhash_lsh_pairs")
        verified = [s["rows"] for s in tracer.spans if s["call"] == "minhash_lsh_pairs"][0]
        candidates = lsh(*args, **{**kwargs, "threshold": 0.0}).count()
        before = [a[0] for a, kw in tracer.captured["with_bucket"]
                  if kw.get("id_col") == "src_doc"][0].count()
        after = res.triples.count()
        return {
            "dedup.verify_ratio": verified / candidates if candidates else 0.0,
            "materialize.dedup_ratio": after / before if before else 0.0,
        }


class ImportIncremental:
    name = "import_incremental"
    n_store = 30_000
    n_batch = 1_000
    # one warm-up leg takes the cold start of the UPSERT/DELETE/UPDATE
    # plans; then the median of two scored legs (README, "Warm-up evidence")
    warmup_legs = 1
    scored_legs = 2

    def __init__(self, work: str, seed: int):
        self.work = work
        self.src = os.path.join(work, "src")
        preload, self.batches, self.truth = gen.import_incremental(
            seed, self.n_store, self.n_batch, self.src)
        self.rows = self.truth.input_rows
        self.input_bytes = self.truth.input_bytes
        # the preloaded store is written here, in the program's store
        # layout (<apply_path>/<kind>_<name>, parquet, string columns), to
        # keep the ~20 s cold start of an import_config preload out of runs
        self.base = os.path.join(work, "store_base")
        for table, rows in preload.items():
            os.makedirs(os.path.join(self.base, table))
            pq.write_table(gen.store_arrow(table, rows),
                           os.path.join(self.base, table, "part-00000.parquet"))
        self.store = os.path.join(work, "store")

    def setup(self, spark) -> None:
        self.spark = spark

    def before_leg(self) -> None:
        # restore the preloaded store byte for byte (mtimes too)
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.base, self.store)
        self._before = inventory(self.store)

    def leg(self):
        from nebula_importer_spark.pipeline.importer import import_config

        return [import_config(self.spark, cfg, base_dir=self.src, apply_path=self.store)
                for cfg, _, _ in self.batches]

    def leg_ops(self) -> int:
        return len(self.batches)

    def written(self) -> int:
        return written_bytes(self._before, inventory(self.store))

    store_written = written

    def check(self, state) -> tuple:
        problems, failed = [], set()
        for b, (res, (_, fname, want_failed)) in enumerate(zip(state, self.batches)):
            (spec,) = res.specs
            (src,) = res.sources
            want = self.truth.spec_records[fname]
            want_bad = self.truth.failed_rows[fname]
            if (res.n_failed, spec.n_records, src.failed_rows) != (want_failed, want, want_bad):
                failed.add(b)
                problems.append(
                    f"{fname}: n_failed {res.n_failed} (planted {want_failed}), records "
                    f"{spec.n_records} (planted {want}), malformed {src.failed_rows} "
                    f"(planted {want_bad})")
        p, r, store_problems = self._store_problems()
        if store_problems:
            failed = set(range(self.leg_ops()))
            problems += store_problems
        return len(failed), p, r, problems

    def _store_problems(self) -> tuple:
        problems, pr = [], []
        for table, rows in self.truth.store.items():
            keys, props = gen.TABLES[table]
            actual = read_rows(os.path.join(self.store, table), keys + props)
            p, r = check.precision_recall_rows(actual, rows)
            pr.append((p, r))
            if (p, r) != (1.0, 1.0):
                problems.append(f"{table}: store differs from truth "
                                f"(p={p:.6f} r={r:.6f}, {len(actual)} rows)")
        return min(x[0] for x in pr), min(x[1] for x in pr), problems

    def patch(self, tracer) -> None:
        from nebula_importer_spark.operators import checkpointing, merge
        from nebula_importer_spark.pipeline import importer

        tracer.patch(importer, "read_source_accounted", "sources")
        tracer.patch(importer, "node_values", "mapping")
        tracer.patch(importer, "edge_values", "mapping")
        tracer.patch(importer, "assemble_statements", "statements")
        tracer.patch(merge, "apply_mutations", "merge")
        tracer.patch(merge, "unmatched_update_rows", "merge")
        tracer.patch(checkpointing, "materialize", "checkpointing", force="count")

    def root(self) -> tuple:
        return "importer", "import_config"

    def traced_ratios(self, tracer, state) -> dict:
        return {}

    def parse_ratio(self, results) -> float:
        raw = sum(s.raw_rows or 0 for r in results for s in r.sources)
        parsed = sum(s.parsed_rows for r in results for s in r.sources)
        return parsed / raw if raw else 0.0


WORKLOADS = {w.name: w for w in (KGBuild, ImportIncremental)}
