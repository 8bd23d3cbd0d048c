"""Benchmark entry point.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one Spark session at local[4],
one closed-loop caller: each leg starts only after the previous one has
committed and been checked. Inputs are generated from ``--seed`` by
``gen.py``; every leg's output is checked against the planted truth.

Phases: generate inputs (harness, not timed) → start the session and run
the workload's program-side preparation and warm-up legs (``setup_s``) →
the workload's fixed number of scored legs, whose median is reported →
unscored legs, logged to stderr only, until ``--seconds`` have passed since
the first scored leg began. With ``--trace 1`` two more legs run: an
untraced reference leg, then one with a span around every layer call (see
``spans.py``); the per-layer metrics are printed instead of the end-to-end
ones, and the tracing overhead is the traced leg against the reference.

The last stdout line is the JSON result; per-leg records go to stderr.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"

LAYERS = (
    "corpus", "dedup", "canonicalize", "extract", "link", "mapping", "triples",
    "materialize", "lineage", "sources", "statements", "merge", "checkpointing",
    "run", "importer",
)
LAYER_FIELDS = (
    ("wall_s", "s"), ("cpu_s", "s"), ("rows_out", "count"),
    ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("jobs", "count"),
)
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
    "shuffle_mb": "MB", "write_amp": "ratio", "precision": "ratio", "recall": "ratio",
}
EXTRA_UNITS = {
    "dedup.verify_ratio": "ratio", "materialize.dedup_ratio": "ratio",
    "sources.parse_ratio": "ratio", "merge.write_amp": "ratio",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "python.cpu_s": "s", "process.peak_rss_mb": "MB",
    "trace.root_s": "s", "trace.untraced_wall_s": "s",
    "trace.overhead": "ratio", "trace.coverage": "ratio",
}


def _args():
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _confine_env(work: str) -> None:
    """Keep every file the JVM, Spark and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    # -XX:-UsePerfData: no hsperfdata file in /tmp.
    # -XX:TieredStopAtLevel=1: C1 only. At local[4] on 4 cores, C2 spends
    # 40-70 CPU-s per leg for five legs or more, competing with the task
    # threads, so leg walls keep falling; with C1 they are flat after the
    # first leg (see README, "Warm-up evidence")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, still reap it
            proc.kill()
            proc.wait()


def _host_probe() -> tuple:
    """(steal ticks, total ticks) from /proc/stat, and the wall time of a
    fixed pure-Python loop: context for reading an outlier run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    t = time.perf_counter()
    sum(i * i for i in range(300_000))
    return ticks[7], sum(ticks), time.perf_counter() - t


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, spark, workload):
        from procs import EngineProcs
        from spans import StatusStore

        self.spark, self.w = spark, workload
        self.store = StatusStore(spark)
        self.procs = EngineProcs(spark)
        self.legs: list = []
        self.attempted = self.failed = 0
        self.problems: list = []

    def leg(self, kind: str, tracer=None) -> dict:
        w = self.w
        w.before_leg()
        j0 = self.store.last_job_id()
        s0 = self.procs.sample()
        t = time.perf_counter()
        try:
            if tracer is None:
                state = w.leg()
            else:
                with tracer.span(*w.root()):
                    state = w.leg()
        except Exception as e:  # noqa: BLE001 - a raise is a failed operation
            self.attempted += w.leg_ops()
            self.failed += w.leg_ops()
            self.problems.append(f"{kind} leg raised {type(e).__name__}: {e}")
            rec = {"kind": kind, "error": repr(e)}
            self.legs.append(rec)
            return rec
        wall = time.perf_counter() - t
        rec = {"kind": kind, "wall_s": wall, **self.procs.delta(s0, self.procs.sample())}
        cost = self.store.cost_since(j0)
        rec["cost"] = cost
        rec["shuffle_mb"] = sum(c.get("shuffle_mb", 0.0) for c in cost.values())
        rec["jobs"] = sum(c.get("jobs", 0) for c in cost.values())
        rec["written"] = w.written()
        rec["store_written"] = w.store_written()
        rec["parse_ratio"] = w.parse_ratio(state)
        if tracer is not None:
            rec["ratios"] = w.traced_ratios(tracer, state)
        t = time.perf_counter()
        n_failed, p, r, problems = w.check(state)
        rec["check_s"] = time.perf_counter() - t
        if tracer is not None:
            tracer.release()
        self.attempted += w.leg_ops()
        self.failed += n_failed
        self.problems += problems
        rec.update(precision=p, recall=r, failed=n_failed)
        self.legs.append(rec)
        print(json.dumps({"leg": {k: v for k, v in rec.items() if k != "cost"}}),
              file=sys.stderr, flush=True)
        return rec

    def timed(self, n: int, seconds: float) -> list:
        """``n`` scored legs, the same count on every commit however fast a
        leg is; then unscored legs until ``seconds`` have passed."""
        t = time.perf_counter()
        out = [self.leg("timed") for _ in range(n)]
        while time.perf_counter() - t < seconds:
            self.leg("unscored")
        return [r for r in out if "wall_s" in r]


def end_to_end(runner: Runner, setup_s: float, timed: list) -> dict:
    w = runner.w
    wall = _median([r["wall_s"] for r in timed])
    checked = [r for r in runner.legs if "precision" in r]
    vals = {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": w.rows / wall if wall else 0.0,
        "cpu_s": _median([r["cpu_s"] for r in timed]),
        "shuffle_mb": _median([r["shuffle_mb"] for r in timed]),
        "write_amp": _median([r["written"] for r in timed]) / w.input_bytes,
        "precision": min((r["precision"] for r in checked), default=0.0),
        "recall": min((r["recall"] for r in checked), default=0.0),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def per_layer(runner: Runner, tracer, untraced_legs: list, reference: dict,
              traced: dict) -> dict:
    w = runner.w
    cost = traced["cost"]
    layers = tracer.layer_report(cost)
    vals: dict = {}
    for layer in LAYERS:
        rep = layers.get(layer, {})
        for f, _ in LAYER_FIELDS:
            vals[f"{layer}.{f}"] = rep.get(f, 0.0)
    root_layer = w.root()[0]
    root = next(s for s in tracer.spans if s["parent"] is None)
    root_s = root["end"] - root["start"]
    untraced = reference["wall_s"]
    ratios = traced.get("ratios", {})
    vals.update({
        "dedup.verify_ratio": ratios.get("dedup.verify_ratio", 0.0),
        "materialize.dedup_ratio": ratios.get("materialize.dedup_ratio", 0.0),
        "sources.parse_ratio": traced["parse_ratio"],
        "merge.write_amp": traced["store_written"] / w.input_bytes,
        "jvm.jit_s": _median([r["jit_s"] for r in untraced_legs]),
        "jvm.gc_s": _median([r["gc_s"] for r in untraced_legs]),
        "python.cpu_s": _median([r["python_cpu_s"] for r in untraced_legs]),
        # per-layer only: JVM heap growth spread it 0.28 over ten runs
        "process.peak_rss_mb": runner.procs.peak_rss_mb(),
        "trace.root_s": root_s,
        "trace.untraced_wall_s": untraced,
        "trace.overhead": root_s / untraced if untraced else 0.0,
        "trace.coverage": 1.0 - layers[root_layer]["wall_s"] / root_s,
    })
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS}
    units.update(EXTRA_UNITS)
    # the human-readable traced-run report
    print("traced leg: layer self time (s), share of root span", file=sys.stderr)
    for layer, rep in sorted(layers.items(), key=lambda kv: -kv[1]["wall_s"]):
        print(f"  {layer:14s} {rep['wall_s']:8.3f}  {rep['wall_s'] / root_s:6.1%}  "
              f"jobs={int(rep['jobs'])} calls={int(rep['calls'])} "
              f"cpu={rep['cpu_s']:.2f} shuffle_mb={rep['shuffle_mb']:.2f} "
              f"rows_out={int(rep['rows_out'])}", file=sys.stderr)
    untagged = cost.get(None, {}).get("jobs", 0)
    print(f"  root span {root_s:.3f}s, untraced wall {untraced:.3f}s, "
          f"overhead x{vals['trace.overhead']:.3f}, jobs outside any span: {untagged}",
          file=sys.stderr)
    return {k: {"value": v, "unit": units[k]} for k, v in vals.items()}


def main() -> int:
    args = _args()
    sys.path.insert(0, ROOT)
    try:
        import nebula_importer_spark.pipeline.importer  # noqa: F401
        import nebula_importer_spark.pipeline.run  # noqa: F401
        from nebula_importer_spark.session import get_spark
    except ImportError as e:
        print(f"kgbench: program under test not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    host0 = _host_probe()
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        _confine_env(work)
        t = time.perf_counter()
        workload = WORKLOADS[args.workload](work, args.seed)
        gen_s = time.perf_counter() - t
        spark = get_spark(app_name="kgbench", master=MASTER)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T0 - gen_s
        runner = Runner(spark, workload)
        t = time.perf_counter()
        workload.setup(spark)
        setup_s = session_s + time.perf_counter() - t
        for _ in range(workload.warmup_legs):
            rec = runner.leg("warmup")
            setup_s += rec.get("wall_s", 0.0)
        timed = runner.timed(workload.scored_legs, args.seconds)
        if args.trace:
            from spans import Tracer

            # a warm untraced leg to hold the traced one against: the
            # scored leg of kg_build is the session's first
            reference = runner.leg("reference")
            tracer = Tracer(spark)
            workload.patch(tracer)
            try:
                traced = runner.leg("traced", tracer)
            finally:
                tracer.unpatch()
            if "wall_s" not in traced or "wall_s" not in reference:
                raise RuntimeError("traced or reference leg failed")
            metrics = per_layer(runner, tracer, timed, reference, traced)
        else:
            if not timed:
                raise RuntimeError("no timed leg completed")
            metrics = end_to_end(runner, setup_s, timed)
        for p in runner.problems:
            print(f"kgbench: check failed: {p}", file=sys.stderr)
        host1 = _host_probe()
        steal = (host1[0] - host0[0]) / max(1, host1[1] - host0[1])
        print(f"kgbench: gen {gen_s:.2f}s session {session_s:.2f}s setup {setup_s:.2f}s "
              f"host steal {steal:.1%} probe {host0[2] * 1e3:.0f}/{host1[2] * 1e3:.0f} ms",
              file=sys.stderr)
        result = {
            "correct": runner.failed == 0 and not runner.problems,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
