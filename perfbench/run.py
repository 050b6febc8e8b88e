"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline-2k --seed 1 --seconds 5 --trace 0

Run from the repository root.  One process, one Spark session on
``local[<nproc>]`` with ``get_spark`` defaults.  A run:

1. sets up (session, seeded inputs, Python-worker warm-up) — timed as
   ``setup_s``;
2. makes one cold pass over the workload's items — ``first_pass_s`` —
   and checks every output (untimed);
3. repeats passes until ``--seconds`` have passed (at least
   ``MIN_PASSES``) — ``pass_s``, their median, is printed and is the
   per-layer ``session.warm_pass_s``;
4. sets up twice more in fresh Spark contexts; ``setup_s`` is the
   median of the three set-ups.

Every item runs cold: ``ckpt.release_all``, ``clearCache`` and a JVM GC
happen before it, outside its timed window.  With ``--trace 1`` the
repeated passes run untraced and traced in the order U T T U (at least
two of each),
and the metrics are the per-layer ones (README.md), whose
``trace.overhead_s`` is the traced minus the untraced pass time.

Human-readable lines go to stdout first; the last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  The exit
code is 0 when every output check passed, 1 when one failed or an item
raised, 2 when the benchmark cannot run here at all.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

MIN_PASSES = 1
#: Stop starting passes once a run has lasted this long, so that the
#: remaining set-ups and checks still end well within 180 s.
PASS_DEADLINE_S = 110.0

END_TO_END = {"first_pass_s": "s", "setup_s": "s"}
PER_LAYER_UNITS = {
    "session.warm_pass_s": "s",
    "session.peak_rss_mb": "MB",
    "setup.session_s": "s",
    "setup.generate_s": "s",
    "setup.warm_workers_s": "s",
    "blockers.assign_s": "s",
    "blockers.assign_jobs": "count",
    "blockers.useful_pair_frac": "ratio",
    "blocks.purge_s": "s",
    "blocks.purge_kept_frac": "ratio",
    "blocks.write_s": "s",
    "blocks.write_jobs": "count",
    "blocks.write_bytes": "bytes",
    "blocks.read_s": "s",
    "eval.from_blocks_s": "s",
    "eval.jobs": "count",
    "eval.recall": "ratio",
    "eval.candidate_pairs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "ckpt.leaked_rdds": "count",
    "ckpt.release_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks_per_stage": "count",
    "spark.busy_frac": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.overhead_s": "s",
}


def _workloads():
    from perfbench.lanes import LANES, Lanes
    from perfbench.pipeline import CONFIGS, Pipeline

    return {
        "pipeline-2k": lambda: Pipeline(2_000, list(CONFIGS)),
        "lanes-sf0.01": lambda: Lanes(0.01, LANES),
    }


def _prepare_environment(root: str, work: str) -> None:
    """Keep every file the run writes inside the checkout, and make the
    package importable in Spark's Python workers (they are forked with
    this environment, not with ``sys.path``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise keep its monitoring
    # counters in /tmp/hsperfdata_<user>, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, root)


def _check_workers(spark) -> None:
    """Fail loudly unless every Python worker slot imports klinker_spark.

    ``warm_python_workers`` swallows every error, so a worker that cannot
    import the package would otherwise surface only inside a timed lane."""
    cores = spark.sparkContext.defaultParallelism

    def probe(batches):
        import pandas as pd

        import klinker_spark

        for _ in batches:
            pass
        yield pd.DataFrame({"path": [os.path.dirname(klinker_spark.__file__)]})

    paths = spark.range(0, cores, 1, cores).mapInPandas(probe, "path string").collect()
    if len(paths) != cores:
        raise RuntimeError(f"worker warm-up reached {len(paths)} of {cores} slots")


def _setup(workload, work: str, seed: int) -> tuple[object, dict[str, float], list[str]]:
    """Start a session, generate the inputs, warm the Python workers.
    Returns the session, the step times and the input files."""
    from klinker_spark.session import get_spark, warm_python_workers

    times = {}
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    times["setup.session_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    data_dir = os.path.join(work, f"{workload.kind}-s{seed}")
    shutil.rmtree(data_dir, ignore_errors=True)
    inputs = workload.generate(data_dir, seed)
    times["setup.generate_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm_python_workers(spark)
    _check_workers(spark)
    times["setup.warm_workers_s"] = time.perf_counter() - t0
    return spark, times, inputs


def _reset(spark) -> None:
    """As ``bench.py::_reset``: drop every cache and persistent RDD of
    the previous item, then collect garbage on both sides."""
    import gc

    from klinker_spark.ckpt import release_all

    spark.catalog.clearCache()
    release_all(spark)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _peak_rss_mb(pid: int) -> float:
    """VmHWM of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait until the JVM has exited (it
    exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Run:
    """One benchmark run: passes, per-item results, failures."""

    def __init__(self, spark, workload, tracer):
        self.spark = spark
        self.workload = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.facts: dict[str, dict] = {}  # per-item check results
        self.counts: dict[str, dict] = {}  # per-item counts of the first pass
        self.item_s: dict[str, list[float]] = {}  # per-item times, every pass

    def one_pass(self, traced: bool, check: bool = False) -> tuple[float, list]:
        """Time every item once; returns (seconds, spans of this pass)."""
        from perfbench.tracing import Tracer

        tracer = self.tracer if traced else Tracer(None, False)
        first_span = len(tracer.spans)
        total = 0.0
        for item in self.workload.items:
            with tracer.span("ckpt.release", item):
                _reset(self.spark)
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                with tracer.span("item", item) as sp:
                    result = self.workload.run_item(self.spark, item, tracer)
                dt = time.perf_counter() - t0
                total += dt
                self.item_s.setdefault(item, []).append(dt)
                leaked = self.spark.sparkContext._jsc.getPersistentRDDs().size()
                result["leaked_rdds"] = leaked
                if check:
                    self.facts[item] = self.workload.check_item(item, result)
                self._same_counts(item, result)
                if sp is not None:
                    sp.counts = {**result, **self.facts.get(item, {})}
            except Exception:
                self.failed += 1
                self.errors.append(f"{item}: {traceback.format_exc(limit=3)}")
            tracer.collect()
        return total, tracer.spans[first_span:]

    def _same_counts(self, item: str, result: dict) -> None:
        """Every pass must produce the counts of the first one."""
        keyed = {k: v for k, v in result.items() if k in ("comparisons", "true_positives")}
        seen = self.counts.setdefault(item, keyed)
        if seen != keyed:
            raise AssertionError(f"{item}: counts {keyed} differ from the first pass's {seen}")


def _print_table(title: str, rows: list[tuple[str, float, str, int]]) -> None:
    print(f"# {title}")
    for name, value, unit, n in rows:
        print(f"  {name:28s} {value:>16.6g} {unit:6s} (n={n})")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for needed in ("klinker_spark/__init__.py", "scripts/gen_testdata.py", "scripts/check_oracle.py"):
        if not os.path.isfile(os.path.join(root, needed)):
            print(f"perfbench: {needed} not found; run from the repository root", file=sys.stderr)
            return 2
    work = os.path.join(root, ".perfbench_work")
    out_dir = os.path.join(root, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    _prepare_environment(root, work)

    from perfbench.kgpair import fingerprint
    from perfbench.tracing import Tracer, summarize

    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    workload = workloads[args.workload]()
    run_start = time.perf_counter()

    spark, setup_times, inputs = _setup(workload, work, args.seed)
    setups = [setup_times]
    sc = spark.sparkContext
    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": sc.defaultParallelism,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory", "1g"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "load_avg_start": os.getloadavg(),
        "inputs_md5": fingerprint(inputs),
    }
    run = Run(spark, workload, Tracer(sc, bool(args.trace)))

    first_pass_s, _ = run.one_pass(traced=False, check=True)

    untraced: list[float] = []
    traced: list[tuple[float, list]] = []
    need_untraced, need_traced = (2, 2) if args.trace else (MIN_PASSES, 0)
    steady_start = time.perf_counter()
    while time.perf_counter() - run_start < PASS_DEADLINE_S and (
        time.perf_counter() - steady_start < args.seconds
        or len(untraced) < need_untraced
        or len(traced) < need_traced
    ):
        # traced passes in the order U T T U ...: passes keep getting
        # faster as the JIT warms, so a fixed U-then-T order would bias
        # the overhead estimate
        if args.trace and (len(traced) + len(untraced)) % 4 in (1, 2):
            traced.append(run.one_pass(traced=True))
        else:
            untraced.append(run.one_pass(traced=False)[0])

    peak_rss_mb = _peak_rss_mb(sc._jvm.ProcessHandle.current().pid())
    env["load_avg_end"] = os.getloadavg()
    for _ in range(2):
        spark.stop()
        spark, setup_times, _ = _setup(workload, work, args.seed)
        setups.append(setup_times)
    spark.stop()
    _stop_jvm()

    setup_s = statistics.median(sum(s.values()) for s in setups)
    pass_s = statistics.median(untraced)
    e2e = {"first_pass_s": (first_pass_s, 1), "setup_s": (setup_s, len(setups))}
    correct = run.failed == 0
    counts = list(run.counts.values())
    comparisons = sum(c.get("comparisons", 0) for c in counts)
    tps = sum(c.get("true_positives", 0) for c in counts)

    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print(f"# env {json.dumps(env)}")
    _print_table("end-to-end", [(k, v, END_TO_END[k], n) for k, (v, n) in e2e.items()])
    _print_table(
        "end-to-end, not in BENCHMARK.json (see README)",
        [
            ("pass_s", pass_s, "s", len(untraced)),
            ("peak_rss_mb", peak_rss_mb, "MB", 1),
            ("failed_frac", run.failed / max(run.attempted, 1), "ratio", run.attempted),
        ],
    )
    if workload.kind == "pipeline":
        n_gold = workload.n * len(workload.items)
        _print_table(
            "pipeline outputs",
            [
                ("recall", tps / n_gold, "ratio", len(counts)),
                ("candidate_pairs", comparisons, "count", len(counts)),
            ],
        )
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "setups": setups,
        "first_pass_s": first_pass_s,
        "passes_s": untraced,
        "peak_rss_mb": peak_rss_mb,
        "item_s": run.item_s,
        "item_counts": run.counts,
        "item_facts": run.facts,
        "lane_hashes": getattr(workload, "hashes", {}),
        "errors": run.errors,
    }
    if args.trace:
        per_pass = [summarize(spans, env["cores"]) for _, spans in traced]
        layer = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        for k in ("setup.session_s", "setup.generate_s", "setup.warm_workers_s"):
            layer[k] = statistics.median(s[k] for s in setups)
        layer["session.warm_pass_s"] = pass_s
        layer["session.peak_rss_mb"] = peak_rss_mb
        layer["trace.overhead_s"] = statistics.median(t for t, _ in traced) - pass_s
        _print_table(
            "per-layer (median over traced passes)",
            [(k, layer[k], PER_LAYER_UNITS[k], len(traced)) for k in PER_LAYER_UNITS],
        )
        metrics = {k: {"value": layer[k], "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER_UNITS}
        run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        record["traced_passes_s"] = [t for t, _ in traced]
    with open(os.path.join(out_dir, f"run-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for err in run.errors:
        print(f"# FAILED {err}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    with contextlib.suppress(BrokenPipeError):
        sys.exit(main())
