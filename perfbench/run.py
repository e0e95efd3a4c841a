#!/usr/bin/env python3
"""The repository's benchmark: one command, seeded inputs, output checks.

    python3 perfbench/run.py --workload incremental_tail --seed 1 --seconds 20 --trace 0

Run from the repository root.  It starts one Spark session
(``local[<cores>]``), generates the workload's inputs from ``--seed``,
builds any standing state, runs untimed warm-up ops until the time per op
stops falling, then runs closed-loop, single-client ops until their summed
wall time reaches ``--seconds``.  Every op's output is checked.  Human
readable lines go first; the last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced ops over twice the window and reports the per-layer
metrics from the traced ops, plus the tracing overhead (traced minus
untraced median op time).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "subgraph_extractor_spark"

SETUP_REPS = 3
WARMUP_MIN_OPS = 3
WARMUP_MAX_OPS = 8
WARMUP_MAX_S = 25.0
WARMUP_STILL_FALLING = 0.9  # an op faster than this share of the best so far
TAIL_LADDER = (99, 95, 90, 75, 50)
DRIVER_MEMORY = "2g"
# The heap is fixed and touched at start, so peak RSS does not depend on
# when the collector grows it.  The JIT stops at C1: C2 recompilation kept
# moving op times for about ten ops, longer than a run can warm up.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "read_p50_ms": "ms",
    "bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}
LAYERS = ("session", "functions", "extract", "plans", "fsio", "sources",
          "operators", "pipeline")
PER_LAYER = {
    "session.start_ms": "ms",
    "functions.codec_rows_per_s": "1/s",
    "functions.assert_ms": "ms",
    "extract.write_job_ms": "ms",
    "extract.spark_jobs_per_op": "count",
    "extract.assign_ms": "ms",
    "extract.empty_partitions": "count",
    "plans.plan_ms": "ms",
    "plans.manifest_ms": "ms",
    "plans.manifest_files": "count",
    "plans.delta_partitions": "count",
    "fsio.listdir_calls": "count",
    "fsio.listdir_ms": "ms",
    "sources.read_ms": "ms",
    "sources.files_opened": "count",
    "sources.files_opened_ratio": "ratio",
    "operators.dedup_exact_ms": "ms",
    "operators.minhash_ms": "ms",
    "operators.minhash_pairs": "count",
    "operators.shuffle_ms": "ms",
    "pipeline.stage_rows.dedup_exact": "count",
    "pipeline.stage_rows.quality_gate": "count",
    "pipeline.stage_rows.dedup_minhash": "count",
    "pipeline.stage_rows.split": "count",
    "pipeline.write_shards_ms": "ms",
    **{f"{layer}.self_ms": "ms" for layer in LAYERS[1:]},
    "trace.overhead_ms": "ms",
}


class TreeRss:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak.

    A sample counts toward the peak only as far as the next sample
    confirms it.  While the JVM spawns a process, the child shares the
    JVM's address space until it execs, and a sample taken then counts
    the JVM twice; such a spike lasts far less than one interval."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._last = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except OSError:
                pass
        return total

    def sample(self) -> int:
        rss = self._tree_rss()
        self.peak = max(self.peak, min(rss, self._last))
        self._last = rss
        return self.peak

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def tail_percentile(samples: list[float]) -> tuple[float, str]:
    """Highest ladder percentile with at least ten samples beyond it.
    With fewer than 20 samples no percentile has ten beyond it; then the
    upper quartile is reported and the note says so."""
    n = len(samples)
    qs = statistics.quantiles(samples, n=100, method="inclusive") if n > 1 else samples * 99
    for p in TAIL_LADDER:
        beyond = n - int(n * p / 100)
        if beyond >= 10:
            return qs[p - 1], f"p{p} of {n} ops ({beyond} beyond)"
    return qs[74], f"p75 of {n} ops (fewer than 20 ops: no percentile has ten beyond it)"


def environment(work: str, cores: int) -> None:
    """Pin the session before the JVM starts; every path stays in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}"
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=shlex.join([
            "--driver-java-options", java,
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]),
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def between_ops(spark) -> None:
    """Outside the timed window: drop cached data, collect garbage on
    both sides of the gateway."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE}/ not found beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    environment(work, cores)
    try:
        with TreeRss() as rss:
            from subgraph_extractor_spark import session

            t0 = time.perf_counter()
            spark = session.get_spark("perfbench", master=f"local[{cores}]",
                                      shuffle_partitions=cores)
            session_s = time.perf_counter() - t0
            try:
                result = run(args, spark, WORKLOADS[args.workload], session_s, work, rss)
            finally:
                stop_spark(spark)
    finally:
        for d in os.listdir(work):
            if d != "trace.json":
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        if not os.listdir(work):
            os.rmdir(work)
    print(json.dumps(result))
    return 0


def run(args, spark, workload, session_s, work, rss) -> dict:
    """Set up, warm up, measure; print the human-readable lines and
    return the result object."""
    from spans import Tracer
    from subgraph_extractor_spark.session import RUNTIME_CONFS
    from subgraph_extractor_spark.sources import export_source

    spark.sparkContext.setLogLevel("ERROR")
    export_source.register(spark)
    conf = spark.sparkContext.getConf()
    settings = {
        "master": spark.sparkContext.master,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.ui.enabled": conf.get("spark.ui.enabled"),
        "spark.driver.memory": conf.get("spark.driver.memory"),
        "spark.driver.extraJavaOptions": conf.get("spark.driver.extraJavaOptions", ""),
        **{k: spark.conf.get(k) for k in sorted(RUNTIME_CONFS)},
        "spark.sql.python.filterPushdown.enabled":
            spark.conf.get("spark.sql.python.filterPushdown.enabled"),
        "spark": spark.version,
        "python": sys.version.split()[0],
    }
    print("session " + json.dumps(settings, sort_keys=True))

    wl = workload(spark, args.seed)
    print(f"workload {wl.name} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    print("inputs " + json.dumps(wl.params(), sort_keys=True))

    reps = []
    for r in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup(os.path.join(work, f"setup{r}"))
        reps.append(time.perf_counter() - t)
        between_ops(spark)
        if r:
            shutil.rmtree(os.path.join(work, f"setup{r - 1}"))
    setup_s = session_s + statistics.median(reps)
    print(f"setup: session {session_s:.3f} s, reps {[round(x, 3) for x in reps]} s")

    attempted = failed = 0
    failures: list[str] = []

    def one(tracer=None):
        nonlocal attempted, failed
        i = attempted
        if tracer is not None:
            tracer.op = i
            wl.trace_op(tracer)
        try:
            res = wl.op(i, tracer)
        finally:
            if tracer is not None:
                tracer.restore()
        attempted += 1
        bad = wl.check(i)
        if bad:
            failed += 1
            failures.extend(f"op {i}: {b}" for b in bad)
        between_ops(spark)
        return i, res

    warm = []
    t_warm = time.perf_counter()
    while True:
        warm.append(one()[1].op_s)
        if len(warm) < WARMUP_MIN_OPS:
            continue
        if warm[-1] >= WARMUP_STILL_FALLING * min(warm[:-1]):
            break
        if len(warm) >= WARMUP_MAX_OPS or time.perf_counter() - t_warm > WARMUP_MAX_S:
            break
    print(f"warm-up: {len(warm)} ops {[round(x, 3) for x in warm]} s")

    # --trace 1 alternates untraced and traced ops over twice the window
    untraced, traced = [], []
    tracer = Tracer() if args.trace else None
    budget = args.seconds * (2 if args.trace else 1)
    while sum(r.op_s for _, r in untraced + traced) < budget:
        if tracer is not None and len(traced) < len(untraced):
            traced.append(one(tracer))
        else:
            untraced.append(one())
    untraced = [r for _, r in untraced]
    print(f"timed: {len(untraced)} ops {[round(r.op_s, 3) for r in untraced]} s")

    final = wl.final_failures()
    if final:
        failures.extend(final)
        failed = attempted
    for f in failures:
        print("CHECK FAILED: " + f)

    p50 = statistics.median(1e3 * r.op_s for r in untraced)
    if args.trace:
        ops = [i for i, _ in traced]
        metrics = {
            "session.start_ms": 1e3 * session_s,
            **{k: 0.0 for k in PER_LAYER if k != "session.start_ms"},
            **wl.layer_metrics(tracer, ops),
        }
        for layer in LAYERS[1:]:
            metrics[f"{layer}.self_ms"] = statistics.median(
                tracer.self_ms_by_layer(i).get(layer, 0.0) for i in ops
            )
        metrics["trace.overhead_ms"] = statistics.median(1e3 * r.op_s for _, r in traced) - p50
        units = PER_LAYER
        tracer.dump(os.path.join(work, "trace.json"))
        note = (f"traced {len(traced)} ops, untraced {len(untraced)} ops; "
                f"spans in {os.path.relpath(work, ROOT)}/trace.json")
    else:
        tail_ms, tail_note = tail_percentile([1e3 * r.op_s for r in untraced])
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": sum(r.rows for r in untraced) / sum(r.op_s for r in untraced),
            "op_p50_ms": p50,
            "op_tail_ms": tail_ms,
            "read_p50_ms": statistics.median(1e3 * r.read_s for r in untraced),
            "bytes_per_row": wl.bytes_per_row(),
            "peak_rss_mb": rss.sample() / 2**20,
        }
        units = END_TO_END
        note = f"op_tail_ms is {tail_note}; rows per op {untraced[0].rows}"
    for k, v in metrics.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    print(note)
    print(f"error_rate {failed / attempted:.4f} ({failed} failed of {attempted} ops)")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
