"""RecDB benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout and imports the program from
that checkout. It makes its inputs from ``--seed``, sets the workload
up several times (``setup_s`` is the median), warms up, then runs a
closed loop with one client for about ``--seconds`` seconds, stopping
at the end of a cycle of the workload's operation mix. Afterwards a
correctness gate re-checks a seeded sample of the operations against
independent answers. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics of traced
cycles with ``--trace 1``). The line before it is a fuller report:
every end-to-end metric with its unit, sample counts, input sizes,
seed, nproc and library versions.

All files a run writes (inputs, catalog, event store, Spark scratch,
compiled kernels) live in a temporary directory under
``.perfbench_tmp/`` in the checkout and are removed at the end.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = "recdb_postgresql_spark"
KNOBS = ("RECDB_CF_MATERIALIZE", "RECDB_MAT_STORAGE")
SETUP_REPS = {"serve": 2, "generate": 3, "ingest": 2}
# hard stop for a loop whose cycle never ends: a multiple of --seconds,
# but never under LOOP_CAP_MIN_S so one whole cycle always fits
LOOP_CAP = 2
LOOP_CAP_MIN_S = 30.0

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s",
    "latency_p50_ms": "ms", "latency_p95_ms": "ms",
    "filter_p50_ms": "ms", "filter_p95_ms": "ms",
    "index_p50_ms": "ms", "index_p95_ms": "ms",
    "generate_p50_ms": "ms", "generate_p95_ms": "ms",
    "insert_p50_ms": "ms", "retrain_p50_s": "s",
    "stored_mb": "MB", "error_rate": "ratio",
}
# the end-to-end metrics of BENCHMARK.json's workloads (serve and
# ingest); the result line carries these, the report line carries all
# of END_TO_END
GATED = ("setup_s", "ops_per_s", "latency_p50_ms", "filter_p50_ms", "stored_mb")

PER_LAYER = {
    "driver.gap_ms_per_op": "ms", "engine.recommend_plan_ms": "ms",
    "sql_rewriter.rewrite_ms": "ms", "catalog.load_models_ms": "ms",
    "catalog.manifest_writes_per_op": "count",
    "catalog.manifest_write_ms": "ms", "spark.jobs_per_op": "count",
    "sql_rewriter.index_route_ratio": "ratio",
    "spark.exec_ms_per_op": "ms", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.executor_run_ms_per_op": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.input_bytes_per_op": "bytes", "spark.core_utilization": "ratio",
    "mat.materialize_calls_per_op": "count", "mat.materialize_ms_per_op": "ms",
    "cf.train_calls_per_op": "count", "engine.record_insert_ms": "ms",
    "engine.retrains": "count", "catalog.put_s": "s",
    "event_store.append_self_ms": "ms", "event_store.read_ms": "ms",
    "event_store.data_dirs": "count",
    "engine.create_s.itemcoscf": "s", "engine.create_s.usercoscf": "s",
    "engine.create_s.svd": "s", "engine.materialize_view_s": "s",
    "svd.train_s": "s", "readers.load_ms": "ms",
    "jvm.peak_rss_mb": "MB", "trace.overhead_ratio": "ratio",
}


class Refused(Exception):
    """The run cannot start here; exit non-zero without a result."""


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("serve", "generate", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def check_environment() -> None:
    for knob in KNOBS:
        if knob in os.environ:
            raise Refused(f"{knob} is set; the benchmark measures the "
                          "program's defaults, unset it")
    if not os.path.isfile(os.path.join(ROOT, PROGRAM, "__init__.py")):
        raise Refused(f"no {PROGRAM} package next to {HERE}; run from the "
                      "root of a source checkout")


def hermetic_env(tmp: str) -> None:
    """Point every scratch location Spark, the JVM and the program use
    into ``tmp``, before the JVM starts."""
    scratch = os.path.join(tmp, "scratch")
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["XDG_CACHE_HOME"] = os.path.join(tmp, "cache")
    java = f"-Djava.io.tmpdir={scratch} -Dderby.system.home={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"--driver-java-options '{java}'", "pyspark-shell"])


def import_program():
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import recdb_postgresql_spark as program
    except ImportError as e:
        raise Refused(f"cannot import {PROGRAM}: {e}") from e
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        raise Refused(f"{PROGRAM} imported from {program.__file__}, "
                      f"not from {ROOT}")
    return program


def pct(values: list[float], q: float):
    if not values:
        return None
    import numpy as np

    return float(np.percentile(values, q))


def run_loop(wl, it, seconds: float, cap_s: float, tracer=None) -> list[dict]:
    """Closed loop over operations from ``it``. It stops only where a
    cycle of the mix ends, at the cycle end nearest to ``seconds``
    (``seconds=0``: after one cycle), or at ``cap_s`` if no cycle
    ever ends."""
    from workloads import SinkError, no_count_sink

    results = []
    start = time.perf_counter()
    last = 0.0
    while True:
        op = next(it)
        wl.prepare(op)
        if tracer:
            tracer.begin_op()
        error, rows = None, None
        with no_count_sink():
            t0 = time.perf_counter()
            try:
                rows = wl.run(op)
            except SinkError:
                raise
            except Exception as e:  # a failed operation, counted in failed
                error = f"{type(e).__name__}: {e}".splitlines()[0]
            secs = time.perf_counter() - t0
        if error is None:
            error = wl.check(op, rows)
        if tracer:
            tracer.end_op(op["kind"], secs)
        results.append({"op": op, "rows": rows, "secs": secs, "error": error})
        elapsed = time.perf_counter() - start
        if wl.boundary(results, it.peek()):
            # the next boundary is about one more gap away
            gap, last = elapsed - last, elapsed
            if elapsed + gap / 2 >= seconds:
                return results
        if elapsed >= cap_s:
            return results


class Peekable:
    """Iterator with one operation of look-ahead, so the loop can stop
    on a cycle boundary without consuming the next operation."""

    def __init__(self, it):
        self._it = iter(it)
        self._next = next(self._it)

    def __iter__(self):
        return self

    def __next__(self):
        out, self._next = self._next, next(self._it)
        return out

    def peek(self):
        return self._next


def e2e_metrics(results, setup_times, stored_bytes, attempted, failed) -> dict:
    ok = [r for r in results if r["error"] is None]

    def lat(kind):
        return [r["secs"] * 1000.0 for r in ok if r["op"]["kind"] == kind]

    all_ms = [r["secs"] * 1000.0 for r in ok]
    retrain = [x / 1000.0 for x in lat("retrain")]
    return {
        "setup_s": statistics.median(setup_times),
        "ops_per_s": len(results) / sum(r["secs"] for r in results),
        "latency_p50_ms": pct(all_ms, 50), "latency_p95_ms": pct(all_ms, 95),
        "filter_p50_ms": pct(lat("filter"), 50),
        "filter_p95_ms": pct(lat("filter"), 95),
        "index_p50_ms": pct(lat("index"), 50),
        "index_p95_ms": pct(lat("index"), 95),
        "generate_p50_ms": pct(lat("generate"), 50),
        "generate_p95_ms": pct(lat("generate"), 95),
        "insert_p50_ms": pct(lat("insert"), 50),
        "retrain_p50_s": pct(retrain, 50),
        "stored_mb": stored_bytes / 2 ** 20,
        "error_rate": failed / attempted,
    }


def versions() -> dict:
    import duckdb
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__}


def bench(args, spark, tmp: str, nproc: int) -> tuple[dict, dict]:
    import numpy as np

    from tracing import Tracer
    from workloads import WORKLOADS

    phases = {}
    t_phase = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, args.seed, args.scale)
    tracer = Tracer(spark, nproc) if args.trace else None
    setup_times = []
    for rep in range(1 if tracer else SETUP_REPS[args.workload]):
        rep_dir = os.path.join(tmp, f"rep{rep}")
        if rep:
            shutil.rmtree(os.path.join(tmp, f"rep{rep - 1}"))
        wl.prepare_inputs()
        if tracer:
            tracer.install()
        t0 = time.perf_counter()
        try:
            wl.setup(rep_dir)
        finally:
            setup_times.append(time.perf_counter() - t0)
            if tracer:
                tracer.uninstall()

    phases["setup"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    it = Peekable(wl.ops(args.seed))
    for op in wl.warmup(it):
        wl.prepare(op)
        try:
            wl.check(op, wl.run(op))
        except Exception:  # the timed loop counts a failing operation
            pass
    phases["warmup"] = time.perf_counter() - t_phase

    t_phase = time.perf_counter()
    cap_s = max(LOOP_CAP * args.seconds, LOOP_CAP_MIN_S)
    if tracer:
        results, traced = traced_loop(wl, it, tracer, args.seconds, cap_s)
    else:
        results = run_loop(wl, it, args.seconds, cap_s)
    stored = wl.stored_bytes()
    phases["loop"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    gate = wl.gate(results, np.random.default_rng([args.seed, 7]))
    phases["gate"] = time.perf_counter() - t_phase
    errors = [r["error"] for r in results if r["error"]] + [g for g in gate if g]
    attempted, failed = len(results) + len(gate), len(errors)
    e2e = e2e_metrics(results, setup_times, stored, attempted, failed)
    kinds = sorted({r["op"]["kind"] for r in results})
    report = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "versions": versions(), "sizes": wl.sizes(),
        "setup_s_each": setup_times,
        "samples": {k: sum(1 for r in results if r["op"]["kind"] == k)
                    for k in kinds},
        "loop_s": sum(r["secs"] for r in results),
        "ops_ms": [[r["op"]["kind"], r["op"].get("method"), round(r["secs"] * 1000.0, 1)]
                   for r in results],
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in e2e.items()},
        "gate_checks": len(gate), "errors": errors[:10], "phases_s": phases,
    }
    if tracer:
        metrics = traced_metrics(wl, tracer, results, traced, report)
    else:
        metrics = {k: e2e[k] for k in GATED if e2e[k] is not None}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": (END_TO_END if not tracer
                                                   else PER_LAYER)[k]}
                          for k, v in metrics.items()}}
    return result, report


def traced_loop(wl, it, tracer, seconds: float, cap_s: float):
    """Whole cycles in ABA blocks (untraced, traced, untraced) for about
    ``seconds``: both halves see the same warm-up state, and a cost that
    drifts during the run (ingest's growing store) cancels out of their
    comparison. Returns the untraced and the traced results."""
    tracer.phase = "loop"
    plain, traced = [], []
    start = time.perf_counter()
    for k in itertools.count():
        if k % 3 == 1:
            tracer.install()
            try:
                traced += run_loop(wl, it, 0, cap_s, tracer)
            finally:
                tracer.uninstall()
        else:
            plain += run_loop(wl, it, 0, cap_s)
        if k % 3 == 2 and time.perf_counter() - start >= seconds:
            return plain, traced


def traced_metrics(wl, tracer, plain: list[dict], traced: list[dict],
                   report: dict) -> dict:
    """Per-layer metrics of the traced cycles; ``trace.overhead_ratio``
    is their throughput over that of the untraced ``plain`` cycles."""
    from tracing import jvm_peak_rss_mb

    m = tracer.layer_metrics()
    index = [r for r in traced if r["op"]["kind"] == "index"]
    m["sql_rewriter.index_route_ratio"] = (
        sum(1 for r in index if r["op"].get("strategy") == "IndexRecommend")
        / len(index) if index else 0.0)
    m["event_store.data_dirs"] = (
        float(wl.store.history()[-1]["n_refs"]) if hasattr(wl, "store") else 0.0)
    m["jvm.peak_rss_mb"] = jvm_peak_rss_mb(wl.spark)
    m["trace.overhead_ratio"] = ((len(traced) / sum(r["secs"] for r in traced))
                                 / (len(plain) / sum(r["secs"] for r in plain)))

    # per-kind medians of the traced cycles (wall, Spark-covered wall,
    # driver gap, jobs) beside the untraced median of the plain cycles,
    # so gap + exec can be held against the latency a user sees
    report["traced"] = {}
    for kind in sorted({o["kind"] for o in tracer.ops}):
        ops = [o for o in tracer.ops if o["kind"] == kind]
        untraced = [r["secs"] * 1000.0 for r in plain if r["op"]["kind"] == kind]
        report["traced"][kind] = {
            "n": len(ops),
            "wall_p50_ms": statistics.median(o["wall_ms"] for o in ops),
            "exec_p50_ms": statistics.median(o["covered_ms"] for o in ops),
            "gap_p50_ms": statistics.median(o["wall_ms"] - o["covered_ms"]
                                            for o in ops),
            "jobs_p50": statistics.median(o["jobs"] for o in ops),
            "untraced_p50_ms": statistics.median(untraced) if untraced else None,
        }
    if tracer.missing:
        report["trace_missing"] = sorted(tracer.missing)
    return m


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    try:
        check_environment()
    except Refused as e:
        print(f"perfbench: refused: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work)
    cwd = os.getcwd()
    try:
        hermetic_env(tmp)
        program = import_program()
        os.chdir(tmp)
        t0 = time.perf_counter()
        spark = program.get_spark("perfbench", cpus=nproc)
        session_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            result, report = bench(args, spark, tmp, nproc)
        finally:
            stop_spark(spark)
        report["session_s"] = session_s
    except Refused as e:
        print(f"perfbench: refused: {e}", file=sys.stderr)
        return 2
    except Exception:
        traceback.print_exc()
        print("perfbench: run failed", file=sys.stderr)
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(work)
        except OSError:
            pass
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
