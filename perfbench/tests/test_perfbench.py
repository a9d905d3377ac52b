"""The benchmark's own tests: input determinism, metric names and
units, the refusal paths, the count() sink guard and a tiny-scale run
of every workload.

    python3 -m pytest perfbench/tests -q
"""

import itertools
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

WORKLOADS = ("serve", "generate", "ingest")


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _ops(workload, seed, n):
    c = gen.SIZES["full"][workload]
    pdf = gen.ratings(seed, c)
    users = np.unique(pdf.userid)
    if workload == "serve":
        it = gen.serve_ops(seed, users, pdf.itemid.nunique())
    elif workload == "generate":
        it = gen.generate_ops(seed, users)
    else:
        it = ({"user": s["user"], "batch": s["batch"].to_dict("list")}
              for s in gen.ingest_steps(seed, c, gen.INGEST_BATCH["full"]))
    return pdf, list(itertools.islice(it, n))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_operation_sequence(workload):
    pdf_a, ops_a = _ops(workload, 11, 24)
    pdf_b, ops_b = _ops(workload, 11, 24)
    pdf_c, ops_c = _ops(workload, 12, 24)
    assert pdf_a.equals(pdf_b) and ops_a == ops_b
    assert not pdf_a.equals(pdf_c) and ops_a != ops_c


def test_serve_mix_is_fixed_per_cycle():
    _, ops = _ops("serve", 3, 3 * len(gen.SERVE_CYCLE))
    for c in range(3):
        cycle = [(o["shape"], o["method"]) for o in ops if o["cycle"] == c]
        assert sorted(cycle) == sorted(gen.SERVE_CYCLE)


def test_benchmark_json_names_and_units_match_the_emitter():
    b = _bench_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == \
        {k: run.END_TO_END[k] for k in run.GATED}
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    # generate runs from the same command but is not a gated workload
    assert [w["name"] for w in b["workloads"]] == ["serve", "ingest"]
    assert any(m["name"] == "setup_s" for m in b["end_to_end"])


def _run(args, cwd=ROOT, env=None, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, env=env, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("knob", run.KNOBS)
def test_refuses_materialization_knobs(knob):
    env = {**os.environ, knob: "disk"}
    p = _run(["--workload", "serve", "--seed", "1", "--seconds", "1"], env=env)
    assert p.returncode == 2 and p.stdout == ""
    assert knob in p.stderr


def test_refuses_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "serve", "--seed", "1", "--seconds", "1"],
             cwd=tmp_path)
    assert p.returncode != 0 and p.stdout == ""


def test_count_sink_guard_trips_only_for_benchmark_code():
    from pyspark.sql import DataFrame

    import workloads

    calls = []
    orig = DataFrame.count
    DataFrame.count = lambda self: calls.append(self) or 0
    try:
        with workloads.no_count_sink():
            # a count() issued from a benchmark file inside a timed op
            code = compile("DataFrame.count(None)",
                           os.path.join(HERE, "workloads.py"), "exec")
            with pytest.raises(workloads.SinkError):
                exec(code, {"DataFrame": DataFrame})
            # the program's own count() calls pass through
            other = compile("DataFrame.count(None)",
                            os.path.join(ROOT, "recdb_postgresql_spark",
                                         "engine.py"), "exec")
            exec(other, {"DataFrame": DataFrame})
        assert calls == [None]
    finally:
        DataFrame.count = orig


def _result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run(workload):
    report, result = _result(_run(["--workload", workload, "--seed", "5",
                                   "--seconds", "1", "--trace", "0",
                                   "--scale", "tiny"]))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, report["errors"]
    assert result["attempted"] >= 1
    e2e = report["end_to_end"]
    assert result["metrics"] == {
        k: {"value": e2e[k]["value"], "unit": run.END_TO_END[k]}
        for k in run.GATED if e2e[k]["value"] is not None}
    if workload != "generate":
        assert set(result["metrics"]) == set(run.GATED)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert {k: v["unit"] for k, v in e2e.items()} == run.END_TO_END
    assert e2e["error_rate"]["value"] == 0.0
    assert report["seed"] == 5 and report["nproc"] >= 1
    assert set(report["versions"]) == {"python", "pyspark", "duckdb"}
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_tiny_traced_run_emits_every_layer_metric():
    report, result = _result(_run(["--workload", "ingest", "--seed", "5",
                                   "--seconds", "1", "--trace", "1",
                                   "--scale", "tiny"]))
    assert result["correct"] is True, report["errors"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["engine.retrains"] >= 1 and m["engine.record_insert_ms"] > 0
    assert m["trace.overhead_ratio"] > 0 and m["spark.jobs_per_op"] > 0
    assert "trace_missing" not in report
