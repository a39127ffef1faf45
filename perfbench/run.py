"""Benchmark entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run builds its
inputs in a fresh directory under ``.perfbench/``, starts the workload
in a fresh process (``client.py``), checks every output against an
independent answer, deletes the directory and prints one JSON line as
the last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same workload traced and reports the
per-layer metrics. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402

FLIGHTS_ROWS = (5_000, 1_000)  # train, test
# Task slots of the engine (``local[2]``): with the Python driver, the
# pyspark workers and the JVM's JIT and GC threads, the process tree
# then fits in the 4 cores the benchmark host gives it.
SPARK_CPUS = 2
WORKLOADS = {
    # Runnable by name but not listed in BENCHMARK.json: a third workload
    # does not fit the time budget of 22 runs per workload, and measured
    # as one pass on 4 task slots its wall_s and cpu_s spread (IQR /
    # median) over ten seeds reached 0.21-0.23.
    "relational": {
        "scale": 0.01,
        "min_passes": 3,
        "ops": [
            "pricing_summary", "tpch_q3_shipping_priority", "nation_revenue_multijoin",
            "tpch_q6_forecast_revenue", "rank_lineitems_in_order", "corr_matrix_lineitem",
            "crosstab_returnflag_linestatus", "dedup_lineitem_per_order",
            "lineitem_grouping_id_rollup",
        ],
    },
    "llm_pipeline": {
        "scale": 0.01,
        "min_passes": 3,
        "ops": [
            "dedup_minhash_lsh_pairs", "dedup_containment_pairs", "ann_cosine_topk",
            "media_decode_resize_stats", "events_streaming_dedup", "nation_revenue_multijoin",
        ],
    },
    # One cold CLI job, as spark-submit users run it: no warm-up.
    "flights_ml": {"ops": ["cli.run"], "min_passes": 1, "max_passes": 1},
}
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
# Tracer layers that are peaks, ratios or end-of-run counts, not sums.
NOT_SUMMED = {"exec.slot_util", "cache.storage_mb_peak", "cache.persisted_end", "session.peak_rss_mb"}
CHILD_TIMEOUT_S = 160


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def per_pass(records: list[dict], key: str) -> float:
    """One pass's worth of ``key``: for each operation of a pass, the
    median over the measured passes, summed over the operations. A slow
    spell of the host that covers less than half of the passes moves no
    operation's median."""
    by_pos: dict[int, list[float]] = {}
    for r in records:
        if r["kind"] == "op":
            by_pos.setdefault(r["pos"], []).append(r[key])
    return sum(statistics.median(v) for v in by_pos.values())


def _run_child(plan: dict, env: dict) -> int:
    """Run the workload process in a session of its own; at the end,
    nothing started in that session is left running."""
    plan_path = os.path.join(plan["run_dir"], "plan.json")
    plan["spawned_at"] = time.time()
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "client.py"), plan_path],
        env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True,
    )
    try:
        return proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return -1
    finally:  # also when this process is told to stop (see main)
        _end_session(proc.pid)
        proc.wait()


def _end_session(sid: int) -> None:
    """Kill whatever the workload process left running in its session
    (a JVM or Python worker that outlived it) and wait until it is gone."""
    deadline = time.time() + 30
    while time.time() < deadline:
        left = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                left.append(int(pid))
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _check(workload: str, rec: dict, oracle: dict, cache_dir: str, seed: int) -> list[str]:
    if "error" in rec:
        return [rec["error"].strip().splitlines()[-1]]
    if workload == "flights_ml":
        # The validation split, and so the model, depends on the number
        # of partitions, which follows the engine's task slots.
        train, test = FLIGHTS_ROWS
        digest = inputs.content_digest(train)
        return checks.check_flights(rec["out_dir"], rec["result"]) + checks.check_repeatable(
            rec["result"], os.path.join(cache_dir, f"flights-{digest}-{test}-cpus{SPARK_CPUS}-seed{seed}.json")
        )
    return checks.compare(rec["canon"], oracle[rec["name"]])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A stop request unwinds through the finally clauses, which end the
    # workload process and delete the run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    spec = WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".perfbench")
    cache_dir = os.path.join(work, "cache")
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(work, "runs"))
    tmp, local, data = (os.path.join(run_dir, d) for d in ("tmp", "spark-local", "inputs"))
    for d in (tmp, local, data):
        os.makedirs(d)
    host0 = {"loadavg": os.getloadavg(), "ticks": tracing.cpu_ticks()}
    try:
        plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "root": ROOT, "run_dir": run_dir,
                "ops": spec["ops"],
                "min_passes": spec["min_passes"], "max_passes": spec.get("max_passes", 1000),
                "result_path": os.path.join(run_dir, "result.json"),
                "trace_path": os.path.join(work, f"trace-{args.workload}-{args.seed}.json")}
        oracle = {}
        if args.workload == "flights_ml":
            plan["flights"] = dict(inputs.write_flights(data, args.seed, *FLIGHTS_ROWS),
                                   out_root=os.path.join(run_dir, "out"))
        else:
            plan["sf_dir"] = data
            plan["layout"] = inputs.write_layout(inputs.make_tables(spec["scale"]), data, args.seed)
            oracle = checks.oracle_answers(
                spec["ops"], data, inputs.content_digest(spec["scale"]), cache_dir)
        env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                   SPARK_GRAFT_CPUS=str(SPARK_CPUS), PYTHONDONTWRITEBYTECODE="1")
        code = _run_child(plan, env)
        if code != 0 or not os.path.exists(plan["result_path"]):
            print(f"workload process failed with exit code {code}", file=sys.stderr)
            return 1
        with open(plan["result_path"]) as f:
            res = json.load(f)

        records = res["records"]
        failures = {}
        for i, rec in enumerate(records):
            problems = _check(args.workload, rec, oracle, cache_dir, args.seed)
            if problems:
                failures[f"{i}:{rec['name']}"] = problems
        checked = next((r for i, r in enumerate(records) if f"{i}:{r['name']}" not in failures), None)
        rejects = checked is not None and (
            checks.perturbed_is_rejected(checked["result"], out_dir=checked["out_dir"])
            if args.workload == "flights_ml"
            else checks.perturbed_is_rejected(checked["canon"], oracle[checked["name"]])
        )
        if not rejects:
            failures["self-test"] = ["the checker accepted a perturbed result"]
        tmp_left_mb = tracing.dir_size(tmp) / (1024 * 1024)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = tracing.cpu_ticks()
    steal_frac = (steal1 - host0["ticks"][0]) / max(total1 - host0["ticks"][1], 1)
    host = {"loadavg_start": host0["loadavg"], "loadavg_end": os.getloadavg(), "steal_frac": steal_frac}
    print(json.dumps({"host": host, "layout": plan.get("layout"), "failures": failures,
                      "self_times": res.get("self_times", {}),
                      "ops": [(r["name"], round(r["latency_s"], 3), round(r["cpu_s"], 2)) for r in records]}),
          file=sys.stderr)

    passes = res["passes"]
    measured = [r for r in records if r["kind"] == "op"]
    # Warm-up operations are checked too, so they count as attempted.
    failed = sum(1 for i, r in enumerate(records) if f"{i}:{r['name']}" in failures)
    if args.trace:
        # The tracer sums over every measured pass; the number of passes
        # depends on speed, so sums are reported per pass.
        n = len(passes)
        layers = {k: v if k in NOT_SUMMED else v / n for k, v in res["layers"].items()}
        layers.update({
            "session.start_s": res["start_s"],
            "session.warmup_s": res["warmup_s"],
            "sources.tmp_left_mb": tmp_left_mb,
            "exec.jvm_cpu_s": sum(p["cpu"]["jvm"] for p in passes) / n,
            "exec.python_worker_cpu_s": sum(p["cpu"]["python_workers"] for p in passes) / n,
            "driver.python_cpu_s": sum(p["cpu"]["driver"] for p in passes) / n,
            "host.steal_frac": steal_frac,
            "trace.wall_s": per_pass(records, "latency_s"),
            "failed_frac": failed / len(records),
            "op_p50_s": statistics.median(r["latency_s"] for r in measured),
        })
        for p in res["trace_problems"]:
            failures.setdefault("trace", []).append(p)
        metrics = {n: {"value": layers[n], "unit": u} for n, u in _per_layer_units().items()}
    else:
        values = {
            "setup_s": res["setup_s"],
            "wall_s": per_pass(records, "latency_s"),
            "cpu_s": per_pass(records, "cpu_s"),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"correct": not failures, "attempted": len(records), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
