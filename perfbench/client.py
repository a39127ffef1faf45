"""The workload process: one closed-loop client in a fresh interpreter.

``run.py`` builds the inputs and then starts this file with a plan. The
client sets up a session, then issues the workload's operations one at
a time, the next only after the previous returned, in passes (see
``measure``). It records the wall and CPU time of every operation.
Output checks happen in ``run.py`` after this process has ended; this
process only records what the program returned.

Usage: python3 perfbench/client.py PLAN.json
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import nullcontext

FAMILY = {
    "queries": "operators",
    "relational_queries": "operators",
    "temporal_queries": "operators",
    "text_queries": "text",
    "similarity_queries": "similarity",
    "multimodal_queries": "multimodal",
    "streaming_queries": "streaming",
    "graph_queries": "graph",
}
LAZY_NOTE = (
    "spans marked lazy only build a plan: their jobs run, and are counted, "
    "in the next eager span (a write, an evaluation or a collect)"
)


def _install_wrappers(tr) -> None:
    """Spans around each layer's public entry points."""
    import pyspark.ml
    from pyspark.ml.regression import DecisionTreeRegressionModel

    from flight_delay_prediction_using_pyspark_spark import session
    from flight_delay_prediction_using_pyspark_spark.functions import labels
    from flight_delay_prediction_using_pyspark_spark.ml import train
    from flight_delay_prediction_using_pyspark_spark.plans import prepare
    from flight_delay_prediction_using_pyspark_spark.sources import readers, writers

    tr.wrap_module(readers, "sources.read", ("read", "load"), lazy=True)
    tr.wrap_module(writers, "sources.write", ("write",), after=tr.note_written)
    tr.wrap(prepare, "prepare_data", "plans.prepare")
    tr.wrap(train, "train_decision_tree", "ml.tree_fit")
    tr.wrap(train, "evaluate_regression", "ml.evaluate")
    tr.wrap(labels, "add_prediction_labels", "functions.labels", lazy=True)
    tr.wrap(session, "get_spark", "session.get_spark")
    tr.wrap(pyspark.ml.Pipeline, "fit", "ml.pipeline_fit")
    tr.wrap(DecisionTreeRegressionModel, "transform", "ml.score", lazy=True)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(plan_path: str) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    sys.path.insert(0, plan["root"])
    import tracing
    from flight_delay_prediction_using_pyspark_spark.session import get_spark

    workload, traced = plan["workload"], bool(plan["trace"])
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=tracing.UI_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    tr = tracing.Tracer(spark, run_id=f"{workload}-{plan['seed']}") if traced else None
    span = tr.span if tr else (lambda *a, **k: nullcontext({}))
    if tr:
        _install_wrappers(tr)

    records: list[dict] = []  # one per operation, measured or warm-up
    frames: dict[int, object] = {}

    def timed(rec: dict, call) -> None:
        """Run one operation; record its wall time and the CPU time of
        the process tree while it ran."""
        cpu0 = tracing.cpu_split(os.getpid())["total"]
        t = time.perf_counter()
        try:
            call()
        except Exception:  # the run goes on; run.py counts it as failed
            rec["error"] = traceback.format_exc(limit=3)
        rec["latency_s"] = time.perf_counter() - t
        rec["cpu_s"] = tracing.cpu_split(os.getpid())["total"] - cpu0
        records.append(rec)

    def catalog_op(name: str, sf_dir: str, kind: str, pos: int | None = None) -> None:
        from flight_delay_prediction_using_pyspark_spark.plans import QUERIES

        fn = QUERIES[name]
        rec = {"name": name, "kind": kind, "pos": pos,
               "family": FAMILY.get(fn.__module__.rsplit(".", 1)[1], "other")}
        df = None

        def call() -> None:
            nonlocal df
            with span(name, kind=kind) as op:
                rec["span"] = op.get("id")
                with span("plans.build"):
                    df = fn(spark, sf_dir)
                with span("plans.collect"):
                    frames[len(records)] = df.toPandas()

        timed(rec, call)
        if tr:
            tr.after_op(tr.spans[rec["span"]], df if "error" not in rec else None)

    def cli_op(k: int) -> None:
        from flight_delay_prediction_using_pyspark_spark.app import cli

        fl = plan["flights"]
        out_dir = os.path.join(fl["out_root"], f"job{k}")
        rec = {"name": "cli.run", "kind": "op", "pos": 0, "family": "cli", "out_dir": out_dir}
        argv = [fl["train"], out_dir, "--plane-data", fl["plane"], "--test-file", fl["test"]]

        def call() -> None:
            with span("cli.run", kind="op") as op:
                rec["span"] = op.get("id")
                rec["result"] = cli.run(argv)

        timed(rec, call)
        if tr:
            tr.after_op(tr.spans[rec["span"]])

    def measure() -> tuple[float, float, list[dict]]:
        """Warm-up, then measured passes until ``seconds`` have passed
        and at least ``min_passes`` have run, but never more than
        ``max_passes``.

        The warm-up runs untimed, so that class loading, the pyspark
        Python workers and the first JIT compilations are paid in
        set-up. Only the catalog workloads warm up, with one pass of
        their queries; ``flights_ml`` is one cold CLI job, as users run
        it.

        Each measured pass reads the inputs through its own path, so the
        program's per-input memo caches start cold on every pass."""
        t = time.perf_counter()
        with span("session.warmup"):
            if workload != "flights_ml":
                for name in plan["ops"]:
                    catalog_op(name, plan["sf_dir"], "warmup")
        warmup_s = time.perf_counter() - t
        setup_s = time.time() - plan["spawned_at"]
        if tr:
            tr.start_measuring()
        passes = []
        first = time.perf_counter()
        while len(passes) < plan["min_passes"] or (
            time.perf_counter() - first < plan["seconds"] and len(passes) < plan["max_passes"]
        ):
            k = len(passes)
            cpu0 = tracing.cpu_split(os.getpid())
            t = time.perf_counter()
            n0 = len(records)
            if workload == "flights_ml":
                cli_op(k)
            else:
                sf_dir = f"{plan['sf_dir']}-pass{k}"
                os.symlink(plan["sf_dir"], sf_dir)
                for j, name in enumerate(plan["ops"]):
                    catalog_op(name, sf_dir, "op", j)
            cpu1 = tracing.cpu_split(os.getpid())
            passes.append({
                "wall_s": time.perf_counter() - t,
                "cpu": {key: cpu1[key] - cpu0[key] for key in cpu0},
                "ops": list(range(n0, len(records))),
            })
        return warmup_s, setup_s, passes

    with span("run"):
        warmup_s, setup_s, passes = measure()

    out = {"setup_s": setup_s, "start_s": start_s, "warmup_s": warmup_s, "passes": passes}
    if tr:
        op_spans = [tr.spans[r["span"]] for r in records if r["kind"] == "op"]
        families = {r["span"]: r["family"] for r in records if r["kind"] == "op"}
        layers, problems = tr.finish(op_spans, families, spark.sparkContext.defaultParallelism)
        tr.unwrap()
        out["layers"], out["trace_problems"] = layers, problems
        out["self_times"] = tr.self_times()
        with open(plan["trace_path"], "w") as f:
            json.dump({"spans": tr.spans, "self_times": out["self_times"], "layers": layers,
                       "problems": problems, "note": LAZY_NOTE}, f, indent=1)

    from checks import canon

    for i, rec in enumerate(records):
        if i in frames:
            rec["canon"] = canon(frames.pop(i))
    out["records"] = records
    _stop_spark(spark)
    with open(plan["result_path"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
