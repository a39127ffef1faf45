"""Outside-in tracing for the traced benchmark run.

Nothing here edits the program. Spans are opened by the client around
its calls and by wrappers that replace public module attributes for the
length of the run. Spark's own status data gives the rest: the local UI
REST endpoint (jobs, stages, storage), each collected frame's Catalyst
phase tracker, and ``/proc`` for CPU and memory of the process tree.
Spans live in memory and are written out once, at the end.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

PACKAGE = "flight_delay_prediction_using_pyspark_spark"
UI_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.ui.showConsoleProgress": "false",
}
_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1024 * 1024


# --------------------------------------------------------------- /proc

def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), comm, own, reaped


def process_tree(root: int) -> dict[int, tuple[int, str, float, float]]:
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                procs[int(entry)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in tree:
            tree[pid] = procs[pid]
            frontier.extend(p for p, st in procs.items() if st[0] == pid)
    return tree


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds of the tree, split into the driver's own, the JVM's
    own, and everything below the JVM (the pyspark Python workers, plus
    workers the JVM already reaped)."""
    tree = process_tree(root)
    jvm = [pid for pid, st in tree.items() if st[1] == "java"]
    below = set()
    for pid, st in tree.items():
        anc = st[0]
        while anc in tree:
            if anc in jvm:
                below.add(pid)
                break
            anc = tree[anc][0]
    return {
        "total": sum(st[2] + st[3] for st in tree.values()),
        "driver": tree[root][2] if root in tree else 0.0,
        "jvm": sum(tree[p][2] for p in jvm),
        "python_workers": sum(tree[p][2] + tree[p][3] for p in below)
        + sum(tree[p][3] for p in jvm),
    }


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total / _MB


def dir_size(path: str) -> int:
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not os.path.islink(os.path.join(d, f))
    )


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# --------------------------------------------------------------- spans

def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(tzinfo=timezone.utc).timestamp()


class Tracer:
    """Spans, wrappers and Spark status reads for one traced run."""

    def __init__(self, spark, run_id: str):
        self.sc, self.run_id = spark.sparkContext, run_id
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._local.stack = self._main_stack
        self._patches: list[tuple[object, str, object]] = []
        self.job_op: dict[int, int] = {}
        self.seen_jobs = 0
        self.overhead_s = 0.0
        self.phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.rss_peak_mb = 0.0
        self.storage_peak_mb = 0.0
        self.written_mb = 0.0

    # spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        # A span opened on a helper thread (run_concurrently) hangs under
        # whatever the client thread has open.
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._main_stack[-1] if self._main_stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None, lazy: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper, in every
        loaded module of the program that holds the same object. A lazy
        call only builds a plan; its span is marked so."""
        original = getattr(owner, attr)
        attrs = {"lazy": True} if lazy else {}

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name, **attrs):
                out = original(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        targets = [owner] if isinstance(owner, type) else [
            m for n, m in list(sys.modules.items())
            if m is not None and n.startswith(PACKAGE) and getattr(m, attr, None) is original
        ]
        for target in targets:
            self._patches.append((target, attr, original))
            setattr(target, attr, wrapper)

    def wrap_module(self, module, name: str, prefixes: tuple[str, ...], after=None, lazy: bool = False) -> None:
        """Wrap the module's own public functions named ``prefix*``."""
        for attr, obj in list(vars(module).items()):
            if attr.startswith(prefixes) and getattr(obj, "__module__", None) == module.__name__:
                self.wrap(module, attr, name, after, lazy)

    def unwrap(self) -> None:
        for target, attr, original in reversed(self._patches):
            setattr(target, attr, original)
        self._patches.clear()

    def start_measuring(self) -> None:
        """Count tracer time and Catalyst phases of the measured passes
        only, not those of the warm-up."""
        self.overhead_s = 0.0
        self.phases = dict.fromkeys(self.phases, 0.0)

    # Spark status ------------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _submitted_jobs(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _settled_jobs(self) -> list[dict]:
        """Jobs from the UI store once the listener has caught up with
        every job the scheduler has submitted."""
        want = self._submitted_jobs()
        deadline = time.time() + 10
        while True:
            jobs = self._get("/jobs")
            done = [j for j in jobs if j["status"] != "RUNNING"]
            if (len(done) == len(jobs) and len(jobs) >= want) or time.time() > deadline:
                return jobs
            time.sleep(0.005)

    def after_op(self, op_span: dict, df=None) -> None:
        """Attribute the jobs submitted since the last call to this
        operation (by job id) and sample Catalyst, memory and storage."""
        t0 = time.time()
        jobs = self._settled_jobs()
        for j in jobs:
            if j["jobId"] >= self.seen_jobs:
                self.job_op[j["jobId"]] = op_span["id"]
        self.seen_jobs = max([self.seen_jobs] + [j["jobId"] + 1 for j in jobs])
        if df is not None:
            ph = df._jdf.queryExecution().tracker().phases()
            for p in self.phases:
                o = ph.get(p)
                if o.isDefined():
                    self.phases[p] += o.get().durationMs() / 1000.0
        self.rss_peak_mb = max(self.rss_peak_mb, tree_rss_mb(os.getpid()))
        storage = self._get("/storage/rdd")
        self.storage_peak_mb = max(
            self.storage_peak_mb,
            sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in storage) / _MB,
        )
        self.overhead_s += time.time() - t0

    def note_written(self, args: tuple, kwargs: dict, _out) -> None:
        """Bytes under the output path of one writer call."""
        t0 = time.time()
        path = next((a for a in list(args) + list(kwargs.values()) if isinstance(a, str)), None)
        if path is not None and os.path.exists(path):
            self.written_mb += dir_size(path) / _MB
        self.overhead_s += time.time() - t0

    # results ------------------------------------------------------------
    def _layer_s(self, name: str, within: set[int] | None = None) -> float:
        """Inclusive time of the outermost spans called ``name``."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None or (within and s["id"] not in within):
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def _innermost(self, op_id: int, t: float) -> int:
        """Deepest span under ``op_id`` open at time t (ms resolution)."""
        best, depth = op_id, 0
        for s in self.spans[op_id + 1:]:
            if s["start"] > t + 0.001:
                break
            d, p = 0, s["id"]
            while p is not None and p != op_id:
                p, d = self.spans[p]["parent"], d + 1
            if p == op_id and s["start"] - 0.001 <= t <= (s["end"] or t) + 0.001 and d >= depth:
                best, depth = s["id"], d
        return best

    def self_times(self) -> dict[str, float]:
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
        return dict(sorted(out.items(), key=lambda kv: -kv[1]))

    def finish(self, op_spans: list[dict], families: dict[int, str], cores: int) -> tuple[dict, list[str]]:
        """Per-layer metrics over the measured operations, and the list
        of completeness checks that failed."""
        problems = []
        jobs = {j["jobId"]: j for j in self._settled_jobs()}
        stages = self._get("/stages")
        submitted = self._submitted_jobs()
        if sorted(jobs) != list(range(submitted)):
            problems.append(f"UI store holds {len(jobs)} of {submitted} jobs")
        stage_ids = {s["stageId"] for s in stages}
        if stage_ids and sorted(stage_ids) != list(range(max(stage_ids) + 1)):
            problems.append("UI store is missing stages")
        ops = {s["id"]: s for s in op_spans}
        for jid, op in self.job_op.items():
            j = jobs.get(jid)
            t = _epoch(j["submissionTime"]) if j else None
            inside = [o for o in ops.values() if t is not None and o["start"] - 0.001 <= t <= o["end"] + 0.001]
            if op in ops and (len(inside) != 1 or inside[0]["id"] != op):
                problems.append(f"job {jid} is not inside exactly its operation window")

        stage_job: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid]["stageIds"]:
                stage_job.setdefault(sid, jid)
        m = dict.fromkeys(["jobs", "stages", "tasks", "failed_tasks", "input_rows"], 0)
        m.update(dict.fromkeys(["executor_run_s", "executor_cpu_s", "gc_s", "input_mb",
                                "shuffle_read_mb", "shuffle_write_mb", "spill_mb"], 0.0))
        fam = {f: {"op_s": 0.0, "jobs": 0} for f in ("operators", "text", "similarity", "multimodal", "streaming")}
        build_jobs = collect_jobs = tree_jobs = 0
        busy_clipped = busy_raw = 0.0
        for op in op_spans:
            op_jobs = [jobs[j] for j, o in self.job_op.items() if o == op["id"] and j in jobs]
            m["jobs"] += len(op_jobs)
            f = families.get(op["id"])
            if f in fam:
                fam[f]["op_s"] += op["end"] - op["start"]
                fam[f]["jobs"] += len(op_jobs)
            spans_raw, spans_clip = [], []
            for j in op_jobs:
                a, b = _epoch(j["submissionTime"]), _epoch(j.get("completionTime"))
                if a is None or b is None:
                    continue
                spans_raw.append((a, b))
                spans_clip.append((max(a, op["start"]), min(b, op["end"])))
                owner = self._innermost(op["id"], a)
                build_jobs += self._under(owner, "plans.build")
                collect_jobs += self._under(owner, "plans.collect")
                tree_jobs += self._under(owner, "ml.tree_fit")
            busy_raw += _union(spans_raw)
            busy_clipped += _union(spans_clip)
        op_ids = {o["id"] for o in op_spans}
        op_stage_ids = {sid for sid, jid in stage_job.items() if self.job_op.get(jid) in op_ids}
        for s in stages:
            if s["stageId"] not in op_stage_ids or s["status"] == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
            m["failed_tasks"] += s["numFailedTasks"]
            m["executor_run_s"] += s["executorRunTime"] / 1000.0
            m["executor_cpu_s"] += s["executorCpuTime"] / 1e9
            m["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
            m["input_mb"] += s["inputBytes"] / _MB
            m["input_rows"] += s["inputRecords"]
            m["shuffle_read_mb"] += s["shuffleReadBytes"] / _MB
            m["shuffle_write_mb"] += s["shuffleWriteBytes"] / _MB
            m["spill_mb"] += s["diskBytesSpilled"] / _MB
        op_wall = sum(o["end"] - o["start"] for o in op_spans)
        # Idle time is measured against job spans clipped to their
        # operation; the unclipped spans must give the same sum, or some
        # job ran outside the operation it was attributed to.
        idle = op_wall - busy_clipped
        if abs(op_wall - idle - busy_raw) > 0.002 * max(m["jobs"], 1) + 0.01:
            problems.append(
                f"driver.idle_s + exec.job_busy_s = {idle + busy_raw:.3f}s, operations took {op_wall:.3f}s"
            )
        within = {s["id"] for s in self.spans if self._ancestor_in(s["id"], op_ids)}
        out = {f"exec.{k}": v for k, v in m.items()}
        out.update({
            "exec.job_busy_s": busy_clipped,
            "exec.slot_util": m["executor_run_s"] / (busy_clipped * cores) if busy_clipped else 0.0,
            "driver.idle_s": idle,
            "plans.build_s": self._layer_s("plans.build", within),
            "plans.build_jobs": build_jobs,
            "plans.collect_s": self._layer_s("plans.collect", within),
            "plans.collect_jobs": collect_jobs,
            "plans.prepare_s": self._layer_s("plans.prepare", within),
            "sources.read_s": self._layer_s("sources.read", within),
            "sources.write_s": self._layer_s("sources.write", within),
            "sources.written_mb": self.written_mb,
            "catalyst.analysis_s": self.phases["analysis"],
            "catalyst.optimization_s": self.phases["optimization"],
            "catalyst.planning_s": self.phases["planning"],
            "ml.pipeline_fit_s": self._layer_s("ml.pipeline_fit", within),
            "ml.tree_fit_s": self._layer_s("ml.tree_fit", within),
            "ml.tree_fit_jobs": tree_jobs,
            "ml.evaluate_s": self._layer_s("ml.evaluate", within),
            "ml.score_s": self._layer_s("ml.score", within),
            "functions.labels_s": self._layer_s("functions.labels", within),
            "cache.storage_mb_peak": self.storage_peak_mb,
            "cache.persisted_end": self.sc._jsc.getPersistentRDDs().size(),
            "session.peak_rss_mb": self.rss_peak_mb,
            "trace.overhead_s": self.overhead_s,
        })
        for f, v in fam.items():
            out[f"{f}.op_s"], out[f"{f}.jobs"] = v["op_s"], v["jobs"]
        return out, problems

    def _ancestor_in(self, sid: int, ids: set[int]) -> bool:
        while sid is not None:
            if sid in ids:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def _under(self, sid: int, name: str) -> bool:
        while sid is not None:
            if self.spans[sid]["name"] == name:
                return True
            sid = self.spans[sid]["parent"]
        return False


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
