"""Traced-run instruments: spans, Spark event-log totals, file-system
write accounting, and the per-layer metrics computed from them.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the engine, Spark totals come from the
event log of the traced session (jobs are attributed to operations by
``SparkContext.setJobGroup``), and lake writes are counted by diffing
the staging directory around each call.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from workloads import DEDUP_OPS, LAKE_READS, LAKE_SINKS, OLAP_OPS, SIM_OPS

PYTHON_BYTES_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


class Spans:
    """In-memory span recorder (name, start, end, parent, run id); ``dump``
    writes every span with its self time: its duration minus the part its
    child spans cover."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float | None = None,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "run": self.run_id, "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def close(self, sid: int, end: float) -> None:
        self.spans[sid]["end"] = end

    def dump(self, path: str) -> None:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            if s["end"] is not None:
                s["self_s"] = (s["end"] - s["start"]) - child[s["id"]]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def layer_self_s(spans: list[dict]) -> dict[str, float]:
    """Median per measured traced pass of the time spent in each layer:
    op spans, which have no children, are their layer's self time, and
    ``release_caches`` counts under ``session``."""
    per_pass = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if "layer" in s:
            per_pass[s["parent"]][s["layer"]] += s["end"] - s["start"]
        elif s["name"] == "session.release":
            per_pass[s["parent"]]["session"] += s["end"] - s["start"]
    passes = [s["id"] for s in spans if s["name"] == "pass" and s["no"] >= 0]
    layers = sorted({k for p in passes for k in per_pass[p]})
    return {k: med(per_pass[p][k] for p in passes) for k in layers}


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) created or rewritten between two ``tree_state``s."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)


def _new_group():
    return {
        "jobs": [], "tasks": 0, "failed_tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "task_wait_s": 0.0, "input_bytes": 0, "input_records": 0,
        "shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0, "python_bytes": 0,
    }


def read_event_log(path: str, windows: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Per job group totals from a Spark JSON event log.

    ``windows`` holds (group, start, end) in epoch seconds for every traced
    operation. A job submitted under another group — a streaming query's
    micro-batches run under their own — is attributed to the operation
    whose window holds its submission time: the loop runs one operation
    at a time. Jobs outside every window stay under their own group."""
    groups: dict[str, dict] = defaultdict(_new_group)
    ours = {g for g, _, _ in windows}

    def owner(group: str, submit_ms) -> str:
        if group in ours or submit_ms is None:
            return group
        t = submit_ms / 1e3
        return next((g for g, a, b in windows if a <= t <= b), group)

    job_slot: dict[int, list] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[tuple, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                g = owner(g, ev.get("Submission Time"))
                slot = [ev.get("Submission Time"), None]
                groups[g]["jobs"].append(slot)
                job_slot[ev["Job ID"]] = slot
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_slot:
                    job_slot[ev["Job ID"]][1] = ev.get("Completion Time")
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                stage_submit[key] = info.get("Submission Time")
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is not None:
                    stage_group[info["Stage ID"]] = owner(g, info.get("Submission Time"))
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid, "")]
                info = ev.get("Task Info", {})
                g["tasks"] += 1
                g["failed_tasks"] += bool(info.get("Failed"))
                sub = stage_submit.get((sid, ev.get("Stage Attempt ID", 0)))
                if sub and info.get("Launch Time"):
                    g["task_wait_s"] += max(info["Launch Time"] - sub, 0) / 1e3
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in PYTHON_BYTES_ACCUMS:
                        g["python_bytes"] += int(acc.get("Update") or 0)
                m = ev.get("Task Metrics") or {}
                g["task_s"] += m.get("Executor Run Time", 0) / 1e3
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics", {})
                g["input_bytes"] += inp.get("Bytes Read", 0)
                g["input_records"] += inp.get("Records Read", 0)
                sw = m.get("Shuffle Write Metrics", {})
                g["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    return groups


def _union_ms(intervals: list) -> float:
    done = sorted((a, b) for a, b in intervals if a and b)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in done:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


PER_PASS = (
    "session.release_s", "session.cached_blocks", "sources.input_bytes",
    "sources.input_records", "ml.fit_s", "ml.fit_jobs", "ml.fit_tasks",
    "ml.fit_shuffle_bytes", "ml.cycle_rest_s", "olap.jobs", "olap.shuffle_bytes",
    "olap.spill_bytes", "dedup.python_bytes", "dedup.shuffle_records",
    "dedup.pair_yield", "lake.jobs", "lake.output_bytes", "lake.files_written",
    "lake.write_amp", "lake.driver_s", "stream.cdf_s", "spark.task_s", "spark.cpu_s",
    "spark.gc_s", "spark.task_wait_s", "spark.busy_frac", "spark.failed_tasks",
)
OP_METRICS = (
    [(f"olap.query_s.{k}", k) for k in OLAP_OPS]
    + [(f"dedup.op_s.{k}", k) for k in DEDUP_OPS]
    + [(f"sim.op_s.{k}", k) for k in SIM_OPS]
    + [(f"lake.op_s.{k}", k) for k in LAKE_SINKS + LAKE_READS]
)
ONCE = ("peak_rss_mb", "session.start_s", "registry.load_all_s", "sources.scan_s")
OVERHEAD = ("trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s")

UNITS = {
    "_s": "s", "blocks": "count", "bytes": "bytes", "records": "count", "jobs": "count",
    "tasks": "count", "written": "count", "yield": "ratio", "amp": "ratio",
    "frac": "ratio", "_mb": "MB",
}


def unit_of(name: str) -> str:
    if "_s." in name:
        return "s"
    return next(u for suffix, u in UNITS.items() if name.endswith(suffix))


PER_LAYER = ONCE + PER_PASS + tuple(n for n, _ in OP_METRICS) + OVERHEAD


def layer_metrics(passes: list[dict], groups: dict[str, dict], cores: int) -> dict:
    """Per-layer metrics, each the median over traced passes.

    ``passes``: one dict per traced pass with ``wall_s``, ``release_s``,
    ``cached_blocks`` and ``ops`` — a list of op records (``op``,
    ``group``, ``s``, ``rows``, ``files``, ``out_bytes``).
    """
    per_pass = defaultdict(list)
    per_op = defaultdict(list)
    for p in passes:
        ops = {o["op"]: o for o in p["ops"]}
        g = {o["op"]: groups.get(o["group"], _new_group()) for o in p["ops"]}

        def tot(field, keys=None):
            return sum(g[k][field] for k in (ops if keys is None else keys) if k in g)

        for o in p["ops"]:
            per_op[o["op"]].append(o["s"])
        fit = g.get("ml_rf_train", _new_group())
        pair_shuffle = tot("shuffle_records", DEDUP_OPS)
        dedup_keys = DEDUP_OPS + SIM_OPS
        sinks = [k for k in LAKE_SINKS if k in ops]
        lake_keys = [k for k in LAKE_SINKS + LAKE_READS if k in ops]
        sink_in = tot("input_bytes", sinks)
        sink_out = sum(ops[k]["out_bytes"] for k in sinks)
        task_s = tot("task_s")
        fit_s = ops["ml_rf_train"]["s"] if "ml_rf_train" in ops else 0.0
        vals = {
            "session.release_s": p["release_s"],
            "session.cached_blocks": p["cached_blocks"],
            "sources.input_bytes": tot("input_bytes"),
            "sources.input_records": tot("input_records"),
            "ml.fit_s": fit_s,
            "ml.fit_jobs": len(fit["jobs"]),
            "ml.fit_tasks": fit["tasks"],
            "ml.fit_shuffle_bytes": fit["shuffle_bytes"],
            "ml.cycle_rest_s": p["wall_s"] - fit_s if fit_s else 0.0,
            "olap.jobs": sum(len(g[k]["jobs"]) for k in OLAP_OPS if k in g),
            "olap.shuffle_bytes": tot("shuffle_bytes", OLAP_OPS),
            "olap.spill_bytes": tot("spill_bytes", OLAP_OPS),
            "dedup.python_bytes": tot("python_bytes", dedup_keys),
            "dedup.shuffle_records": tot("shuffle_records", dedup_keys),
            "dedup.pair_yield": (
                sum(ops[k]["rows"] for k in DEDUP_OPS if k in ops) / pair_shuffle
                if pair_shuffle else 0.0
            ),
            "lake.jobs": sum(len(g[k]["jobs"]) for k in lake_keys),
            "lake.output_bytes": sum(ops[k]["out_bytes"] for k in lake_keys),
            "lake.files_written": sum(ops[k]["files"] for k in lake_keys),
            "lake.write_amp": sink_out / sink_in if sink_in else 0.0,
            "lake.driver_s": sum(
                ops[k]["s"] - _union_ms(g[k]["jobs"]) / 1e3 for k in lake_keys
            ),
            "stream.cdf_s": ops["stream_delta_cdf"]["s"] if "stream_delta_cdf" in ops else 0.0,
            "spark.task_s": task_s,
            "spark.cpu_s": tot("cpu_s"),
            "spark.gc_s": tot("gc_s"),
            "spark.task_wait_s": tot("task_wait_s"),
            "spark.busy_frac": task_s / (p["wall_s"] * cores) if p["wall_s"] else 0.0,
            "spark.failed_tasks": tot("failed_tasks"),
        }
        for k, v in vals.items():
            per_pass[k].append(v)
    out = {k: med(per_pass[k]) for k in PER_PASS}
    for name, op in OP_METRICS:
        out[name] = med(per_op[op])
    return out
