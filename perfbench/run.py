"""The repo benchmark.

    python3 perfbench/run.py --workload forest --seed 1 --seconds 4 --trace 0

Runs one workload (see ``workloads.py``) as a closed loop from a single
process on ``local[<cores>]``: one client, the next operation starts when
the previous one has returned. The inputs (see ``gen.py``) are written
into a scratch directory under ``.perfbench_work/`` at the repo root;
every collected result is checked against the operation's DuckDB oracle.

Set-up is session start, ``load_all``, writing the inputs, oracle hashing
and one untimed warm pass; ``setup_s`` times it from the start of the run,
so it includes the JVM launch. Passes then run in the same session until
``--seconds`` have been measured; ``pass_s`` is the median pass time.

``--trace 1`` measures untraced passes for half the time, then
restarts the session with the Spark event log on, tags every operation
with a job group, and measures traced passes for the other half. It
prints the per-layer metrics and writes the spans to
``.perfbench_work/traces/``.

The last stdout line is the result JSON; the line before it carries the
detail (sample counts, input sizes, per-op medians, error rate, cached
blocks after each pass, peak resident memory).
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import med  # noqa: E402
from workloads import LAKE_READS, LAKE_SINKS, WORKLOADS  # noqa: E402


def isolate(work: str, cores: int) -> None:
    """Keep every file the run writes — Python temp files, Spark scratch,
    JVM temp files — inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        TZ="UTC",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    time.tzset()
    tempfile.tempdir = tmp


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, workload: str, seed: int, work: str, cores: int, t_start: float):
        import random_forest_using_hadoop_spark as engine

        self.engine = engine
        self.t_start = t_start
        self.w = WORKLOADS[workload]
        self.seed = seed
        self.work = work
        self.cores = cores
        self.input_dir = os.path.join(work, "input")
        self.lake_root = os.path.join(work, "lake")
        self.spark = None
        self.expect: dict = {}
        self.inputs: dict = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spans = None  # a tracing.Spans while the traced session runs
        self.run_sid = None  # the traced run's root span
        self.setup_s = 0.0
        self.setup_steps: dict = {}
        self.sessions = 0
        self.blocks: list[tuple[int, int]] = []  # (session, cached blocks) after each pass

    # -- session ---------------------------------------------------------
    def start_session(self, extra_conf: dict | None = None) -> float:
        from random_forest_using_hadoop_spark.session import get_spark

        t = time.perf_counter()
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
            **(extra_conf or {}),
        }
        self.spark = get_spark("perfbench", conf)
        self.sessions += 1
        return time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- one operation / one pass ---------------------------------------
    def run_op(self, op: str, pass_no: int) -> dict:
        rec = {"op": op, "group": f"{self.w.name}/{op}/p{pass_no}", "rows": 0,
               "files": 0, "out_bytes": 0}
        fn = self.engine.REGISTRY[op].fn
        if self.spans is not None:
            from tracing import tree_state

            self.spark.sparkContext.setJobGroup(rec["group"], rec["group"])
            before = tree_state(self.lake_root)
        start = time.time()
        t = time.perf_counter()
        try:
            df = fn(self.spark, self.input_dir)
            rows = df.collect()
            err = None
        except Exception as e:  # counted in error_rate, the run goes on
            err = e
        rec["s"] = time.perf_counter() - t
        rec["start"], rec["end"] = start, start + rec["s"]
        self.attempted += 1
        if err is None:
            from oracle import digest

            rec["rows"] = len(rows)
            if self.expect.get(op) not in (None, digest(df.columns, rows)):
                err = AssertionError(f"{op}: result differs from its DuckDB oracle")
        if err is not None:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{op}: {type(err).__name__}: {str(err)[:300]}")
        if self.spans is not None:
            from tracing import tree_state, written

            rec["files"], rec["out_bytes"] = written(before, tree_state(self.lake_root))
        return rec

    def run_pass(self, pass_no: int) -> dict:
        start = time.time()
        t = time.perf_counter()
        self.engine.release_caches(self.spark)
        release_s = time.perf_counter() - t
        ops = [self.run_op(op, pass_no) for op in self.w.ops]
        p = {
            "no": pass_no,
            "start": start,
            "release_s": release_s,
            "wall_s": release_s + sum(o["s"] for o in ops),
            "ops": ops,
            "cached_blocks": self.engine.cached_block_count(self.spark),
        }
        self.blocks.append((self.sessions, p["cached_blocks"]))
        if self.spans is not None:
            sid = self.spans.add("pass", start, parent=self.run_sid, no=pass_no)
            self.spans.add("session.release", start, start + release_s, sid)
            for o in ops:
                self.spans.add(o["op"], o["start"], o["end"], sid, rows=o["rows"],
                               layer=layer_of(self.engine.REGISTRY[o["op"]].fn))
            self.spans.close(sid, max([o["end"] for o in ops] + [start + release_s]))
        return p

    def measure(self, seconds: float, first_pass: int) -> list[dict]:
        passes: list[dict] = []
        end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < end:
            passes.append(self.run_pass(first_pass + len(passes)))
        return passes

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """Everything before the first timed pass, timed from the start of the run."""
        from gen import generate
        from oracle import connect, oracle_digest

        steps = {"session.start_s": self.start_session()}

        t = time.perf_counter()
        self.engine.load_all()
        from random_forest_using_hadoop_spark.operators import scans

        scans._TMP_ROOT = self.lake_root  # lake tables stage under the work dir
        steps["registry.load_all_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.inputs = generate(self.input_dir, self.seed, self.w)
        steps["inputs.generate_s"] = time.perf_counter() - t

        t = time.perf_counter()
        con = connect(self.input_dir)
        self.expect = {}
        for op in self.w.ops:
            sql = self.engine.REGISTRY[op].oracle
            self.expect[op] = oracle_digest(con, sql) if sql else None
        con.close()
        steps["oracle.hash_s"] = time.perf_counter() - t

        steps["warm_pass_s"] = self.run_pass(-1)["wall_s"]
        self.setup_s = time.perf_counter() - self.t_start
        self.setup_steps = steps

    def scan_probe(self) -> float:
        from random_forest_using_hadoop_spark.sources import load_table

        t = time.perf_counter()
        for name in sorted(self.inputs):
            load_table(self.spark, self.input_dir, name).count()
        return time.perf_counter() - t

    def peak_rss_mb(self) -> tuple[float, float]:
        from pyspark import SparkContext

        return vm_hwm_mb("self"), vm_hwm_mb(SparkContext._gateway.proc.pid)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None  # the next session launches a new JVM

    # -- summaries ---------------------------------------------------------
    def detail(self, passes: list[dict]) -> dict:
        by_op: dict[str, list[float]] = {}
        for p in passes:
            for o in p["ops"]:
                by_op.setdefault(o["op"], []).append(o["s"])
        d = {
            "workload": self.w.name,
            "seed": self.seed,
            "inputs": self.inputs,
            "samples": {"pass": len(passes)},
            "setup_s": self.setup_s,
            "setup_steps": self.setup_steps,
            "pass_s_samples": [p["wall_s"] for p in passes],
            "op_s_median": {k: med(v) for k, v in sorted(by_op.items())},
            "error_rate": self.failed / self.attempted if self.attempted else 0.0,
            "errors": self.errors,
            "cached_blocks": [n for _, n in self.blocks],
            # a later pass in the same session holding more blocks than the one before
            "cache_growth": any(
                s1 == s0 and n1 > n0
                for (s0, n0), (s1, n1) in zip(self.blocks, self.blocks[1:])
            ),
        }
        if "ml_rf_train" in by_op:
            d["train_s"] = med(by_op["ml_rf_train"])
        sinks = [sum(o["s"] for o in p["ops"] if o["op"] in LAKE_SINKS) for p in passes]
        reads = [sum(o["s"] for o in p["ops"] if o["op"] in LAKE_READS) for p in passes]
        if any(sinks):
            d["commit_s"], d["read_s"] = med(sinks), med(reads)
        return d


def layer_of(fn) -> str:
    """The engine module an operation lives in, used as its layer name."""
    return fn.__module__.removeprefix("random_forest_using_hadoop_spark.")


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}")
    sys.path.insert(1, ROOT)
    bench = Bench(args.workload, args.seed, work, cores, t_start)
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, cores)
    try:
        bench.setup()
        if not args.trace:
            passes = bench.measure(args.seconds, 0)
            rss = bench.peak_rss_mb()
            metrics = {
                "setup_s": metric(bench.setup_s, "s"),
                "pass_s": metric(med([p["wall_s"] for p in passes]), "s"),
            }
            detail = bench.detail(passes)
            detail["peak_rss_mb"] = {"python": rss[0], "jvm": rss[1]}
        else:
            metrics, detail = traced_run(bench, args)
    finally:
        bench.shutdown()
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


def traced_run(bench: Bench, args) -> tuple[dict, dict]:
    from tracing import (PER_LAYER, Spans, layer_metrics, layer_self_s, read_event_log,
                         unit_of)

    half = args.seconds / 2
    untraced = bench.measure(half, 0)

    log_dir = os.path.join(bench.work, "eventlog")
    os.makedirs(log_dir)
    bench.stop_session()
    bench.start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one file named after the app id
    })
    bench.spans = Spans(f"{args.workload}-seed{args.seed}")
    bench.run_sid = bench.spans.add("run", time.time())
    warm = bench.run_pass(-100)  # warms the new session; not measured
    traced = bench.measure(half, len(untraced))
    bench.spark.sparkContext.setJobGroup("scan_probe", "scan_probe")
    scan_s = bench.scan_probe()
    bench.spans.close(bench.run_sid, time.time())
    rss = bench.peak_rss_mb()
    app_id = bench.spark.sparkContext.applicationId
    bench.stop_session()  # flushes the event log
    windows = [(o["group"], o["start"], o["end"]) for p in [warm] + traced for o in p["ops"]]
    groups = read_event_log(os.path.join(log_dir, app_id), windows)

    vals = layer_metrics(traced, groups, bench.cores)
    vals["peak_rss_mb"] = sum(rss)
    vals["session.start_s"] = bench.setup_steps["session.start_s"]
    vals["registry.load_all_s"] = bench.setup_steps["registry.load_all_s"]
    vals["sources.scan_s"] = scan_s
    vals["trace.pass_s"] = med([p["wall_s"] for p in traced])
    vals["trace.untraced_pass_s"] = med([p["wall_s"] for p in untraced])
    vals["trace.overhead_s"] = vals["trace.pass_s"] - vals["trace.untraced_pass_s"]
    bench.spans.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                                  f"{args.workload}-seed{args.seed}.json"))

    detail = bench.detail(traced)
    detail["untraced_pass_s_samples"] = [p["wall_s"] for p in untraced]
    detail["peak_rss_mb"] = {"python": rss[0], "jvm": rss[1]}
    ours = {w[0] for w in windows} | {"scan_probe"}
    detail["unassigned_jobs"] = sum(len(v["jobs"]) for g, v in groups.items() if g not in ours)
    detail["layer_self_s"] = layer_self_s(bench.spans.spans)
    return {k: metric(vals[k], unit_of(k)) for k in PER_LAYER}, detail


if __name__ == "__main__":
    sys.exit(main())
