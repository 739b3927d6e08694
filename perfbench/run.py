"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

One client drives the engine on ``local[nproc]`` as a closed loop.  The
run sets up (session, one untimed pass whose results are checked against
committed digests, one more untimed pass), then repeats timed passes until
``--seconds`` have elapsed, and prints a facts line and, last, the
result line.  ``--trace 1`` reports the per-layer metrics instead of the
end-to-end ones; see README.md.
"""

import time

T_START = time.perf_counter()

from procstat import steal_s, tree_cpu_s  # noqa: E402

STEAL_START = steal_s()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "osm_changesets_to_parquet_spark"
NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints

END_TO_END = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.convert_s": "s",
    "sources.scan_tasks": "count",
    "sources.out_files": "count",
    "pipeline.publish_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.build_jobs": "count",
    "operators.lineage_cuts": "count",
    "operators.lineage_cut_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.fan_out_calls": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "plan.broadcast_exchanges": "count",
    "plan.sort_merge_joins": "count",
    "plan.shuffle_exchanges": "count",
    "plan.python_nodes": "count",
    "stream.batches": "count",
    "stream.updates_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_rows": "count",
    "ingest.rows_per_s": "1/s",
    "ingest.bytes_ratio": "ratio",
    "ingest.readback_s": "s",
    "driver.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}

# (module, function, span name) wrapped in the traced run; every
# ``run_s*`` runner of streaming.jobs is added at run time.
TRACED_FUNCTIONS = (
    ("session", "get_spark", "session.get_spark"),
    ("session", "ship_package", "session.ship_package"),
    ("pipeline", "main", "pipeline.main"),
    ("pipeline", "write_index", "pipeline.write_index"),
    ("sources.changesets", "convert", "sources.convert"),
    ("sources.changesets", "read_changesets_xml", "sources.read_changesets_xml"),
    ("catalog", "load_table", "catalog.load_table"),
    ("catalog", "fan_out", "catalog.fan_out"),
    ("operators.iterutils", "truncate_lineage", "operators.truncate_lineage"),
)


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(work: str, event_log: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_spark() -> None:
    """Stop the SparkContext, if any, and wait for the JVM to exit (it
    exits when its stdin from this process closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's high-water resident set (VmHWM) in MiB."""
    name = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName()
    with open(f"/proc/{name.split('@')[0]}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Runner:
    def __init__(self, args, workload, work: str):
        self.args = args
        self.w = workload
        self.work = work
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.facts: dict = {}
        self.tracer = None
        self.patches = None
        self.ingest = None  # IngestInput, for the ingest workload
        self.gen_cpu_s = 0.0

    # ------------------------------------------------------------ set-up

    def make_ops(self, spark):
        import workloads as W

        if self.w.name == "ingest":
            return W.ingest_ops(spark, self.ingest), 1
        from osm_changesets_to_parquet_spark.queries import queries

        # the stream jobs run in the traced run only (README.md)
        return W.query_ops(spark, self.w, queries(), W.load_digests(), self.args.trace), 0

    def generate_input(self) -> float:
        """Write the ingest dump; returns the seconds it took (not set-up)."""
        if self.w.name != "ingest":
            return 0.0
        import gendump
        import workloads as W

        t0, c0 = time.perf_counter(), tree_cpu_s()
        xml, expected = gendump.generate(self.args.seed, W.INGEST_ROWS)
        d = os.path.join(self.work, "ingest")
        os.makedirs(d)
        path = os.path.join(d, "changesets.osm.bz2")
        gendump.write_bz2(xml, path)
        self.ingest = W.IngestInput(
            path, os.path.join(d, "out", "changesets.parquet"), len(xml), expected
        )
        self.facts["dump"] = {
            "rows": expected["rows"],
            "xml_bytes": len(xml),
            "bz2_bytes": os.path.getsize(path),
        }
        self.gen_cpu_s = tree_cpu_s() - c0
        return time.perf_counter() - t0

    def start_session(self, event_log=None):
        from osm_changesets_to_parquet_spark import session

        t0 = time.perf_counter()
        spark = session.get_spark(
            f"perfbench-{self.w.name}",
            master=f"local[{NPROC}]",
            extra_conf=session_conf(self.work, event_log),
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.facts.setdefault("session_start_s", time.perf_counter() - t0)
        return spark

    def setup(self, gen_s: float):
        """Session, the checked warm-up pass, which also warms the tables
        and their footers, and one more unchecked pass over the timed ops:
        after the checked pass alone the first timed pass still ran 20-40%
        slower than the next.  Returns (spark, ops, ops kept first, seconds
        since process start)."""
        spark = self.start_session()
        ops, keep = self.make_ops(spark)
        t0 = time.perf_counter()
        self.check_pass(ops)
        t1 = time.perf_counter()
        self.warm_pass(ops)
        self.facts["check_pass_s"] = t1 - t0
        self.facts["warm_pass_s"] = time.perf_counter() - t1
        setup_s = time.perf_counter() - T_START - gen_s
        self.facts["setup_cpu_s"] = tree_cpu_s() - self.gen_cpu_s
        self.facts["setup_steal_s"] = steal_s() - STEAL_START
        return spark, ops, keep, setup_s

    @staticmethod
    def warm_pass(ops) -> None:
        """One untimed, unchecked pass over the timed ops."""
        for op in [op for op in ops if op.timed]:
            try:
                op.run(op.build())
            except Exception:
                pass  # the timed passes run it again and count the failure

    def span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def check_pass(self, ops) -> None:
        """Untimed warm-up pass; each result is checked once."""
        per_op = self.facts.setdefault("check_op_s", {})
        for op in ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                problem = op.check(op.check_run(op.build()))
            except Exception:
                problem = traceback.format_exc(limit=3)
            per_op[op.name] = time.perf_counter() - t0
            if problem:
                self.failed += 1
                self.problems.append(f"{op.name}: {problem}")

    # ------------------------------------------------------------ timing

    def timed_passes(self, ops, keep_first: int, seconds: float) -> dict:
        from workloads import pass_order

        ops = [op for op in ops if op.timed]
        passes, per_op, cpu, steal = [], defaultdict(list), [], []
        deadline = time.perf_counter() + seconds
        while True:
            if self.tracer:
                self.tracer.pass_id = len(passes)
            c0, st0 = tree_cpu_s(), steal_s()
            t0, e0 = time.perf_counter(), time.time()
            with self.span("pass"):
                for op in pass_order(ops, self.rng, keep_first):
                    s = time.perf_counter()
                    self.attempted += 1
                    try:
                        with self.span(f"{op.layer}.build"):
                            df = op.build()
                        with self.span(f"{op.layer}.exec"):
                            op.run(df)
                    except Exception:
                        self.failed += 1
                        self.problems.append(f"{op.name}: {traceback.format_exc(limit=3)}")
                    per_op[op.name].append(time.perf_counter() - s)
            passes.append((time.perf_counter() - t0, e0, time.time()))
            cpu.append(tree_cpu_s() - c0)
            steal.append(steal_s() - st0)
            if time.perf_counter() >= deadline:
                break
        if self.tracer:
            self.tracer.pass_id = None
        return {"passes": passes, "per_op": dict(per_op), "cpu_s": cpu, "steal_s": steal}

    def ingest_extras(self, timing: dict) -> dict:
        from stats import median

        if self.w.name != "ingest":
            return {"ingest.rows_per_s": 0.0, "ingest.bytes_ratio": 0.0, "ingest.readback_s": 0.0}
        per_op = timing["per_op"]
        readback = [
            sum(per_op[n][i] for n in per_op if n.startswith("readback"))
            for i in range(len(per_op["convert"]))
        ]
        files = glob.glob(os.path.join(self.ingest.out, "*.parquet"))
        return {
            "ingest.rows_per_s": self.ingest.expected["rows"] / median(per_op["convert"]),
            "ingest.bytes_ratio": sum(os.path.getsize(f) for f in files) / self.ingest.xml_bytes,
            "ingest.readback_s": median(readback),
        }

    # ------------------------------------------------------------ modes

    def run(self) -> dict:
        from stats import median, summary

        gen_s = self.generate_input()
        if self.args.trace:
            return self.run_traced(gen_s)
        spark, ops, keep, setup_s = self.setup(gen_s)
        timing = self.timed_passes(ops, keep, self.args.seconds)
        self.facts["driver.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        self.describe(spark, timing, setup_s, gen_s)
        self.facts.update(self.ingest_extras(timing))
        spark.stop()
        pass_times = [p[0] for p in timing["passes"]]
        self.facts["pass_s"] = summary(pass_times)
        self.facts["pass_times_s"] = pass_times
        self.facts["pass_cpu_s"] = timing["cpu_s"]
        self.facts["pass_steal_s"] = timing["steal_s"]
        return {"setup_s": setup_s, "pass_s": median(pass_times)}

    def run_traced(self, gen_s: float) -> dict:
        """Plain passes first, then traced passes on a fresh SparkContext
        with the event log on; the difference is the tracing overhead."""
        import tracing as T
        from stats import median

        self.tracer = T.Tracer()
        self.patches = T.Patches(self.tracer)
        self.install_patches()
        with self.tracer.span("setup"):
            spark, ops, keep, setup_s = self.setup(gen_s)
        self.patches.restore()
        tracer, self.tracer = self.tracer, None
        plain = self.timed_passes(ops, keep, self.args.seconds / 2)
        self.tracer = tracer

        spark.stop()
        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir)
        spark = self.start_session(event_log=log_dir)
        ops, keep = self.make_ops(spark)
        # the new context starts cold: warm it as set-up warms the first,
        # so both halves time warm passes
        self.warm_pass(ops)
        self.install_patches()
        traced = self.timed_passes(ops, keep, self.args.seconds / 2)
        set_up_only = self.set_up_only_runs(ops)
        self.patches.restore()
        self.describe(spark, traced, setup_s, gen_s)
        rss = jvm_peak_rss_mb(spark)
        spark.stop()

        (log,) = glob.glob(os.path.join(log_dir, "*"))
        metrics = self.layer_metrics(T, T.read_event_log(log), traced, set_up_only)
        metrics.update(self.ingest_extras(traced))
        metrics["driver.peak_rss_mb"] = rss
        self.facts["pass_cpu_s"] = traced["cpu_s"]
        self.facts["pass_steal_s"] = traced["steal_s"]
        metrics["trace.pass_s"] = median([p[0] for p in traced["passes"]])
        metrics["trace.overhead_s"] = metrics["trace.pass_s"] - median(
            [p[0] for p in plain["passes"]]
        )
        out = os.path.join(HERE, ".out")
        os.makedirs(out, exist_ok=True)
        spans_path = os.path.join(out, f"spans-{self.w.name}-seed{self.args.seed}.jsonl")
        self.tracer.write(spans_path)
        self.facts["span_log"] = os.path.relpath(spans_path, ROOT)
        return metrics

    def install_patches(self) -> None:
        import importlib

        from osm_changesets_to_parquet_spark.queries import load_all_modules

        load_all_modules()
        for mod, fn, name in TRACED_FUNCTIONS:
            m = importlib.import_module(f"{PACKAGE}.{mod}")
            self.patches.wrap(getattr(m, fn), name)
        jobs = importlib.import_module(f"{PACKAGE}.streaming.jobs")
        for fn in [f for f in vars(jobs) if f.startswith("run_s")]:
            self.patches.wrap(getattr(jobs, fn), f"streaming.{fn}")

    def set_up_only_runs(self, ops) -> list:
        """Run each op that is not in the passes (the stream jobs) once
        more, traced; returns the wall-clock window of each run."""
        windows = []
        for op in [op for op in ops if not op.timed]:
            self.attempted += 1
            e0 = time.time()
            try:
                with self.span(f"{op.layer}.set_up_only"):
                    op.run(op.build())
            except Exception:
                self.failed += 1
                self.problems.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            windows.append((e0, time.time()))
        return windows

    def layer_metrics(self, T, events, traced, set_up_only) -> dict:
        spans = self.tracer.spans
        n = len(traced["passes"])
        windows = [(e0, e1) for _, e0, e1 in traced["passes"]]
        in_pass = [s for s in spans if s.pass_id is not None]

        def total(name):
            return sum(s.end - s.start for s in in_pass if s.name == name) / n

        def calls(name):
            return sum(1 for s in in_pass if s.name == name) / n

        builds = [(s.start, s.end) for s in in_pass if s.name == "queries.build"]
        m = {k: 0 for k in PER_LAYER}
        m.update({k: v / n for k, v in T.event_log_metrics(events, windows, builds).items()})
        # the stream jobs run once per run, outside the passes
        stream = T.event_log_metrics(events, set_up_only)
        m.update({k: v for k, v in stream.items() if k.startswith("stream.")})
        converts = [(s.start, s.end) for s in in_pass if s.name == "sources.convert"]
        start = [s for s in spans if s.name == "session.get_spark"]
        m.update(
            {
                "session.start_s": start[0].end - start[0].start,
                "sources.convert_s": total("sources.convert"),
                "sources.scan_tasks": sum(T.scan_tasks(events, w) for w in converts) / n,
                "sources.out_files": len(glob.glob(os.path.join(self.ingest.out, "*.parquet")))
                if self.w.name == "ingest"
                else 0,
                "pipeline.publish_s": total("pipeline.write_index"),
                "queries.build_s": total("queries.build"),
                "queries.exec_s": total("queries.exec"),
                "operators.lineage_cuts": calls("operators.truncate_lineage"),
                "operators.lineage_cut_s": total("operators.truncate_lineage"),
                "catalog.load_table_calls": calls("catalog.load_table"),
                "catalog.fan_out_calls": calls("catalog.fan_out"),
            }
        )
        self.facts["self_time_s_per_pass"] = {
            k: v / n for k, v in sorted(T.self_time_by_name(in_pass).items())
        }
        return m

    # ------------------------------------------------------------ facts

    def describe(self, spark, timing, setup_s, gen_s) -> None:
        import pandas
        import pyarrow
        import pyspark
        from stats import median
        from workloads import SF_DIR, tables
        self.facts.update(
            {
                "workload": self.w.name,
                "seed": self.args.seed,
                "trace": self.args.trace,
                "nproc": NPROC,
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "spark": spark.version,
                "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "pandas": pandas.__version__,
                "sf": os.path.basename(SF_DIR),
                "table_bytes": sum(
                    os.path.getsize(os.path.join(SF_DIR, f"{t}.parquet"))
                    for t in tables(self.w.queries)
                ),
                "setup_s": setup_s,
                "input_generation_s": gen_s,
                "passes": len(timing["passes"]),
                "op_median_s": {k: median(v) for k, v in sorted(timing["per_op"].items())},
            }
        )


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    args = parse_args(argv)
    from workloads import WORKLOADS

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of the run (stream replay dirs, shipped package
    # zip, checkpoints) stays inside the work dir, removed at exit
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # a SPARK_LOCAL_DIRS from the caller's environment would override
    # spark.local.dir and put shuffle files outside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    runner = Runner(args, WORKLOADS[args.workload], work)
    try:
        metrics = runner.run()
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    runner.facts["problems"] = runner.problems
    out = os.path.join(HERE, ".out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"facts": runner.facts, "result": result}, f, indent=1)
    for p in runner.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(json.dumps({"facts": runner.facts}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
