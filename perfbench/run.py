#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client drives a workload of
engine ops and prints one JSON result line.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Run it from the repository root. Each run pins its environment (cores,
driver memory, scratch and temp directories inside ``.perfbench/``),
times its set-up, measures ``round(--seconds / PASS_S)`` whole passes
over the workload's ops (the seed sets their order), checks every op's
output outside the timed region and prints, as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one
untraced and one traced pass and reports the per-layer metrics read from
spans, Spark's status stores, a streaming listener and the UDF profiler.
The line before the result is a record of the run (stamps, tail
percentile and sample count, per-op walls). ``--write-fixture`` runs the
registered-query ops once and rewrites ``fixtures/fingerprints.json``.
See ``README.md`` for the workloads and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
FIXTURE = os.path.join(HERE, "fixtures", "fingerprints.json")
DRIVER_MEM = "2g"
YOUNG_GEN = "256m"

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from tracing import SparkCounters, StreamProgress, Tracer, kernel_seconds  # noqa: E402

END_TO_END = {"setup_s": "s", "run_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "op_s.p50": "s",
    "session.get_spark_s": "s", "registry.load_all_s": "s", "session.warmup_s": "s",
    "construct.s": "s", "construct.jobs": "count", "construct.stages": "count",
    "construct.share": "ratio",
    "checkpoint.rdds_live": "count", "checkpoint.storage_bytes": "bytes",
    "release.s": "s", "release.freed": "count", "caches.dropped": "count",
    "action.s": "s", "action.jobs": "count", "action.stages": "count",
    "action.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.core_busy": "ratio", "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "scan.input_bytes": "bytes",
    "scan.files_read": "count", "spill.bytes": "bytes",
    "arrow.rows_to_python": "count", "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes", "arrow.kernel_s": "s",
    "geo.wkb.encode_points_s": "s", "geo.wkb.decode_points_s": "s",
    "geo.wkb.decode_s": "s", "geo.io.write_s.p50": "s", "geo.io.files_written": "count",
    "geo.io.bytes_written": "bytes", "geo.io.stored_bytes_per_user_byte": "ratio",
    "geo.io.geo_metadata_s": "s", "geo.io.read_geoparquet_s": "s",
    "geo.sqlrewrite.geo_sql_s": "s", "geo.read_s.p50.tile": "s",
    "geo.read_s.p50.random": "s", "geo.scan.bytes_read_ratio.tile": "ratio",
    "geo.scan.bytes_read_ratio.random": "ratio", "geo.scan.rows_kept_ratio.tile": "ratio",
    "geo.scan.rows_kept_ratio.random": "ratio",
    "stream.drain_s": "s", "stream.batches": "count", "stream.input_rows": "count",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.state_rows_total": "count",
    "stream.state_memory_bytes": "bytes", "stream.sinks_live": "count",
    "trace.overhead": "ratio",
}


def pin_environment(run_dir: str) -> dict:
    """Environment every run uses, set before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "warehouse", "geo"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # A heap committed and touched in full at start (-Xms = -Xmx,
        # AlwaysPreTouch), a fixed young generation and two malloc arenas
        # keep the JVM's peak RSS from following G1's heap expansion, eden
        # sizing and marking cycles and per-thread arena growth, which vary
        # from run to run; peak RSS then moves with memory outside the Java
        # heap and the driver's own. C1-only JIT is done compiling by the
        # end of the warm-up; with C2 the compiler threads keep 1-2 cores
        # busy for five more passes and each pass's wall and CPU fall by up
        # to half, so a run would time the JIT. Without code-cache flushing
        # the sweeper does not evict compiled methods ~60 s into the run,
        # which cost the pass it hit +60% CPU in recompilation.
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN} "
                              "-XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing "
                              "-XX:ReservedCodeCacheSize=512m"),
        "MALLOC_ARENA_MAX": "2",
        # -Xms goes to the driver JVM alone: JAVA_TOOL_OPTIONS also reach
        # spark-submit's launcher JVM, whose -Xmx128m it would exceed. The
        # flag replaces the session's own spark.driver.extraJavaOptions,
        # so that option is repeated here.
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            "-Djava.net.preferIPv4Stack=true' "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
            "pyspark-shell"),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)
    return {"cores": cores, "driver_mem": DRIVER_MEM}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def process_tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every live descendant,
    each with its reaped children: the driver, the JVM it launched and
    the JVM's Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15]) / tick
    total = 0.0
    for pid, s in cpu.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += s
    return total


def host_steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over this host's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind py4j, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — make sure it is gone
                    proc.kill()
                    proc.wait()


class Bench:
    def __init__(self, args, run_dir: str, stamp: dict):
        self.args = args
        self.workload = args.workload
        self.run_dir = run_dir
        self.stamp = stamp
        self.failures: list[str] = []
        self.attempted = 0

    # ------------------------------------------------------------ set-up

    def setup(self, tracer, warm: bool = True) -> dict:
        """Register the queries, make the inputs, start the session and run
        the workload's untimed warm-up passes; returns each step's wall and
        their sum.

        A warm-up pass runs every query shape (for ``geoparquet_io``, one
        layout's write and reads, which take every code path) because the
        JVM's first run of each is 1.5-2.5x slower than later ones (planner
        and codegen JIT, Python worker start), which would otherwise land on
        whichever op the seed puts first. ``queries`` needs a second one:
        its first pass after a single warm-up was still 10-25% slower in
        wall and CPU than the next.

        One set-up per run: stopping and restarting the SparkContext inside
        one process leaves PySpark's accumulator server behind (Python
        accumulator updates then fail), and a fresh JVM per repetition
        would cost more than the measurement itself."""
        from geoparquet_python_spark import registry
        from geoparquet_python_spark.functions.exact import release_dead_checkpoints
        from geoparquet_python_spark.session import get_spark

        self.registry = registry
        self.release = release_dead_checkpoints
        t0 = time.perf_counter()
        registry.load_all()
        t1 = time.perf_counter()
        if self.workload == "geoparquet_io":
            self.geo = workloads.GeoWorkload(self.args.seed, tracer)
        else:
            self.data_dir = datagen.write_tables(
                os.path.join(WORK, f"data-sf{workloads.TABLE_SF}"), workloads.TABLE_SF)
            self.fixture = self._load_fixture()
        t2 = time.perf_counter()
        with tracer.span("session.get_spark"):
            self.spark = get_spark()
        if self.workload == "geoparquet_io":
            self.geo.bind(self.spark, os.path.join(self.run_dir, "geo"))
        t3 = time.perf_counter()
        if warm:
            with tracer.span("session.warmup"):
                for k in range(workloads.WARMUP_PASSES[self.workload]):
                    self.run_pass(self.pass_ops(-k), Tracer(enabled=False))
                    self.end_pass()
        t4 = time.perf_counter()
        return {"load_s": t1 - t0, "gen_s": t2 - t1, "start_s": t3 - t2,
                "warmup_s": t4 - t3, "setup_s": t4 - t0}

    def _load_fixture(self) -> dict:
        with open(os.path.join(self.data_dir, "MANIFEST.json")) as f:
            digest = json.load(f)["digest"]
        try:
            with open(FIXTURE) as f:
                fx = json.load(f)
        except FileNotFoundError:
            return {}
        if fx.get("data_digest") != digest:
            print(f"fixture was recorded on other data ({fx.get('data_digest')}"
                  f" != {digest}); every query check fails", file=sys.stderr)
            return {}
        return fx["queries"]

    # ------------------------------------------------------------ passes

    def end_pass(self) -> None:
        if self.workload == "geoparquet_io":
            self.geo.drop_pass_outputs()

    def run_pass(self, ops, tracer, counters=None) -> dict:
        """One pass: every op timed, checked after its clock stops. The
        pass's wall and CPU leave out the checks."""
        walls, per_op, check_s, check_cpu = [], [], 0.0, 0.0
        me = os.getpid()
        if self.workload == "geoparquet_io":
            self.geo.tracer = tracer
        layer = {"construct": [], "action": [], "live": [], "storage": [],
                 "release_s": 0.0, "freed": 0, "dropped": 0, "sinks": 0}
        steal0 = host_steal_s()
        cpu0 = process_tree_cpu_s(me)
        t_pass = time.perf_counter()
        for i, op in enumerate(ops):
            self.attempted += 1
            h0 = time.perf_counter()
            with tracer.span("functions.exact.release", i):
                if self.workload == "queries":
                    layer["dropped"] += self.registry.clear_derived_caches()
                freed = self.release()
            layer["release_s"] += time.perf_counter() - h0
            layer["freed"] += freed
            if counters is not None:
                counters.mark()
            got, err = None, None
            t0 = time.perf_counter()
            try:
                with tracer.span("op", i):
                    with tracer.span("construct", i):
                        df = op.build()
                    t1 = time.perf_counter()
                    c1 = counters.phase() if counters is not None else None
                    t1b = time.perf_counter()
                    with tracer.span("action", i):
                        got = op.act(df)
                    t2 = time.perf_counter()
                    c2 = counters.phase() if counters is not None else None
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                err = f"{op.name}: " + traceback.format_exc(limit=3).strip().splitlines()[-1]
                t1 = t1b = t2 = time.perf_counter()
                c1 = c2 = None
            wall = (t2 - t0) - (t1b - t1)
            walls.append(wall)
            c0 = time.perf_counter()
            k0 = process_tree_cpu_s(me)
            if err is None:
                try:
                    err = op.check(got)
                except Exception:  # noqa: BLE001
                    err = f"{op.name}: check raised " + traceback.format_exc(
                        limit=3).strip().splitlines()[-1]
            if err is not None:
                self.failures.append(err)
                print(f"FAILED {err}", file=sys.stderr)
            rec = {"op": op.name, "kind": op.kind, "layout": op.layout,
                   "wall_s": round(wall, 4), "construct_s": round(t1 - t0, 4),
                   "rows": got.get("rows") if isinstance(got, dict) else None}
            if counters is not None:
                from geoparquet_python_spark.functions import exact

                layer["live"].append(len(exact._LIVE_CHECKPOINTS))
                layer["storage"].append(counters.storage_bytes())
                if c1 is not None:
                    layer["construct"].append((t1 - t0, c1))
                    layer["action"].append((t2 - t1b, c2))
                    rec["counters"] = {"construct": c1, "action": c2}
            per_op.append(rec)
            check_cpu += process_tree_cpu_s(me) - k0
            check_s += time.perf_counter() - c0
        if counters is not None and any(op.kind == "stream" for op in ops):
            layer["sinks"] = sum(1 for t in self.spark.catalog.listTables()
                                 if t.name.startswith("sink_"))
        return {"wall_s": time.perf_counter() - t_pass - check_s,
                "cpu_s": process_tree_cpu_s(me) - cpu0 - check_cpu,
                "steal_s": host_steal_s() - steal0, "walls": walls,
                "ops": per_op, "layer": layer}

    def pass_ops(self, pass_no: int):
        if self.workload == "geoparquet_io":
            return self.geo.ops(self.args.seed, pass_no)
        return workloads.query_ops(self.spark, self.registry, self.data_dir, self.fixture,
                                   self.args.seed, pass_no)

    # ------------------------------------------------------------- runs

    def run(self) -> dict:
        tracer = Tracer(enabled=bool(self.args.trace))
        with tracer.span("setup"):
            setup = self.setup(tracer)
        n_passes = 1 if self.args.trace else max(
            1, round(self.args.seconds / workloads.PASS_S[self.workload]))
        passes = []
        for pass_no in range(1, n_passes + 1):
            passes.append(self.run_pass(self.pass_ops(pass_no), Tracer(enabled=False)))
            self.end_pass()
        traced = self.traced_pass(tracer, n_passes + 1) if self.args.trace else None
        rss = {"jvm": jvm_peak_rss_mb(self.spark),
               "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}

        walls = [w for p in passes for w in p["walls"]]
        tail = stats.tail(walls)
        record = {
            **self.stamp, "workload": self.workload, "seed": self.args.seed,
            "sf": workloads.TABLE_SF, "passes": len(passes),
            "ops_per_pass": len(passes[0]["walls"]),
            "op_s.p50": stats.median(walls), "op_s.tail": tail,
            "setup": setup, "peak_rss_mb": rss,
            "pass_wall_s": [p["wall_s"] for p in passes],
            "pass_cpu_s": [p["cpu_s"] for p in passes],
            "pass_host_steal_s": [p["steal_s"] for p in passes],
            "ops": [o for p in passes for o in p["ops"]],
        }
        if traced is None:
            metrics = {
                "setup_s": setup["setup_s"],
                "run_s": stats.median([p["wall_s"] for p in passes]),
                "cpu_s": stats.median([p["cpu_s"] for p in passes]),
                "peak_rss_mb": rss["jvm"] + rss["python"],
            }
            units = END_TO_END
        else:
            metrics = self.layer_metrics(setup, passes[0], traced, tracer)
            units = PER_LAYER
            record["traced_ops"] = traced["ops"]
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces",
                                     f"{self.workload}-seed{self.args.seed}.json"),
                        {k: v for k, v in record.items() if k not in ("ops",)})
        return {"record": record,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}}

    def traced_pass(self, tracer, pass_no: int) -> dict:
        listener = StreamProgress()
        self.spark.streams.addListener(listener)
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.spark.profile.clear()
        counters = SparkCounters(self.spark)
        try:
            with tracer.span("pass"):
                out = self.run_pass(self.pass_ops(pass_no), tracer, counters)
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            out["kernel_s"] = kernel_seconds(self.spark)
            out["stream"] = listener.snapshot()
        finally:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            self.spark.streams.removeListener(listener)
        return out

    def layer_metrics(self, setup: dict, untraced: dict, traced: dict, tracer) -> dict:
        lay = traced["layer"]
        cores = self.stamp["cores"]

        def tot(phase: str, key: str) -> float:
            return sum(c[key] for _, c in lay[phase])

        def both(key: str) -> float:
            return tot("construct", key) + tot("action", key)

        construct_s = sum(t for t, _ in lay["construct"])
        action_s = sum(t for t, _ in lay["action"])
        op_wall = sum(traced["walls"])
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update({
            "op_s.p50": stats.median(untraced["walls"]),
            "session.get_spark_s": setup["start_s"],
            "registry.load_all_s": setup["load_s"],
            "session.warmup_s": setup["warmup_s"],
            "construct.s": construct_s,
            "construct.jobs": tot("construct", "jobs"),
            "construct.stages": tot("construct", "stages"),
            "construct.share": construct_s / op_wall if op_wall else 0.0,
            "checkpoint.rdds_live": max(lay["live"], default=0),
            "checkpoint.storage_bytes": max(lay["storage"], default=0),
            "release.s": lay["release_s"],
            "release.freed": lay["freed"],
            "caches.dropped": lay["dropped"],
            "action.s": action_s,
            "action.jobs": tot("action", "jobs"),
            "action.stages": tot("action", "stages"),
            "action.tasks": tot("action", "tasks"),
            "exec.run_s": both("run_s"),
            "exec.cpu_s": both("cpu_s"),
            "exec.gc_s": both("gc_s"),
            "exec.core_busy": both("run_s") / (op_wall * cores) if op_wall else 0.0,
            "shuffle.read_bytes": both("shuffle_read_bytes"),
            "shuffle.write_bytes": both("shuffle_write_bytes"),
            "scan.input_bytes": both("input_bytes"),
            "scan.files_read": both("files_read"),
            "spill.bytes": both("spill_bytes"),
            "arrow.rows_to_python": both("py_rows_in"),
            "arrow.bytes_to_python": both("py_bytes_in"),
            "arrow.bytes_from_python": both("py_bytes_out"),
            "arrow.kernel_s": traced["kernel_s"],
            "trace.overhead": traced["wall_s"] / untraced["wall_s"] - 1.0,
        })
        stream_ops = [o for o in traced["ops"] if o["kind"] == "stream"]
        if stream_ops:
            s = traced["stream"]
            m.update({
                "stream.drain_s": stats.median([o["construct_s"] for o in stream_ops]),
                "stream.batches": s["batches"], "stream.input_rows": s["input_rows"],
                "stream.add_batch_ms": s["add_batch_ms"],
                "stream.query_planning_ms": s["query_planning_ms"],
                "stream.wal_commit_ms": s["wal_commit_ms"],
                "stream.state_rows_total": s["state_rows_total"],
                "stream.state_memory_bytes": s["state_memory_bytes"],
                "stream.sinks_live": lay["sinks"],
            })
        if self.workload == "geoparquet_io":
            m.update(self.geo.layer_metrics(traced, tracer))
        return m


def write_fixture(args, run_dir: str, stamp: dict) -> "Bench":
    """Record rows and fingerprint of every registered-query op; returns
    the bench so the caller can stop its session."""
    args.workload = "queries"
    bench = Bench(args, run_dir, stamp)
    bench.setup(Tracer(enabled=False), warm=False)
    out = {}
    for op in bench.pass_ops(0):
        bench.registry.clear_derived_caches()
        bench.release()
        out[op.name] = op.act(op.build())
    with open(os.path.join(bench.data_dir, "MANIFEST.json")) as f:
        digest = json.load(f)["digest"]
    with open(FIXTURE, "w") as f:
        json.dump({"data_digest": digest, "sf": workloads.TABLE_SF, "cores": stamp["cores"],
                   "queries": dict(sorted(out.items()))}, f, indent=1)
        f.write("\n")
    return bench


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="queries")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-fixture", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import geoparquet_python_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    stamp = pin_environment(run_dir)
    bench = None
    try:
        if args.write_fixture:
            bench = write_fixture(args, run_dir, stamp)
            return 0
        bench = Bench(args, run_dir, stamp)
        out = bench.run()
    finally:
        spark = getattr(bench, "spark", None)
        if spark is not None:
            stop_jvm(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = len(bench.failures)
    out["record"]["failures"] = bench.failures
    out["record"]["failed_frac"] = stats.failed_frac(failed, bench.attempted)
    print(json.dumps({"record": out["record"]}))
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                      "failed": failed, "metrics": out["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
