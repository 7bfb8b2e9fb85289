"""Layered benchmark: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0

Run from the repository root. A run is a closed loop: one client issues
the workload's ops one after another, each after the previous returned.

1. prepare (untimed): check the fixture tables against their checksums
   (``fixtures.py``) and land the catalog's re-chunked scan copies, so no
   timed step pays a one-off landing;
2. setup (``setup_s``): ``get_spark(cpus=N)`` with N half of nproc
   capped at 4, ``registry.load_all()`` and one warm-up query;
3. the cold pass: every op once, queries collecting their output for the
   check;
4. warm passes, at least two and until ``--seconds`` have passed. The
   CPU time the engine spends on the cold pass and the first two warm
   passes is ``cpu_s``; the wall times of the passes go to the run's
   record;
5. with ``--trace 1``, one more pass with the status-store reader on,
   reduced into the per-layer metrics; the per-op, per-stage detail is
   written to ``.perfbench/results/``;
6. the check (untimed): every op's output against its DuckDB oracle.

The seed fixes the order of the ops in each pass; the fixtures are the
same for every seed. ``clear_slots()`` runs before every op and outside
its timer, as in ``bench.py``. Everything a run writes stays under
``.perfbench/`` in the checkout. The last stdout line is the result; the
line before it is the run's full record.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback

import fixtures
from accounting import StatusReader, busy_ratio, covered_s, percentile, reduce_stages
from workloads import WARMUP_QUERY, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MAX_CPUS = 4
MIN_WARM_PASSES = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "catalog.rechunk_s": "s",
    "catalog.load_table_s": "s",
    "operators.cache.clear_slots_s": "s",
    "queries.build_s": "s",
    "queries.build_driver_s": "s",
    "queries.build_jobs": "count",
    "queries.build_job_s": "s",
    "exec.write_s": "s",
    "exec.driver_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.input_mb": "MB",
    "exec.output_mb": "MB",
    "exec.busy_ratio": "ratio",
    "trace.overhead_s": "s",
}


def _isolate(run_dir: str) -> None:
    """Point every scratch location Python, the JVM and Spark use into
    ``run_dir``, and clear the engine's tuning variables so the session
    gets its defaults whatever the caller's environment holds."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # -XX:-UsePerfData: a JVM otherwise keeps its monitoring counters in a
    # file under /tmp, outside the checkout; the launcher JVM spark-submit
    # starts first takes SPARK_LAUNCHER_OPTS, the driver JVM the options
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    # the session's default warehouse directory is ./spark-warehouse
    os.chdir(run_dir)


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def _jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far. In
    local mode the driver and the executor share one JVM, so this covers
    driver-side planning as well as task execution."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000


def _cpu_s(pid: int) -> float:
    """CPU seconds (user + system) the engine has used so far: the JVM
    ``pid`` and this process, the client that drives it. Time the host
    gave to other machines (steal) is not counted, so on a shared host
    this moves far less from run to run than wall time."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    me = os.times()
    return (int(fields[11]) + int(fields[12])) / ticks + me.user + me.system


def _jvm_jit_s(spark) -> float:
    """Time the JVM's JIT compilers have spent compiling so far."""
    mx = spark._jvm.java.lang.management.ManagementFactory
    return mx.getCompilationMXBean().getTotalCompilationTime() / 1000


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


class Client:
    """Issues ops against one session and times their build and run
    phases. Each phase runs under its own job group, named
    ``<pass>:<op>:build`` / ``<pass>:<op>:exec``, so the status store can
    attribute every job to the op and phase that launched it."""

    def __init__(self, spark) -> None:
        from stockmarketdata_dwb_etl_spark.operators.cache import clear_slots

        self.spark = spark
        self._clear_slots = clear_slots
        self.attempted = 0
        self.failed = 0

    def op(self, op, tag: str, collect: bool) -> dict | None:
        """Run one op; its timings and kept output, or None when it raised."""
        sc = self.spark.sparkContext
        self.attempted += 1
        c0 = time.time()
        self._clear_slots()
        t0 = time.time()
        try:
            sc.setJobGroup(f"{tag}:{op.name}:build", f"{op.name} build")
            plan = op.build(self.spark) if op.build else None
            t1 = time.time()
            sc.setJobGroup(f"{tag}:{op.name}:exec", f"{op.name} exec")
            output = op.run(self.spark, plan, collect)
            t2 = time.time()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            print(f"op {op.name} failed in pass {tag}", file=sys.stderr)
            traceback.print_exc()
            return None
        return {
            "op": op.name,
            "output": output,
            "clear_s": t0 - c0,
            "t0": t0,
            "t1": t1,
            "t2": t2,
        }

    def run_pass(self, ops, tag: str, collect: bool = False, reader=None) -> list[dict]:
        """Every op once, in the given order: the records of those that ran."""
        recs = []
        for op in ops:
            rec = self.op(op, tag, collect)
            if rec is None:
                continue
            if reader is not None:
                _attach_trace(rec, reader, tag)
            recs.append(rec)
        return recs

    def check(self, ops, outputs: dict, duck) -> list[str]:
        """Check every op's output once; the names of the ops that fail."""
        bad = []
        for op in ops:
            self.attempted += 1
            self.spark.sparkContext.setJobGroup(f"check:{op.name}", f"{op.name} check")
            try:
                op.check(self.spark, duck, outputs.get(op.name))
            except Exception:  # noqa: BLE001 — a wrong output is counted, run goes on
                self.failed += 1
                bad.append(op.name)
                print(f"check {op.name} failed", file=sys.stderr)
                traceback.print_exc()
        return bad


def _op_s(rec: dict) -> float:
    return rec["t2"] - rec["t0"]


def _attach_trace(rec: dict, reader, tag: str) -> None:
    r0 = time.time()
    name, t0, t1, t2 = rec["op"], rec["t0"], rec["t1"], rec["t2"]
    build_jobs = reader.group(f"{tag}:{name}:build")
    exec_jobs = reader.group(f"{tag}:{name}:exec")
    build_job_s = covered_s([(j["start"], j["end"]) for j in build_jobs], t0, t1)
    exec_job_s = covered_s([(j["start"], j["end"]) for j in exec_jobs], t1, t2)
    rec.update(
        build_s=t1 - t0,
        build_jobs=len(build_jobs),
        build_job_s=build_job_s,
        build_driver_s=(t1 - t0) - build_job_s,
        exec_s=t2 - t1,
        exec_jobs=len(exec_jobs),
        exec_driver_s=(t2 - t1) - exec_job_s,
        exec=reduce_stages(s for j in exec_jobs for s in j["stages"]),
        jobs={"build": build_jobs, "exec": exec_jobs},
        read_s=time.time() - r0,
    )


def _layers(recs: list[dict], cpus: int) -> dict:
    """Per-layer totals of one traced pass."""

    def tot(key):
        return sum(r[key] for r in recs)

    def ex(key):
        return sum(r["exec"][key] for r in recs)

    write_s, task_s = tot("exec_s"), ex("task_s")
    return {
        "operators.cache.clear_slots_s": tot("clear_s"),
        "queries.build_s": tot("build_s"),
        "queries.build_driver_s": tot("build_driver_s"),
        "queries.build_jobs": tot("build_jobs"),
        "queries.build_job_s": tot("build_job_s"),
        "exec.write_s": write_s,
        "exec.driver_s": tot("exec_driver_s"),
        "exec.jobs": tot("exec_jobs"),
        "exec.stages": ex("stages"),
        "exec.tasks": ex("tasks"),
        "exec.task_s": task_s,
        "exec.gc_s": ex("gc_s"),
        "exec.shuffle_write_mb": ex("shuffle_write_mb"),
        "exec.spill_mb": ex("spill_mb"),
        "exec.input_mb": ex("input_mb"),
        "exec.output_mb": ex("output_mb"),
        "exec.busy_ratio": busy_ratio(task_s, write_s, cpus),
        "trace.overhead_s": tot("read_s"),
    }


def _duck(sf_dir: str, threads: int):
    import duckdb

    from stockmarketdata_dwb_etl_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run: its full record, end-to-end metrics under
    ``metrics`` and, when traced, per-layer metrics under ``layers``."""
    sys.path.insert(0, ROOT)
    from stockmarketdata_dwb_etl_spark import catalog, scratch

    started = time.time()
    wl = WORKLOADS[workload_name]
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cwd = os.getcwd()
    spark = None
    try:
        _isolate(run_dir)
        # prepare: fixtures, then the re-chunked scan copies the catalog
        # would otherwise land inside the first timed load_table call
        sf_dir = fixtures.fixture_dir(wl.sf)
        scratch.SCRATCH = os.path.join(WORK, "scratch")
        r0 = time.perf_counter()
        for t in catalog.TABLES:
            catalog._splittable_path(sf_dir, t)
        rechunk_s = time.perf_counter() - r0

        nproc = len(os.sched_getaffinity(0))
        # half the cores: the JVM's JIT compilers stay busy through every
        # pass (5-10 CPU seconds a warm pass), and with tasks on every core
        # a run measured how the host scheduled its threads
        cpus = max(1, min(MAX_CPUS, nproc) // 2)
        from stockmarketdata_dwb_etl_spark.registry import QUERIES, load_all
        from stockmarketdata_dwb_etl_spark.session import get_spark

        s0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=cpus)
        s1 = time.perf_counter()
        load_all()
        s2 = time.perf_counter()
        spark.sparkContext.setJobGroup("setup:warmup", "warm-up")
        QUERIES[WARMUP_QUERY](spark, sf_dir).write.format("noop").mode("overwrite").save()
        setup_s = time.perf_counter() - s0
        parallelism = spark.sparkContext.defaultParallelism
        if parallelism != cpus:
            raise RuntimeError(f"defaultParallelism {parallelism} != requested {cpus}")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        ops = wl.make_ops(sf_dir, os.path.join(run_dir, "out"))
        rng = random.Random(seed)
        client = Client(spark)

        def shuffled():
            return rng.sample(ops, len(ops))

        # cpu_s covers the cold pass and the first MIN_WARM_PASSES warm
        # passes: a fixed amount of work, whatever --seconds adds after it
        cpu = [_cpu_s(jvm_pid)]  # engine CPU seconds at the end of each pass
        cold = client.run_pass(shuffled(), "cold", collect=True)
        cpu.append(_cpu_s(jvm_pid))
        outputs = {r["op"]: r.pop("output") for r in cold}
        warm = []  # per pass: {op: seconds}
        m0 = time.time()
        while len(warm) < MIN_WARM_PASSES or time.time() - m0 < seconds:
            recs = client.run_pass(shuffled(), f"warm{len(warm)}")
            cpu.append(_cpu_s(jvm_pid))
            warm.append({r["op"]: _op_s(r) for r in recs})
        best = {
            op.name: min(p[op.name] for p in warm if op.name in p)
            for op in ops
            if any(op.name in p for p in warm)
        }
        lat = [s for p in warm for s in p.values()]
        p50, n_lat = percentile(lat, 50)
        p90, _ = percentile(lat, 90)
        record = {
            "workload": wl.name,
            "seed": seed,
            "sf": wl.sf,
            "cpus": parallelism,
            "nproc": nproc,
            "warm_passes_s": [sum(p.values()) for p in warm],
            "pass_cpu_s": [b - a for a, b in zip(cpu, cpu[1:])],  # cold first
            "op_best_s": best,
            "op_samples": n_lat,
            "metrics": {
                "setup_s": setup_s,
                "cpu_s": cpu[1 + MIN_WARM_PASSES] - cpu[0],
            },
            # wall times, measured but too unsteady on a shared host to
            # bound (README): the first pass, and the sum over ops of each
            # op's best warm-pass time (bench.py's battery total)
            "cold_pass_s": sum(_op_s(r) for r in cold),
            "wall_s": sum(best.values()),
            "op_p50_s": p50,
            "op_p90_s": p90,
            "jvm_peak_rss_mb": _peak_rss_mb(jvm_pid),
        }

        if trace:
            gc0, jit0 = _jvm_gc_s(spark), _jvm_jit_s(spark)
            recs = client.run_pass(shuffled(), "traced", reader=StatusReader(spark))
            gc_s, jit_s = _jvm_gc_s(spark) - gc0, _jvm_jit_s(spark) - jit0
            for r in recs:
                del r["output"]
            layers = _layers(recs, cpus)
            spark.sparkContext.setJobGroup("trace:load_table", "load_table probe")
            per_table = {}
            for t in catalog.TABLES:
                l0 = time.perf_counter()
                catalog.load_table(spark, sf_dir, t)
                per_table[t] = time.perf_counter() - l0
            layers.update(
                {
                    "session.get_spark_s": s1 - s0,
                    "registry.load_all_s": s2 - s1,
                    "catalog.rechunk_s": rechunk_s,
                    "catalog.load_table_s": statistics.fmean(per_table.values()),
                    "jvm.gc_s": gc_s,
                    "jvm.jit_s": jit_s,
                }
            )
            record["layers"] = layers
            # tracing overhead as traced minus untraced wall time; the traced
            # pass runs on a warmer JVM than the warm passes, so it is often
            # negative
            record["traced_minus_untraced_wall_s"] = (
                sum(_op_s(r) for r in recs) - record["wall_s"]
            )
            # each op's call time, e.g. sinks.load
            record["op_s"] = {r["op"]: _op_s(r) for r in recs}
            os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
            detail = os.path.join(WORK, "results", f"{wl.name}-seed{seed}-stages.json")
            with open(detail, "w") as fh:
                json.dump({"load_table_s": per_table, "ops": recs}, fh, indent=1)
            record["stages_file"] = os.path.relpath(detail, ROOT)

        duck = _duck(sf_dir, cpus)
        try:
            record["check_failed"] = client.check(ops, outputs, duck)
        finally:
            duck.close()
        record["attempted"], record["failed"] = client.attempted, client.failed
        record["fail_ratio"] = client.failed / client.attempted
        record["run_s"] = time.time() - started
        return record
    finally:
        if spark is not None:
            _stop_jvm(spark)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        wanted, source = PER_LAYER_UNITS, record["layers"]
    else:
        wanted, source = END_TO_END_UNITS, record["metrics"]
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": record["failed"] == 0,
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": {
                    k: {"value": source[k], "unit": unit} for k, unit in wanted.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
