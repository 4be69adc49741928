"""Oracle-checked benchmark for the s2geometry_d_spark engine.

    python3 perfbench/run.py --workload bulk_join --seed 1 --seconds 20 --trace 0

One Spark session sized to the host (local[N], N = half the usable CPUs,
since every task that runs a Python UDF keeps a JVM thread and a Python
worker busy) runs one workload as a closed loop from one client: a single
driver thread starts each op only after the previous one finished.  The seed permutes the op
order of every pass; the input tables are fixed (``fixtures.py``).

A run has three phases:

1. set-up, timed as ``setup_s``: session start, Python-worker warm-up, and
   the workload's fixture and index builds from empty caches;
2. checks, untimed: every op is evaluated once and its rows are hashed
   against the program's DuckDB oracle, or against ``pins.json``; this is
   also the warm-up pass;
3. timed passes: each op is timed as the call that builds its plan plus a
   full evaluation of every column, and each evaluation must return the
   checked row count and the same fingerprint as the op's other
   evaluations.  There are always at least three passes, and a further pass
   starts only while the passes so far suggest it ends within
   ``--seconds``.  After every op a fixed calibration job that does not
   call the engine runs, untimed.

The host's speed drifts by 2-3x over minutes, and wall times drift with
it.  Every time among the end-to-end metrics is therefore scaled to the
reference host speed: multiplied by ``REF_CALIBRATION_S`` over the run's
mean calibration time.  The raw wall times are in the result file under
``raw_s``.

With ``--trace 1`` the workload's ingest builds run after set-up, and the
passes alternate untraced and traced, so the traced pass sits between two
untraced ones and the warm-up trend does not bias the tracing overhead.  Traced passes record spans around each layer's public
functions and tag jobs with one job group per op, and the Spark event log
is parsed after the session stops into per-op layer records (written to
``out/<workload>/trace.json``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  Details go to stderr and to
``out/<workload>/``.  Any failed op makes the exit code 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import fixtures  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

OUT = os.path.join(HERE, "out")
TAIL_BEYOND = 10
MIN_PASSES = 3
# seconds the calibration job takes on the reference host: the 4-core host
# where the bounds were set, in a quiet phase
REF_CALIBRATION_S = 0.5


def _host() -> dict:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    cpus = len(os.sched_getaffinity(0))
    return {"cpus": cpus, "slots": max(1, cpus // 2), "ram_bytes": ram}


def _prepare_env(work: str) -> None:
    """Keep every file Spark and its Python workers write inside ``work``,
    and let the workers import the package from any working directory."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launcher starts would otherwise write its perf counters
    # to /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_session(host: dict, work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    n = host["slots"]
    # a fixed, pre-touched heap well below physical RAM: the JVM's resident
    # set then does not depend on when the collector chose to grow the heap.
    # GC threads are capped at the task slots, and only the C1 compiler
    # runs: it finishes its work during the checks, where C2 would still be
    # compiling, on other cores, while the timed ops run.
    mem_gib = max(1, min(2, host["ram_bytes"] // 8 // 2**30))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.driver.memory": f"{mem_gib}g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{mem_gib}g -XX:+AlwaysPreTouch"
            f" -XX:ParallelGCThreads={n} -XX:ConcGCThreads=1 -XX:TieredStopAtLevel=1"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": tmp,
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and every process under it, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = gateway.proc.pid
    spark.stop()
    children = stats.descendants(jvm_pid)
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        gateway.proc.wait(timeout=60)
    except Exception:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.time() + 15
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_workers(spark, n: int) -> None:
    """Start a Python worker on every core and import the cell kernel."""
    from pyspark.sql import functions as F

    from s2geometry_d_spark.functions import kernels

    df = spark.range(0, n * 1000, numPartitions=n)
    lat = (F.col("id") % 170 - 85).cast("double")
    lng = (F.col("id") % 350 - 175).cast("double")
    df.select(kernels.cell_from_latlng(lat, lng).alias("c")).agg(F.count("c")).collect()


_CALIB_UDF = None


def calibrate(spark) -> float:
    """Seconds for a fixed job that does not call the engine: one Arrow UDF
    stage over 100k rows and three tiny jobs, the same mix of executor work
    and per-job driver overhead that the ops have.  A run's mean reading
    measures the host's speed during that run."""
    global _CALIB_UDF
    import numpy as np
    from pyspark.sql import functions as F

    if _CALIB_UDF is None:
        _CALIB_UDF = F.pandas_udf(lambda v: np.sqrt(v * v + 1.0), "double")
    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    df = spark.range(0, 100_000, numPartitions=n).select(_CALIB_UDF(F.col("id").cast("double")).alias("v"))
    df.agg(F.sum("v")).collect()
    for i in range(3):
        spark.range(i, i + 10).selectExpr("id * 2 AS x").collect()
    return time.perf_counter() - t0


def force(df) -> tuple[int, int]:
    """Evaluate every column of ``df`` (a bare count would let Catalyst prune
    the expensive projections): row count and order-free xxhash64 XOR."""
    from pyspark.sql import functions as F

    hashed = df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("_h"))
    row = hashed.agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_h)").alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


class Oracles:
    """Row count and value hash of each op's DuckDB oracle.  The inputs are
    fixed, so answers are kept in ``cache_path`` keyed by the SQL text and
    the fixture specification, and computed again only when either
    changes."""

    def __init__(self, data_dir: str, spec: str, cache_path: str):
        self.data_dir, self.spec, self.cache_path = data_dir, spec, cache_path
        self._con = None
        try:
            with open(cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}

    def _connection(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for name in sorted(os.listdir(self.data_dir)):
                if name.endswith(".parquet"):
                    path = os.path.join(self.data_dir, name)
                    self._con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return self._con

    def answer(self, sql: str) -> dict:
        """``{"columns": [...], "rows": n, "hash": h}`` for ``sql``."""
        from scripts.check_oracles import value_hash

        key = hashlib.sha256((self.spec + "\n" + sql).encode()).hexdigest()
        if key not in self.cache:
            res = self._connection().execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self.cache[key] = {"columns": sorted(cols), "rows": len(rows), "hash": value_hash(rows, cols)}
            with open(self.cache_path, "w") as f:
                json.dump(self.cache, f, indent=1)
        return self.cache[key]


def check_rows(op, rows: list, columns: list[str], oracles, pins: dict) -> str | None:
    """None when ``rows`` are the right answer for ``op``, else why not."""
    from scripts.check_oracles import value_hash

    if op.oracle is None:
        want = pins.get(op.name)
        if want is None:
            return "no oracle and no pin"
    else:
        want = oracles.answer(op.oracle())
        if want["columns"] != sorted(columns):
            return f"columns {sorted(columns)} != oracle {want['columns']}"
    got = value_hash(rows, columns)
    if len(rows) != want["rows"] or got != want["hash"]:
        return f"rows {len(rows)} hash {got} != expected rows {want['rows']} hash {want['hash']}"
    return None


def _log(**fields) -> None:
    print(json.dumps(fields, default=str), file=sys.stderr, flush=True)


def _run_builds(ctx, builds, tracer, traced: bool) -> dict[str, float]:
    seconds = {}
    for build in builds:
        ctx.spark.sparkContext.setJobGroup(f"setup:{build.metric}", build.metric)
        tracer.active = traced
        t0 = time.perf_counter()
        try:
            build.run(ctx)
        finally:
            tracer.active = False
        seconds[build.metric] = time.perf_counter() - t0
    return seconds


def check_ops(ctx, ops, oracles, pins: dict) -> dict[str, int]:
    """Evaluate each op once, untimed, and check its rows; returns the row
    count of every op that passed."""
    expected = {}
    for op in ops:
        ctx.spark.sparkContext.setJobGroup(f"check:{op.name}", op.name)
        try:
            df = op.plan(ctx)
            rows = [tuple(r) for r in df.collect()]
            problem = check_rows(op, rows, df.columns, oracles, pins)
        except Exception:
            problem = traceback.format_exc()
        if problem:
            _log(phase="check", op=op.name, error=problem)
        else:
            expected[op.name] = len(rows)
    return expected


def timed_passes(ctx, ops, expected: dict[str, int], args, tracer, controls: list[float],
                 calibrations: list[float]):
    """The closed loop: passes over ``ops`` in a seeded order, each op timed
    as its plan call plus a full evaluation, which must return the checked
    row count and the fingerprint of the op's other evaluations.  The
    calibration job runs after every op, outside its timing.  Returns the
    passes and the number of failed evaluations."""
    sc = ctx.spark.sparkContext
    rng = random.Random(args.seed)
    order = list(ops)
    fingerprints: dict[str, int] = {}
    passes: list[dict] = []
    failed = 0
    loop_start = time.perf_counter()
    while order:  # no pass at all when every op failed its check
        index = len(passes)
        traced = bool(args.trace) and index % 2 == 1
        rng.shuffle(order)
        samples = []
        pass_start = time.perf_counter()
        for op in order:
            if traced:
                sc.setJobGroup(f"{op.name}#{index}", op.name)
                tracer.op, tracer.active = f"{op.name}#{index}", True
            wall0 = time.time()
            t0 = time.perf_counter()
            try:
                df = op.plan(ctx)
                t1 = time.perf_counter()
                n, h = force(df)
                t2 = time.perf_counter()
            except Exception:
                failed += 1
                _log(phase="pass", op=op.name, error=traceback.format_exc())
                continue
            finally:
                tracer.active, tracer.op = False, None
            if n != expected[op.name] or fingerprints.setdefault(op.name, h) != h:
                failed += 1
                _log(phase="pass", op=op.name, error=f"rows {n} fingerprint {h}")
            samples.append({"op": op.name, "call_s": t1 - t0, "exec_s": t2 - t1, "rows": n,
                            "start": wall0, "end": time.time()})
            sc.setJobGroup("calibrate", "calibrate")
            calibrations.append(calibrate(ctx.spark))
        sc.setJobGroup("idle", "idle")
        passes.append({"wall_s": time.perf_counter() - pass_start, "traced": traced, "samples": samples})
        controls.append(stats.control_probe())
        elapsed = time.perf_counter() - loop_start
        if not stats.another_pass(elapsed, [p["wall_s"] for p in passes], args.seconds, MIN_PASSES):
            break
    return passes, failed


def run(args) -> dict:
    work = os.path.join(OUT, args.workload)
    _prepare_env(work)
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    host = _host()
    data_dir = fixtures.ensure_tables(os.path.join(OUT, "data"))
    oracles = Oracles(data_dir, fixtures.spec(), os.path.join(OUT, "oracles.json"))
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)

    t0 = time.perf_counter()
    spark, conf = start_session(host, work, event_log)
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = tracing.Tracer()
    try:
        t0 = time.perf_counter()
        warm_workers(spark, host["slots"])
        warm_s = time.perf_counter() - t0

        workloads.point_images_at(work)
        ctx = workloads.Context(spark, data_dir, work)
        workloads.release(ctx)
        if args.trace:
            tracer.install()
        build_s = _run_builds(ctx, wl["builds"], tracer, bool(args.trace))
        setup_s = session_s + warm_s + sum(build_s.values())
        checks = list(wl["ops"])
        if args.trace:
            build_s.update(_run_builds(ctx, wl["ingest"], tracer, True))
            checks += wl["checks"]
        _log(phase="setup", session_s=session_s, warm_s=warm_s, builds=build_s)

        with stats.PeakRss(jvm_pid) as rss:
            controls = [stats.control_probe()]
            t0 = time.perf_counter()
            expected = check_ops(ctx, checks, oracles, pins)
            check_s = time.perf_counter() - t0
            _log(phase="check", seconds=check_s, checked=sorted(expected))
            ops = [op for op in wl["ops"] if op.name in expected]
            calibrate(spark)  # its first run is slower than the rest: not counted
            calibrations: list[float] = []
            passes, pass_failed = timed_passes(ctx, ops, expected, args, tracer, controls, calibrations)
    finally:
        tracer.uninstall()
        stop_session(spark)

    attempted = len(checks) + len(ops) * len(passes)
    failed = len(checks) - len(expected) + pass_failed
    plain = [p for p in passes if not p["traced"]]
    per_op: dict[str, list[float]] = {}
    for p in plain:
        for s in p["samples"]:
            per_op.setdefault(s["op"], []).append(s["call_s"] + s["exec_s"])
    op_walls = [w for walls in per_op.values() for w in walls]
    rows_in = sum(fixtures.SIZES[op.reads] for op in wl["ops"])
    # a pass is the sum of per-op medians: the warm-up and any disturbed
    # sample of an op drop out, and the calibration jobs between ops do not
    # count
    pass_s = sum(stats.median(walls) for walls in per_op.values()) if per_op else math.nan
    raw = {"setup_s": setup_s, "pass_s": pass_s, "op_p50_s": stats.median(op_walls), "op_tail_s": None}
    try:
        pct, raw["op_tail_s"] = stats.tail_percentile(op_walls, TAIL_BEYOND)
        op_tail = {"percentile": pct, "samples": len(op_walls)}
    except ValueError as exc:
        op_tail = {"error": str(exc), "samples": len(op_walls)}
    # the mean, not the median: the readings of one run have no outliers
    # once the warm-up run is left out, and the mean of a few readings
    # varies less
    to_ref = REF_CALIBRATION_S / (statistics.mean(calibrations) if calibrations else math.nan)
    ref = {k: (v * to_ref if v is not None else None) for k, v in raw.items()}
    e2e = {
        "setup_s": (ref["setup_s"], "s"),
        "pass_s": (ref["pass_s"], "s"),
        "rows_per_s": (rows_in / ref["pass_s"], "rows/s"),
        "op_p50_s": (ref["op_p50_s"], "s"),
        "op_tail_s": (ref["op_tail_s"], "s"),
        "fail_ratio": (failed / attempted, "ratio"),
        "peak_rss_mb": (rss.peak_mb, "MiB"),
    }
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "spark_conf": conf,
        "versions": versions(),
        "setup": {"session_s": session_s, "warm_s": warm_s, "builds_s": build_s},
        "check_s": check_s,
        "passes": passes,
        "controls_s": controls,
        "calibrations_s": calibrations,
        "phase_suspect": stats.phase_suspects(controls),
        "rows_per_pass": rows_in,
        "raw_s": raw,
        "op_tail": op_tail,
        "attempted": attempted,
        "failed": failed,
    }
    result["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        result["per_layer"] = layer_report(wl, passes, tracer, event_log, build_s, ctx.build_stats,
                                           controls)
    return result


def layer_report(wl, passes, tracer, event_log, build_s, build_stats, controls):
    """Per-op layer records from the traced passes and the event log, and
    the workload's per-layer metrics (per pass: the mean over traced
    passes)."""
    log = tracing.read_event_log(tracing.find_event_log(event_log))
    layer_of = {op.name: op.layer for op in wl["ops"]}
    traced = [(i, p) for i, p in enumerate(passes) if p["traced"]]
    records = []
    for index, p in traced:
        for s in p["samples"]:
            rec = {"op": s["op"], "layer": layer_of[s["op"]], "pass": index,
                   "wall_s": s["end"] - s["start"], "call_s": s["call_s"], "exec_s": s["exec_s"],
                   "rows_out": s["rows"]}
            rec.update(tracing.op_layer_record(log.get(f"{s['op']}#{index}", {}), tracer.spans,
                                               s["start"], s["end"]))
            records.append(rec)
    metrics = tracing.layer_metrics(records, len(traced))
    metrics.update(build_s)
    metrics.update(build_stats)

    def ops_s(p):
        return sum(s["call_s"] + s["exec_s"] for s in p["samples"])

    plain = [ops_s(p) for p in passes if not p["traced"]]
    metrics["trace.overhead_s"] = stats.median([ops_s(p) for _, p in traced]) - stats.median(plain)
    metrics["host.control_s"] = stats.median(controls)
    metrics["host.phase_suspect"] = float(sum(stats.phase_suspects(controls)))
    return {"metrics": metrics, "ops": records, "spans": tracer.spans}


def versions() -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "duckdb": duckdb.__version__,
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=20.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        parser.error(f"no engine to measure: {ROOT} holds no __spark_entry__.py")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        parser.error(f"unknown workload {args.workload!r}")
    result = run(args)
    out = os.path.join(OUT, args.workload)
    with open(os.path.join(out, f"result-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out, "trace.json"), "w") as f:
            json.dump(result["per_layer"], f, indent=1)
        wanted, source = spec["per_layer"], result["per_layer"]["metrics"]
    else:
        wanted, source = spec["end_to_end"], {k: v["value"] for k, v in result["end_to_end"].items()}
    summary = {k: v for k, v in result.items() if k not in ("passes", "per_layer", "spark_conf")}
    summary["pass_walls_s"] = [p["wall_s"] for p in result["passes"]]
    _log(summary=summary)
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    ok = result["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": result["attempted"], "failed": result["failed"],
                      "metrics": metrics}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
