"""One workload in one fresh process: set up, run the passes, check outputs.

Started by ``run.py`` with the checkout root on ``PYTHONPATH``; writes one
JSON result file.  The process does, in order:

1. set-up: engine imports, ``session.get_spark``, ``plans.catalog.load_all``
   and the first parquet read (with ``--trace 1``, span wrappers are
   installed first, because plan modules bind operator functions at import);
2. the cold pass: every face once, timed.  After each face's timed action,
   untimed, the same DataFrame is collected and compared exactly with the
   face's DuckDB oracle on the same input files, and its timed plan is
   checked for pruned work;
3. one warm pass, timed: the second execution of every face, which must
   end within ``--seconds``.

A face run is ``spark_fn(spark, dir)`` (the build, which may run eager
jobs) followed by a ``noop``-sink write, which materialises every output
column; ``count()`` would let the optimizer drop the work.  Jobs carry the
job group ``<face>:<pass>:build`` or ``<face>:<pass>:action`` so the event
log can be split per face and pass.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import re
import time
import traceback

from perfbench.workloads import SETUP_TABLE, WORKLOADS

# Plan-tree nodes the timed action must keep: logical node name -> category.
_NODE = re.compile(r"^[\s:|+\-]*(\w+)")
_KEEP = ("Window", "Generate", "Join", "Python")


def _category(node: str) -> str | None:
    if node in ("Window", "Generate", "Join"):
        return node
    if "Python" in node or "InPandas" in node or "InArrow" in node:
        return "Python"
    return None


def plan_nodes(tree: str) -> dict[str, int]:
    """Count Window/Generate/Join/Python nodes of a logical plan tree string."""
    counts = dict.fromkeys(_KEEP, 0)
    for line in tree.splitlines():
        m = _NODE.match(line)
        cat = _category(m.group(1)) if m else None
        if cat:
            counts[cat] += 1
    return counts


def optimized_section(description: str) -> str:
    """The optimized logical plan of an ``extended`` explain string."""
    body = description.split("== Optimized Logical Plan ==", 1)[1]
    return body.split("== Physical Plan ==", 1)[0]


def host_cpu() -> list[float]:
    """Seconds the host's CPUs spent busy and stolen (time a virtual CPU
    wanted to run but its hypervisor ran something else), since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = ticks
    hz = os.sysconf("SC_CLK_TCK")
    return [(user + nice + system + irq + softirq) / hz, steal / hz]


class Runner:
    """Runs and checks the faces of one workload in one SparkSession."""

    def __init__(self, spark, catalog, data_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.catalog = catalog
        self.data_dir = data_dir

    def face(self, name: str, tag: str) -> dict:
        """Build and materialise one face; return its timings (monotonic and
        wall-clock ms, the latter to line up with the event log)."""
        rec = {"face": name, "pass": tag, "wall_start_ms": time.time() * 1000, "cpu0": host_cpu()}
        t0 = time.monotonic()
        try:
            self.sc.setJobGroup(f"{name}:{tag}:build", name)
            df = self.catalog[name].spark_fn(self.spark, self.data_dir)
            t1 = time.monotonic()
            rec["wall_action_ms"] = time.time() * 1000
            self.sc.setJobGroup(f"{name}:{tag}:action", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
        except Exception:  # noqa: BLE001 - a failing face is counted, not fatal
            rec["error"] = traceback.format_exc(limit=3)[-800:]
            rec["face_s"] = time.monotonic() - t0
            return rec
        finally:
            rec["wall_end_ms"] = time.time() * 1000
            rec["cpu1"] = host_cpu()
        rec.update(start=t0, end=t2, build_s=t1 - t0, action_s=t2 - t1, face_s=t2 - t0)
        rec["df"] = df
        return rec

    def timed_plan(self) -> str:
        """Optimized logical plan of the last noop write, from Spark's SQL
        status store (the listener bus is drained first)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        executions = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        for i in range(executions.size() - 1, -1, -1):
            desc = executions.apply(i).physicalPlanDescription()
            if "OverwriteByExpression" in desc and "== Optimized Logical Plan ==" in desc:
                return optimized_section(desc)
        raise RuntimeError("no noop write execution in the SQL status store")

    def self_check(self, rec: dict) -> dict:
        """The timed plan must keep every Window/Generate/Join/Python node of
        the face's own optimized plan; count() plan shown for contrast."""
        df = rec["df"]
        own = plan_nodes(df._jdf.queryExecution().optimizedPlan().toString())
        timed = plan_nodes(self.timed_plan())
        counted = plan_nodes(df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString())
        return {
            "own": own,
            "timed": timed,
            "count_plan": counted,
            "ok": all(timed[k] >= own[k] for k in _KEEP),
        }


def oracle_check(runner: Runner, con, rec: dict, normalize) -> dict:
    """Collect the DataFrame the timed action materialised and compare it
    exactly with the face's DuckDB oracle."""
    name = rec["face"]
    out: dict = {"face": name}
    if "error" in rec:
        return {**out, "ok": False, "error": rec["error"]}
    try:
        runner.sc.setJobGroup(f"{name}:{rec['pass']}:check", name)
        df = rec["df"]
        s_cols = df.columns
        t0 = time.monotonic()
        s_rows = [tuple(r) for r in df.collect()]
        t1 = time.monotonic()
        res = con.sql(runner.catalog[name].oracle)
        d_cols, d_rows = res.columns, res.fetchall()
        out.update(collect_s=t1 - t0, oracle_s=time.monotonic() - t1)
    except Exception:  # noqa: BLE001
        return {**out, "ok": False, "error": traceback.format_exc(limit=3)[-800:]}
    _, s_norm = normalize(s_rows, s_cols)
    _, d_norm = normalize(d_rows, d_cols)
    out["rows"] = len(s_rows)
    out["row_hash"] = hashlib.sha256(repr((sorted(s_cols), s_norm)).encode()).hexdigest()[:16]
    out["ok"] = sorted(s_cols) == sorted(d_cols) and s_norm == d_norm
    if not out["ok"]:
        diff = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:2]
        out["mismatch"] = repr({"rows": (len(s_rows), len(d_rows)), "first": diff})[:600]
    return out


def retained_mb(spark) -> dict[str, float]:
    """Memory the session still holds after its passes, in MB, by part: the
    JVM's heap in use after a full GC, its non-heap in use, and the driver
    Python's resident memory.  Unlike resident memory, the JVM parts do not
    depend on when the collector ran or how far it grew the heap."""
    # Python-side garbage (DataFrames a face persisted) holds JVM objects
    # through py4j until the Python collector frees it.
    gc.collect()
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Spark's ContextCleaner drops broadcast and shuffle state only after a
    # collection has found its owner unreachable, so one collection leaves a
    # timing-dependent amount behind: collect until the heap stops shrinking.
    heap = None
    for _ in range(10):
        jvm.java.lang.System.gc()
        now = mx.getHeapMemoryUsage().getUsed()
        if heap is not None and now > heap - 2**20:
            break
        heap = now
        time.sleep(0.5)
    with open("/proc/self/statm") as f:
        py_rss = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    parts = {
        "jvm_heap": mx.getHeapMemoryUsage().getUsed(),
        "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed(),
        "python_rss": py_rss,
    }
    return {k: v / 2**20 for k, v in parts.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--spawned", type=float, required=True, help="parent's time.monotonic() at spawn")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    faces = WORKLOADS[args.workload].faces
    setup_cpu = [host_cpu()]

    recorder = None
    if args.trace:
        from perfbench import spans

        recorder = spans.SpanRecorder()
        spans.install(recorder)

    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all
    from aidc_2018_timeseries_spark.session import get_spark

    load_all()
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", cpus=nproc, shuffle_partitions=nproc)
    spark.read.parquet(os.path.join(args.data, f"{SETUP_TABLE}.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    setup_end = time.monotonic()
    setup_cpu.append(host_cpu())
    # plan descriptions of SQL executions carry the optimized logical plan
    spark.conf.set("spark.sql.ui.explainMode", "extended")

    import duckdb

    from aidc_2018_timeseries_spark.sources.tables import TABLES
    from tools.driver_sweep import _normalize

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(args.data, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    runner = Runner(spark, CATALOG, args.data)
    records: list[dict] = []
    checks: dict[str, dict] = {}
    oracle: list[dict] = []

    def run_pass(tag: str, check: bool = False) -> None:
        for name in faces:
            rec = runner.face(name, tag)
            if check:  # untimed: after the face's timed action
                if "error" not in rec:
                    checks[name] = runner.self_check(rec)
                oracle.append(oracle_check(runner, con, rec, _normalize))
            rec.pop("df", None)
            records.append(rec)

    run_pass("cold", check=True)
    # The timed warm pass is always the second execution of every face: a
    # third would still run faster (JIT and codegen caches are filling), so
    # a varying number of passes would make the figures depend on the speed
    # being measured.  --seconds only caps the pass.
    warm_start = time.monotonic()
    run_pass("warm")
    warm_s = time.monotonic() - warm_start

    mem = retained_mb(spark)
    result = {
        "retained_mb": sum(mem.values()),
        "retained_mb_parts": mem,
        "setup_s": setup_end - args.spawned,
        "setup_cpu": setup_cpu,
        "nproc": nproc,
        "faces": list(faces),
        "records": records,
        "self_check": checks,
        "oracle": oracle,
        # where the process's time went, in seconds since spawn
        "phase_end_s": {
            "setup": setup_end - args.spawned,
            "passes": warm_start + warm_s - args.spawned,
            "retained_mb": time.monotonic() - args.spawned,
        },
    }
    if recorder is not None:
        result["spans"] = recorder.spans
        result["event_log_dir"] = spark.conf.get("spark.eventLog.dir")
        result["app_id"] = spark.sparkContext.applicationId
    spark.stop()
    if warm_s > args.seconds:
        raise SystemExit(f"warm pass took {warm_s:.1f} s, over the --seconds cap of {args.seconds:g} s")
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
