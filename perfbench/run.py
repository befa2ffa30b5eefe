"""Layered, oracle-checked benchmark of the engine's catalog faces.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload series --seed 0 --seconds 40 --trace 0

Traffic model: a closed loop with one client.  A single driver thread
submits the workload's faces back to back on ``local[nproc]``; each face
waits for its action.  Each workload runs in its own fresh process (see
``child.py`` for what one process does).

Inputs: the benchmark's byte copy of the sf0.1 test tables
(``perfbench/data``), kept under version control because a run reads only
inside its checkout, and pinned so that the benchmark's inputs change only
in a change to the benchmark.  Seed 0 uses them in their own row order;
any other seed writes, once, a copy of every table the workload reads with
the same rows in a seeded random order and the same single-file layout,
under ``.perfbench/`` (outside version control).  Writing it is not part
of ``setup_s``.

Each process times one cold pass and one warm pass (the second execution
of every face).  ``--seconds`` caps the warm pass: a run whose warm pass
takes longer fails rather than timing a different pass.  Reported times
are wall times with the time the hypervisor stole from the virtual CPUs
taken out (see :func:`unstolen`); the detail file keeps the raw ones.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
untraced process and then a traced one (driver-side spans plus Spark's
event log), checks that both produced hash-identical rows, and prints the
per-layer metrics.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
names the seed, nproc, protocol and a detail file with per-face and
per-layer records.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, spans  # noqa: E402
from perfbench.workloads import KNOWN_MISMATCH, WORKLOADS  # noqa: E402

DATA = HERE / "data" / "sf0.1"
WORK = ROOT / ".perfbench"
# Every workload process must end this long after the invocation started;
# the whole invocation must end within 180 s.
RUN_BUDGET_S = 174
PR_SET_CHILD_SUBREAPER = 36
PROTOCOL = "closed-loop-1-client;fresh-process;cold-pass+untimed-oracle;one-warm-pass;noop-sink"


def prepare_inputs(tables: tuple[str, ...], seed: int) -> Path:
    """Directory holding the workload's tables for this seed."""
    if seed == 0:
        return DATA
    import numpy as np
    import pyarrow.parquet as pq

    out = WORK / "inputs" / f"seed{seed}"
    for t in tables:
        dst = out / f"{t}.parquet"
        if dst.exists():
            continue
        out.mkdir(parents=True, exist_ok=True)
        table = pq.read_table(DATA / f"{t}.parquet")
        perm = np.random.default_rng([seed, sum(map(ord, t))]).permutation(table.num_rows)
        tmp = out / f".{t}.{os.getpid()}.tmp"
        pq.write_table(
            table.take(perm), tmp, compression="snappy", row_group_size=max(table.num_rows, 1)
        )
        os.replace(tmp, dst)
    return out


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident KiB) for every visible process."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/statm") as f:
                table[int(entry)] = (ppid, int(f.read().split()[1]) * page_kb)
        except (OSError, ValueError, IndexError):
            continue
    return table


def _tree(root: int, table: dict[int, tuple[int, int]]) -> list[int]:
    """root and all its descendants."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _reap_all(grace_s: float) -> None:
    """Wait for every process this one started (orphans included, see
    PR_SET_CHILD_SUBREAPER in main); kill what outlives the grace time."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.monotonic() > deadline:
                for p in _tree(os.getpid(), _proc_table())[1:]:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


def run_child(
    name: str, data: Path, seconds: float, trace: bool, run_dir: Path, deadline: float
) -> dict:
    """Run one workload process; return its result plus the peak tree RSS."""
    run_dir.mkdir(parents=True, exist_ok=True)
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        (run_dir / sub).mkdir(exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file:{run_dir / 'eventlog'}",
            }
        )
    submit = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([str(ROOT)] + [p for p in [env.get("PYTHONPATH")] if p]),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        PYSPARK_SUBMIT_ARGS="--driver-java-options "
        f"'-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData' {submit} pyspark-shell",
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        TMPDIR=str(run_dir / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    out = run_dir / "result.json"
    cmd = [
        sys.executable, "-m", "perfbench.child",
        "--workload", name,
        "--data", str(data),
        "--seconds", str(seconds),
        "--trace", str(int(trace)),
        "--out", str(out),
    ]
    log = open(run_dir / "child.log", "w")
    spawned = time.monotonic()
    proc = subprocess.Popen(
        cmd + ["--spawned", repr(spawned)], cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT
    )
    peak = [0]
    done = threading.Event()

    def sample() -> None:  # peak resident memory of the whole process tree
        while not done.wait(0.25):
            table = _proc_table()
            peak[0] = max(peak[0], sum(table.get(p, (0, 0))[1] for p in _tree(proc.pid, table)))

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        pass
    finally:
        done.set()
        sampler.join()
        log.close()
        _reap_all(grace_s=0 if proc.returncode is None else 20)
    if proc.returncode != 0 or not out.exists():
        tail = (run_dir / "child.log").read_text()[-1500:]
        raise RuntimeError(f"workload process exited {proc.returncode}:\n{tail}")
    result = json.loads(out.read_text())
    result["peak_rss_mb"] = peak[0] / 1024
    result["process_s"] = time.monotonic() - spawned
    return result


def clean(run_dir: Path) -> None:
    """Drop what the engine and Spark left in a run directory."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        for path in run_dir.glob(f"*/{sub}"):
            shutil.rmtree(path, ignore_errors=True)


def _passes(result: dict) -> dict[str, list[dict]]:
    by_pass: dict[str, list[dict]] = {}
    for rec in result["records"]:
        by_pass.setdefault(rec["pass"], []).append(rec)
    return by_pass


def unstolen(seconds: float, cpu0: list[float], cpu1: list[float]) -> float:
    """``seconds`` scaled by the share of the CPU time the host's virtual CPUs
    wanted over the interval that the hypervisor gave them: busy / (busy +
    stolen), from the ``[busy, steal]`` samples taken at its ends.  On a
    shared host this keeps time stolen by other tenants out of the figures;
    without steal it is the wall time."""
    busy, steal = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    return seconds * busy / (busy + steal) if busy + steal > 0 else seconds


def summarize(result: dict) -> dict:
    """End-to-end numbers and face verdicts of one workload process.  Times
    are wall times with stolen time taken out (see :func:`unstolen`); the
    raw wall times are kept beside them."""
    by_pass = _passes(result)
    verdict = {o["face"]: o for o in result["oracle"]}
    attempted = len(result["records"])
    failed = sum(1 for r in result["records"] if "error" in r or not verdict[r["face"]]["ok"])
    unexpected = sorted(
        {
            r["face"]
            for r in result["records"]
            if ("error" in r or not verdict[r["face"]]["ok"]) and r["face"] not in KNOWN_MISMATCH
        }
    )
    unexpected += sorted(f for f, c in result["self_check"].items() if not c["ok"])
    face_s = {
        p: {r["face"]: unstolen(r["face_s"], r["cpu0"], r["cpu1"]) for r in recs}
        for p, recs in by_pass.items()
    }
    face_warm = face_s["warm"]
    return {
        "setup_s": unstolen(result["setup_s"], *result["setup_cpu"]),
        "cold_pass_s": sum(face_s["cold"].values()),
        "warm_pass_s": sum(face_warm.values()),
        "face_geomean_s": math.exp(statistics.fmean(math.log(v) for v in face_warm.values())),
        "retained_mb": result["retained_mb"],
        "peak_rss_mb": result["peak_rss_mb"],
        "pass_frac": (attempted - failed) / attempted,
        "attempted": attempted,
        "failed": failed,
        "unexpected_failures": unexpected,
        "face_warm_s": face_warm,
        "wall_s": {
            "setup": result["setup_s"],
            **{p: sum(r["face_s"] for r in recs) for p, recs in by_pass.items()},
        },
        "row_hashes": {f: v.get("row_hash") for f, v in verdict.items()},
    }


def layers(result: dict, nproc: int) -> dict[str, float]:
    """Per-layer metrics of a traced process, over its warm pass."""
    warm = _passes(result)["warm"]
    stats = eventlog.parse(result["event_log_dir"], result["app_id"])
    out: dict[str, float] = {}
    wall = build = planning = gap = strag_max = strag_med = 0.0
    build_jobs = 0
    for rec in warm:
        fs = stats.get((rec["face"], "warm"))
        build += rec.get("build_s", 0.0)
        face_wall_ms = rec["wall_end_ms"] - rec["wall_start_ms"]
        wall += face_wall_ms / 1e3
        if fs is None:
            gap += face_wall_ms / 1e3
            continue
        for k, v in fs.v.items():
            out[k] = max(out.get(k, 0.0), v) if k == "executor.peak_mem_bytes" else out.get(k, 0.0) + v
        build_jobs += fs.build_jobs
        if fs.first_action_job_ms is not None and "wall_action_ms" in rec:
            planning += max(0.0, fs.first_action_job_ms - rec["wall_action_ms"]) / 1e3
        covered = eventlog.covered_ms(fs.jobs, rec["wall_start_ms"], rec["wall_end_ms"])
        gap += (face_wall_ms - covered) / 1e3
        mx, med = eventlog.straggler_parts(fs)
        strag_max += mx
        strag_med += med
    spans_start = min(r["start"] for r in warm if "start" in r)
    spans_end = max(r["end"] for r in warm if "end" in r)
    for layer, (self_s, calls) in spans.self_times(result["spans"], spans_start, spans_end).items():
        out[f"{layer}.self_s"] = self_s
        out[f"{layer}.calls"] = calls
    busy = sum(r["cpu1"][0] - r["cpu0"][0] for r in warm)
    steal = sum(r["cpu1"][1] - r["cpu0"][1] for r in warm)
    out["host.steal_frac"] = steal / (busy + steal) if busy + steal else 0.0
    out["sinks.write_s"] = out.pop("sinks.self_s", 0.0)
    out["process.peak_rss_mb"] = result["peak_rss_mb"]
    out["plans.build_s"] = build
    out["plans.build_jobs"] = build_jobs
    out["spark.planning_s"] = planning
    out["driver.gap_s"] = gap
    py = out.get("python.start_s", 0) + out.get("python.init_s", 0) + out.get("python.run_s", 0)
    out["python.setup_frac"] = (out.get("python.start_s", 0) + out.get("python.init_s", 0)) / py if py else 0.0
    out["executor.core_busy_frac"] = out.get("executor.run_s", 0) / (wall * nproc) if wall else 0.0
    tasks = out.get("executor.tasks", 0)
    out["executor.empty_task_frac"] = out.pop("executor.empty_tasks", 0) / tasks if tasks else 0.0
    out["executor.straggler_ratio"] = strag_max / strag_med if strag_med else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_BUDGET_S
    # orphaned JVMs and Python workers are re-parented here, so they can be waited for
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    if not (ROOT / "aidc_2018_timeseries_spark").is_dir() or not (ROOT / "tools" / "driver_sweep.py").is_file():
        print(f"engine sources not found under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload]
    data = prepare_inputs(wl.tables, args.seed)
    run_dir = WORK / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)

    untraced = run_child(args.workload, data, args.seconds, False, run_dir / "untraced", deadline)
    base = summarize(untraced)
    detail: dict = {"workload": args.workload, "seed": args.seed, "untraced": untraced, "summary": base}
    correct = not base["unexpected_failures"]
    if args.trace:
        traced = run_child(args.workload, data, args.seconds, True, run_dir / "traced", deadline)
        tsum = summarize(traced)
        layer = layers(traced, traced["nproc"])
        layer["trace.overhead_frac"] = (tsum["warm_pass_s"] - base["warm_pass_s"]) / base["warm_pass_s"]
        same_rows = tsum["row_hashes"] == base["row_hashes"]
        correct = correct and not tsum["unexpected_failures"] and same_rows
        traced.pop("spans", None)
        detail.update(traced=traced, traced_summary=tsum, layers=layer, traced_rows_identical=same_rows)
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    else:
        metrics = {m["name"]: {"value": base[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    clean(run_dir)
    detail_path = run_dir / "detail.json"
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "nproc": untraced["nproc"],
                "protocol": PROTOCOL,
                "faces": len(wl.faces),
                "unexpected_failures": base["unexpected_failures"],
                "detail": str(detail_path.relative_to(ROOT)),
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": base["attempted"],
                "failed": base["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
