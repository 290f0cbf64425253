"""Profile the full KG job's serial residue: per-Spark-job wall + gaps.

Runs ONE full job pass (extraction -> linking -> graph) at a pinned core
budget with the Spark event log on, then parses the log into a per-job
timeline: job wall, sum/max task time, task count of its stages, and the
DRIVER GAP since the previous job ended (driver-side latency: planning,
toPandas/numpy, manifest writes, scheduler idle). The gaps plus the
poorly-parallel jobs ARE the W/K + c fit's serial term — this script
itemizes c instead of fitting it.

Usage: taskset is applied internally like scripts/scaling.py.
  python scripts/profile_job.py [--turns 12000000] [--cores 8]
Prints a sorted table of the top serial contributors.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_SRC = r"""
import shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from openue_spark.session import get_spark
from openue_spark.job import main as job_main

spark = get_spark(
    app_name="profile_job_{cores}",
    master="local[{cores}]",
    extra_conf={{
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": {evdir!r},
    }},
)
spark.sparkContext.setLogLevel("ERROR")
out = tempfile.mkdtemp(prefix="profile_job_")
t0 = time.time()
rc = job_main(["--input", {path!r}, "--out", out, "--shards", "8"]{extra}, spark=spark)
print(f"TOTAL {{time.time() - t0:.1f}}s rc={{rc}}", flush=True)
shutil.rmtree(out, ignore_errors=True)
spark.stop()
"""


def run(turns: int, cores: int, evdir: str, graph_stats: bool = False) -> None:
    from scripts.scaling import ensure_input

    path = ensure_input(turns)
    os.makedirs(evdir, exist_ok=True)
    extra = ' + ["--graph-stats"]' if graph_stats else ""
    src = _SRC.format(repo=REPO, cores=cores, path=path, evdir=evdir,
                      extra=extra)
    cmd = [sys.executable, "-c", src]
    if shutil.which("taskset"):
        total = os.cpu_count() or cores
        start = max(0, total - cores)
        cmd = ["taskset", "-c", f"{start}-{start + cores - 1}"] + cmd
    proc = subprocess.run(cmd, text=True)
    assert proc.returncode == 0


def parse(evdir: str, cores: int) -> None:
    logs = sorted(glob.glob(os.path.join(evdir, "*")), key=os.path.getmtime)
    assert logs, f"no event log in {evdir}"
    if os.path.isdir(logs[-1]):  # Spark 4 rolling layout: events_* inside
        logs = sorted(
            glob.glob(os.path.join(logs[-1], "events_*")), key=os.path.getmtime
        )
    jobs = {}  # id -> dict
    stage_of = {}  # stage id -> job id
    stages = {}  # stage id -> dict
    app_start = app_end = None
    path = logs[-1]
    if path.endswith(".zstd"):  # event logs default to zstd; use the CLI
        import io

        raw = subprocess.run(
            ["zstd", "-dc", path], capture_output=True, check=True
        ).stdout
        fh_src = io.StringIO(raw.decode())
    else:
        fh_src = open(path)
    with fh_src as fh:
        for line in fh:
            ev = json.loads(line)
            k = ev["Event"]
            if k == "SparkListenerApplicationStart":
                app_start = ev["Timestamp"]
            elif k == "SparkListenerApplicationEnd":
                app_end = ev["Timestamp"]
            elif k == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": (props.get("spark.job.description") or "")[:80],
                    "callsite": (props.get("callSite.short") or "")[:60],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
                for s in ev["Stage Infos"]:
                    stage_of[s["Stage ID"]] = jid
            elif k == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = stages.setdefault(si["Stage ID"], {})
                st["n_tasks"] = si["Number of Tasks"]
                st["name"] = si["Stage Name"][:60]
                st["wall"] = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3
            elif k == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {"n_tasks": 0, "name": "?", "wall": 0.0})
                info = ev["Task Info"]
                dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                st["task_sum"] = st.get("task_sum", 0.0) + dur
                st["task_max"] = max(st.get("task_max", 0.0), dur)

    rows = []
    prev_end = app_start
    for jid in sorted(jobs):
        j = jobs[jid]
        if "end" not in j:
            continue
        gap = (j["start"] - prev_end) / 1e3
        wall = (j["end"] - j["start"]) / 1e3
        tsum = sum(stages.get(s, {}).get("task_sum", 0.0) for s in j["stages"])
        tmax = max((stages.get(s, {}).get("task_max", 0.0) for s in j["stages"]), default=0.0)
        ntasks = sum(stages.get(s, {}).get("n_tasks", 0) for s in j["stages"])
        # serial contribution of this job: driver gap before it, plus the
        # part of its wall that the core budget could not absorb
        # (wall - tsum/cores is latency/straggler/skew, not parallel work)
        ser = gap + max(0.0, wall - tsum / cores)
        label = j["desc"] or j["callsite"]
        rows.append((ser, gap, wall, tsum, tmax, ntasks, jid, label))
        prev_end = j["end"]
    tail = (app_end - prev_end) / 1e3 if app_end else 0.0

    total_wall = (app_end - app_start) / 1e3 if app_end else float("nan")
    total_gap = sum(r[1] for r in rows) + tail
    total_ser = sum(r[0] for r in rows) + tail
    print(f"\napp wall {total_wall:.1f}s  jobs {len(rows)}  "
          f"driver gaps {total_gap:.1f}s  serial-ish total {total_ser:.1f}s  "
          f"(post-job tail {tail:.1f}s)\n")
    print(f"{'ser':>7} {'gap':>7} {'wall':>7} {'tsum':>8} {'tmax':>7} {'ntask':>6}  jid  phase/callsite")
    for r in sorted(rows, reverse=True)[:40]:
        print(f"{r[0]:7.1f} {r[1]:7.1f} {r[2]:7.1f} {r[3]:8.1f} {r[4]:7.1f} {r[5]:6d}  {r[6]:<4d} {r[7]}")

    # rollup by phase label (job.py/linking.py set these via job_phase,
    # the incremental fold via job_step)
    agg = {}
    for ser, gap, wall, tsum, _tmax, ntasks, _jid, label in rows:
        a = agg.setdefault(label or "<unlabeled>", [0.0, 0.0, 0.0, 0])
        a[0] += ser
        a[1] += wall
        a[2] += tsum
        a[3] += 1
    print(f"\n{'ser':>8} {'wall':>8} {'tsum':>9} {'jobs':>5}  phase")
    for label, (ser, wall, tsum, n) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        print(f"{ser:8.1f} {wall:8.1f} {tsum:9.1f} {n:5d}  {label}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=12_000_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--parse-only", action="store_true",
                    help="re-parse the existing event log without re-running")
    ap.add_argument("--evdir", default="/tmp/spark-events-profile")
    ap.add_argument("--graph-stats", action="store_true",
                    help="profile the job WITH the census/hub phase"
                    " (off by default to keep phase walls comparable"
                    " with prior profiles)")
    args = ap.parse_args()
    if not args.parse_only:
        shutil.rmtree(args.evdir, ignore_errors=True)
        run(args.turns, args.cores, args.evdir, graph_stats=args.graph_stats)
    parse(args.evdir, args.cores)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
