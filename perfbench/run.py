"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run sets up once, as a user's first
job does (imports the program, launches the JVM, starts the session and
runs a warm-up pass; that is `setup_s`), then repeats the workload's
operation until `--seconds` have passed (at least once), checks every
output, and prints the end-to-end metrics named in BENCHMARK.json. With
`--trace 1` it instead runs the operation once, traced (event log on,
layer functions wrapped), and prints the per-layer metrics.
Everything it writes goes under `.perfbench_work/` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# fixed heap (-Xms = -Xmx): the JVM's resident size then does not depend on
# when the collector decides to grow the heap, which steadies peak_rss_mb
DRIVER_MEM = "2g"
WARMUP_OFFSET = 5_000_000_000  # warm-up turns, disjoint from every workload's


def _env(run_dir: str) -> None:
    """Make the run independent of the caller's environment: Python workers
    find the package, Spark's scratch space stays inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def _spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _set_up(conf: dict[str, str], cores: int):
    """One set-up in a process that has not imported Spark or the program
    yet: imports, JVM launch and session start, then a warm-up pass (a
    small extraction, which starts the Python workers). Returns the session
    and (set-up, session-start) seconds."""
    t0 = time.time()
    from openue_spark.fixtures import transcripts_spark
    from openue_spark.pipeline import extract_triples
    from openue_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    t1 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    extract_triples(transcripts_spark(spark, 256, offset=WARMUP_OFFSET)) \
        .write.format("noop").mode("overwrite").save()
    return spark, (time.time() - t0, t1 - t0)


def _stop_all() -> None:
    """Stop Spark and the JVM, and wait until no process this run started
    (JVM, Python daemon and workers) is left."""
    import hostinfo
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 60
    while len(hostinfo.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in hostinfo.tree_pids(os.getpid())[1:]:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a small one)")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import hostinfo

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    _env(run_dir)
    host = hostinfo.HostContext()
    try:
        spark, (setup_s, session_s) = _set_up(
            _spark_conf(run_dir, bool(args.trace)), hostinfo.nproc())
        import workloads  # after set-up, so that set-up pays the program's imports

        wl = workloads.WORKLOADS[args.workload](args.seed, args.scale, run_dir,
                                                os.path.join(work, "state"))
        t = time.time()
        wl.prepare()
        fixture_s = time.time() - t
        if args.trace:
            import layers

            values, results, failed = layers.traced_run(
                wl, spark, run_dir, session_s, [m["name"] for m in spec["per_layer"]])
        else:
            with hostinfo.RssSampler() as rss:
                results, failed = workloads.closed_loop(wl, spark, args.seconds)
        attempted = failed + sum(r.attempted for r in results)
        for r in results:
            wl.check(r)
            failed += min(r.attempted, len(r.errors))
            for e in r.errors:
                print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)
        if not results:
            return 1
        if not args.trace:
            values = {
                "cpu_s": statistics.median(r.cpu_s for r in results),
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak_mb,
            }
        section = spec["per_layer" if args.trace else "end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in section}
        print(json.dumps({"host": host.finish(), "fixture_s": fixture_s,
                          "peak_rss_mb_by_process": None if args.trace else rss.peak_mb_by_name(),
                          "setup_s": setup_s, "session_start_s": session_s,
                          "ops": [{"wall_s": r.wall_s, "cpu_s": r.cpu_s, "steps": r.steps}
                                  for r in results]}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        _stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
