"""The traced run: per-layer metrics for one workload.

One traced operation under a root span: the same operation, first after
set-up, that a `--trace 0` run times first (for `build`, the build and its
fold). `trace.wall_s` is its traced duration; its difference from the
first operation's wall time that a `--trace 0` run of the same seed prints
is the whole cost of tracing, event log included. Then the stand-alone
layer probes: input scan floor, Spark-side extraction, identity Arrow
round-trip and the off-Spark extraction sub-stages. The session is
stopped before the event log is read, so every event is on disk.

Every per-layer metric is reported on every workload; a layer the
workload does not run reports 0 (its time and counts are zero there).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

import opsdata
import spans
import substages
from workloads import Build

LAYERS = ("materialize", "linking", "incremental", "dedup", "similarity", "graph")


def _noop(df) -> float:
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t


def _build_probes(wl: Build, spark, run_dir: str) -> dict[str, float]:
    """Scan floor, Spark-side extraction and the Arrow boundary floor over
    the build's own turns, read back through the program's source reader."""
    from openue_spark.fixtures import transcripts_spark
    from openue_spark.pipeline import extract_triples
    from openue_spark.sources import read_transcripts

    path = os.path.join(run_dir, "input-turns")
    transcripts_spark(spark, wl.n_build, offset=wl.offset).write.parquet(path)
    cols = read_transcripts(spark, path).select("conv_id", "turn_idx", "text")
    out = {
        "sources.scan_s": _noop(cols),
        "extract.spark_s": _noop(extract_triples(cols)),
        "extract.arrow_floor_s": _noop(
            cols.mapInPandas(lambda batches: batches, schema=cols.schema)),
        "extract.triples_per_turn": sum(wl.ref[0].values()) / wl.n_build,
    }
    out.update(substages.extraction_substages(wl.turns))
    return out


def _ops_probes(wl, spark) -> dict[str, float]:
    tables = sorted({t for q in wl.order for t in opsdata.QUERIES[q][1]})
    return {"sources.scan_s": sum(
        _noop(spark.read.parquet(os.path.join(wl.table_dir, f"{t}.parquet")))
        for t in tables)}


def traced_run(wl, spark, run_dir: str, session_s: float, names: list[str]):
    """Returns (metric values by name, op results, failed operations)."""
    values = dict.fromkeys(names, 0.0)
    values["session.start_s"] = session_s
    tracer = spans.Tracer(spark)
    if isinstance(wl, Build):
        tracer.install_job_wraps()
    try:
        with tracer.span("op") as root:
            results = [wl.op(spark, tracer.span)]
    except Exception:
        traceback.print_exc()
        spark.stop()
        return values, [], 1
    finally:
        tracer.uninstall()
    if isinstance(wl, Build):
        values.update(_build_probes(wl, spark, run_dir))
        values["linking.mentions"] = pq.read_table(
            os.path.join(results[0].payload, "mapping"), columns=["mention_id"]).num_rows
    else:
        values.update(_ops_probes(wl, spark))
    app_id = spark.sparkContext.applicationId
    spark.stop()
    jobs, stages = spans.read_event_log(os.path.join(run_dir, "eventlog", app_id))
    values.update(_span_metrics(tracer, spans.Attribution(tracer, jobs, stages)))
    values["trace.wall_s"] = root.duration
    values["trace.overhead_s"] = tracer.bookkeeping_s
    for sp in tracer.spans:
        for w in sp.warnings:
            print(f"[perfbench] warning in {sp.name}: {w}", file=sys.stderr)
    missing = set(values) - set(names)
    if missing:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(missing)}")
    return values, results, 0


def _span_metrics(tr: spans.Tracer, at: spans.Attribution) -> dict[str, float]:
    def ids(layer=None):
        return {s.id for s in tr.spans if layer is None or s.layer == layer}

    def dur(*names):
        return sum(s.duration for s in tr.spans if s.name in names)

    v: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in tr.spans if s.layer == layer]
        v[f"{layer}.self_s"] = sum(tr.self_time(s) for s in mine)
        v[f"{layer}.warnings"] = sum(len(s.warnings) for s in mine)
    v["unattributed_s"] = sum(tr.self_time(s) for s in tr.spans if s.layer is None)

    # build / fold path
    write_names = ("materialize.write_triple_table", "materialize.write_graph_table")
    v["materialize.extract_resumable_s"] = dur("materialize.run_extraction_resumable")
    v["materialize.write_graph_s"] = dur(*write_names)
    v["materialize.write_graph_tasks"] = len(at.tasks_in(
        {s.id for s in tr.spans if s.name in write_names}))
    v["materialize.jobs"] = len(at.jobs_in(ids("materialize")))
    link = ids("linking")
    v["linking.mention_state_s"] = dur("phase.mention-state")
    v["linking.link_entities_s"] = dur("linking.link_entities")
    v["linking.link_increment_s"] = dur("linking.link_entities_increment")
    v["linking.jobs"] = len(at.jobs_in(link))
    v["linking.driver_gap_s"] = at.driver_gap(link)
    v["linking.task_max_over_p50"] = at.task_max_over_p50(link)
    v["linking.spill_bytes"] = sum(t.spill for t in at.tasks_in(link))
    folds = tr.named("incremental.fold_batch_into_kg")
    if folds:
        v["incremental.fold_s"] = statistics.median(s.duration for s in folds)
        v["incremental.jobs_per_fold"] = statistics.mean(
            len(at.jobs_in(tr.subtree(s.id))) for s in folds)
        v["incremental.changed_over_rewritten"] = statistics.mean(
            s.result["n_changed"] / max(s.result["n_graph"], 1) for s in folds)

    # contract operators
    for q, (layer, _tables) in opsdata.QUERIES.items():
        v[f"{layer}.{q}_s"] = dur(f"{layer}.{q}")
    for layer in ("linking", "dedup", "similarity", "graph"):
        v[f"{layer}.shuffle_bytes"] = sum(t.shuffle_write for t in at.tasks_in(ids(layer)))

    # the engine underneath, over the whole operation
    every = ids()
    tasks = at.tasks_in(every)
    v["spark.jobs"] = len(at.jobs)
    v["spark.task_sum_s"] = sum(t.run_s for t in tasks)
    v["spark.driver_gap_s"] = at.driver_gap(every)
    v["spark.task_retries"] = sum(t.failed for t in tasks)
    v["spark.stage_retries"] = sum(max(0, s.attempts - 1) for s in at.stages)
    return v
