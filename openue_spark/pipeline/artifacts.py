"""Run artifacts: config sink (S6) and model-checkpoint sink (S5).

Reference surface re-expressed Spark-first:

- S6: the reference dumps every run's resolved args to a timestamped YAML
  (/root/reference/main.py:76-84). Here the resolved CLI args AND the
  effective Spark conf land as one JSON row per run under
  `{out_dir}/run_config/` — written through Spark so the sink works on any
  Hadoop-compatible filesystem, append-only so reruns never clobber
  history.
- S5: the reference persists the best model + config via save_pretrained,
  selected on Eval/f1 (/root/reference/main.py:101-109,
  src/openue/lit_models/base.py:15-23). Here a checkpoint is one manifest
  row carrying the pickled weights blob (binary column), its sha256, byte
  size, a step, and the selection metric, appended to
  `{out_dir}/checkpoints/`; `read_best_checkpoint` re-inflates the
  highest-metric bundle (ties -> latest step), ready for `sc.broadcast`
  into the extraction UDFs (the existing weights seam).

Blobs ride inside parquet rows rather than side files so the checkpoint
table IS the manifest — one listing, atomic append, no blob/manifest drift.
Mock weight bundles are a few hundred bytes; real BERT-sized blobs would
move to object-store files with the row keeping (uri, sha256) — same
schema, documented seam.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import pickle

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

RUN_CONFIG_SCHEMA = "run_id string, ts timestamp, args string, spark_conf string"

CHECKPOINT_SCHEMA = (
    "checkpoint_id string, step long, metric double, blob binary,"
    " sha256 string, n_bytes long, ts timestamp"
)


def write_run_config(
    spark: SparkSession, out_dir: str, args: dict, run_id: str
) -> None:
    """S6: append one (run_id, ts, args-json, conf-json) row. JSON strings
    (not maps) keep the schema stable as arg sets evolve."""
    conf = dict(spark.sparkContext.getConf().getAll())
    row = (
        run_id,
        datetime.datetime.now(),
        json.dumps({k: str(v) for k, v in sorted(args.items())}, sort_keys=True),
        json.dumps({k: str(v) for k, v in sorted(conf.items())}, sort_keys=True),
    )
    local_frame(spark, [row], RUN_CONFIG_SCHEMA).write.mode("append").parquet(
        f"{out_dir}/run_config"
    )


def read_run_configs(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(RUN_CONFIG_SCHEMA).parquet(f"{out_dir}/run_config")


def write_checkpoint(
    spark: SparkSession,
    out_dir: str,
    weights,
    metric: float | None,
    step: int,
    checkpoint_id: str,
) -> str:
    """S5: append one checkpoint row (pickled weights blob + integrity
    hash + selection metric). metric=None marks a PROVENANCE record (e.g.
    the bundle a run deployed with) that must never outrank a genuinely
    evaluated checkpoint in best-selection. Returns the blob's sha256."""
    blob = pickle.dumps(weights, protocol=pickle.HIGHEST_PROTOCOL)
    digest = hashlib.sha256(blob).hexdigest()
    row = (
        checkpoint_id,
        int(step),
        None if metric is None else float(metric),
        bytearray(blob),
        digest,
        len(blob),
        datetime.datetime.now(),
    )
    local_frame(spark, [row], CHECKPOINT_SCHEMA).write.mode("append").parquet(
        f"{out_dir}/checkpoints"
    )
    return digest


def read_checkpoints(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(CHECKPOINT_SCHEMA).parquet(f"{out_dir}/checkpoints")


def read_best_checkpoint(spark: SparkSession, out_dir: str):
    """Best-by-metric checkpoint (ties -> highest step), integrity-checked
    and unpickled — the reference's ModelCheckpoint(monitor='Eval/f1')
    selection (main.py:101-109). Metric-less provenance records sort last,
    so they are only returned when nothing evaluated exists.
    Returns (weights, row)."""
    row = (
        read_checkpoints(spark, out_dir)
        .orderBy(F.desc_nulls_last("metric"), F.desc("step"))
        .limit(1)
        .collect()
    )
    if not row:
        raise FileNotFoundError(f"no checkpoints under {out_dir}/checkpoints")
    r = row[0]
    blob = bytes(r.blob)
    digest = hashlib.sha256(blob).hexdigest()
    if digest != r.sha256:
        raise IOError(
            f"checkpoint {r.checkpoint_id} blob corrupt: sha256 {digest} != {r.sha256}"
        )
    return pickle.loads(blob), r
