"""Structured Streaming ingest of transcript turns (SURVEY.md §2.8).

The reference is strictly batch over static splits; this module gives the
engine a streaming surface for continuous transcript arrival:

- ``read_turn_stream``: file-source stream over a transcript parquet
  directory (schema pinned — streaming reads cannot infer).
- ``stream_extract_triples``: the SAME narrow extraction plan as batch
  (``pipeline.extract_triples``) applied to the stream. Because the plan is
  stateless and narrow (mapInPandas -> explode chains, zero shuffles), it is
  trivially streamable with exactly-once file-sink semantics.
- ``stream_triple_sink``: parquet sink + checkpoint — restart-safe; the
  checkpoint directory carries source offsets so a killed job resumes
  without reprocessing (streaming analogue of the batch manifest/anti-join
  resume in pipeline.materialize).
- ``windowed_turn_rates``: watermarked tumbling-window per-role turn counts
  for late-data-tolerant rate monitoring.

Scale notes: at production scale the source would be Kafka/Iceberg CDC
instead of a file source — the transformation plan is identical. State for
the windowed agg is bounded by (watermark horizon x roles); the extraction
itself keeps NO state, so executors scale horizontally with input rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline import extract_triples
from ..session import local_frame
from ..sources import TRANSCRIPT_SCHEMA  # one pinned schema for batch AND stream


def read_turn_stream(
    spark: SparkSession, input_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def stream_extract_triples(turns: DataFrame) -> DataFrame:
    """Streaming DataFrame of raw triples — identical plan to batch."""
    return extract_triples(turns)


def stream_triple_sink(
    triples: DataFrame, output_path: str, checkpoint_dir: str, available_now: bool = True
):
    """Start the triple stream into a parquet sink with checkpointed offsets.

    ``available_now=True`` drains everything currently in the source then
    stops (used by tests and backfills); ``False`` runs continuously.
    """
    writer = (
        triples.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_fold_sink(
    turns: DataFrame,
    kg_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    salt_buckets: int = 1,
    max_bucket: int | None = 256,
):
    """Continuous KG maintenance: extract each micro-batch of transcript
    turns and FOLD it into the persisted KG at ``kg_dir`` (mapping/ +
    link_state/ + graph/, built by a prior full `job.py` run) via the same
    incremental merge as `job.py --increment`
    (pipeline.incremental.fold_batch_into_kg — Θ(batch), PLANS.md §13).

    Exactly-once: the fold mutates external tables, so Spark's offset
    checkpoint alone cannot make replays safe (a restarted query re-runs
    its last uncommitted micro-batch, and re-folding double-counts
    support). Each folded epoch therefore appends
    (batch_id, content fingerprint) to ``{kg_dir}/fold_manifest`` FIRST; a
    replayed epoch matches BOTH and skips. The fingerprint (order-free sum
    of per-turn key hashes) is what makes the key safe across checkpoint
    lifetimes: epoch ids restart at 0 under a new/lost checkpoint or a
    second stream, and deduping on the bare id would silently discard
    genuinely-new batches that happen to reuse an old id. Written before
    the fold (not after) so a crash mid-fold fails TOWARD skipping a
    half-applied batch rather than applying it twice; recovering a batch
    that manifested but crashed pre-merge is a manual replay (drop its
    manifest row), the same trade a catalog-pointer swap makes.
    """
    from ..pipeline.incremental import fold_batch_into_kg, kg_exists

    manifest = f"{kg_dir}/fold_manifest"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        import os

        # precondition BEFORE the manifest append: a deterministic failure
        # (no KG built yet, wrong dir) must not blacklist the epoch — once
        # a row is written, a restart skips this batch forever
        if not kg_exists(kg_dir):
            raise FileNotFoundError(
                f"stream_fold_sink: no linked KG at {kg_dir}; run a full"
                " build before starting the fold stream"
            )
        # bit_xor, not sum: order-free like sum, but immune to ANSI-mode
        # long-overflow (turn keys are unique within a batch, so xor
        # cancellation of duplicate rows is not a concern)
        stats = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(conv_id, turn_idx))"), F.lit(0)
            ).alias("fp"),
        ).collect()[0]
        if stats.n == 0:
            return  # empty epoch: no manifest row, no table rewrite
        fp = int(stats.fp)
        if os.path.isdir(manifest):
            seen = spark.read.parquet(manifest).where(
                (F.col("batch_id") == batch_id) & (F.col("fingerprint") == fp)
            )
            if seen.limit(1).count() > 0:
                return  # replayed epoch — already folded
        local_frame(
            spark, [(int(batch_id), fp)], "batch_id long, fingerprint long"
        ).write.mode("append").parquet(manifest)
        raw = extract_triples(batch_df)
        fold_batch_into_kg(
            raw, kg_dir, salt_buckets=salt_buckets, max_bucket=max_bucket
        )

    writer = turns.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("support", T.LongType()),
        T.StructField("new_in_batch", T.LongType()),
    ]
)

_DEDUP_STATE_SCHEMA = T.StructType([T.StructField("support", T.LongType())])


def _dedup_state_fn(key, pdf_iter, state):
    """Per-(subj, pred, obj) running support count across micro-batches.

    State is one long; each micro-batch emits the key's updated total plus
    how many duplicates this batch contributed. Memory per key is constant,
    so state size is bounded by the number of DISTINCT triples — the same
    cardinality the batch dedup table holds.
    """
    seen = int(state.get[0]) if state.exists else 0
    batch = 0
    for pdf in pdf_iter:
        batch += len(pdf)
    state.update((seen + batch,))
    import pandas as pd  # local import: runs on executors

    yield pd.DataFrame(
        {
            "subj": [key[0]],
            "pred": [key[1]],
            "obj": [key[2]],
            "support": [seen + batch],
            "new_in_batch": [batch],
        }
    )


def stateful_triple_dedup(triples: DataFrame) -> DataFrame:
    """Custom stateful operator: incremental (subj, pred, obj) dedup.

    The batch engine dedups with a groupBy (pipeline.triple_table); the
    streaming equivalent keeps a per-key running support in Spark state via
    ``applyInPandasWithState`` and emits updated totals every micro-batch —
    the streaming analogue of the salted dedup table, updatable forever
    without reprocessing history. Use outputMode("update") on the sink.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return triples.groupBy("subj", "pred", "obj").applyInPandasWithState(
        _dedup_state_fn,
        outputStructType=_DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_rates(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "5 minutes",
    watermark: str | None = "10 minutes",
    count_alias: str = "n_rows",
) -> DataFrame:
    """Tumbling-window per-key row counts over any timestamped stream (or
    batch DataFrame — the plan is identical, which is the point: one
    declaration, two execution modes).

    ``watermark=None`` skips the late-data bound — required for
    ``outputMode("complete")`` sinks where every window stays addressable
    and nothing is withheld waiting for the watermark to pass.
    """
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(F.window(ts_col, window).alias("win"), key_col)
        .agg(F.count(F.lit(1)).alias(count_alias))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col,
            count_alias,
        )
    )


def windowed_turn_rates(
    turns: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window per-role turn counts, late data bounded by watermark."""
    return windowed_rates(
        turns, "ts", "role", window=window, watermark=watermark, count_alias="n_turns"
    )
