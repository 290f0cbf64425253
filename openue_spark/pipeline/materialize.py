"""Graph materialization: deduplicated triple table, per-partition lineage
manifest, and checkpoint-resumable sharded runs (north rule; reference
analogue is the feature cache, utils.py:223-302).

Layout (parquet in the sandbox; the layout maps 1:1 onto an Iceberg table
with `PARTITIONED BY (pred, bucket(N, conv_bucket))`):

  out_dir/
    triples/shard=K/...      one directory per conv_id-hash shard
    manifest/...             append-only lineage rows, one per (run, shard)

Skew: the (subj, pred, obj) dedup groupBy carries algebraic buffers
(count/min), so Spark's map-side partial aggregation neutralizes
hot-predicate skew by construction — measured on a planted 25%-hot key
(scripts/skew_ab.py; PLANS.md §24): the plain one-shuffle agg (the
default) beats explicit two-phase salting ~1.4x with max==mean task
times. `dedup_triples_salted(salt_buckets>1)` keeps the explicit salted
path for non-algebraic buffers; hot JOIN sides are salted where it pays
(linking's gated CANON_SALT_MENTIONS), on top of AQE skew handling
enabled in session.py.

Resume: a run processes conv_id-hash shards independently; each completed
shard appends a manifest row. A resumed run anti-joins the done-shard set
and only executes the remainder — kill the job anywhere and re-submit.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import extract_triples

MANIFEST_SCHEMA = (
    "run_id string, stage string, shard int, input_fingerprint bigint,"
    " row_count long, triple_count long, wall_ms long, ts timestamp,"
    " weights_sha string"
)


def _weights_sha(weights_bc, tokenizer_bc=None) -> str:
    """Fingerprint of the (weights, tokenizer) pair a shard was extracted
    under. Resume must NOT skip shards extracted under different weights
    OR a different tokenizer — the manifest's input fingerprint covers
    rows, not model parameters, and a tokenizer swap changes every triple
    just as surely as a weights swap. The reference keys its feature
    cache by tokenizer class the same way (utils.py:223-302). The default
    word-level tokenizer hashes as a fixed tag, so pre-seam manifests
    stay resumable."""
    import hashlib
    import pickle

    from ..mock_models import MockWeights

    bundle = weights_bc.value if weights_bc is not None else MockWeights.default()
    payload = pickle.dumps(bundle, protocol=pickle.HIGHEST_PROTOCOL)
    if tokenizer_bc is not None:
        # appended ONLY for injected tokenizers, so default-tokenizer
        # lineage hashes exactly as it did pre-seam and old manifests
        # stay resumable
        payload += b"|tok|" + pickle.dumps(
            tokenizer_bc.value, protocol=pickle.HIGHEST_PROTOCOL
        )
    return hashlib.sha256(payload).hexdigest()


def dedup_triples_salted(raw_triples: DataFrame, salt_buckets: int = 1) -> DataFrame:
    """(subj, pred, obj) dedup + support counts. Default (salt_buckets<=1)
    is ONE hash-aggregate shuffle: for algebraic buffers (count/min),
    Spark's map-side partial aggregation already collapses a hot key to
    one row per map task before the exchange, so the reduce side sees at
    most #map-tasks rows per key — hot-predicate skew is neutralized by
    construction. Measured (scripts/skew_ab.py, 20M rows with ONE key
    carrying 25%, pinned 8 cores, A/B/A/B fresh processes): plain
    4.05/4.17 s vs salted 5.65/5.92 s (~1.4x), event-log max task ==
    mean task in every stage for BOTH variants — the extra salted
    exchange is pure cost here (PLANS.md §24).

    `salt_buckets > 1` keeps the explicit two-phase salted aggregation —
    phase 1 aggregates within (salt, key), phase 2 merges partials — for
    aggregation buffers partial-agg canNOT compress (collect_set/list,
    exact distinct payloads). The hot-JOIN-side analogue (where salting
    does pay) is linking's gated-salt canonical rewrite
    (pipeline/linking.py CANON_SALT_MENTIONS).

    Carries `first_conv` (min conv_id) as provenance: the deterministic
    representative conversation, and the basis of the table's conv bucket.
    """
    if salt_buckets <= 1:
        return raw_triples.groupBy("subj", "pred", "obj").agg(
            F.count(F.lit(1)).alias("support"), F.min("conv_id").alias("first_conv")
        )
    salted = raw_triples.withColumn(
        "salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("salt", "subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("conv_id").alias("first_conv")
    )
    return partial.groupBy("subj", "pred", "obj").agg(
        F.sum("cnt").alias("support"), F.min("first_conv").alias("first_conv")
    )


def shard_of(conv_col, n_shards: int):
    return F.pmod(F.xxhash64(conv_col), F.lit(n_shards)).cast("int")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The run manifest; empty on a first run (no manifest directory). A
    manifest that exists but cannot be read raises — treating it as "no
    shards done" would silently recompute and append a second lineage."""
    import os

    path = f"{out_dir}/manifest"
    if not os.path.isdir(path):  # local FS probe avoids noisy first-run read
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def completed_shards(
    spark: SparkSession, out_dir: str, stage: str, weights_sha: str | None = None
) -> set[int]:
    """Shards already done for (stage, weights). A shard recorded under a
    DIFFERENT weights fingerprint (or a pre-fingerprint manifest with a
    null column) does not count — resuming over it would silently mix
    weight regimes in one triple table, so it is re-extracted instead."""
    m = read_manifest(spark, out_dir).where(F.col("stage") == stage)
    if weights_sha is not None:
        m = m.where(F.col("weights_sha") == weights_sha)
    rows = m.select("shard").distinct().collect()
    return {r.shard for r in rows}


def _append_manifest(spark: SparkSession, out_dir: str, row: tuple) -> None:
    spark.createDataFrame([row], MANIFEST_SCHEMA).write.mode("append").parquet(
        f"{out_dir}/manifest"
    )


def log_stage_metric(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    stage: str,
    wall_ms: int,
    row_count: int,
    triple_count: int,
) -> None:
    """Append a STAGE-level latency/count metric row to the run manifest —
    the north rule logs per-partition lineage AND latency metrics to one
    manifest table, and extraction's per-shard rows only cover the first
    phase. Stage rows use shard = -1 and stage names outside 'extract', so
    the resume logic (which filters stage == 'extract' before reading
    shard ids) never mistakes them for shard lineage; input_fingerprint is
    0 and weights_sha '' (post-extraction stages do not depend on the
    weights bundle)."""
    import datetime

    _append_manifest(
        spark,
        out_dir,
        (run_id, stage, -1, 0, row_count, triple_count, wall_ms,
         datetime.datetime.now(), ""),
    )


def run_extraction_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    stage: str = "extract",
    fail_after_shards: int | None = None,
    weights_bc=None,
    tokenizer_bc=None,
    return_count: bool = False,
) -> DataFrame:
    """Sharded, checkpoint-resumable extraction run.

    Each shard (pmod(xxhash64(conv_id), n_shards)) is written independently
    with a manifest row recording lineage (input fingerprint = xor of
    turn-key hashes), row/triple counts, and wall time. On re-submission
    only missing shards run. `fail_after_shards` is a test hook simulating
    a mid-run crash.

    Scan economics (round-3 fix — the old form scanned the FULL input once
    per shard for its fingerprint and once more for its extraction, 2*S
    input passes for S shards; at 100 TB that is the whole job's cost):

    - ALL shard fingerprints come from ONE groupBy('shard') pass.
    - A fresh run (every shard missing, the common case) extracts in ONE
      job and writes `partitionBy('shard')` — 2 input scans total,
      independent of S. Per-shard crash granularity is not lost where it
      matters: a task failure retries per-task inside the job, and a
      driver crash leaves no manifest rows, so the re-run is a fresh run.
    - A RESUME (some shards recorded) runs only the missing shards,
      shard-per-job, preserving fine-grained forward progress; the
      fingerprint revalidation of completed shards rides the single stats
      pass instead of S dedicated scans.

    Returns the complete triple table read back from out_dir; with
    return_count=True, returns (table, n_triples) where the total rides
    the per-shard counts this function already collected (write-side
    batched counts + manifest rows for resumed shards) — callers that
    need the total then skip a full readback-count scan of the table.
    """
    run_id = uuid.uuid4().hex[:12]
    wsha = _weights_sha(weights_bc, tokenizer_bc)
    manifest = read_manifest(spark, out_dir).where(F.col("stage") == stage)
    # a manifest written under a different shard count means the shard->
    # conv_id mapping changed: nothing recorded is reusable, and stale
    # shard=K dirs beyond the new range must not leak into the read-back
    prior_shards = {r.shard for r in manifest.select("shard").distinct().collect()}
    if any(s >= n_shards for s in prior_shards):
        raise ValueError(
            f"{out_dir} holds manifest rows for shard >= {n_shards}; it was"
            " produced with a different --shards value — use a fresh out"
            " dir or rerun with the original shard count"
        )
    done = completed_shards(spark, out_dir, stage, weights_sha=wsha)
    recorded = {
        r.shard: r
        for r in manifest.where(F.col("weights_sha") == wsha)
        .groupBy("shard")
        .agg(
            F.max("input_fingerprint").alias("fp"),
            F.max("triple_count").alias("tc"),
        )
        .collect()
    }
    recorded_fp = {s: r.fp for s, r in recorded.items()}
    sharded = transcripts.withColumn("shard", shard_of(F.col("conv_id"), n_shards))

    # ONE stats pass for every shard's (row count, fingerprint). Skipping a
    # recorded shard is only legal when today's input hashes to what the
    # manifest recorded (the scan is ~10x cheaper than the model forwards,
    # so revalidation keeps most of the resume saving).
    stats_by_shard = {
        int(r.shard): r
        for r in sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(conv_id, turn_idx))"), F.lit(0)
            ).alias("fp"),
        )
        .collect()
    }

    def shard_fp(shard: int) -> int:
        return int(stats_by_shard[shard].fp) if shard in stats_by_shard else 0

    def shard_rows(shard: int) -> int:
        return int(stats_by_shard[shard].rows) if shard in stats_by_shard else 0

    def manifest_row(shard, fp, rows, n_triples, t0):
        _append_manifest(
            spark,
            out_dir,
            (
                run_id,
                stage,
                shard,
                fp,
                rows,
                n_triples,
                int((time.time() - t0) * 1000),
                __import__("datetime").datetime.now(),
                wsha,
            ),
        )

    missing = [
        s
        for s in range(n_shards)
        if not (s in done and recorded_fp.get(s) == shard_fp(s))
    ]

    if missing and len(missing) == n_shards and fail_after_shards is None:
        # fresh batched path: one extraction job, one partitioned write
        t0 = time.time()
        triples = extract_triples(
            sharded, weights_bc=weights_bc, tokenizer_bc=tokenizer_bc
        ).withColumn("shard", shard_of(F.col("conv_id"), n_shards))
        (
            triples.write.mode("overwrite")
            .partitionBy("shard")
            .parquet(f"{out_dir}/triples")
        )
        counts = {
            int(r.shard): int(r.n)
            for r in spark.read.parquet(f"{out_dir}/triples")
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # partitionBy writes no dir for an empty shard; the read-back uses
        # explicit shard paths, so materialize empties explicitly
        empty = extract_triples(
            sharded.where(F.lit(False)), weights_bc=weights_bc,
            tokenizer_bc=tokenizer_bc,
        )
        for s in range(n_shards):
            if counts.get(s, 0) == 0:
                empty.write.mode("overwrite").parquet(
                    f"{out_dir}/triples/shard={s}"
                )
        # wall_ms records the shared batch wall (lineage metadata, not a
        # per-shard benchmark — the batch IS the unit of work here). ONE
        # append of all shard rows: per-shard appends are S tiny write
        # jobs of pure overhead, and the batch commits atomically anyway —
        # partial manifests only make sense on the shard-per-job path.
        wall_ms = int((time.time() - t0) * 1000)
        now = __import__("datetime").datetime.now()
        rows = [
            (
                run_id,
                stage,
                s,
                shard_fp(s),
                shard_rows(s),
                counts.get(s, 0),
                wall_ms,
                now,
                wsha,
            )
            for s in range(n_shards)
        ]
        spark.createDataFrame(rows, MANIFEST_SCHEMA).write.mode("append").parquet(
            f"{out_dir}/manifest"
        )
        n_total = sum(counts.get(s, 0) for s in range(n_shards))
    else:
        # resume path: shard-per-job for exactly the missing shards
        n_total = sum(
            int(recorded[s].tc) for s in range(n_shards) if s not in missing
        )
        n_done_this_run = 0
        for shard in missing:
            t0 = time.time()
            part = sharded.where(F.col("shard") == shard).drop("shard")
            triples = extract_triples(
                part, weights_bc=weights_bc, tokenizer_bc=tokenizer_bc
            )
            (
                triples.write.mode("overwrite")
                .parquet(f"{out_dir}/triples/shard={shard}")
            )
            n_triples = spark.read.parquet(
                f"{out_dir}/triples/shard={shard}"
            ).count()
            manifest_row(shard, shard_fp(shard), shard_rows(shard), n_triples, t0)
            n_total += n_triples
            n_done_this_run += 1
            if fail_after_shards is not None and n_done_this_run >= fail_after_shards:
                raise RuntimeError(
                    f"injected failure after {n_done_this_run} shards"
                )

    # read back exactly this run's shard range (never a parent-dir glob:
    # a stale shard dir from an older layout must not leak into the table)
    table = spark.read.parquet(
        *[f"{out_dir}/triples/shard={k}" for k in range(n_shards)]
    )
    return (table, n_total) if return_count else table


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_cols: tuple[str, ...] = (),
    path: str | None = None,
) -> None:
    """Persist a table hash-BUCKETED on a join key so later equi-joins on
    that key are co-located: Spark recognizes matching bucket specs and
    plans a SortMergeJoin with NO shuffle exchange on either side — the
    single biggest repeated-join saving at 10^12-triple scale (bucket once
    at write time, join shuffle-free forever after).

    Iceberg analogue: `PARTITIONED BY (bucket(N, col))` + local sort. Here:
    parquet + the session catalog's bucket spec (`bucketBy` requires
    `saveAsTable`; `path` makes it an external table so tests keep data in
    a tmp dir, with the default in-memory catalog holding only metadata).
    tests/test_materialize.py asserts the joined plan is Exchange-free.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_triple_table(
    triples: DataFrame, path: str, salt_buckets: int = 1, conv_buckets: int = 8
) -> None:
    """Final deduplicated graph table partitioned by (pred, conv_bucket)
    (north-rule layout: predicate + conv_id bucket; hive-style dirs here,
    identical layout under Iceberg `PARTITIONED BY (pred, bucket(N,
    first_conv))`). In-file order is (subj, obj) for scan locality."""
    write_graph_table(
        dedup_triples_salted(triples, salt_buckets), path, conv_buckets
    )


def write_graph_table(deduped: DataFrame, path: str, conv_buckets: int = 8) -> None:
    """Layout-only writer for ALREADY-aggregated (subj, pred, obj, support,
    first_conv) rows — shared by the full build (write_triple_table) and
    the incremental job path, which merges an existing graph with a new
    batch's aggregate and must not re-count support."""
    out = deduped.withColumn(
        "conv_bucket", F.pmod(F.xxhash64("first_conv"), F.lit(conv_buckets)).cast("int")
    )
    (
        out.repartition("pred", "conv_bucket")
        .sortWithinPartitions("subj", "obj")
        .write.mode("overwrite")
        .partitionBy("pred", "conv_bucket")
        .parquet(path)
    )
