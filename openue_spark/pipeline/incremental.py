"""Incremental KG maintenance: fold a batch of raw triples into a
persisted KG (mapping/ + link_state/ + graph/ under one output dir).

One implementation shared by the batch CLI (`job.py --increment`) and the
streaming sink (`streaming.stream_fold_sink`): read the prior mapping and
per-mention feature state, fold the batch's mentions
(pipeline.linking.incremental_canonical_mapping — Θ(batch), PLANS.md §13),
re-point only graph rows whose canonical changed, merge support counts,
and rewrite the three tables.

At production scale the overwrite-in-place writes become versioned tables
behind a catalog pointer swap; the read-modify-write cycle itself is the
same.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import job_step
from .linking import (
    canonical_triples,
    link_entities_increment,
    mapping_delta,
    mention_state,
)
from .materialize import dedup_triples_salted, write_graph_table

KG_TABLES = ("mapping", "graph")  # link_state is optional (backfilled)


def kg_exists(out_dir: str) -> bool:
    return all(os.path.isdir(f"{out_dir}/{t}") for t in KG_TABLES)


def fold_batch_into_kg(
    raw: DataFrame,
    out_dir: str,
    salt_buckets: int = 1,
    max_bucket: int | None = 256,
) -> dict:
    """Fold `raw` (conv_id, turn_idx, subj, rel_id, pred, obj) into the KG
    at `out_dir`. Returns {"n_raw", "n_changed", "n_graph"}.

    NOT idempotent for support counts: re-folding the same rows adds their
    support again (mentions/mapping ARE idempotent). Callers that may
    replay a batch (streaming restarts) must dedup on their own batch id —
    see streaming.stream_fold_sink's fold manifest.
    """
    spark = raw.sparkSession
    if not kg_exists(out_dir):
        raise FileNotFoundError(
            f"no linked KG at {out_dir} (need {KG_TABLES}); run a full build first"
        )
    # each step's jobs carry a "fold-<step>" label in the event log
    # (scripts/profile_job.py groups by it); observational only
    with job_step(spark, "fold-link"):
        # three consumers below (count, mention table, canonical rewrite) —
        # without a barrier a live extraction lineage (the streaming path)
        # re-runs the mock forwards per consumer (the CLAUDE.md
        # consumed-twice gotcha; cheap no-op when raw is parquet-backed)
        raw = raw.localCheckpoint(eager=True)
        prior = spark.read.parquet(f"{out_dir}/mapping")
        state_path = f"{out_dir}/link_state"
        prior_state = (
            spark.read.parquet(state_path) if os.path.isdir(state_path) else None
        )
        n_raw = raw.count()
        updated = link_entities_increment(
            prior, raw, max_bucket=max_bucket, prior_state=prior_state
        )
    with job_step(spark, "fold-delta"):
        # delta = the only mentions whose canonical changed; checkpointed —
        # it feeds two joins and a driver count
        delta = mapping_delta(prior, updated).localCheckpoint(eager=True)
        n_changed = delta.count()
    with job_step(spark, "fold-merge"):
        new_agg = dedup_triples_salted(canonical_triples(raw, updated), salt_buckets)
        old_graph = spark.read.parquet(f"{out_dir}/graph")
        subj_d = delta.select(
            F.col("mention").alias("subj"), F.col("new_canonical").alias("subj_new")
        )
        obj_d = delta.select(
            F.col("mention").alias("obj"), F.col("new_canonical").alias("obj_new")
        )
        # re-point ONLY rows whose subj/obj canonical changed (left joins
        # against the small delta — AQE broadcasts it); merged aggregates
        # re-combine where a merge collapsed two canonical triples into one
        repointed = (
            old_graph.join(subj_d, "subj", "left")
            .join(obj_d, "obj", "left")
            .select(
                F.coalesce("subj_new", "subj").alias("subj"),
                "pred",
                F.coalesce("obj_new", "obj").alias("obj"),
                "support",
                "first_conv",
            )
        )
        merged = (
            repointed.unionByName(
                new_agg.select("subj", "pred", "obj", "support", "first_conv")
            )
            .groupBy("subj", "pred", "obj")
            .agg(
                F.sum("support").alias("support"),
                F.min("first_conv").alias("first_conv"),
            )
            # materialize BEFORE overwriting the graph dir the plan reads
            # from (at production scale: write graph_v{n+1} and swap a
            # catalog pointer instead of overwrite-in-place)
            .localCheckpoint(eager=True)
        )
    with job_step(spark, "fold-state-write"):
        updated = updated.localCheckpoint(eager=True)
        updated.write.mode("overwrite").parquet(f"{out_dir}/mapping")
        # append features for mentions the state doesn't cover yet (the
        # fresh batch; or the whole corpus once, if this KG predates the
        # state table)
        universe = updated.select("mention", "mention_id")
        missing = (
            universe.join(prior_state.select("mention_id"), "mention_id", "left_anti")
            if prior_state is not None
            else universe
        )
        state_out = mention_state(missing)
        if prior_state is not None:
            state_out = prior_state.unionByName(state_out)
        state_out.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            state_path
        )
    with job_step(spark, "fold-graph-write"):
        write_graph_table(merged, f"{out_dir}/graph")
        n_graph = spark.read.parquet(f"{out_dir}/graph").count()
    return {"n_raw": n_raw, "n_changed": n_changed, "n_graph": n_graph}
