"""Spark-job budgets of the build/fold hot spots.

At the benchmark's size a build+fold costs per-job overhead, not per-row
work, so an extra job is a regression even when every result stays
right. The commonest cause is a lazy frame consumed by several actions:
each action re-runs the frame's whole lineage (CLAUDE.md, "a returned
DataFrame consumed twice re-runs its whole lineage"). These tests count
the jobs a call submits (its own job group, read back from the status
tracker), check that the count repeats exactly, and pin it.
"""

import contextlib
import shutil
import tempfile
import uuid

import pytest

from openue_spark.fixtures import transcripts_spark
from openue_spark.pipeline import extract_triples
from openue_spark.pipeline.linking import (
    incremental_canonical_mapping,
    link_entities,
    mention_state,
    mention_table,
)
from openue_spark.pipeline.materialize import (
    completed_shards,
    run_extraction_resumable,
)

GOTCHA = (
    "a lazy frame consumed by several actions re-runs its lineage once per"
    " action — put a localCheckpoint barrier where it is built"
)


@contextlib.contextmanager
def _counted(spark, box: list):
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        box.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _assert_budget(name: str, counts: list[int], budget: int) -> None:
    assert len(set(counts)) == 1, f"{name}: job count not repeatable: {counts}"
    assert counts[0] <= budget, (
        f"{name} ran {counts[0]} Spark jobs, budget {budget}. Most likely"
        f" {GOTCHA}."
    )


@pytest.fixture(scope="module")
def linked(spark):
    """A 300-turn linked KG (mapping + mention state, as job.main builds
    them) and the extracted next 100 turns as the batch to fold."""
    raw = extract_triples(transcripts_spark(spark, 300)).localCheckpoint(eager=True)
    state = mention_state(mention_table(raw)).localCheckpoint(eager=True)
    mapping = link_entities(raw, state=state)
    batch = extract_triples(transcripts_spark(spark, 100, offset=300))
    return mapping, state, mention_table(batch).localCheckpoint(eager=True)


def test_incremental_fold_job_budget(spark, linked):
    mapping, state, fresh = linked
    counts, results = [], []
    for _ in range(3):
        with _counted(spark, counts):
            out = incremental_canonical_mapping(mapping, fresh, prior_state=state)
        results.append(sorted(tuple(r) for r in out.collect()))
    assert results[0] == results[1] == results[2]
    # Measured: 53 jobs on each of 3 runs (local[8], 8 shuffle partitions);
    # 72 before the verify-edges and affected-component barriers.
    _assert_budget("incremental_canonical_mapping", counts, 53)


def test_resumed_extraction_job_budget(spark):
    turns = transcripts_spark(spark, 200)
    tmp = tempfile.mkdtemp(prefix="openue_budget_")
    try:
        first_run = []
        with _counted(spark, first_run):
            assert completed_shards(spark, tmp, "extract") == set()
        # no manifest directory yet: no Spark query at all
        assert first_run == [0], first_run

        run_extraction_resumable(spark, turns, tmp, n_shards=4)
        manifest_reads, resumes = [], []
        for _ in range(3):
            with _counted(spark, manifest_reads):
                assert completed_shards(spark, tmp, "extract") == {0, 1, 2, 3}
            with _counted(spark, resumes):
                run_extraction_resumable(spark, turns, tmp, n_shards=4)
        # Measured on each of 3 runs: the manifest read is 1 job (2 before,
        # and 1 on a first run); a resume that skips every shard is 4 jobs
        # (9 before: the manifest was queried once per derived shard set).
        _assert_budget("manifest read", manifest_reads, 1)
        _assert_budget("resumed run_extraction_resumable", resumes, 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
