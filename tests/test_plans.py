"""Mechanical pins for the PLANS.md physical-plan claims.

These assert on the PLANNED (pre-execution) physical plan string, so they
are cheap — no job runs — and they turn the scale-critical plan shapes
into regressions a test can catch: the zero-shuffle extraction DAG, scan
pushdown, and join strategies free of nested-loop blowups.
"""

import pytest

from openue_spark.fixtures import transcripts_pandas

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_plan_is_zero_shuffle(spark):
    """PLANS.md section 1: NO Exchange anywhere in the extraction plan —
    parallelism rides input partitions, so the same plan fans out across
    1000 executors with no coordination — and ONE Python stage (one
    runner per task)."""
    from openue_spark.pipeline import extract_triples

    df = spark.createDataFrame(transcripts_pandas(64))
    plan = _plan(extract_triples(df))
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1  # one fused model stage


def test_serving_plan_is_zero_shuffle(spark):
    """Serving wraps the same narrow plan — the rename/projection must not
    introduce a shuffle."""
    from openue_spark.serving import score_requests

    req = spark.createDataFrame(
        [("r0", "some text")], "request_id string, text string"
    )
    plan = _plan(score_requests(req))
    assert "Exchange" not in plan, plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    """p5-style predicate + projection: the scan must carry PushedFilters
    for `value` and read only the selected columns (column pruning)."""
    from openue_spark import contract

    plan = _plan(contract.q_p5_threshold(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,150.0)" in plan, plan
    # ReadSchema lists only the projected columns, not the whole table
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "event_type" not in read_schema and "ts" not in read_schema, read_schema


def test_negative_sampling_plan_has_no_loop_joins(spark):
    """PLANS.md section 14: the rank-mod sampler is equi-joins + one
    bounded window — no CartesianProduct / BroadcastNestedLoopJoin may
    appear at ANY vocabulary size (those are the shapes that made the
    rendezvous variant unscalable)."""
    from openue_spark.ops.kg import negative_samples

    rows = [(f"h{i}", "rel", f"t{i % 7}") for i in range(64)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    plan = _plan(negative_samples(df, k=2, bucket_hex=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_seam_feature_builder_plan_is_shuffle_free(spark):
    """The injected-tokenizer NER builder must keep the default path's
    shape: per-sentence work rides input partitions at any scale. The
    CollapseProject barrier (lazy localCheckpoint) splits the visible
    plan, so both halves are pinned: the Arrow tokenize stage is ONE
    MapInPandas with no Exchange, and the post-barrier locate/fold tail
    is pure narrow column algebra over the barrier scan."""
    from openue_spark.config import MAX_SEQ_LENGTH
    from openue_spark.pipeline.features import (
        _tokenized_gold_arrow,
        build_gold_ner_features,
    )
    from openue_spark.tokenizer import SubwordTokenizer

    df = spark.createDataFrame(
        [(0, "alpha beta gamma", [("alpha", "works_at", "beta")])],
        "text_id long, text string,"
        " gold array<struct<subject string, predicate string, object string>>",
    )
    bc = spark.sparkContext.broadcast(SubwordTokenizer(3))
    head = _plan(_tokenized_gold_arrow(df, bc, MAX_SEQ_LENGTH - 2))
    assert "Exchange" not in head, head
    assert head.count("MapInPandas") == 1, head
    tail = _plan(build_gold_ner_features(df, tokenizer_bc=bc))
    assert "Exchange" not in tail, tail
    assert "Scan ExistingRDD" in tail, tail  # the pre-locate barrier


def test_linking_broadcast_hints_gated_by_mention_count(spark):
    """VERDICT r3 item 1: the fused verify's mention-side broadcast hints
    must DROP above BROADCAST_MAX_MENTIONS (the hint overrides
    autoBroadcastJoinThreshold, so an unconditional hint OOMs executors at
    10^8-10^9 mentions) — above the ceiling AQE picks the strategy from
    runtime sizes. Below the ceiling the hints stay (the benched small-SF
    plan). Same edges either way."""
    from openue_spark.pipeline.linking import (
        candidate_edges_from_state,
        mention_state,
        mention_table,
    )

    rows = [(f"c{i}", i, f"entity alpha {i % 5}", 1, "p", f"entity beta {i % 5}") for i in range(40)]
    triples = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, subj string, rel_id int, pred string, obj string"
    )
    state = mention_state(mention_table(triples)).persist()
    try:
        small = candidate_edges_from_state(state, n_mentions=100)
        big = candidate_edges_from_state(state, n_mentions=10**9)
        small_logical = small._jdf.queryExecution().optimizedPlan().toString()
        big_logical = big._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" in small_logical.lower(), small_logical
        assert "broadcast" not in big_logical.lower(), big_logical
        # correctness is regime-independent: identical edge sets
        key = lambda r: (r.a_id, r.b_id)  # noqa: E731
        assert sorted(map(key, small.collect())) == sorted(map(key, big.collect()))
    finally:
        state.unpersist()


def test_dedup_groupby_is_partial_aggregated(spark):
    """The triple-table dedup (first shuffle of the job) must partial-
    aggregate map-side: two HashAggregate nodes around one Exchange, so
    the shuffle moves combined groups, not raw triples."""
    from openue_spark.pipeline import extract_triples, triple_table

    df = spark.createDataFrame(transcripts_pandas(64))
    plan = _plan(triple_table(extract_triples(df)))
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_count" in plan or "partial" in plan, plan


def test_row_local_text_ops_plans_are_zero_shuffle(spark):
    """repetition_stats and pii_scrub are per-row projections — any
    Exchange in their plans means a regression broke the 'parallelism
    rides input partitions' property (the barriers inside
    repetition_stats appear as ExistingRDD scans, not shuffles)."""
    from openue_spark.fixtures import pii_planted_docs
    from openue_spark.ops.pii import pii_scrub
    from openue_spark.ops.text import repetition_stats

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i % 3} w2 w2") for i in range(32)],
        "doc_id long, text string",
    )
    assert "Exchange" not in _plan(repetition_stats(docs))
    assert "Exchange" not in _plan(pii_scrub(pii_planted_docs(docs)))


def test_pack_sequences_plan_has_exactly_one_shuffle(spark):
    """Contiguous packing pays ONE hash-partition on shard (the parallel
    unit) followed by the per-shard sort/window — a second Exchange
    would mean the window spec stopped riding the shard partitioning."""
    from openue_spark.ops.text import pack_sequences

    items = spark.createDataFrame(
        [(i, 10 + i % 5) for i in range(64)], "doc_id long, n_tokens long"
    )
    plan = _plan(pack_sequences(items, ["doc_id"], context_len=32, n_shards=4))
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan, plan


def test_dup_passage_plan_shape(spark):
    """PLANS.md section 25: the ExactSubstr pass must (a) contain no
    nested-loop/cartesian join — the dup-flag probe is a hash semi-join
    against the AGGREGATED window-hash table, never an inverted-index
    self-join; (b) partial-aggregate the window-hash count_distinct
    map-side (HashAggregate pairs around the h exchange); (c) keep the
    window-hash build behind a barrier (ExistingRDD scan in the plan —
    the 2x A/B of section 25)."""
    from openue_spark.ops.dedup import dup_passage_positions, dup_passage_stats

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w2 w3 w4 w5 w6 w7 w8 w9 w{i % 3}") for i in range(32)],
        "doc_id long, text string",
    )
    for op in (dup_passage_stats, dup_passage_positions):
        plan = _plan(op(docs, n=8))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert plan.count("HashAggregate") >= 2, plan
        assert "ExistingRDD" in plan, plan  # the barriered wh frame
