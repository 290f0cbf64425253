"""Materialization: salted dedup, manifest lineage, checkpoint-resume."""

import os
import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from openue_spark.fixtures import transcripts_pandas
from openue_spark.pipeline import extract_triples
from openue_spark.pipeline.materialize import (
    dedup_triples_salted,
    read_manifest,
    run_extraction_resumable,
    write_triple_table,
)


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(transcripts_pandas(320)).persist()


def test_salted_dedup_matches_plain(spark, transcripts):
    raw = extract_triples(transcripts)
    salted = {
        (r.subj, r.pred, r.obj, r.support)
        for r in dedup_triples_salted(raw, salt_buckets=8).collect()
    }
    plain = {
        (r.subj, r.pred, r.obj, r.support)
        for r in raw.groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("support"))
        .collect()
    }
    assert salted == plain


def test_corrupt_manifest_raises_instead_of_fresh_run(spark):
    """A manifest directory that exists but does not read as parquet must
    fail the resume probe, not pass for "no shards done"."""
    from openue_spark.pipeline.materialize import completed_shards

    tmp = tempfile.mkdtemp(prefix="openue_manifest_")
    try:
        os.makedirs(f"{tmp}/manifest")
        with open(f"{tmp}/manifest/part-00000.parquet", "w") as fh:
            fh.write("not a parquet file\n")
        with pytest.raises(Exception, match="(?i)parquet"):
            completed_shards(spark, tmp, "extract")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resumable_run_survives_crash(spark, transcripts):
    tmp = tempfile.mkdtemp(prefix="openue_resume_")
    try:
        # one-shot truth
        truth = Counter(tuple(r) for r in extract_triples(transcripts).collect())

        # crash after 3 of 8 shards
        with pytest.raises(RuntimeError, match="injected failure"):
            run_extraction_resumable(
                spark, transcripts, tmp, n_shards=8, fail_after_shards=3
            )
        m1 = read_manifest(spark, tmp)
        assert m1.count() == 3

        # resume: completes only the remaining shards
        out = run_extraction_resumable(spark, transcripts, tmp, n_shards=8)
        got = Counter(
            tuple(r) for r in out.select("conv_id", "turn_idx", "subj", "rel_id", "pred", "obj").collect()
        )
        assert got == truth

        m2 = read_manifest(spark, tmp)
        assert m2.select("shard").distinct().count() == 8
        assert m2.count() == 8  # no shard re-done
        # two distinct run_ids prove the resume happened across runs
        assert m2.select("run_id").distinct().count() == 2
        # lineage metrics populated
        row = m2.limit(1).collect()[0]
        assert row.row_count > 0 and row.wall_ms >= 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_write_triple_table_partitioned_by_pred(spark, transcripts):
    import os

    tmp = tempfile.mkdtemp(prefix="openue_table_")
    try:
        raw = extract_triples(transcripts)
        write_triple_table(raw, f"{tmp}/graph")
        dirs = {d for d in os.listdir(f"{tmp}/graph") if d.startswith("pred=")}
        assert len(dirs) > 1  # hive partitioning by predicate materialized
        sub = {d for d in os.listdir(f"{tmp}/graph/{sorted(dirs)[0]}") if d.startswith("conv_bucket=")}
        assert len(sub) >= 1  # second-level conv bucket materialized
        back = spark.read.parquet(f"{tmp}/graph")
        assert back.where(F.col("support") < 1).count() == 0
        assert {"subj", "obj", "support", "pred", "conv_bucket", "first_conv"} <= set(back.columns)
        # dedup really happened
        assert back.groupBy("subj", "pred", "obj").count().where("count > 1").count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key must co-locate: the equi-join
    plan contains NO shuffle exchange on either input (the at-scale payoff
    of bucketing the triple table and its dimension sides)."""
    from pyspark.sql import functions as F

    from openue_spark.pipeline.materialize import write_bucketed_table

    triples = spark.range(0, 2000).select(
        F.concat(F.lit("conv"), (F.col("id") % 97)).alias("conv_id"),
        F.col("id").alias("triple_id"),
    )
    turns = spark.range(0, 97).select(
        F.concat(F.lit("conv"), F.col("id")).alias("conv_id"),
        F.concat(F.lit("text"), F.col("id")).alias("text"),
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # force a non-broadcast join so bucketing is what avoids the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        write_bucketed_table(
            triples, "bt_triples", "conv_id", 8, ("conv_id",), str(tmp_path / "t")
        )
        write_bucketed_table(
            turns, "bt_turns", "conv_id", 8, ("conv_id",), str(tmp_path / "u")
        )
        joined = spark.table("bt_triples").join(spark.table("bt_turns"), "conv_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 2000
        # sanity: the same join over non-bucketed data DOES shuffle
        unbucketed = triples.join(turns, "conv_id")
        plan2 = unbucketed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.sql("DROP TABLE IF EXISTS bt_triples")
        spark.sql("DROP TABLE IF EXISTS bt_turns")


def test_resume_does_not_mix_weight_regimes(spark, tmp_path):
    """Shards completed under one weights bundle must NOT satisfy a resume
    under a different bundle — the whole table is re-extracted so one
    output never mixes weight regimes (review finding)."""
    import numpy as np
    from pyspark.sql import functions as F

    from openue_spark.fixtures import transcripts_spark
    from openue_spark.mock_models import MockWeights
    from openue_spark.pipeline.materialize import read_manifest, run_extraction_resumable

    out = str(tmp_path / "out")
    turns = transcripts_spark(spark, 600)
    run_extraction_resumable(spark, turns, out, n_shards=2)
    n_default = spark.read.parquet(f"{out}/triples").count()

    permissive = spark.sparkContext.broadcast(MockWeights(
        seq_cut=0.80, seq_scale=8.0,
        ner_cuts=np.array([720, 790, 840, 910, 960, 980, 990, 1000]),
    ))
    run_extraction_resumable(spark, turns, out, n_shards=2, weights_bc=permissive)
    n_after = spark.read.parquet(f"{out}/triples").count()
    assert n_after > n_default  # every shard re-extracted under new weights

    m = read_manifest(spark, out)
    assert m.count() == 4  # 2 shards x 2 weight regimes
    assert m.select("weights_sha").distinct().count() == 2
    # same-weights resume still skips everything (no 5th manifest row)
    run_extraction_resumable(spark, turns, out, n_shards=2, weights_bc=permissive)
    assert read_manifest(spark, out).count() == 4


def test_resume_revalidates_input_fingerprint(spark, tmp_path):
    """A 'done' shard is only skipped when today's input hashes to what the
    manifest recorded — pointing the same out dir at a DIFFERENT corpus
    re-extracts instead of silently mixing corpora; and a changed --shards
    value is rejected outright (stale shard dirs must not leak)."""
    import pytest

    from openue_spark.fixtures import transcripts_spark
    from openue_spark.pipeline.materialize import run_extraction_resumable

    out = str(tmp_path / "out")
    run_extraction_resumable(spark, transcripts_spark(spark, 400), out, n_shards=2)
    n_a = spark.read.parquet(f"{out}/triples").count()

    # same out dir, different corpus -> fingerprints mismatch -> re-extract
    other = transcripts_spark(spark, 800)
    got = run_extraction_resumable(spark, other, out, n_shards=2)
    n_b = got.count()
    assert n_b > n_a  # reflects the NEW corpus, not a stale skip

    with pytest.raises(ValueError, match="different --shards"):
        run_extraction_resumable(spark, other, out, n_shards=1)


def test_resume_does_not_mix_tokenizer_regimes(spark, tmp_path):
    """Same idea as the weights-regime test, for the tokenizer seam: shards
    completed under the word-level default must NOT satisfy a resume under
    an injected subword tokenizer (and vice versa) — a tokenizer swap
    changes every triple, so lineage keys on (weights, tokenizer). The
    reference keys its feature cache by tokenizer class the same way
    (utils.py:223-302)."""
    from openue_spark.fixtures import transcripts_spark
    from openue_spark.pipeline import extract_triples
    from openue_spark.pipeline.materialize import (
        read_manifest,
        run_extraction_resumable,
    )
    from openue_spark.tokenizer import SubwordTokenizer

    out = str(tmp_path / "out")
    turns = transcripts_spark(spark, 600)
    run_extraction_resumable(spark, turns, out, n_shards=2)

    bc = spark.sparkContext.broadcast(SubwordTokenizer(3))
    got = run_extraction_resumable(spark, turns, out, n_shards=2, tokenizer_bc=bc)
    m = read_manifest(spark, out)
    assert m.count() == 4  # 2 shards x 2 tokenizer regimes
    assert m.select("weights_sha").distinct().count() == 2

    # the read-back is the SUBWORD extraction, not a stale word-level skip
    key = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    expect = sorted(
        tuple(r) for r in extract_triples(turns, tokenizer_bc=bc).select(key).collect()
    )
    assert sorted(tuple(r) for r in got.select(key).collect()) == expect

    # same-tokenizer resume still skips everything (no 5th manifest row)
    bc2 = spark.sparkContext.broadcast(SubwordTokenizer(3))
    run_extraction_resumable(spark, turns, out, n_shards=2, tokenizer_bc=bc2)
    assert read_manifest(spark, out).count() == 4
