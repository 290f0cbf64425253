"""S6 config sink + S5 checkpoint sink round-trips."""

import numpy as np
import pytest


def test_run_config_round_trip(spark, tmp_path):
    import json

    from openue_spark.pipeline.artifacts import read_run_configs, write_run_config

    out = str(tmp_path / "out")
    write_run_config(spark, out, {"shards": 8, "input": None, "flag": True}, "runA")
    write_run_config(spark, out, {"shards": 16}, "runB")
    rows = {r.run_id: r for r in read_run_configs(spark, out).collect()}
    assert set(rows) == {"runA", "runB"}  # append-only, no clobber
    args = json.loads(rows["runA"].args)
    assert args == {"shards": "8", "input": "None", "flag": "True"}
    conf = json.loads(rows["runA"].spark_conf)
    assert "spark.app.name" in conf or "spark.master" in conf


def test_checkpoint_best_selection_and_integrity(spark, tmp_path):
    from openue_spark.mock_models import MockWeights
    from openue_spark.pipeline.artifacts import (
        read_best_checkpoint,
        read_checkpoints,
        write_checkpoint,
    )

    out = str(tmp_path / "out")
    w1 = MockWeights.default()
    w2 = MockWeights(seq_cut=0.9, seq_scale=4.0, ner_cuts=np.array([1, 2, 3]))
    d1 = write_checkpoint(spark, out, w1, metric=0.91, step=1, checkpoint_id="ck1")
    d2 = write_checkpoint(spark, out, w2, metric=0.95, step=2, checkpoint_id="ck2")
    assert d1 != d2

    rows = {r.checkpoint_id: r for r in read_checkpoints(spark, out).collect()}
    assert rows["ck1"].sha256 == d1 and rows["ck1"].n_bytes == len(bytes(rows["ck1"].blob))

    best, row = read_best_checkpoint(spark, out)
    assert row.checkpoint_id == "ck2"
    assert best.seq_cut == w2.seq_cut and (best.ner_cuts == w2.ner_cuts).all()

    # the restored bundle drives the pipeline exactly like the original
    from openue_spark.fixtures import transcripts_pandas
    from openue_spark.pipeline import extract_triples

    turns = spark.createDataFrame(transcripts_pandas(120))
    bc = spark.sparkContext.broadcast(best)
    restored = sorted(tuple(r) for r in extract_triples(turns, weights_bc=bc).collect())
    bc2 = spark.sparkContext.broadcast(w2)
    direct = sorted(tuple(r) for r in extract_triples(turns, weights_bc=bc2).collect())
    assert restored == direct


def test_missing_checkpoint_raises(spark, tmp_path):
    from openue_spark.pipeline.artifacts import read_best_checkpoint

    with pytest.raises(Exception):
        read_best_checkpoint(spark, str(tmp_path / "nowhere"))


@pytest.mark.slow
def test_job_extracts_with_persisted_checkpoint(spark, tmp_path):
    """--weights-from loads the best persisted bundle and it really drives
    extraction: permissive weights must yield more triples than default."""
    from openue_spark.job import main
    from openue_spark.mock_models import MockWeights
    from openue_spark.pipeline.artifacts import write_checkpoint

    ckdir = str(tmp_path / "ck")
    permissive = MockWeights(
        seq_cut=0.80, seq_scale=8.0,
        ner_cuts=np.array([720, 790, 840, 910, 960, 980, 990, 1000]),
    )
    write_checkpoint(spark, ckdir, permissive, metric=0.99, step=7, checkpoint_id="perm")
    write_checkpoint(spark, ckdir, MockWeights.default(), metric=0.5, step=1, checkpoint_id="dflt")

    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    common = ["--synthesize", "400", "--no-link", "--shards", "1"]
    assert main([*common, "--out", out_a], spark=spark) == 0
    assert main([*common, "--out", out_b, "--weights-from", ckdir], spark=spark) == 0
    n_default = spark.read.parquet(f"{out_a}/triples").count()
    n_permissive = spark.read.parquet(f"{out_b}/triples").count()
    assert n_permissive > n_default


@pytest.mark.slow
def test_job_writes_config_and_checkpoint(spark, tmp_path):
    """The spark-submit entry point records run_config + deployed weights."""
    from openue_spark.job import main
    from openue_spark.pipeline.artifacts import read_best_checkpoint, read_run_configs

    out = str(tmp_path / "kg")
    assert main(["--synthesize", "400", "--out", out, "--no-link", "--shards", "2"], spark=spark) == 0
    cfgs = read_run_configs(spark, out).collect()
    assert len(cfgs) == 1
    import json

    assert json.loads(cfgs[0].args)["synthesize"] == "400"
    weights, row = read_best_checkpoint(spark, out)
    assert row.checkpoint_id.endswith("-deployed")
    assert weights.seq_cut > 0


def test_provenance_checkpoint_never_outranks_evaluated(spark, tmp_path):
    """Deployed (metric=None) provenance rows lose best-selection to any
    genuinely evaluated checkpoint, and win only when nothing else exists."""
    from openue_spark.mock_models import MockWeights
    from openue_spark.pipeline.artifacts import read_best_checkpoint, write_checkpoint

    out = str(tmp_path / "out")
    write_checkpoint(spark, out, MockWeights.default(), metric=None, step=9,
                     checkpoint_id="run1-deployed")
    _, row = read_best_checkpoint(spark, out)
    assert row.checkpoint_id == "run1-deployed"  # only record -> returned

    better = MockWeights(seq_cut=0.9, seq_scale=4.0, ner_cuts=np.array([1, 2, 3]))
    write_checkpoint(spark, out, better, metric=0.42, step=1, checkpoint_id="trained")
    _, row = read_best_checkpoint(spark, out)
    assert row.checkpoint_id == "trained"  # low real metric still beats None


def test_local_frame_rows_exact_and_no_python_scan(spark, tmp_path):
    """Driver-built metadata frames go through session.local_frame: a None
    metric reads back NULL (never NaN — the pandas route's failure), the
    pickled blob round-trips byte-exact, and no frame the helper builds
    plans a Python-RDD scan (`ExistingRDD`: Python-worker tasks on every
    action)."""
    import math
    import pickle

    from openue_spark.mock_models import MockWeights
    from openue_spark.pipeline.artifacts import (
        CHECKPOINT_SCHEMA,
        read_checkpoints,
        write_checkpoint,
    )
    from openue_spark.pipeline.materialize import read_manifest
    from openue_spark.session import local_frame
    from openue_spark.sources import relations_dim

    out = str(tmp_path / "out")
    w = MockWeights(seq_cut=0.9, seq_scale=4.0, ner_cuts=np.array([1, 2, 3]))
    digest = write_checkpoint(spark, out, w, metric=None, step=3, checkpoint_id="prov")
    (row,) = read_checkpoints(spark, out).collect()
    assert row.metric is None and not (
        isinstance(row.metric, float) and math.isnan(row.metric)
    )
    assert bytes(row.blob) == pickle.dumps(w, protocol=pickle.HIGHEST_PROTOCOL)
    assert row.sha256 == digest and row.n_bytes == len(bytes(row.blob))

    frames = {
        "checkpoint row": local_frame(
            spark,
            [("x", 1, None, bytearray(b"\x00\xff"), None, 2, None)],
            CHECKPOINT_SCHEMA,
        ),
        "first-run manifest": read_manifest(spark, str(tmp_path / "fresh")),
        "relations dim": relations_dim(spark),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, f"{name}: {plan}"
        assert "LocalTableScan" in plan, f"{name}: {plan}"
    (ck,) = frames["checkpoint row"].collect()
    assert ck.metric is None and ck.sha256 is None and bytes(ck.blob) == b"\x00\xff"
    assert frames["first-run manifest"].count() == 0
