"""Triple parity: Spark pipeline vs the single-process reference oracle.

This is the BASELINE.md correctness gate: P/R target 1.0 (>= 0.95 required)
with the shared deterministic mock scorers, computed with the exact-match
semantics of reference transformer.py:183-215 (multiset containment — we
assert full multiset equality, which is strictly stronger).
"""

from collections import Counter

import pytest

from openue_spark.fixtures import transcripts_pandas
from openue_spark.oracle import extract_corpus
from openue_spark.pipeline import extract_triples


@pytest.fixture(scope="module")
def fixture_turns():
    return transcripts_pandas(400)


def _oracle_multiset(pdf):
    rows = list(zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]))
    return Counter(
        (t.conv_id, int(t.turn_idx), t.subj, int(t.rel_id), t.pred, t.obj)
        for t in extract_corpus(rows)
    )


def test_spark_matches_oracle_exactly(spark, fixture_turns):
    gold = _oracle_multiset(fixture_turns)
    assert sum(gold.values()) > 50, "fixture too sparse to be a meaningful gate"

    df = spark.createDataFrame(fixture_turns)
    got_rows = extract_triples(df).collect()
    got = Counter(
        (r.conv_id, int(r.turn_idx), r.subj, int(r.rel_id), r.pred, r.obj) for r in got_rows
    )

    inter = sum((got & gold).values())
    pre = sum(got.values())
    tru = sum(gold.values())
    precision = inter / pre if pre else 0.0
    recall = inter / tru if tru else 0.0
    assert precision == 1.0 and recall == 1.0, (
        f"P={precision:.4f} R={recall:.4f} pre={pre} true={tru} cor={inter}; "
        f"sample spark-only: {list((got - gold).keys())[:3]}; "
        f"sample oracle-only: {list((gold - got).keys())[:3]}"
    )


def test_pipeline_partitioning_invariance(spark, fixture_turns):
    """Same triples regardless of input partitioning (scale invariant)."""
    df1 = spark.createDataFrame(fixture_turns).repartition(1)
    df7 = spark.createDataFrame(fixture_turns).repartition(7)
    c1 = Counter(tuple(r) for r in extract_triples(df1).collect())
    c7 = Counter(tuple(r) for r in extract_triples(df7).collect())
    assert c1 == c7


def test_micro_prf_module_is_exact_on_parity(spark, fixture_turns):
    """Distributed micro P/R/F1 (pipeline.evaluate) vs the oracle's golden
    triples must be a perfect 1.0 — same assertion as the set-based parity
    test, via the reusable one-shuffle evaluation op."""
    import dataclasses

    from openue_spark.oracle import extract_corpus
    from openue_spark.pipeline import extract_triples, micro_prf

    rows = list(zip(fixture_turns["conv_id"], fixture_turns["turn_idx"].astype(int), fixture_turns["text"]))
    sdf = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    predicted = extract_triples(sdf)
    golden = spark.createDataFrame(
        [dataclasses.astuple(t) for t in extract_corpus(rows)],
        "conv_id string, turn_idx int, subj string, rel_id int, pred string, obj string",
    )
    m = micro_prf(predicted, golden)
    assert m["precision"] == 1.0 and m["recall"] == 1.0 and m["f1"] == 1.0
    assert m["pre_cnt"] == m["true_cnt"] == m["cor_cnt"] > 0


def test_per_predicate_prf_sums_to_micro(spark, fixture_turns):
    import dataclasses

    from pyspark.sql import functions as F

    from openue_spark.oracle import extract_corpus
    from openue_spark.pipeline import extract_triples, micro_prf, per_predicate_prf

    rows = list(zip(fixture_turns["conv_id"], fixture_turns["turn_idx"].astype(int), fixture_turns["text"]))
    sdf = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    predicted = extract_triples(sdf)
    golden = spark.createDataFrame(
        [dataclasses.astuple(t) for t in extract_corpus(rows)],
        "conv_id string, turn_idx int, subj string, rel_id int, pred string, obj string",
    )
    per_pred = per_predicate_prf(predicted, golden)
    tot = per_pred.agg(
        F.sum("pre_cnt").alias("p"), F.sum("true_cnt").alias("t"), F.sum("cor_cnt").alias("c")
    ).collect()[0]
    m = micro_prf(predicted, golden)
    assert (int(tot.p), int(tot.t), int(tot.c)) == (m["pre_cnt"], m["true_cnt"], m["cor_cnt"])
    assert per_pred.where((F.col("f1") < 0) | (F.col("f1") > 1)).count() == 0


def test_micro_prf_counts_with_multiplicity(spark):
    """Reference A4 counts with multiplicity (transformer.py:197-203):
    a duplicated predicted triple found in gold adds its full multiplicity
    to both pre and cor; gold duplicates add to true."""
    schema = "conv_id string, turn_idx int, subj string, pred string, obj string"
    k1 = ("c", 0, "a", "p", "b")
    k2 = ("c", 0, "x", "p", "y")
    k3 = ("c", 1, "m", "q", "n")
    predicted = spark.createDataFrame([k1, k1, k2], schema)
    gold = spark.createDataFrame([k1, k3, k3], schema)

    from openue_spark.pipeline import micro_prf

    m = micro_prf(predicted, gold)
    assert (m["pre_cnt"], m["true_cnt"], m["cor_cnt"]) == (3, 3, 2)
    assert m["precision"] == pytest.approx(2 / 3)
    assert m["recall"] == pytest.approx(2 / 3)


def test_broadcast_weights_seam(spark, fixture_turns):
    """extract_triples with an explicitly broadcast MockWeights bundle must
    equal the default path bit-for-bit (the real-weights deployment seam),
    and a CHANGED bundle must actually change behavior (the broadcast is
    really consumed on executors, not ignored)."""
    import numpy as np

    from openue_spark.mock_models import MockWeights
    from openue_spark.pipeline import extract_triples

    rows = list(zip(fixture_turns["conv_id"], fixture_turns["turn_idx"].astype(int), fixture_turns["text"]))
    sdf = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    bc = spark.sparkContext.broadcast(MockWeights.default())
    base = sorted(tuple(r) for r in extract_triples(sdf).collect())
    with_bc = sorted(tuple(r) for r in extract_triples(sdf, weights_bc=bc).collect())
    assert base == with_bc and len(base) > 0

    # more permissive threshold -> more relations selected -> more triples
    permissive = MockWeights(seq_cut=0.80, seq_scale=8.0, ner_cuts=np.array(
        [720, 790, 840, 910, 960, 980, 990, 1000]))
    bc2 = spark.sparkContext.broadcast(permissive)
    changed = extract_triples(sdf, weights_bc=bc2).count()
    assert changed > len(base)


def test_threshold_sweep_hand_case(spark):
    """scores (0.2,g) (0.4,-) (0.6,g) (0.8,g): at t=0.5 -> pre=2 cor=2
    true=3 (P=1, R=2/3); at t=0.3 -> pre=3 cor=2 (P=2/3); empty input
    degrades to zero counts, not NULLs."""
    from pyspark.sql import functions as F  # noqa: F401

    from openue_spark.pipeline.evaluate import threshold_sweep

    rows = [(0.2, 1), (0.4, 0), (0.6, 1), (0.8, 1)]
    df = spark.createDataFrame(rows, "score double, is_gold int")
    out = {r.threshold: r for r in threshold_sweep(df, [0.3, 0.5]).collect()}
    assert (out[0.5].pre_cnt, out[0.5].cor_cnt, out[0.5].true_cnt) == (2, 2, 3)
    assert abs(out[0.5].precision - 1.0) < 1e-12
    assert abs(out[0.5].recall - 2 / 3) < 1e-12
    assert (out[0.3].pre_cnt, out[0.3].cor_cnt) == (3, 2)

    empty = spark.createDataFrame([], "score double, is_gold int")
    e = threshold_sweep(empty, [0.5]).collect()[0]
    assert (e.pre_cnt, e.true_cnt, e.cor_cnt, e.precision) == (0, 0, 0, 0.0)


def test_golden_fixture_is_current():
    """The checked-in golden parquet (scripts/make_golden.py) must equal the
    live oracle's output multiset over the same 2000-turn window — a stale
    fixture would silently weaken the extract_diff_vs_golden driver row
    (no Spark needed: this pins fixture <-> oracle; the parity tests above
    pin oracle <-> pipeline)."""
    import os

    import pandas as pd

    from openue_spark.contract import _GOLDEN_TURNS, _golden_path

    golden = pd.read_parquet(_golden_path())
    assert os.path.basename(_golden_path()) == f"golden_triples_{_GOLDEN_TURNS}.parquet"
    turns = transcripts_pandas(_GOLDEN_TURNS)
    rows = list(zip(turns["conv_id"], turns["turn_idx"], turns["text"]))
    fresh = Counter(
        (t.conv_id, int(t.turn_idx), t.subj, int(t.rel_id), t.pred, t.obj)
        for t in extract_corpus(rows)
    )
    stored = Counter(
        (r.conv_id, int(r.turn_idx), r.subj, int(r.rel_id), r.pred, r.obj)
        for r in golden.itertuples(index=False)
    )
    assert fresh == stored and sum(stored.values()) > 1000


def test_tokenizer_seam_parity(spark, fixture_turns):
    """Pipeline == oracle under an INJECTED non-trivial subword tokenizer
    (the seam the reference fills with bert-base-chinese,
    data_module.py:25-35): both sides get tokenizer.SubwordTokenizer via
    their respective seams (broadcast / encode_fn), and the result must
    stay an exact multiset match — proving the tokenize -> splice ->
    decode chain has no hidden dependence on the built-in word tokenizer.
    The injected run must also DIFFER from the word-level run (a seam that
    changes nothing proves nothing)."""
    from openue_spark.tokenizer import SubwordTokenizer

    tok = SubwordTokenizer()
    sub = fixture_turns.head(120)
    rows = list(zip(sub["conv_id"], sub["turn_idx"], sub["text"]))
    gold = Counter(
        (t.conv_id, int(t.turn_idx), t.subj, int(t.rel_id), t.pred, t.obj)
        for t in extract_corpus(rows, encode_fn=tok.encode)
    )
    assert sum(gold.values()) > 20, "subword fixture too sparse to be meaningful"

    df = spark.createDataFrame(sub)
    bc = spark.sparkContext.broadcast(tok)
    got = Counter(
        (r.conv_id, int(r.turn_idx), r.subj, int(r.rel_id), r.pred, r.obj)
        for r in extract_triples(df, tokenizer_bc=bc).collect()
    )
    assert got == gold

    word_level = Counter(
        (r.conv_id, int(r.turn_idx), r.subj, int(r.rel_id), r.pred, r.obj)
        for r in extract_triples(df).collect()
    )
    assert word_level != got


def _vocab_path() -> str:
    import os

    import openue_spark

    return os.path.join(
        os.path.dirname(os.path.abspath(openue_spark.__file__)),
        "golden",
        "vocab_wordpiece.txt",
    )


def test_vocab_file_tokenizer_parity(spark, fixture_turns):
    """Pipeline == oracle under a vocab-FILE-loaded real WordPiece
    tokenizer (VERDICT r3 item 6: prove the seam on the deployment shape —
    greedy longest-match over a one-piece-per-line vocab file, the format
    of every released bert-* vocab.txt). The checked-in fixture vocab is
    frequency-truncated, so some words split into multi-piece sequences
    and some become [UNK] — the run must both match the oracle exactly and
    differ from the word-level default."""
    from openue_spark.tokenizer import VocabWordPieceTokenizer

    tok = VocabWordPieceTokenizer.from_file(_vocab_path())
    sub = fixture_turns.head(120)
    rows = list(zip(sub["conv_id"], sub["turn_idx"], sub["text"]))
    gold = Counter(
        (t.conv_id, int(t.turn_idx), t.subj, int(t.rel_id), t.pred, t.obj)
        for t in extract_corpus(rows, encode_fn=tok.encode)
    )
    assert sum(gold.values()) > 20, "vocab fixture too sparse to be meaningful"

    df = spark.createDataFrame(sub)
    bc = spark.sparkContext.broadcast(tok)
    got = Counter(
        (r.conv_id, int(r.turn_idx), r.subj, int(r.rel_id), r.pred, r.obj)
        for r in extract_triples(df, tokenizer_bc=bc).collect()
    )
    assert got == gold

    word_level = Counter(
        (r.conv_id, int(r.turn_idx), r.subj, int(r.rel_id), r.pred, r.obj)
        for r in extract_triples(df).collect()
    )
    assert word_level != got


def test_vocab_file_is_current():
    """The checked-in vocab file must equal a fresh deterministic rebuild
    (same pin discipline as the golden parquet): catches silent drift
    between scripts/make_vocab.py and the artifact."""
    import importlib.util
    import os

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "make_vocab.py",
    )
    spec = importlib.util.spec_from_file_location("make_vocab", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(_vocab_path(), encoding="utf-8") as f:
        stored = [ln.rstrip("\n") for ln in f if ln.strip()]
    assert mod.build_vocab() == stored


def test_vocab_file_wordpiece_semantics():
    """The matcher implements BERT WordPiece exactly: longest-match-first,
    '##' continuations, whole-word [UNK] on any unmatchable tail."""
    from openue_spark.tokenizer import VocabWordPieceTokenizer

    tok = VocabWordPieceTokenizer(
        ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "un", "##able", "##abl",
         "able", "a", "##a", "##b"]
    )
    assert tok.wordpiece("unable") == ["un", "##able"]  # longest, not ##abl
    assert tok.wordpiece("able") == ["able"]  # initial form preferred
    assert tok.wordpiece("aab") == ["a", "##a", "##b"]
    assert tok.wordpiece("unz") == ["[UNK]"]  # unmatchable tail -> whole UNK
    assert tok.wordpiece("x" * 101) == ["[UNK]"]  # max_input_chars_per_word


def test_adversarial_texts_parity_and_empty_input(spark):
    """Edge-of-input probes through the REAL pipeline vs the oracle: empty
    text, whitespace-only, unicode/emoji/CJK, a 10k-char single token, a
    5k-token sentence (truncation bound), punctuation-only. The pipeline
    must match the oracle EXACTLY on every one, and an empty input
    DataFrame must yield an empty result with the exact triple schema."""
    texts = [
        "",
        "   \t  \n ",
        "café naïve über straße",
        "\U0001f600 \U0001f680 hello \U0001f409",
        "北京 是 中国 的 首都",
        "x" * 10_000,
        " ".join(f"tok{i}" for i in range(5_000)),
        "... !!! ??? ;;; ,,,",
        "ent001 ent002 ent003",
    ]
    rows = [(f"adv-{i}", i, t) for i, t in enumerate(texts)]
    gold = Counter(
        (t.conv_id, int(t.turn_idx), t.subj, int(t.rel_id), t.pred, t.obj)
        for t in extract_corpus(rows)
    )
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = Counter(
        (r.conv_id, int(r.turn_idx), r.subj, int(r.rel_id), r.pred, r.obj)
        for r in extract_triples(df).collect()
    )
    assert got == gold, "pipeline diverged on adversarial inputs"

    empty = spark.createDataFrame([], "conv_id string, turn_idx int, text string")
    out = extract_triples(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "conv_id", "turn_idx", "subj", "rel_id", "pred", "obj",
    ]
