"""Model seam: real (non-mock) weights through the broadcast forwards.

The extractors resolve their forwards via pipeline.extract._forwards —
any broadcast object with seq_probs_batch/ner_tags_batch methods IS the
model. These tests prove the seam carries real weight bundles:

- NumpyBagModel (torch-free exported-weights scorer) drives the FULL
  Spark extraction in every environment, and its output matches the
  numpy reference oracle (`oracle.extract_corpus(..., model=...)`) run
  under the same model.
- HFTransformerWeights (real HuggingFace BERT pair, random tiny weights —
  no download) does the same wherever torch+transformers are importable;
  importorskip-gated otherwise. This is the U1/U2 analogue of the
  multimodal seam's real-PPM-codec proof.
"""

import os
import pickle

import numpy as np
import pytest


def _key(r):
    return (r.conv_id, int(r.turn_idx), int(r.rel_id), r.subj, r.pred, r.obj)


def _oracle_rows(pdf):
    return list(zip(pdf["conv_id"], pdf["turn_idx"].astype(int), pdf["text"]))


def _vocab_path():
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "openue_spark",
        "golden",
        "vocab_wordpiece.txt",
    )


def test_numpy_bag_model_pickles_and_scores_deterministically():
    from openue_spark.hf_models import NumpyBagModel

    m = NumpyBagModel.tiny_random(3)
    m2 = pickle.loads(pickle.dumps(m))  # the broadcast round-trip
    padded = np.array([[5, 99, 2**63 + 17, 0], [1, 2, 3, 4]], dtype=np.uint64)
    rels = np.array([1, 7])
    p1, p2 = m.seq_probs_batch(padded), m2.seq_probs_batch(padded)
    assert p1.shape == (2, p1.shape[1]) and np.array_equal(p1, p2)
    assert (p1 > 0).all() and (p1 < 1).all()
    t1, t2 = m.ner_tags_batch(padded, rels), m2.ner_tags_batch(padded, rels)
    assert t1.shape == padded.shape and np.array_equal(t1, t2)
    # relation conditioning: a different rel id may move tags
    t_other = m.ner_tags_batch(padded, np.array([2, 3]))
    assert t_other.shape == t1.shape


def test_numpy_bag_model_drives_extraction_matches_oracle(spark):
    from openue_spark.fixtures import transcripts_pandas
    from openue_spark.hf_models import NumpyBagModel
    from openue_spark.oracle import extract_corpus
    from openue_spark.pipeline.extract import extract_triples

    pdf = transcripts_pandas(300)
    turns = spark.createDataFrame(pdf)
    model = NumpyBagModel.tiny_random(7)
    model_bc = spark.sparkContext.broadcast(model)
    got = sorted(map(_key, extract_triples(turns, weights_bc=model_bc).collect()))
    want = sorted(map(_key, extract_corpus(_oracle_rows(pdf), model=model)))
    assert got == want
    assert len(got) > 0
    # the custom forward actually decided the output: default mock weights
    # extract a different triple set from the same corpus
    default = sorted(map(_key, extract_triples(turns).collect()))
    assert got != default


def test_hf_transformer_rides_the_weights_and_tokenizer_seams(spark):
    torch = pytest.importorskip("torch")
    pytest.importorskip("transformers")
    from openue_spark.fixtures import transcripts_pandas
    from openue_spark.hf_models import HFTransformerWeights, _fold_ids
    from openue_spark.oracle import extract_corpus
    from openue_spark.pipeline.extract import extract_triples
    from openue_spark.tokenizer import VocabWordPieceTokenizer

    bundle = HFTransformerWeights.tiny_random(0)

    # the adapter's forwards match the raw HF modules bit-for-bit
    padded = np.array([[3, 7, 11, 0], [2, 5, 0, 0]], dtype=np.uint64)
    seq, ner = bundle._load()
    ids = torch.from_numpy(_fold_ids(padded, seq.config.vocab_size))
    mask = torch.from_numpy((padded != 0).astype(np.int64))
    with torch.no_grad():
        want_probs = torch.sigmoid(
            seq(input_ids=ids, attention_mask=mask).logits
        ).double().numpy()
        want_tags = (
            ner(input_ids=ids, attention_mask=mask).logits.argmax(-1).long().numpy()
        )
    assert np.allclose(bundle.seq_probs_batch(padded), want_probs)
    assert np.array_equal(bundle.ner_tags_batch(padded, np.array([0, 1])), want_tags)

    # a REAL transformer + a REAL WordPiece vocab through both broadcast
    # seams, Spark extraction vs the reference oracle under the same pair
    tokenizer = VocabWordPieceTokenizer.from_file(_vocab_path())
    weights_bc = spark.sparkContext.broadcast(bundle)
    tokenizer_bc = spark.sparkContext.broadcast(tokenizer)
    pdf = transcripts_pandas(120)
    turns = spark.createDataFrame(pdf)
    got = sorted(
        map(
            _key,
            extract_triples(
                turns, weights_bc=weights_bc, tokenizer_bc=tokenizer_bc
            ).collect(),
        )
    )
    want = sorted(
        map(
            _key,
            extract_corpus(
                _oracle_rows(pdf), encode_fn=tokenizer.encode, model=bundle
            ),
        )
    )
    assert got == want
