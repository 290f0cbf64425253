"""Spark-native two-stage interaction extraction pipeline.

Re-expresses the reference's `Inference.forward`
(OpenUE src/openue/models/model.py:199-393) as ONE mapInPandas
pass over the transcripts (`_fused_extract_fn`): one Python runner per
task, one Arrow round-trip, tokenization shared across both model stages.
Its output is pinned to the numpy reference `oracle.extract_corpus` by
tests/test_parity.py and to the checked-in golden parquet by the contract's
extract_diff_vs_golden row.

Stage mapping inside the generator (SURVEY.md §2):

  P1/P2  lowercase + tokenize      -> per-row encode, zero-padded id matrix
  U1     SEQ relation scoring      -> one batched forward per Arrow batch
  P5/P6  threshold + argmax fallback -> boolean mask + first-argmax fill
  J1     relation-conditioned fan-out -> np.nonzero over the mask (row-major,
         ascending rel order like the reference's masked_select,
         model.py:236-264)
  U4     marker splice             -> ids + [REL_BASE+rel_id, SEP]
         (model.py:276-304)
  U2/A7/W4/W3  NER forward + argmax + suffix slice + BIO decode
                                   -> one batched forward + the vectorized
                                      `_decode_spans_batch`
  J3     subject x object cartesian -> per fan-out row, both sides non-empty
  A3     per-sentence regroup      -> unnecessary: conv_id/turn_idx are
         carried through the fan-out (the reference's prefix-sum slicing,
         model.py:337-346, is a batch-tensor artifact)

Scale notes (100 TB / 10^12 turns):
- The entire extraction plan is NARROW — zero shuffles from scan to the raw
  triple stream. Parallelism = input partitions; no skew surface.
- Model "weights" here are the deterministic mock scorers (module-level
  constants, imported once per Python worker). With real weights, swap in a
  broadcast blob + module-global lazy init inside the same mapInPandas
  generator; the plan shape does not change.
- The only shuffles in the full job are the final dedup/groupBys in
  materialize.py, where skew salting + AQE apply.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    MAX_SEQ_LENGTH,
    NER_LABELS,
    PREDICATES,
    REL_TOKEN_BASE,
    SEP_ID,
    SIGMOID_THRESHOLD,
)
from ..hashing import poly_hash_batch
from ..mock_models import ner_tags_batch, seq_probs_batch
from ..oracle import span_text
from ..tokenizer import encode

def _forwards(weights):
    """Resolve the (seq, ner) batch forwards for a broadcast weights object.

    Duck-typed model seam (the production drop-in point for real
    transformers): an object exposing ``seq_probs_batch(padded_ids) ->
    (n, R) float probs`` and ``ner_tags_batch(padded_ids, rel_ids) ->
    (n, L) int tags`` IS the model — e.g. hf_models.HFTransformerWeights
    wrapping a real HF BERT state_dict (reference models/model.py:10-128);
    zero-padded uint64 id matrices are the batch contract either way. A
    plain MockWeights bundle (or None) routes to the built-in
    deterministic scorers parameterized by it, keeping every existing
    result bit-identical.
    """
    seq_fwd = getattr(weights, "seq_probs_batch", None)
    ner_fwd = getattr(weights, "ner_tags_batch", None)
    if seq_fwd is None:
        def seq_fwd(padded):
            return seq_probs_batch(poly_hash_batch(padded), weights=weights)
    if ner_fwd is None:
        def ner_fwd(padded, rels):
            return ner_tags_batch(padded, rels, weights=weights)
    return seq_fwd, ner_fwd


_TAG_O = NER_LABELS.index("O")
_TAG_BSUB = NER_LABELS.index("B-SUB")
_TAG_BOBJ = NER_LABELS.index("B-OBJ")


def _decode_spans_batch(tags_mat: np.ndarray, lengths: np.ndarray):
    """Vectorized W3 decode over a whole batch of tag rows.

    Equivalent reformulation of the reference scan (model.py:395-421,
    mirrored per-row in oracle.bio_decode_spans; property-tested against
    it): split each row's first `length` tags into maximal O-free segments
    (the O delimiters close spans); within a segment only the FIRST
    B-SUB/B-OBJ opens, the span runs to the closing O, and a segment that
    reaches the slice end without an O is dropped.

    Returns (rows, starts, ends, types) flat arrays in scan order.
    """
    n, length = tags_mat.shape
    if n == 0 or length == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    pos = np.arange(length, dtype=np.int64)[None, :]
    valid = pos < lengths[:, None]
    is_o = (tags_mat == _TAG_O) & valid
    seg = np.cumsum(is_o, axis=1) - is_o  # O-count strictly before each pos
    # the O at position p closes segment seg[p]; unique per (row, segment)
    close = np.full((n, length + 1), -1, dtype=np.int64)
    oi, op = np.nonzero(is_o)
    close[oi, seg[oi, op]] = op
    # first B-* per (row, segment)
    is_b = ((tags_mat == _TAG_BSUB) | (tags_mat == _TAG_BOBJ)) & valid
    first = np.full((n, length + 1), length + 1, dtype=np.int64)
    bi, bp = np.nonzero(is_b)
    np.minimum.at(first, (bi, seg[bi, bp]), bp)
    rows, segs = np.nonzero((first <= length) & (close >= 0))
    starts = first[rows, segs]
    ends = close[rows, segs]
    return rows, starts, ends, tags_mat[rows, starts]


_TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("subj", T.StringType()),
        T.StructField("rel_id", T.IntegerType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
    ]
)


def _fused_extract_fn(weights_bc=None, tokenizer_bc=None):
    """The ENTIRE two-stage interaction pipeline in ONE Arrow pass:
    tokenize -> SEQ forward -> threshold/fallback select (P5/P6) ->
    fan-out (J1) -> splice (U4) -> NER forward -> slice/decode (W4/W3) ->
    cartesian assemble (J3), emitting final triple rows.

    Why one pass rather than a relational decomposition with a second
    mapInPandas for the NER stage: one Python runner per task instead of
    two chained ones (local[K] stops driving ~2K Python workers, the
    oversubscription documented in scripts/scaling.py); one Arrow
    round-trip instead of two (no ids+text+probs out and spliced+text back
    in per fanned-out row); and stage 2 reuses stage 1's in-memory
    ids/words instead of re-tokenizing. Measured 3x faster than the
    two-pass form at sf0.1.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = weights_bc.value if weights_bc is not None else None
        seq_fwd, ner_fwd = _forwards(weights)
        enc = tokenizer_bc.value.encode if tokenizer_bc is not None else encode
        max_len = MAX_SEQ_LENGTH - 2
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {
                        "conv_id": pd.Series(dtype=object),
                        "turn_idx": pd.array([], dtype="int32"),
                        "subj": pd.Series(dtype=object),
                        "rel_id": pd.array([], dtype="int32"),
                        "pred": pd.Series(dtype=object),
                        "obj": pd.Series(dtype=object),
                    }
                )
                continue
            texts = pdf["text"].to_numpy()
            conv_arr = pdf["conv_id"].to_numpy()
            turn_arr = pdf["turn_idx"].to_numpy()
            # P1/P2/U1: tokenize once, score the whole batch
            ids_col: list[list[int]] = []
            words_col: list[list[str]] = []
            max_l = 0
            for text in texts:
                ids, words = enc(text, max_len)
                ids_col.append(ids)
                words_col.append(words)
                if len(ids) > max_l:
                    max_l = len(ids)
            padded = np.zeros((n, max_l), dtype=np.uint64)
            for i, ids in enumerate(ids_col):
                padded[i, : len(ids)] = ids
            probs = seq_fwd(padded)
            # P5 strict threshold + P6 FIRST-argmax fallback (model.py:227-233)
            selected = probs > SIGMOID_THRESHOLD
            none_sel = ~selected.any(axis=1)
            if none_sel.any():
                selected[none_sel, np.argmax(probs[none_sel], axis=1)] = True
            # J1 fan-out in ascending rel order (np.nonzero is row-major)
            rows, rels = np.nonzero(selected)
            m = len(rows)
            # U4 splice: ids + [relationK, SEP]; W4 bound = len(ids) - 1
            sp_max = max_l + 2
            sp = np.zeros((m, sp_max), dtype=np.uint64)
            lengths = np.zeros(m, dtype=np.int64)
            for j in range(m):
                ids = ids_col[rows[j]]
                li = len(ids)
                sp[j, :li] = ids
                sp[j, li] = REL_TOKEN_BASE + rels[j]
                sp[j, li + 1] = SEP_ID
                lengths[j] = li - 1
            # U2/A7 + W3 over the fan-out
            tags_mat = ner_fwd(sp, rels)
            frow, starts, ends, types = _decode_spans_batch(tags_mat, lengths)
            subj_spans: list[list[str]] = [[] for _ in range(m)]
            obj_spans: list[list[str]] = [[] for _ in range(m)]
            for r, s, e, t in zip(frow, starts, ends, types):
                words = words_col[rows[r]]
                (subj_spans if t == _TAG_BSUB else obj_spans)[r].append(
                    span_text((s, e), words)
                )
            # J3 cartesian per fan-out row, only when both sides non-empty
            out_conv: list = []
            out_turn: list = []
            out_subj: list = []
            out_rel: list = []
            out_pred: list = []
            out_obj: list = []
            for j in range(m):
                subs, objs = subj_spans[j], obj_spans[j]
                if not subs or not objs:
                    continue
                i = rows[j]
                k = int(rels[j])
                pred = PREDICATES[k]
                for s_txt in subs:
                    for o_txt in objs:
                        out_conv.append(conv_arr[i])
                        out_turn.append(turn_arr[i])
                        out_subj.append(s_txt)
                        out_rel.append(k)
                        out_pred.append(pred)
                        out_obj.append(o_txt)
            yield pd.DataFrame(
                {
                    "conv_id": out_conv,
                    "turn_idx": pd.array(out_turn, dtype="int32"),
                    "subj": out_subj,
                    "rel_id": pd.array(out_rel, dtype="int32"),
                    "pred": out_pred,
                    "obj": out_obj,
                }
            )

    return gen


def extract_triples(
    transcripts: DataFrame, weights_bc=None, tokenizer_bc=None
) -> DataFrame:
    """Full pipeline: transcripts -> raw triple stream (with duplicates).

    Narrow end-to-end and zero-shuffle; parallelism = input partitions.
    The whole chain runs in ONE mapInPandas pass (see `_fused_extract_fn`).

    `weights_bc`: optional ``sc.broadcast(MockWeights)`` — the broadcast
    model-weights seam (None uses the built-in defaults, identical output).
    `tokenizer_bc`: optional ``sc.broadcast(tokenizer)`` where the object
    exposes ``encode(text, max_length) -> (ids, words)`` — the tokenizer
    seam (None uses the built-in word-level tokenizer; a real deployment
    broadcasts its subword vocab here, reference data_module.py:25-35).
    Scoring-time truncation and decode-time span rendering share the one
    encode call, so they can never disagree.
    """
    cols = [c for c in ("conv_id", "turn_idx", "text") if c in transcripts.columns]
    return transcripts.select(*cols).mapInPandas(
        _fused_extract_fn(weights_bc, tokenizer_bc), schema=_TRIPLE_SCHEMA
    )


def inference_text(spark, text: str) -> list[dict]:
    """U5: the reference's single-sentence text API
    (lit_models/transformer.py:217-226, demo main.py:132-134) — run the
    full pipeline on a 1-row DataFrame and return
    ``[{"subject": ..., "predict": ..., "object": ...}, ...]`` dicts with
    the reference's key names. Driver convenience only — batch jobs go
    through `extract_triples`.
    """
    df = spark.createDataFrame(
        [("inference", 0, text)], "conv_id string, turn_idx int, text string"
    )
    return [
        {"subject": r.subj, "predict": r.pred, "object": r.obj}
        for r in extract_triples(df).collect()
    ]


def triple_table(raw_triples: DataFrame) -> DataFrame:
    """Deduplicated (subj, pred, obj) triple table with support counts.

    The groupBy is the pipeline's first shuffle; at 10^12-turn scale hot
    predicates skew it — materialize.write_triple_table handles salting/AQE.
    """
    return raw_triples.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("support"),
        F.countDistinct("conv_id").alias("n_convs"),
    )
