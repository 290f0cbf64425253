"""Single-process numpy reference oracle.

Replicates the *exact* dataflow semantics of the reference end-to-end
extraction (`Inference.forward`, /root/reference/src/openue/models/model.py:199-393)
using the shared deterministic mock scorers. The Spark pipeline
(openue_spark.pipeline.extract) is graded against this oracle's triples;
target P/R = 1.0 (BASELINE.md).

Semantics replicated, with reference evidence:
- lowercase + tokenize with max_length = max_seq_length-2 incl specials
  (interactive features, utils.py:579-584)
- SEQ sigmoid, strict > 0.5 threshold (model.py:227)
- zero-selected fallback: force the single *first* argmax relation
  (model.py:230-233; torch.max returns the first maximal index)
- relation-conditioned fan-out in ascending rel_id order (masked_select over
  a row-major [bsz, num_rel] index grid, model.py:241-264)
- marker splice: position rel_pos <- [relationK], rel_pos+1 <- SEP(102),
  where rel_pos = sum(attention_mask) = true token count (model.py:276-304)
- NER argmax tags (model.py:319-321)
- suffix slice: keep positions [0 : rel_pos-1] of both tags and ids
  (model.py:322-335) — i.e. [CLS] w1..wn, dropping the original [SEP]
- BIO decode `normal_process` (model.py:395-421): a span opens at B-SUB/B-OBJ
  only when no span is open, closes ONLY on an exact 'O' (consuming any
  intervening tags, including further B-*), and a span still open when the
  slice ends is dropped; I-* without a preceding B-* never opens
- subject x object cartesian per (sentence, relation); emit only when both
  sides are non-empty (model.py:358-387)

Output triples are strings: a span [s, e) over the sliced sequence maps to
words s-1..e-2 (position 0 is [CLS], rendered literally as '[CLS]'), joined
by single spaces. Both the oracle and the Spark pipeline use this exact
mapping, so string comparison is equivalent to the reference's token-id
comparison (transformer.py:183-215).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .config import (
    ID2REL,
    MAX_SEQ_LENGTH,
    NER_LABELS,
    NUM_RELATIONS,
    REL_TOKEN_BASE,
    SEP_ID,
    SIGMOID_THRESHOLD,
)
from .mock_models import ner_tags, seq_probs
from .tokenizer import encode


@dataclass(frozen=True)
class Triple:
    conv_id: str
    turn_idx: int
    subj: str
    rel_id: int
    pred: str
    obj: str


def bio_decode_spans(tags: list[str]) -> tuple[list[tuple[int, int]], list[tuple[int, int]]]:
    """`normal_process` semantics (model.py:395-421) returning [s, e) spans."""
    start: int | None = None
    indicator = ""
    subjects: list[tuple[int, int]] = []
    objects: list[tuple[int, int]] = []
    for index, t in enumerate(tags):
        if start is None:
            if t == "B-SUB":
                start, indicator = index, "subject"
            elif t == "B-OBJ":
                start, indicator = index, "object"
        else:
            if t == "O":
                (subjects if indicator == "subject" else objects).append((start, index))
                start = None
    # a span still open at the end of the slice is dropped (reference loop
    # never flushes after iteration)
    return subjects, objects


def span_text(span: tuple[int, int], words: list[str]) -> str:
    """Map a [s, e) span over the sliced sequence to a surface string."""
    toks = ["[CLS]" if p == 0 else words[p - 1] for p in range(span[0], span[1])]
    return " ".join(toks)


def extract_turn(
    text: str,
    num_relations: int = NUM_RELATIONS,
    max_seq_length: int = MAX_SEQ_LENGTH,
    encode_fn=None,
    model=None,
) -> list[tuple[int, str, str]]:
    """Full reference pipeline on one sentence -> [(rel_id, subj, obj), ...].

    Batching in the reference is semantically inert for inference (the mock
    scorers are per-sentence deterministic and padding is masked), so the
    oracle runs sentence-at-a-time. `encode_fn` is the tokenizer seam
    (``(text, max_length) -> (ids, words)``; None = built-in word-level)
    — mirror of the pipeline's `tokenizer_bc` so parity can be asserted
    under any injected tokenizer. `model` is the weights seam: an object
    with ``seq_probs_batch``/``ner_tags_batch`` (see hf_models), called on
    the 1-row uint64 id matrix; None = the built-in mock scorers.
    """
    ids, words = (encode_fn or encode)(text, max_seq_length - 2)
    if model is None:
        probs = seq_probs(np.asarray(ids, dtype=np.int64), num_relations)
    else:
        probs = model.seq_probs_batch(np.asarray([ids], dtype=np.uint64))[0]
    selected = probs > SIGMOID_THRESHOLD
    if not selected.any():
        selected[int(np.argmax(probs))] = True  # first max index (torch.max)

    rel_pos = len(ids)  # sum(attention_mask): true token count incl CLS/SEP
    out: list[tuple[int, str, str]] = []
    for k in np.nonzero(selected)[0]:
        k = int(k)
        spliced = ids + [REL_TOKEN_BASE + k, SEP_ID]
        if model is None:
            tags = ner_tags(np.asarray(spliced, dtype=np.int64), k)
        else:
            tags = model.ner_tags_batch(
                np.asarray([spliced], dtype=np.uint64), np.array([k])
            )[0]
        tag_strs = [NER_LABELS[t] for t in tags[: rel_pos - 1]]
        subjects, objects = bio_decode_spans(tag_strs)
        if subjects and objects:
            for hs in subjects:
                for ts in objects:
                    out.append((k, span_text(hs, words), span_text(ts, words)))
    return out


def extract_corpus(
    rows: list[tuple[str, int, str]], encode_fn=None, model=None
) -> list[Triple]:
    """rows: (conv_id, turn_idx, text) -> reference triples (with duplicates,
    as the reference emits them; dedup is a separate downstream stage).
    `encode_fn` and `model` as in `extract_turn`."""
    triples: list[Triple] = []
    for conv_id, turn_idx, text in rows:
        for rel_id, subj, obj in extract_turn(text, encode_fn=encode_fn, model=model):
            triples.append(Triple(conv_id, turn_idx, subj, rel_id, ID2REL[rel_id], obj))
    return triples
