"""Real-model adapters for the extraction weights seam.

The extractor resolves its forwards through
``pipeline.extract._forwards``: any broadcast object exposing

    seq_probs_batch(padded_ids: (n, L) uint64)            -> (n, R) float64
    ner_tags_batch(padded_ids: (n, L) uint64, rel_ids)    -> (n, L) int64

IS the model (zero-padded id matrices, pad id 0). This module ships the two
production-shaped implementations of that contract — proving the seam
carries real weights, not just the deterministic mocks:

- ``NumpyBagModel``: a torch-free scorer over EXPORTED weight arrays —
  an embedding table plus linear SEQ/NER heads held as plain numpy.
  This is the "ship the distilled/exported state_dict, not the framework"
  deployment: executors need numpy only, the broadcast is a handful of
  ndarrays, and the forward is two matmuls per batch. Exercised
  end-to-end in Spark by tests/test_model_seam.py at every run.
- ``HFTransformerWeights``: a broadcastable bundle of real HuggingFace
  BERT checkpoints (reference models/model.py:10-57 relation classifier +
  :64-128 NER tagger). The bundle pickles as (config dict, numpy
  state_dict) — exactly what broadcasting a fine-tuned model looks like —
  and lazily rebuilds the torch modules once per Python worker on first
  forward. torch/transformers are imported INSIDE the forwards, never at
  module import, so this file is always importable; the matching test is
  importorskip-gated and runs wherever those libraries exist.

Relation conditioning mirrors the reference's interaction scheme: the NER
input is the U4-spliced sequence (the relation marker token is already in
the ids), and both adapters additionally receive rel_ids so models without
cross-token attention (NumpyBagModel) can condition directly.

Token-id domain: the pipeline's default word tokenizer emits 64-bit hash
ids; finite-vocab models fold them with ``ids % vocab_size`` (stable,
documented). With a real WordPiece tokenizer riding the tokenizer seam
(tokenizer.VocabWordPieceTokenizer), ids are already dense vocab indices
and the fold is the identity for in-vocab ids.
"""

from __future__ import annotations

import numpy as np

from .config import NER_LABELS, NUM_RELATIONS


def _fold_ids(padded: np.ndarray, vocab_size: int) -> np.ndarray:
    """Map arbitrary uint64 token ids into a finite vocab (pad 0 -> 0)."""
    return (np.asarray(padded, dtype=np.uint64) % np.uint64(vocab_size)).astype(
        np.int64
    )


class NumpyBagModel:
    """Torch-free exported-weights scorer implementing the model seam.

    SEQ head: mean-pooled embedding bag over non-pad tokens -> sigmoid
    linear head over NUM_RELATIONS. NER head: per-token embedding plus a
    relation embedding -> argmax linear head over the 8 BIO tags. All
    parameters are plain float64 ndarrays, so the object broadcasts like
    a state_dict and runs wherever numpy exists.
    """

    def __init__(
        self,
        emb: np.ndarray,        # (vocab, d) token embeddings
        rel_emb: np.ndarray,    # (NUM_RELATIONS, d) relation conditioning
        w_seq: np.ndarray,      # (d, NUM_RELATIONS)
        b_seq: np.ndarray,      # (NUM_RELATIONS,)
        w_ner: np.ndarray,      # (d, n_tags)
        b_ner: np.ndarray,      # (n_tags,)
    ):
        self.emb = np.asarray(emb, dtype=np.float64)
        self.rel_emb = np.asarray(rel_emb, dtype=np.float64)
        self.w_seq = np.asarray(w_seq, dtype=np.float64)
        self.b_seq = np.asarray(b_seq, dtype=np.float64)
        self.w_ner = np.asarray(w_ner, dtype=np.float64)
        self.b_ner = np.asarray(b_ner, dtype=np.float64)

    @property
    def vocab_size(self) -> int:
        return self.emb.shape[0]

    @staticmethod
    def tiny_random(
        seed: int = 0, vocab_size: int = 257, dim: int = 16
    ) -> "NumpyBagModel":
        """Deterministic random-weight instance (test/demo model)."""
        rng = np.random.default_rng(seed)
        n_tags = len(NER_LABELS)
        return NumpyBagModel(
            emb=rng.standard_normal((vocab_size, dim)),
            rel_emb=rng.standard_normal((NUM_RELATIONS, dim)),
            w_seq=rng.standard_normal((dim, NUM_RELATIONS)),
            b_seq=rng.standard_normal(NUM_RELATIONS),
            w_ner=rng.standard_normal((dim, n_tags)),
            b_ner=rng.standard_normal(n_tags),
        )

    def seq_probs_batch(self, padded: np.ndarray) -> np.ndarray:
        padded = np.asarray(padded, dtype=np.uint64)
        n, length = padded.shape if padded.ndim == 2 else (len(padded), 0)
        if length == 0:
            return np.zeros((n, self.w_seq.shape[1]), dtype=np.float64)
        ids = _fold_ids(padded, self.vocab_size)
        mask = (padded != 0).astype(np.float64)
        vecs = self.emb[ids] * mask[:, :, None]
        denom = np.maximum(mask.sum(axis=1), 1.0)[:, None]
        pooled = vecs.sum(axis=1) / denom
        logits = pooled @ self.w_seq + self.b_seq
        return 1.0 / (1.0 + np.exp(-logits))

    def ner_tags_batch(self, padded: np.ndarray, rel_ids: np.ndarray) -> np.ndarray:
        padded = np.asarray(padded, dtype=np.uint64)
        n, length = padded.shape if padded.ndim == 2 else (len(padded), 0)
        if length == 0:
            return np.zeros((n, 0), dtype=np.int64)
        ids = _fold_ids(padded, self.vocab_size)
        rel = np.asarray(rel_ids, dtype=np.int64) % self.rel_emb.shape[0]
        h = self.emb[ids] + self.rel_emb[rel][:, None, :]
        logits = h @ self.w_ner + self.b_ner
        return np.argmax(logits, axis=2).astype(np.int64)


class HFTransformerWeights:
    """Broadcastable real-transformer bundle for the extraction model seam.

    Construction captures two HuggingFace models — a sequence classifier
    with NUM_RELATIONS labels (reference BertForRelationClassification,
    models/model.py:10-57) and a token classifier with len(NER_LABELS)
    labels (BertForNER, models/model.py:64-128) — as
    (config dict, {param name: numpy array}) pairs: framework-free to
    pickle, cheap to broadcast, rebuilt into torch modules lazily once per
    Python worker. The rebuilt modules are cached on the instance, which
    pyspark's Broadcast keeps per-process.
    """

    def __init__(self, seq_config: dict, seq_state: dict, ner_config: dict, ner_state: dict):
        self.seq_config = seq_config
        self.seq_state = seq_state
        self.ner_config = ner_config
        self.ner_state = ner_state
        self._seq_model = None
        self._ner_model = None

    def __getstate__(self):
        d = dict(self.__dict__)
        d["_seq_model"] = None  # torch modules never ride the pickle
        d["_ner_model"] = None
        return d

    @staticmethod
    def from_models(seq_model, ner_model) -> "HFTransformerWeights":
        """Capture two live HF models (e.g. fine-tuned checkpoints)."""
        def dump(m):
            return (
                m.config.to_dict(),
                {k: v.detach().cpu().numpy() for k, v in m.state_dict().items()},
            )

        sc, ss = dump(seq_model)
        nc, ns = dump(ner_model)
        return HFTransformerWeights(sc, ss, nc, ns)

    @staticmethod
    def tiny_random(seed: int = 0) -> "HFTransformerWeights":
        """A tiny random-weight BERT pair (no download — config-only init):
        the smallest real-transformer instance that exercises the seam."""
        import torch
        from transformers import (
            BertConfig,
            BertForSequenceClassification,
            BertForTokenClassification,
        )

        torch.manual_seed(seed)
        base = dict(
            vocab_size=256,
            hidden_size=16,
            num_hidden_layers=1,
            num_attention_heads=2,
            intermediate_size=32,
            max_position_embeddings=512,
        )
        seq = BertForSequenceClassification(
            BertConfig(num_labels=NUM_RELATIONS, **base)
        ).eval()
        ner = BertForTokenClassification(
            BertConfig(num_labels=len(NER_LABELS), **base)
        ).eval()
        return HFTransformerWeights.from_models(seq, ner)

    def _load(self):
        import torch
        from transformers import (
            BertConfig,
            BertForSequenceClassification,
            BertForTokenClassification,
        )

        def build(cls, config, state):
            m = cls(BertConfig.from_dict(config))
            m.load_state_dict({k: torch.from_numpy(np.asarray(v)) for k, v in state.items()})
            return m.eval()

        if self._seq_model is None:
            self._seq_model = build(
                BertForSequenceClassification, self.seq_config, self.seq_state
            )
        if self._ner_model is None:
            self._ner_model = build(
                BertForTokenClassification, self.ner_config, self.ner_state
            )
        return self._seq_model, self._ner_model

    def _tensors(self, padded: np.ndarray, vocab_size: int):
        import torch

        ids = torch.from_numpy(_fold_ids(padded, vocab_size))
        mask = torch.from_numpy((np.asarray(padded, dtype=np.uint64) != 0).astype(np.int64))
        return ids, mask

    def seq_probs_batch(self, padded: np.ndarray) -> np.ndarray:
        import torch

        seq, _ = self._load()
        padded = np.asarray(padded, dtype=np.uint64)
        if padded.ndim != 2 or padded.shape[1] == 0:
            return np.zeros((len(padded), seq.config.num_labels), dtype=np.float64)
        ids, mask = self._tensors(padded, seq.config.vocab_size)
        with torch.no_grad():
            logits = seq(input_ids=ids, attention_mask=mask).logits
        # sigmoid multi-label probs (reference model.py:44-49 BCE head)
        return torch.sigmoid(logits).double().numpy()

    def ner_tags_batch(self, padded: np.ndarray, rel_ids) -> np.ndarray:
        import torch

        _, ner = self._load()
        padded = np.asarray(padded, dtype=np.uint64)
        if padded.ndim != 2 or padded.shape[1] == 0:
            return np.zeros((len(padded), 0), dtype=np.int64)
        # rel conditioning is the U4-spliced marker token already inside
        # `padded` — attention carries it to every position, exactly the
        # reference's interaction scheme (model.py:276-321); rel_ids is
        # accepted for seam-signature parity.
        ids, mask = self._tensors(padded, ner.config.vocab_size)
        with torch.no_grad():
            logits = ner(input_ids=ids, attention_mask=mask).logits
        return logits.argmax(dim=-1).long().numpy()
