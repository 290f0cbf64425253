"""P4 end-to-end: gold `spo_list` -> token-aligned BIO NER features.

Replicates the reference's NER training-feature builder,
`convert_examples_to_ner_features` (/root/reference/src/openue/data/utils.py:387-546):

- triples grouped per (sentence, relation) — A2 (utils.py:431-443)
- tokenize the lowered text, then append the relation marker + [SEP] to the
  id sequence BEFORE any label alignment (utils.py:462-473): the haystack
  every entity is located in is `[CLS] w1..wn [SEP] <marker> [SEP]`
- locate every subject/object token subsequence with the NER-variant
  `find_word_in_texts` (utils.py:414-419): the scan BREAKS when
  i + len(needle) >= len(haystack), so a match flush with the haystack end
  is never found (the interactive variant, utils.py:564-569, uses the
  inclusive `<=` bound). Inside this builder the bug is latent — the two
  appended tail tokens keep real entities away from the end — but the
  variant is replicated exactly (tests pin both behaviors).
- label subjects first, then objects; each span writes I-* over its range
  and B-* at its start, so LATER writes overwrite earlier ones on overlap
  (utils.py:484-508). Expressed position-wise: last covering object wins,
  else last covering subject, else 'O'.
- stamp the tail AFTER entity labels: CLS at 0, SEP/Relation/SEP at the
  last three positions (utils.py:509-514) — the tail overwrites entities.
- DROP the whole (sentence, relation) group if ANY subject or object is
  unlocatable (utils.py:486-494,497-508); sentences with empty gold
  contribute nothing (P3, utils.py:368-369).

Everything is built-in array expressions — the relation fan-out is
row-local, label alignment is a position transform, word ids are
crc32-hashed in the JVM (Spark `crc32` == zlib.crc32 == tokenizer.word_id).
Zero shuffles end to end; parallelism = input partitions; SQL-expressible,
so the driver checks it against a DuckDB oracle (`p4_gold_alignment`).

Tokenizer-seam boundary: like the inference pipeline
(extract.extract_triples(tokenizer_bc=...)), every builder accepts an
injected tokenizer. The DEFAULT path (tokenizer_bc=None) keeps
tokenization as JVM column algebra (regexp_extract_all + crc32,
whole-stage codegen, DuckDB-mirrorable) — that is the oracle-checked
plan, unchanged. With tokenizer_bc set, tokenization moves into ONE
Arrow-batched mapInPandas stage (sentence + entity tokens + aligned ids
in a single pass) and everything downstream — fan-out, locate, BIO fold,
tail stamping — stays the same shared column algebra, so the reference's
one-tokenizer-for-all-stages registration (data_module.py:25-35) holds
here too: inject the same broadcast tokenizer into extraction, serving,
AND these training builders. Injecting the default WordTokenizer is
bit-identical to the column path (pinned by test — crc32 ids and the
regex agree by construction).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    CLS_ID,
    MAX_SEQ_LENGTH,
    NER_LABEL_TO_ID,
    PREDICATES,
    REL_TOKEN_BASE,
    SEP_ID,
    VOCAB_BASE,
    VOCAB_HASH_SIZE,
)

# tokenizer._TOKEN_RE over lowercased text. TOKEN_REGEX is the true pattern
# (usable verbatim in a DuckDB string literal); Spark SQL literals process
# backslash escapes, so F.expr sites embed TOKEN_REGEX_SQL instead.
TOKEN_REGEX = r"[a-z0-9_]+|[^a-z0-9_\s]"
TOKEN_REGEX_SQL = TOKEN_REGEX.replace("\\", "\\\\")

# words kept per sentence: max_length = MAX_SEQ_LENGTH - 2 (NER variant,
# utils.py:462-467) minus the two specials added by the tokenizer
MAX_WORDS = MAX_SEQ_LENGTH - 4


def locate_expr(hay: str, needle: str, variant: str = "ner") -> str:
    """1-based first-match position of token-array `needle` in `hay`, NULL
    if absent — as a SQL expression string over array columns.

    variant='ner'   : reference utils.py:414-419 — break at
                      i + len >= len(hay); a match ending flush with the
                      haystack end is MISSED (max start = |hay| - |needle|).
    variant='interactive': utils.py:564-569 — inclusive bound; max start =
                      |hay| - |needle| + 1 (the whole haystack is searchable).
    """
    slack = 0 if variant == "ner" else 1
    d = f"(size({hay}) - size({needle}) + {slack})"
    # First-element guard before the slice compare: the slice allocates a
    # copy of the window at EVERY scan position; guarding on
    # hay[i] == needle[1] (an O(1) compare that almost always misses)
    # makes the full slice+equality run only at first-token matches —
    # measured ~2x on the p4 builder at driver scale. `size == 0 OR ...`
    # keeps the empty-needle semantics of the bare slice compare
    # (slice(hay, i, 0) == [] is TRUE, so an empty needle locates at 1).
    return (
        f"try_element_at(filter(sequence(1, greatest({d}, 1)),"
        f" i -> i <= {d} AND (size({needle}) = 0"
        f" OR element_at({hay}, i) = element_at({needle}, 1))"
        f" AND slice({hay}, i, size({needle})) == {needle}), 1)"
    )


def _span_fold(spans: str, base: str, b_tag: str, i_tag: str) -> str:
    """Fold `spans` over a label array in LIST ORDER — the literal shape of
    the reference's write-in-order loop (each span writes I-* over its
    range then B-* at its start, later writes overwriting earlier ones).
    O(spans * len) with one array allocation per span, vs the previous
    per-position span-filter formulation whose 4 small allocations per
    position dominated the builder's runtime (measured ~2x slower)."""
    return (
        f"aggregate({spans}, {base}, (acc, sp) -> CASE WHEN sp.pos IS NULL"
        " THEN acc ELSE transform(acc, (lab, i0) -> CASE"
        f" WHEN i0 + 1 = sp.pos THEN '{b_tag}'"
        f" WHEN i0 + 1 > sp.pos AND i0 + 1 < sp.pos + sp.len THEN '{i_tag}'"
        " ELSE lab END) END)"
    )


# entity tokenize is add_special_tokens=False and unbounded (reference
# utils.py:590-593); the seam object only exposes encode(text, max_length)
# -> (ids, words), so entities pass a budget far above any entity length
# and take the words (= tokens sans specials)
_ENTITY_MAX = 1 << 20


def _tokenized_gold_arrow(
    base: DataFrame, tokenizer_bc, max_length: int
) -> DataFrame:
    """One Arrow-batched pass replacing BOTH regex tokenizations of the
    column path: sentence tokens + position-aligned ids (from the injected
    tokenizer's encode, specials stripped) and per-gold-entity token
    arrays (index-aligned with gold). Entities are memoized per batch —
    gold vocabularies repeat heavily. Output is narrow arrays only (no
    struct round-trip through pandas)."""
    id_field = base.schema["text_id"]
    prepped = base.select(
        "text_id",
        "text",
        F.expr("transform(gold, g -> g.predicate)").alias("preds"),
        F.expr("transform(gold, g -> g.subject)").alias("subjects"),
        F.expr("transform(gold, g -> g.object)").alias("objects"),
    )
    out_schema = T.StructType(
        [
            T.StructField("text_id", id_field.dataType, id_field.nullable),
            T.StructField("toks", T.ArrayType(T.StringType())),
            T.StructField("tok_ids", T.ArrayType(T.LongType())),
            T.StructField("preds", T.ArrayType(T.StringType())),
            T.StructField("h_toks", T.ArrayType(T.ArrayType(T.StringType()))),
            T.StructField("t_toks", T.ArrayType(T.ArrayType(T.StringType()))),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = tokenizer_bc.value.encode
        ent_cache: dict[str, list[str]] = {}

        def ent(s: str) -> list[str]:
            v = ent_cache.get(s)
            if v is None:
                v = enc(s, _ENTITY_MAX)[1]
                ent_cache[s] = v
            return v

        for pdf in batches:
            toks_col, ids_col, h_col, t_col = [], [], [], []
            for text, subs, objs in zip(
                pdf["text"], pdf["subjects"], pdf["objects"]
            ):
                ids, words = enc(text, max_length)
                toks_col.append(list(words))
                ids_col.append([int(i) for i in ids[1:-1]])
                h_col.append([ent(s) for s in subs])
                t_col.append([ent(o) for o in objs])
            yield pd.DataFrame(
                {
                    "text_id": pdf["text_id"],
                    "toks": toks_col,
                    "tok_ids": ids_col,
                    "preds": pdf["preds"],
                    "h_toks": h_col,
                    "t_toks": t_col,
                }
            )

    return prepped.mapInPandas(fn, schema=out_schema)


def _locate_and_label(grouped: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Shared NER tail over a (text_id, pred, hay, subj_toks, obj_toks
    [, *extra]) frame: materialization barrier -> locate (NER variant) ->
    unlocatable-group drop -> BIO span fold -> tail stamping. Both the
    column-algebra and the injected-tokenizer paths converge here, so the
    reference write-order semantics can never fork between them."""
    # Materialization barrier. Without it, CollapseProject inlines the
    # hay/needle-building expressions INTO the locate lambdas below, where
    # they are re-evaluated on every scan position of every needle —
    # measured 12.3 s vs 0.9 s for the survivor filter at sf0.1 (14x). A
    # lazy localCheckpoint stores the computed columns once per row so the
    # lambdas read bound values; at production scale the equivalent is
    # writing this stage to a table (the materialize.py pattern).
    # (Streaming corpora skip the barrier — localCheckpoint is illegal
    # there; apply the builder inside foreachBatch to keep it.)
    if not grouped.isStreaming:
        grouped = grouped.localCheckpoint(eager=False)
    loc = lambda arr: (  # noqa: E731 — span structs for every entity in arr
        f"transform({arr}, s -> struct({locate_expr('hay', 's', 'ner')} AS pos,"
        f" size(s) AS len))"
    )
    located = grouped.select(
        "text_id",
        "pred",
        "hay",
        *extra,
        F.expr(loc("subj_toks")).alias("sub_locs"),
        F.expr(loc("obj_toks")).alias("obj_locs"),
    )
    # Second barrier: the survivor Filter AND the label-fold Project both
    # consume sub_locs/obj_locs; without it CollapseProject inlines the
    # full locate scan into BOTH (verified in the executed plan — the
    # filter condition and the projection each carried the whole
    # filter(sequence(...)) locate tree), so every surviving row paid the
    # scan twice. Storing the tiny span structs runs the locate exactly
    # once; measured 12.8 -> ~8 s on the driver-scale bench.
    if not located.isStreaming:
        located = located.localCheckpoint(eager=False)
    # P4 drop: any unlocatable subject or object kills the whole group
    survivors = located.where(
        ~F.expr("exists(sub_locs, x -> x.pos IS NULL)")
        & ~F.expr("exists(obj_locs, x -> x.pos IS NULL)")
    )
    # subjects fold first, objects second, tail stamps last — the exact
    # write order of the reference loop (utils.py:484-514)
    entity_labels = _span_fold(
        "obj_locs",
        _span_fold(
            "sub_locs",
            "transform(hay, w -> 'O')",
            "B-SUB",
            "I-SUB",
        ),
        "B-OBJ",
        "I-OBJ",
    )
    return survivors.withColumn(
        "labels",
        F.expr(
            f"transform({entity_labels}, (lab, i0) -> CASE"
            " WHEN i0 = 0 THEN 'CLS'"
            " WHEN i0 = size(hay) - 1 THEN 'SEP'"
            " WHEN i0 = size(hay) - 2 THEN 'Relation'"
            " WHEN i0 = size(hay) - 3 THEN 'SEP'"
            " ELSE lab END)"
        ),
    )


def _marker_map_sql() -> str:
    return ", ".join(
        f"'[{p}]', {REL_TOKEN_BASE + i}" for i, p in enumerate(PREDICATES)
    )


def _label_map_sql() -> str:
    return ", ".join(f"'{k}', {v}" for k, v in NER_LABEL_TO_ID.items())


def build_gold_ner_features(corpus: DataFrame, tokenizer_bc=None) -> DataFrame:
    """(text_id, text, gold array<struct<subject,predicate,object>>) ->
    one row per surviving (text_id, predicate) group:
    (text_id, pred, hay, labels, input_ids, label_ids).

    A pre-tokenized `toks` column (array<string>, already lowercased and
    truncated) is honored as-is — same convention as ops.dedup._corpus —
    so callers that tokenize for their own purposes don't pay the regex
    pass twice. Entities are always re-tokenized from their strings.

    `tokenizer_bc`: optional ``sc.broadcast(tokenizer)`` with
    ``encode(text, max_length) -> (ids, words)`` — the same seam object
    extraction and serving take, so one registered tokenizer covers every
    stage like the reference's (data_module.py:25-35). Sentence ids come
    from the tokenizer's encode (specials re-stamped around them); marker
    and special ids stay config-assigned ([relationK] analogues at
    REL_TOKEN_BASE + k, matching the U4 splice in extract._fused_extract_fn),
    since the seam contract doesn't expose added-token ids. Injecting
    WordTokenizer is bit-identical to the default column path (pinned by
    test); `toks` is ignored on this path (those tokens came from the
    word-level regex).
    """
    base = corpus.where(F.size("gold") > 0)
    if tokenizer_bc is not None:
        return _gold_ner_features_seam(base, tokenizer_bc)
    if "toks" in base.columns:
        toks = base.select(
            "text_id", "gold", F.expr(f"slice(toks, 1, {MAX_WORDS})").alias("toks")
        )
    else:
        toks = base.select(
            "text_id",
            "gold",
            F.expr(
                f"slice(regexp_extract_all(lower(text), '{TOKEN_REGEX_SQL}', 0), 1, {MAX_WORDS})"
            ).alias("toks"),
        )
    fanned = toks.select(
        "text_id",
        "toks",
        "gold",
        F.explode(F.expr("array_distinct(transform(gold, g -> g.predicate))")).alias(
            "pred"
        ),
    )
    grouped = fanned.select(
        "text_id",
        "pred",
        F.expr("concat(array('[CLS]'), toks, array('[SEP]', concat('[', pred, ']'), '[SEP]'))").alias(
            "hay"
        ),
        F.expr(
            "transform(filter(gold, g -> g.predicate = pred),"
            f" g -> regexp_extract_all(lower(g.subject), '{TOKEN_REGEX_SQL}', 0))"
        ).alias("subj_toks"),
        F.expr(
            "transform(filter(gold, g -> g.predicate = pred),"
            f" g -> regexp_extract_all(lower(g.object), '{TOKEN_REGEX_SQL}', 0))"
        ).alias("obj_toks"),
    )
    labels = _locate_and_label(grouped)
    # word ids: JVM crc32 == zlib.crc32 == tokenizer.word_id; marker ids
    # follow config REL_TOKEN_BASE for schema predicates, hash-extended
    # deterministically for out-of-schema predicates.
    return labels.select(
        "text_id",
        "pred",
        "hay",
        "labels",
        F.expr(
            "transform(hay, w -> CASE"
            f" WHEN w = '[CLS]' THEN {CLS_ID}"
            f" WHEN w = '[SEP]' THEN {SEP_ID}"
            f" WHEN w RLIKE '^\\\\[.+\\\\]$' THEN coalesce(map({_marker_map_sql()})[w],"
            f"  {REL_TOKEN_BASE} + 1000 + pmod(crc32(w), 1000))"
            f" ELSE {VOCAB_BASE} + pmod(crc32(w), {VOCAB_HASH_SIZE}) END)"
        ).alias("input_ids"),
        F.expr(f"transform(labels, l -> map({_label_map_sql()})[l])").alias("label_ids"),
    )


def _gold_ner_features_seam(base: DataFrame, tokenizer_bc) -> DataFrame:
    """Injected-tokenizer variant of build_gold_ner_features: one Arrow
    tokenize pass, then the SAME shared column-algebra tail
    (_locate_and_label). NER token budget = MAX_SEQ_LENGTH - 2 (two marker
    slots reserved, reference utils.py:462-467), so the tokenizer keeps at
    most MAX_SEQ_LENGTH - 4 sentence tokens — the column path's MAX_WORDS.
    input_ids ride through as the tokenizer-aligned hay_ids instead of the
    crc32 transform; marker ids use the same map + hash-extension rule as
    the column path (and the U4 splice in extract._fused_extract_fn)."""
    tokenized = _tokenized_gold_arrow(base, tokenizer_bc, MAX_SEQ_LENGTH - 2)
    fanned = tokenized.select(
        "text_id",
        "toks",
        "tok_ids",
        F.expr("arrays_zip(preds, h_toks, t_toks)").alias("ents"),
        F.explode(F.expr("array_distinct(preds)")).alias("pred"),
    )
    marker_id = (
        f"coalesce(map({_marker_map_sql()})[concat('[', pred, ']')],"
        f" {REL_TOKEN_BASE} + 1000 + pmod(crc32(concat('[', pred, ']')), 1000))"
    )
    grouped = fanned.select(
        "text_id",
        "pred",
        F.expr(
            "concat(array('[CLS]'), toks, array('[SEP]', concat('[', pred, ']'), '[SEP]'))"
        ).alias("hay"),
        F.expr(
            f"concat(array(cast({CLS_ID} as bigint)), tok_ids,"
            f" array(cast({SEP_ID} as bigint), cast({marker_id} as bigint),"
            f" cast({SEP_ID} as bigint)))"
        ).alias("hay_ids"),
        F.expr("transform(filter(ents, e -> e.preds = pred), e -> e.h_toks)").alias(
            "subj_toks"
        ),
        F.expr("transform(filter(ents, e -> e.preds = pred), e -> e.t_toks)").alias(
            "obj_toks"
        ),
    )
    labels = _locate_and_label(grouped, extra=("hay_ids",))
    return labels.select(
        "text_id",
        "pred",
        "hay",
        "labels",
        F.col("hay_ids").alias("input_ids"),
        F.expr(f"transform(labels, l -> map({_label_map_sql()})[l])").alias("label_ids"),
    )


def build_seq_features(
    corpus: DataFrame,
    predicates: list[str] | None = None,
    tokenizer_bc=None,
) -> DataFrame:
    """SEQ training features: tokenized sentence + multi-hot relation label
    (reference convert_examples_to_seq_features, utils.py:335-379).

    - tokenize the lowered text with add_special_tokens=True and
      max_length = MAX_SEQ_LENGTH (the SEQ variant keeps the full budget;
      NER/interactive reserve 2 marker slots — utils.py:358-364)
    - DROP sentences with no gold triples (utils.py:368-369; the reference
      counts them as dataset errors)
    - label = one-hot sum over the gold predicates CLAMPED to {0,1}
      (utils.py:371-373: "the relation may show more than once")
    - predicates not in the schema are ignored, matching the reference's
      label2id lookup domain

    Pure column expressions; accepts a pre-tokenized `toks` column like
    build_gold_ner_features. Output: (text_id, input_ids, attention_mask,
    label_ids) with label_ids a {0,1} int array over `predicates` order.

    `tokenizer_bc`: same seam as build_gold_ner_features — the labels stay
    column algebra (they depend only on gold), tokenization moves into one
    Arrow stage at the FULL MAX_SEQ_LENGTH budget (the SEQ variant), and
    input_ids are the tokenizer's encode output verbatim (specials
    included). WordTokenizer injected == default path, bit-identical.
    """
    preds = list(PREDICATES if predicates is None else predicates)
    base = corpus.where(F.size("gold") > 0)
    pred_set_sql = "array(" + ", ".join(f"'{p}'" for p in preds) + ")"
    label_terms_sql = ", ".join(
        f"CASE WHEN exists(gold, g -> g.predicate = '{p}') THEN 1 ELSE 0 END"
        for p in preds
    )
    n_schema_sql = (
        f"size(filter(transform(gold, g -> g.predicate),"
        f" p -> array_contains({pred_set_sql}, p)))"
    )
    if tokenizer_bc is not None:
        id_field = base.schema["text_id"]
        prepped = base.select(
            "text_id",
            "text",
            F.expr(f"array({label_terms_sql})").alias("label_ids"),
            F.expr(n_schema_sql).alias("n_schema_triples"),
        )
        out_schema = T.StructType(
            [
                T.StructField("text_id", id_field.dataType, id_field.nullable),
                T.StructField("input_ids", T.ArrayType(T.LongType())),
                T.StructField("attention_mask", T.ArrayType(T.IntegerType())),
                T.StructField("label_ids", T.ArrayType(T.IntegerType())),
                T.StructField("n_schema_triples", T.IntegerType()),
            ]
        )

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            enc = tokenizer_bc.value.encode
            for pdf in batches:
                ids_col = [
                    [int(i) for i in enc(t, MAX_SEQ_LENGTH)[0]]
                    for t in pdf["text"]
                ]
                yield pd.DataFrame(
                    {
                        "text_id": pdf["text_id"],
                        "input_ids": ids_col,
                        "attention_mask": [[1] * len(ids) for ids in ids_col],
                        "label_ids": pdf["label_ids"],
                        "n_schema_triples": pdf["n_schema_triples"],
                    }
                )

        return prepped.mapInPandas(fn, schema=out_schema)
    max_words = MAX_SEQ_LENGTH - 2  # specials take 2 of max_length
    if "toks" in base.columns:
        toks = base.select(
            "text_id", "gold", F.expr(f"slice(toks, 1, {max_words})").alias("toks")
        )
    else:
        toks = base.select(
            "text_id",
            "gold",
            F.expr(
                f"slice(regexp_extract_all(lower(text), '{TOKEN_REGEX_SQL}', 0),"
                f" 1, {max_words})"
            ).alias("toks"),
        )
    return toks.select(
        "text_id",
        F.expr(
            f"concat(array({CLS_ID}),"
            f" transform(toks, w -> {VOCAB_BASE} + pmod(crc32(w), {VOCAB_HASH_SIZE})),"
            f" array({SEP_ID}))"
        ).alias("input_ids"),
        F.expr("transform(sequence(1, size(toks) + 2), p -> 1)").alias("attention_mask"),
        F.expr(f"array({label_terms_sql})").alias("label_ids"),
        F.expr(n_schema_sql).alias("n_schema_triples"),
    )


def build_interactive_features(
    corpus: DataFrame,
    predicates: list[str] | None = None,
    tokenizer_bc=None,
) -> DataFrame:
    """Interactive (eval-side) features: tokenized sentence + gold triples
    as TOKEN OFFSETS (reference convert_examples_to_interactive_features,
    utils.py:550-613).

    - tokenize with max_length = MAX_SEQ_LENGTH - 2 (same budget as NER)
    - one offset tuple [h_s, h_e, t_s, t_e, r] per gold triple IN ORDER
      (not grouped by relation), located with the INTERACTIVE variant of
      find_word_in_texts (utils.py:564-569, inclusive bound) against
      `[CLS] w1..wn [SEP]`; offsets are 0-based with exclusive end,
      exactly the reference's (i, i + len) return
    - REFERENCE QUIRK REPLICATED: the unlocatable-span drop is DEAD CODE
      there (`if None in triples` tests list-of-lists membership, never
      true — utils.py:597-600), so no sentence is ever dropped and
      unlocatable spans ride through as NULL offsets. The NER builder's
      drop (build_gold_ner_features) is real; this one is not.
    - r = rel2id[predicate]; out-of-schema predicates yield NULL r (the
      reference would raise KeyError row-side — not expressible here; the
      NULL is the documented deviation)
    - empty-gold sentences contribute nothing (no triples -> no feature
      consumer; the reference emits a features row with an empty triples
      list — preserved here as an empty array)

    Offsets compare word subsequences rather than hashed token ids; the
    two differ only under a crc32 collision inside one sentence (the
    word -> id map is a function, so id-subsequence matches are a superset
    only at collisions).

    `tokenizer_bc`: same seam as build_gold_ner_features — one Arrow
    tokenize pass (sentence + entities, NER/interactive budget), shared
    locate/offset column algebra; input_ids are the tokenizer-aligned ids
    with config specials. WordTokenizer injected == default, bit-identical.
    """
    preds = list(PREDICATES if predicates is None else predicates)
    rel_map = ", ".join(f"'{p}', {i}" for i, p in enumerate(preds))
    if tokenizer_bc is not None:
        tokenized = _tokenized_gold_arrow(corpus, tokenizer_bc, MAX_SEQ_LENGTH - 2)
        hayed = tokenized.select(
            "text_id",
            F.expr("concat(array('[CLS]'), toks, array('[SEP]'))").alias("hay"),
            F.expr(
                f"concat(array(cast({CLS_ID} as bigint)), tok_ids,"
                f" array(cast({SEP_ID} as bigint)))"
            ).alias("hay_ids"),
            F.expr(
                "transform(arrays_zip(preds, h_toks, t_toks), z -> struct("
                " z.h_toks AS h_toks, z.t_toks AS t_toks, z.preds AS pred))"
            ).alias("ents"),
        )
    else:
        if "toks" in corpus.columns:
            toks = corpus.select(
                "text_id", "gold", F.expr(f"slice(toks, 1, {MAX_WORDS})").alias("toks")
            )
        else:
            toks = corpus.select(
                "text_id",
                "gold",
                F.expr(
                    f"slice(regexp_extract_all(lower(text), '{TOKEN_REGEX_SQL}', 0), 1, {MAX_WORDS})"
                ).alias("toks"),
            )
        hayed = toks.select(
            "text_id",
            "gold",
            F.expr("concat(array('[CLS]'), toks, array('[SEP]'))").alias("hay"),
            F.expr(
                "transform(gold, g -> struct("
                f" regexp_extract_all(lower(g.subject), '{TOKEN_REGEX_SQL}', 0) AS h_toks,"
                f" regexp_extract_all(lower(g.object), '{TOKEN_REGEX_SQL}', 0) AS t_toks,"
                " g.predicate AS pred))"
            ).alias("ents"),
        )
    if not hayed.isStreaming:  # same CollapseProject barrier as the NER builder
        hayed = hayed.localCheckpoint(eager=False)
    h_pos = locate_expr("hay", "e.h_toks", "interactive")
    t_pos = locate_expr("hay", "e.t_toks", "interactive")
    input_ids = (
        F.col("hay_ids")
        if tokenizer_bc is not None
        else F.expr(
            "transform(hay, w -> CASE"
            f" WHEN w = '[CLS]' THEN {CLS_ID}"
            f" WHEN w = '[SEP]' THEN {SEP_ID}"
            f" ELSE {VOCAB_BASE} + pmod(crc32(w), {VOCAB_HASH_SIZE}) END)"
        )
    )
    return hayed.select(
        "text_id",
        input_ids.alias("input_ids"),
        F.expr("transform(hay, w -> 1)").alias("attention_mask"),
        # h_pos/t_pos are LET-BOUND once per entity via the single-element
        # transform: h_s and h_e (and t_s/t_e) each reference the same
        # locate scan, and lambda bodies get no subexpression elimination —
        # the un-bound form ran every scan twice (measured ~35% of the
        # interactive builder at driver scale).
        F.expr(
            f"transform(ents, e -> element_at(transform("
            f" array(struct({h_pos} AS hp, {t_pos} AS tp)),"
            f" lp -> struct("
            f" cast(lp.hp AS int) - 1 AS h_s,"
            f" cast(lp.hp AS int) - 1 + size(e.h_toks) AS h_e,"
            f" cast(lp.tp AS int) - 1 AS t_s,"
            f" cast(lp.tp AS int) - 1 + size(e.t_toks) AS t_e,"
            f" map({rel_map})[e.pred] AS r)), 1))"
        ).alias("triples"),
    )
