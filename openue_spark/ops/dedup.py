"""Large-scale deduplication operators (training-data pipeline ops).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a text corpus.
Operators are built-in column expressions (JVM-side, whole-stage codegen)
except three Arrow-batched numpy kernels: the SimHash fingerprint pass
(`with_simhash`, mapInPandas, pinned bit-equal to its SQL form
`with_simhash_expr`) and the embedding near-dup verifies
(`embedding_near_dup_pairs` / `embedding_near_dup_bucketed`,
applyInPandas). Each operator has an equivalent DuckDB oracle
(openue_spark.contract) via an md5 hash mode, which both engines implement
identically:

- MinHash signature component i  = min over shingles of hash(shingle || '#i')
  (min over uniformly-distributed hash values is a valid min-hash). The
  PRODUCTION default hash is native xxhash64 (BIGINT sigs, no hex strings —
  2.8x faster signature build); `portable=True` switches the minhash family
  to md5 hex strings + md5 band hashes, the mode the DuckDB-checked
  contract rows pin (engine portability is an oracle requirement, not an
  LSH one — candidate statistics are identical and verification is exact
  either way).
- SimHash (64-bit) token value  = first 16 hex chars of md5(token); bit k of
  the fingerprint = sign of sum over tokens of ±1 by bit k. 64 bits is the
  production width — a 16-bit fingerprint saturates (hamming<=3 collisions
  everywhere) on corpora beyond toy size. Spark holds the fingerprint in a
  signed bigint (bit 63 = sign bit, harmless: banding masks and xor/
  bit_count are bit-pattern operations); the DuckDB oracle uses UBIGINT.

Scale notes:
- Signatures/fingerprints are per-row array expressions — narrow, no shuffle.
- The only shuffles are the LSH band self-join (keys are uniform hashes — no
  skew by construction) and the final verify join.
- Candidate pairs are verified with exact Jaccard before any drop decision,
  so LSH false positives never delete data.

Every operator takes the user's corpus VERBATIM: a DataFrame with
(doc_id, text) — or (doc_id, tokens) to skip re-tokenization. Near-dup
test fixtures (planted duplicates) live in openue_spark.fixtures and the
contract wrappers, never inside the operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_HASHES = 8
N_BANDS = 4  # rows per band = N_HASHES / N_BANDS = 2

TOKENS = r"split(trim(lower(text)), '\\s+')"


def with_tokens(docs: DataFrame) -> DataFrame:
    return docs.withColumn("tokens", F.expr(TOKENS))


def _corpus(docs: DataFrame) -> DataFrame:
    """Normalize the input corpus to (doc_id, tokens): accept a pre-tokenized
    `tokens` column as-is, else whitespace-tokenize `text`."""
    if "tokens" in docs.columns:
        return docs.select("doc_id", "tokens")
    return with_tokens(docs.select("doc_id", "text")).select("doc_id", "tokens")


def with_shingles(corpus: DataFrame, k: int = 3) -> DataFrame:
    """Word k-gram shingle STRING set per doc (whole token list if < k
    tokens) — the engine-portable (DuckDB-replayable) shingle form the
    oracle-checked portable mode keeps. The production fast path never
    materializes these strings (see with_shingle_hashes)."""
    return corpus.withColumn(
        "shingles",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(size(tokens) - {k - 1}, 1)),"
                f" i -> concat_ws(' ', slice(tokens, i, {k})))"
            )
        ),
    )


def with_shingle_hashes(corpus: DataFrame, k: int = 3) -> DataFrame:
    """``sh``: int64-hashed word k-gram shingle set per doc — the
    DE-STRINGED production shingle path (VERDICT r4 item 2). Each token is
    xxhash64'd ONCE; a k-gram's hash is xxhash64 over the bigint slice of
    token hashes, so no per-k-gram ``concat_ws`` string (and no shingle
    string at all) is ever materialized — the k-gram pass is pure bigint
    arithmetic over ~8 bytes/token instead of re-copying ~k*avg_token_len
    string bytes per position, which is what pinned the dedup tier to the
    single-socket bandwidth knee (BASELINE.md round-4g).

    The token-hash array is LET-BOUND via a single-element transform
    (`transform(array(<token pass>), th -> ...)`): CollapseProject would
    otherwise inline the token pass into the k-gram lambda and re-hash the
    whole token array once per position — the same 14x/32x collapse trap
    documented for simhash/linking payloads. 64-bit collisions merge
    shingles at ~n^2/2^64 within a document — immaterial, and every drop
    decision downstream still goes through an exact verify."""
    expr = (
        "element_at(transform(array(transform(tokens, t -> xxhash64(t))),"
        f" th -> array_distinct(transform("
        f"sequence(1, greatest(size(th) - {k - 1}, 1)),"
        f" i -> xxhash64(slice(th, i, {k}))))), 1)"
    )
    return corpus.withColumn("sh", F.expr(expr))


def with_minhash_signature(
    shingled: DataFrame, n_hashes: int = N_HASHES, portable: bool = False
) -> DataFrame:
    """sig_i = min over shingles of hash(shingle, i) — per-row, no
    shuffle. Two modes, identical LSH statistics:

    - default (portable=False): expects the int64 ``sh`` column
      (with_shingle_hashes); sig_i = min of variadic ``xxhash64(h, i)``
      over the shingle hashes — BIGINT in, BIGINT out, zero string
      traffic. (The r4 fast path still hashed shingle STRINGS; measured
      2.8x over md5 then — this removes the string bytes entirely.)
    - portable=True: md5 hex-string sigs over the ``shingles`` strings,
      bit-replayable in DuckDB — the mode the hash-checked contract rows
      pin (an ENGINE-PORTABLE hash is an oracle requirement, not an LSH
      one).
    """
    if portable:
        sigs = [
            F.expr(
                f"array_min(transform(shingles, s -> md5(concat(s, '#{i}'))))"
            ).alias(f"sig{i}")
            for i in range(n_hashes)
        ]
    else:
        sigs = [
            F.expr(f"array_min(transform(sh, h -> xxhash64(h, {i})))").alias(
                f"sig{i}"
            )
            for i in range(n_hashes)
        ]
    return shingled.select("*", *sigs)


def with_band_hashes(
    signed: DataFrame,
    n_bands: int = N_BANDS,
    n_hashes: int = N_HASHES,
    portable: bool = False,
) -> DataFrame:
    rows_per_band = n_hashes // n_bands
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"sig{b * rows_per_band + r}") for r in range(rows_per_band)]
        if portable:
            bands.append(F.md5(F.concat_ws("|", *cols)).alias(f"band{b}"))
        else:
            # variadic xxhash64 over the BIGINT sigs directly — no string
            # materialization at all on the fast path
            bands.append(F.xxhash64(*cols).alias(f"band{b}"))
    return signed.select("*", *bands)


def _barrier(df: DataFrame) -> DataFrame:
    """Lazy materialization barrier before a self-join.

    Computed payload columns (shingle arrays, fingerprints, quantized
    vectors) that cross a join get re-evaluated per CANDIDATE PAIR once
    Catalyst collapses the defining projection into the join output —
    measured 32x on the simhash band join (6.7s -> 0.2s at sf0.1). A lazy
    localCheckpoint stores the per-row values so the join reads attributes.
    Single-machine/driver-query tool; a real cluster run materializes the
    equivalent stage table (pipeline.materialize pattern) instead.
    Streaming inputs pass through unchanged (checkpointing a streaming
    DataFrame is illegal; inside foreachBatch the batch DF is non-streaming
    and gets the barrier as usual). Checkpoint blocks are reclaimed by the
    ContextCleaner once the batch's frames are dereferenced; a long-lived
    foreachBatch loop on a small driver heap should hold no references
    across batches (and local mode should raise --driver-memory — see
    CLAUDE.md) so cleanup keeps pace.
    """
    if df.isStreaming:
        return df
    return df.localCheckpoint(eager=False)


def minhash_candidate_pairs(docs: DataFrame, portable: bool = False) -> DataFrame:
    """LSH blocking: docs sharing any band hash -> distinct (a_id, b_id)."""
    corpus = _corpus(docs)
    shingled = with_shingles(corpus) if portable else with_shingle_hashes(corpus)
    return _minhash_candidates_from(shingled, portable=portable)


def _banded_flat(
    shingled: DataFrame, portable: bool = False, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id[, sh], band0..bandN-1) materialized behind ONE barrier.

    The whole signature pipeline — shingle set, 8 min-hash components,
    band hashes, and (with keep=("sh",)) the verify-side shingle hashes —
    is ONE let-bound struct expression: the shingle set binds once as
    `sg` via the single-element-transform trick and every sig/band/sh
    field computes from the bound value. Without the binding,
    CollapseProject inlines the shingle construction into all 9
    references (8 sig transforms + sh) and the k-gram pass re-runs 9x
    per row — measured 3.2 s of the 4.3 s driver-scale query. Each sig_i
    is referenced by exactly one band hash, so sigs inline into the band
    fields without their own binding.

    The barrier matters for two more reasons (round-6 restructure of the
    r4 stacked-rows barrier): (a) the band self-join evaluates each
    side's map stage independently (the a/b projections rename different
    columns, so AQE's stage cache does not unify them), and without a
    barrier the signature pipeline runs once PER SIDE (measured 35-40%
    at sf0.1); (b) the FLAT per-doc frame lets the verify path reuse the
    SAME materialization for its shingle-hash lookups, collapsing what
    used to be two checkpoints (shingle strings ~90 MB + stacked rows)
    into one ~40 MB columnar store that never holds a shingle string.
    simhash/ngram were A/B'd with a band barrier and got SLOWER (their
    per-side recompute is just shifts/explode over a stored
    fingerprint) — minhash alone pays."""
    rows_per_band = N_HASHES // N_BANDS
    want_sh = "sh" in keep
    if portable:
        src = "shingles"
        sig = lambda i: (  # noqa: E731
            f"array_min(transform(sg, s -> md5(concat(s, '#{i}'))))"
        )
        band = lambda b: "md5(concat_ws('|', " + ", ".join(  # noqa: E731
            sig(b * rows_per_band + r) for r in range(rows_per_band)
        ) + f")) AS band{b}"
        sh_field = "transform(sg, s -> xxhash64(s)) AS sh"
    else:
        src = "sh"
        sig = lambda i: (  # noqa: E731
            f"array_min(transform(sg, h -> xxhash64(h, {i})))"
        )
        band = lambda b: "xxhash64(" + ", ".join(  # noqa: E731
            sig(b * rows_per_band + r) for r in range(rows_per_band)
        ) + f") AS band{b}"
        sh_field = "sg AS sh"
    fields = ([sh_field] if want_sh else []) + [band(b) for b in range(N_BANDS)]
    expr = (
        f"element_at(transform(array({src}),"
        f" sg -> struct({', '.join(fields)})), 1)"
    )
    packed = _barrier(shingled.select("doc_id", F.expr(expr).alias("mh")))
    out_cols = (["sh"] if want_sh else []) + [f"band{b}" for b in range(N_BANDS)]
    return packed.select(
        "doc_id", *[F.col(f"mh.{c}").alias(c) for c in out_cols]
    )


def _pairs_from_flat(flat: DataFrame) -> DataFrame:
    stacked = flat.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_hash")) for b in range(N_BANDS)])
        ).alias("bh"),
    ).select("doc_id", "bh.band_id", "bh.band_hash")
    a = stacked.select(F.col("doc_id").alias("a_id"), "band_id", "band_hash")
    b = stacked.select(F.col("doc_id").alias("b_id"), "band_id", "band_hash")
    return (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def _minhash_candidates_from(shingled: DataFrame, portable: bool = False) -> DataFrame:
    return _pairs_from_flat(_banded_flat(shingled, portable=portable))


def minhash_verified_pairs(
    docs: DataFrame, min_jaccard: float = 0.6, portable: bool = False
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard. `portable`
    picks the shingle/signature hashing (with_shingle_hashes /
    with_minhash_signature): candidate recall is statistically identical
    either way and VERIFICATION is exact, so both modes return true
    >= min_jaccard pairs — only the candidate sampling differs; the
    oracle-checked contract rows pin portable=True.

    The verify intersect runs over the int64 shingle hashes in BOTH modes
    (array<bigint> ships and compares ~3x cheaper than array<string>;
    Jaccard over hashed sets equals Jaccard over the string sets absent a
    64-bit collision inside one pair's union — ~1e-16 per pair — so the
    DuckDB oracle's string-set Jaccard still matches bit-for-bit after
    the shared round-to-4)."""
    corpus = _corpus(docs)
    if portable:
        # sh (the int64 verify hashes) is derived inside _banded_flat's
        # let-bound struct, so the shingle set is evaluated exactly once
        shingled = with_shingles(corpus).select("doc_id", "shingles")
    else:
        shingled = with_shingle_hashes(corpus).select("doc_id", "sh")
    # ONE materialization for the whole operator: the un-barriered shingle
    # pipeline evaluates exactly once, inside _banded_flat's barrier, which
    # keeps `sh` so the verify join reads the same store (the old shape
    # checkpointed the shingle-string frame AND the stacked band rows).
    flat = _banded_flat(shingled, portable=portable, keep=("sh",))
    pairs = _pairs_from_flat(flat)
    sa = flat.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sb = flat.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.expr(
                "size(array_intersect(sh_a, sh_b)) / cast(size(array_union(sh_a, sh_b)) as double)"
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard_r"))
    )


def minhash_dedup_keep(
    docs: DataFrame, min_jaccard: float = 0.6, portable: bool = False
) -> DataFrame:
    """Greedy dedup: drop the higher doc_id of every verified near-dup pair;
    return the surviving doc ids."""
    drops = minhash_verified_pairs(docs, min_jaccard, portable=portable).select(
        F.col("b_id").alias("doc_id")
    ).distinct()
    corpus_ids = _corpus(docs).select("doc_id")
    return corpus_ids.join(drops, "doc_id", "left_anti").select("doc_id")


def near_dup_clusters(
    docs: DataFrame, min_jaccard: float = 0.6, portable: bool = False
) -> DataFrame:
    """(doc_id, cluster_rep): every corpus document labeled with the
    canonical representative (min doc_id) of its near-duplicate cluster —
    the transitive closure of the verified MinHash pair graph; documents
    with no near-dup are their own rep. This is the materialized-cluster
    view production dedup keeps alongside the survivor list: it EXPLAINS
    every drop (group by cluster_rep to audit a cluster) and lets a
    pipeline choose a different keep policy (longest / newest / highest
    quality) without re-running detection, where `minhash_dedup_keep`
    hard-codes keep-lowest-id.

    Scale shape: the pair graph rides the banded-LSH path (never
    all-pairs); clustering reuses the linking engine's production
    connected components (contraction-interleaved propagation, gated
    exact finish) via ops.graph — near-dup clusters are tiny and shallow,
    so the propagation converges in a couple of rounds."""
    from .graph import connected_components

    pairs = minhash_verified_pairs(docs, min_jaccard, portable=portable).select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    )
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("_rep")
    )
    ids = _corpus(docs).select("doc_id")
    return ids.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("_rep"), F.col("doc_id")).alias("cluster_rep")
    )


# --- SimHash (64-bit) ---

# Per-token 64 hash bits as two 32-bit words (conv of 8 hex chars fits a
# signed bigint; 16 chars would not): v[0] = md5 chars 1-8, v[1] = chars 9-16.
_WORDS64 = (
    "array(cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint),"
    " cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint))"
)

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 x 16-bit bands: hamming <= 3 ALWAYS shares a band


def with_simhash_expr(corpus: DataFrame) -> DataFrame:
    """64-bit SimHash per doc from token md5 values — per-row expressions.

    md5 is evaluated once per token into a 2-word array, then each of the
    64 bit-votes aggregates over that array (sign of Σ ±1). The word array
    is LET-BOUND via a single-element transform (`transform(array(vals),
    vs -> ...)`) rather than a withColumn: Catalyst's projection collapse
    would inline a column into all 64 vote expressions and re-run the md5
    pass per vote. (`shiftright(v, p)` not `v >> p`: the infix shift fails
    to PARSE inside a nested lambda — Spark 4 parser quirk.) The
    fingerprint lands in a signed bigint; bit 63 makes it negative, which
    is fine — every consumer (banding, xor, bit_count) is bit-pattern math.

    This is the pure-SQL reference form (the construct the DuckDB oracle
    mirrors); the production fingerprint pass is `with_simhash` below,
    pinned bit-equal to this one by test."""
    bit_terms = []
    for k in range(SIMHASH_BITS):
        w, p = k // 32, k % 32
        # shiftright(), not `>>`: the infix shift fails to PARSE inside a
        # nested lambda (works one level deep — a Spark 4 parser quirk)
        vote = (
            f"aggregate(vs, 0, (acc, v) ->"
            f" acc + (2 * int(shiftright(v[{w}], {p}) & 1) - 1))"
        )
        bit_terms.append(
            f"(CASE WHEN ({vote}) > 0 THEN shiftleft(cast(1 as bigint), {k})"
            f" ELSE cast(0 as bigint) END)"
        )
    expr = (
        f"element_at(transform(array(transform(tokens, t -> {_WORDS64})),"
        f" vs -> ({' + '.join(bit_terms)})), 1)"
    )
    return corpus.withColumn("simhash", F.expr(expr))


def with_simhash(corpus: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash per doc — Arrow-batched kernel.

    Same construction as `with_simhash_expr` (per-token md5 → two 32-bit
    words, bit k of the fingerprint = sign of Σ ±1 over word-bit k), but
    computed batch-at-a-time in numpy: the 64 interpreted HOF vote folds
    were the whole cost of the expression form (64 × n_tokens lambda
    evaluations per doc — 2.1-2.4 s of the 5 s driver-scale simhash
    query), while every step here is INTEGER arithmetic, so the result
    is bit-identical by construction (pinned by test). Token md5s are
    memoized per batch (corpus vocabularies repeat heavily); only
    (doc_id, tokens) crosses into Python and (doc_id, simhash) crosses
    back. Bit 63 wraps to a negative signed bigint exactly like the SQL
    form (uint64 accumulate, reinterpreted int64). Empty and NULL token
    arrays (and arrays holding a NULL token) give 0, as the SQL form does."""
    from pyspark.sql import types as T

    prepped = corpus.select("doc_id", "tokens")
    id_field = prepped.schema["doc_id"]
    out_schema = T.StructType(
        [
            T.StructField("doc_id", id_field.dataType, id_field.nullable),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def fn(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        cache: dict[str, tuple[int, int]] = {}

        def words(t: str) -> tuple[int, int]:
            v = cache.get(t)
            if v is None:
                h = hashlib.md5(t.encode("utf-8")).hexdigest()
                v = (int(h[:8], 16), int(h[8:16], 16))
                cache[t] = v
            return v

        shifts = np.arange(32, dtype=np.int64)
        weights = np.left_shift(
            np.ones(64, dtype=np.uint64), np.arange(64, dtype=np.uint64)
        )
        for pdf in batches:
            # A NULL array, or one holding a NULL token, fingerprints to 0
            # like the SQL form (its vote folds go NULL and every CASE takes
            # the ELSE 0 branch); counting it as an empty doc does that.
            docs = [
                () if d is None or None in d else d for d in pdf["tokens"]
            ]
            counts = np.fromiter(
                (len(d) for d in docs), dtype=np.int64, count=len(docs)
            )
            W = np.array(
                [words(t) for d in docs for t in d], dtype=np.int64
            ).reshape(-1, 2)
            B = np.concatenate(
                [(W[:, 0:1] >> shifts) & 1, (W[:, 1:2] >> shifts) & 1], axis=1
            )  # N x 64 in token order
            # docs x 64 popcounts; an empty doc owns no slice, so reduceat
            # runs over the non-empty docs' start offsets and leaves it 0
            S = np.zeros((len(docs), 64), dtype=np.int64)
            nonempty = counts > 0
            if nonempty.any():
                starts = np.cumsum(counts) - counts
                S[nonempty] = np.add.reduceat(B, starts[nonempty], axis=0)
            votes = 2 * S - counts[:, None]
            fp = (
                ((votes > 0).astype(np.uint64) * weights[None, :])
                .sum(axis=1, dtype=np.uint64)
                .view(np.int64)
            )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": fp})

    return prepped.mapInPandas(fn, schema=out_schema)


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Banded SimHash join: 4 bands of 16 bits; pairs agreeing on any band
    are candidates; keep hamming(simhash_a, simhash_b) <= max_hamming.
    By pigeonhole, hamming <= 3 differing bits cannot touch all 4 bands, so
    recall is exact (not probabilistic) for the default threshold."""
    hashed = _barrier(with_simhash(_corpus(docs)).select("doc_id", "simhash"))
    bands = hashed.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(n).alias("band_id"),
                    F.expr(f"int((simhash >> {16 * n}) & 65535)").alias("band_val"),
                )
                for n in range(SIMHASH_BANDS)
            ])
        ).alias("nb"),
    ).select("doc_id", "simhash", "nb.band_id", "nb.band_val")
    a = bands.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("sh_a"), "band_id", "band_val")
    b = bands.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("sh_b"), "band_id", "band_val")
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.expr("bit_count(sh_a ^ sh_b)").alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# --- n-gram Jaccard (shingle-join blocking, no MinHash approximation) ---


def ngram_jaccard_pairs(
    docs: DataFrame, min_jaccard: float = 0.5, max_df: int = 1000
) -> DataFrame:
    """n-gram Jaccard over pairs sharing >= 1 shingle: explode the shingle
    sets, self-join on shingle (inverted-index blocking), count shared
    shingles per pair, then J = shared / (|A| + |B| - shared).

    Posting lists are capped: shingles appearing in more than `max_df`
    documents are dropped from the inverted index BEFORE the self-join —
    a hot shingle (a stopword trigram in df documents) would otherwise
    produce O(df^2) join rows, the classic inverted-index scale-killer.
    |A| and |B| stay the full set sizes, so capping only UNDERestimates J
    for pairs whose overlap is mostly hot shingles (a pair sharing nothing
    but stopword trigrams is not a near-duplicate). The df pass is one
    count over the shingle key — same key, same partitioning as the join
    that follows; work per hot shingle is O(df), never O(df^2).

    The inverted index keys on the int64 shingle HASH, not the shingle
    string (with_shingle_hashes): the exploded index and both self-join
    shuffles ship ~8 bytes/key instead of the k-gram string, and shared
    COUNTS over hashed sets equal counts over string sets absent a 64-bit
    collision within one document pair (~1e-16) — so the DuckDB oracle's
    string-keyed restatement still matches exactly."""
    shingled = _barrier(
        with_shingle_hashes(_corpus(docs)).select(
            "doc_id", F.col("sh").alias("shingles"), F.size("sh").alias("n_sh")
        )
    )
    inv = shingled.select("doc_id", "n_sh", F.explode("shingles").alias("shingle"))
    df_w = Window.partitionBy("shingle")
    inv = inv.withColumn("df", F.count(F.lit(1)).over(df_w)).where(
        F.col("df") <= max_df
    ).drop("df")
    a = inv.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"), "shingle")
    b = inv.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.withColumn(
            "jaccard", F.expr("shared / cast(na + nb - shared as double)")
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard_r"))
    )


def winnow_near_dup_pairs(
    docs: DataFrame,
    min_overlap: float = 0.5,
    max_df: int = 1000,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(a_id, b_id, shared, overlap_r): near-duplicate / contamination pair
    detection over winnowing (MOSS) fingerprints — the standard
    train/eval-decontamination shape: two documents sharing any run of
    window+k-1 tokens are guaranteed >= 1 shared fingerprint, so pairs
    with high fingerprint CONTAINMENT (shared / min(|A|, |B|)) are
    near-duplicates or embedded copies even when the documents' lengths
    differ wildly (Jaccard would dilute a short doc pasted into a long
    one; containment does not).

    Scale shape — identical to `ngram_jaccard_pairs` but over the ~4x
    smaller winnowed index: inverted-index self-join on fp with a
    posting-list df cap (a fingerprint appearing in more than `max_df`
    documents is dropped BEFORE the join — hot boilerplate would
    otherwise cost O(df^2) join rows; |A|/|B| stay full set sizes, so
    capping only underestimates the overlap of boilerplate-only pairs).
    The df pass is one count over the fp key — same key, same
    partitioning as the join that follows.
    """
    from .text import winnow_fp_arrays

    fpd = _barrier(
        winnow_fp_arrays(docs, k=k, window=window).select(
            "doc_id", "fps", F.size("fps").alias("n_fp")
        )
    )
    inv = fpd.select("doc_id", "n_fp", F.explode("fps").alias("fp"))
    df_w = Window.partitionBy("fp")
    inv = (
        inv.withColumn("df", F.count(F.lit(1)).over(df_w))
        .where(F.col("df") <= max_df)
        .drop("df")
    )
    a = inv.select(F.col("doc_id").alias("a_id"), F.col("n_fp").alias("na"), "fp")
    b = inv.select(F.col("doc_id").alias("b_id"), F.col("n_fp").alias("nb"), "fp")
    shared = (
        a.join(b, "fp")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.withColumn(
            "overlap", F.expr("shared / cast(least(na, nb) as double)")
        )
        .where(F.col("overlap") >= min_overlap)
        .select("a_id", "b_id", "shared", F.round("overlap", 4).alias("overlap_r"))
    )


def winnow_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    min_overlap: float = 0.5,
    max_df: int = 1000,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(doc_id, contaminated): eval-set decontamination — flag every
    TRAINING document whose winnowing fingerprints cover >= `min_overlap`
    of some EVAL document's fingerprint set (containment against the
    EVAL side: a training doc that embeds a whole eval item is
    contaminated no matter how much other text surrounds it). Filter
    `WHERE NOT contaminated` to get the clean training corpus; the flag
    is returned rather than applied so the drop decision stays auditable.

    Scale shape: the eval index is small by construction (an eval set),
    so the fp join broadcasts under AQE from runtime sizes — no hint (the
    repo rule: never hint a side that can grow). The train side streams
    through: fingerprint (narrow, barriered) -> join -> one groupBy
    (train_doc, eval_doc) -> max per train doc. The df cap guards
    boilerplate fingerprints on the TRAIN side exactly as in
    `winnow_near_dup_pairs`.
    """
    from .text import winnow_fp_arrays

    # train side: fp is a JOIN KEY (evaluated at the exchange — safe, no
    # barrier needed); the df-cap window shuffles on fp right after
    t = winnow_fp_arrays(train, k=k, window=window).select(
        "doc_id", F.explode("fps").alias("fp")
    )
    df_w = Window.partitionBy("fp")
    t = (
        t.withColumn("df", F.count(F.lit(1)).over(df_w))
        .where(F.col("df") <= max_df)
        .drop("df")
    )
    # eval side: n_eval_fp is a computed PAYLOAD crossing a join — barrier
    # the arrays before explode (the CollapseProject re-eval hazard)
    e = _barrier(
        winnow_fp_arrays(eval_docs, k=k, window=window).select(
            F.col("doc_id").alias("eval_id"), F.size("fps").alias("n_eval_fp"), "fps"
        )
    ).select("eval_id", "n_eval_fp", F.explode("fps").alias("fp"))
    hits = (
        t.join(e, "fp")
        .groupBy("doc_id", "eval_id", "n_eval_fp")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.expr(f"shared / cast(n_eval_fp as double) >= {min_overlap!r}"))
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        train.select("doc_id")
        .distinct()
        .join(hits, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("hit"), F.lit(False)).alias("contaminated")
        )
    )


# --- exact duplicated-passage detection (substring-granular dedup) ---


def _dup_windows(docs: DataFrame, n: int, portable: bool):
    """Shared build for the dup-passage family: (wh, ex, dup) where wh is
    the barriered (doc_id, wh: array<bigint>) rolling n-token window-hash
    frame, ex its positional explode (doc_id, pos, h), and dup the
    aggregated hashes occurring in >= 2 distinct docs."""
    corpus = _corpus(docs).where(F.size("tokens") > 0)
    if portable:
        win_expr = (
            f"transform(sequence(1, greatest(size(tokens) - {n - 1}, 1)),"
            f" i -> cast(conv(substring("
            f"  md5(concat_ws(' ', slice(tokens, i, {n}))), 1, 8),"
            f" 16, 10) as bigint))"
        )
    else:
        # let-bind the per-token hash pass exactly like with_shingle_hashes
        # (CollapseProject would re-hash the token array once per window)
        win_expr = (
            "element_at(transform(array(transform(tokens, t -> xxhash64(t))),"
            f" th -> transform(sequence(1, greatest(size(th) - {n - 1}, 1)),"
            f" i -> xxhash64(slice(th, i, {n})))), 1)"
        )
    wh = _barrier(corpus.select("doc_id", F.expr(win_expr).alias("wh")))
    ex = wh.select("doc_id", F.posexplode("wh").alias("pos", "h"))
    dup = (
        ex.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    return wh, ex, dup


def dup_passage_positions(
    docs: DataFrame, n: int = 8, portable: bool = False
) -> DataFrame:
    """(doc_id, pos): the 0-based token offset of every rolling n-token
    window whose hash occurs in >= 2 distinct documents — the actionable
    output of the ExactSubstr pass (the spans a surgical substring-dedup
    actually CUTS; Lee et al. remove the duplicated bytes, not the
    documents). A window at pos covers tokens [pos, pos+n); consecutive
    flagged positions describe one contiguous duplicated passage. Same
    hash-mode seam, same plan shape as dup_passage_stats minus the
    per-doc rollup (the semi-join output IS the result)."""
    _, ex, dup = _dup_windows(docs, n, portable)
    return ex.join(dup, "h", "left_semi").select(
        "doc_id", F.col("pos").cast("long").alias("pos")
    )


def dup_passage_stats(
    docs: DataFrame, n: int = 8, portable: bool = False
) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_micro): exact duplicated-
    passage detection — the substring-granular dedup pass (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better": exact
    repeated substrings matter even when whole-document similarity is
    low). EVERY rolling n-token window of every document is hashed (no
    sampling — winnowing keeps ~1/window of positions; this pass keeps
    them all), a window counts as duplicated when its hash occurs in
    >= 2 DISTINCT documents, and the result is one row per document:
    total windows, duplicated windows, and the duplicated fraction in
    integer micro-units (``n_dup * 1_000_000 div n_windows`` — pure
    bigint, engine-exact). Repeats WITHIN one document do not count
    (``text_repetition`` owns intra-doc repetition); a doc shorter than
    n tokens contributes its single whole-token-list window, the same
    tail convention as winnowing.

    Two hash modes, same seam as minhash (CLAUDE.md hash-mode
    invariant): default hashes each token once with xxhash64 and each
    window as xxhash64 over the bigint slice (zero per-window string
    materialization — the de-stringed fast path); ``portable=True``
    uses the 32-bit md5-prefix word-n-gram hash the DuckDB oracle
    replays bit-for-bit (winnowing's scheme at k=n). The per-doc STATS
    are identical in both modes absent a 64-bit (or 32-bit portable)
    collision between two distinct n-grams that ALSO lands them in
    overlapping documents — pinned equal by test on the planted corpus.

    Scale shape: window-hash array built per-row (barriered — the
    payload crosses a join, the CollapseProject trap), one explode, one
    groupBy(h) whose count_distinct(doc_id) partial-aggregates map-side
    per (h, doc), one LEFT SEMI join back on h (each exploded row
    matches at most the single aggregated hash row — a hot boilerplate
    window CANNOT explode the join, unlike an inverted-index self-join,
    so no df cap is needed), then an algebraic per-doc count. No
    collect, no crossJoin, no Python UDF."""
    wh, ex, dup = _dup_windows(docs, n, portable)
    cnt = ex.join(dup, "h", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup")
    )
    return (
        wh.select("doc_id", F.size("wh").cast("long").alias("n_windows"))
        .join(cnt, "doc_id", "left")
        .withColumn(
            "n_dup_windows", F.coalesce(F.col("n_dup"), F.lit(0)).cast("long")
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr("n_dup_windows * 1000000 div n_windows").alias("dup_micro"),
        )
    )


# --- embedding cosine near-dup ---


def embedding_near_dup_pairs(embeddings: DataFrame, min_cosine: float = 0.95) -> DataFrame:
    """Brute-force cosine near-dup pairs over an embedding column.

    Baseline (exact) variant and the recall oracle for
    `embedding_near_dup_bucketed` (the scale path). Exhaustive O(n^2)
    pairs — never the 100 TB path — but executed as a BLOCKED all-pairs
    matmul (round 6): the old crossJoin + per-pair JVM HOF fold cost
    152.8 s at 20k vectors (200M folds); each vector is now replicated
    once per partner block, the G(G+1)/2 unordered block pairs become
    applyInPandas groups, and each group runs one dgemm of its two blocks
    (same kernel argument as embedding_near_dup_bucketed: K = vector dim
    keeps the k-loop a sequential register accumulation, measured
    bit-identical to the left-to-right fold). Every unordered vector pair
    lands in exactly one group, so no dedup is needed; threshold in
    numpy, round in Spark — output values bit-identical to the crossJoin
    form."""
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = _barrier(
        e.withColumn(
            "nrm",
            F.sqrt(
                F.expr(
                    "aggregate(transform(emb, x -> x * x), 0D, (acc, v) -> acc + v)"
                )
            ),
        )
    )
    sc = embeddings.sparkSession.sparkContext
    n_blocks = max(4, int(2 * sc.defaultParallelism ** 0.5))
    # blocks only partition the all-pairs work; hashing the id first lets
    # any id type (string, bigint, ...) pick one
    tagged = q.withColumn(
        "gid", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    replicated = tagged.select(
        "vec_id",
        "emb",
        "nrm",
        "gid",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}),"
                " p -> struct(least(gid, p) AS glo, greatest(gid, p) AS ghi))"
            )
        ).alias("gp"),
    ).select("vec_id", "emb", "nrm", "gid", "gp.glo", "gp.ghi")

    from pyspark.sql import types as T

    id_type = replicated.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("a_id", id_type),
            T.StructField("b_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    thr = float(min_cosine)

    def _cross_block(key, pdf):
        import numpy as np
        import pandas as pd

        lo, hi = key
        ids = pdf["vec_id"].to_numpy()
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        out_a, out_b, out_c = [], [], []
        if lo == hi:
            order = np.argsort(ids)
            ids, M, nrm = ids[order], M[order], nrm[order]
            n = len(ids)
            blk = max(1, 4_000_000 // max(n, 1))
            Mt = np.ascontiguousarray(M.T)
            for s in range(0, n, blk):
                cos = (M[s : s + blk] @ Mt) / np.multiply.outer(
                    nrm[s : s + blk], nrm
                )
                bi, j = np.nonzero(cos >= thr)
                keep = (bi + s) < j
                bi, j = bi[keep], j[keep]
                out_a.append(ids[bi + s])
                out_b.append(ids[j])
                out_c.append(cos[bi, j])
        else:
            la = pdf["gid"].to_numpy() == lo
            ia, ib = ids[la], ids[~la]
            Ma, Mb = M[la], M[~la]
            na_, nb_ = nrm[la], nrm[~la]
            n = max(len(ib), 1)
            blk = max(1, 4_000_000 // n)
            Mbt = np.ascontiguousarray(Mb.T)
            for s in range(0, len(ia), blk):
                cos = (Ma[s : s + blk] @ Mbt) / np.multiply.outer(
                    na_[s : s + blk], nb_
                )
                bi, j = np.nonzero(cos >= thr)
                u, v = ia[bi + s], ib[j]
                out_a.append(np.minimum(u, v))
                out_b.append(np.maximum(u, v))
                out_c.append(cos[bi, j])
        if not out_a:
            out_a = [np.array([], dtype=ids.dtype)]
            out_b = [np.array([], dtype=ids.dtype)]
            out_c = [np.array([], dtype=np.float64)]
        return pd.DataFrame(
            {
                "a_id": np.concatenate(out_a),
                "b_id": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    n_groups = n_blocks * (n_blocks + 1) // 2
    pairs = (
        replicated.repartition(
            min(n_groups, max(16, sc.defaultParallelism)), "glo", "ghi"
        )
        .groupBy("glo", "ghi")
        .applyInPandas(_cross_block, schema=out_schema)
    )
    return pairs.select(
        "a_id", "b_id", F.round("cosine", 4).alias("cosine_r")
    )


# --- sign-LSH bucketed embedding near-dup (the scale path) ---
#
# Random-hyperplane LSH with DATA-INDEPENDENT planes so the construction is
# reproducible in plain SQL (the DuckDB oracle mirrors it literally):
#   - plane j has components s_{j,d} in {+1, -1}, derived from md5("rp{j}#{d}")
#     at import time (pure Python, no RNG state)
#   - embeddings are quantized to integers q[d] = round(x * 1e6) so the
#     per-plane dot products are exact integer sums — bit-identical across
#     engines regardless of float summation order
#   - bit_j = [ sum_d s_{j,d} * q[d] >= 0 ]; bits group into bands; vectors
#     agreeing on ANY band are candidates; candidates are verified with the
#     exact cosine before anything is reported (false positives never
#     survive, misses are the documented recall tradeoff:
#     P(bit agree) = 1 - theta/pi, band match = p^(bits/band), recall =
#     1 - (1 - p^r)^bands — ~0.99 at cosine 0.95 with 4 bands of 4 bits).
#
# At scale: bucketing is a narrow per-row expression; the only shuffle is
# the self-join on (band_id, band_val) whose fan-out is sum over buckets of
# |bucket|^2 — n^2/2^r per band instead of the brute-force n^2, and r/bands
# are dials. Pair dedup happens AFTER the verify (cheaper side, see
# linking.py's measured lesson).

RP_BITS = 16
RP_BANDS = 4
RP_QUANT = 1_000_000


def _rp_sign(j: int, d: int) -> int:
    import hashlib

    h = int(hashlib.md5(f"rp{j}#{d}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


def rp_planes(dim: int, n_bits: int = RP_BITS) -> list[list[int]]:
    return [[_rp_sign(j, d) for d in range(dim)] for j in range(n_bits)]


def rp_bits_expr(dim: int, n_bits: int = RP_BITS, duck: bool = False) -> str:
    """`bits` array expression over an integer array column `q`: bit j =
    sign of <q, plane_j>. The planes are ARRAY LITERALS and the dot product
    is a lambda fold — keeping the expression tree tiny (an unrolled
    sum-of-1024-terms form blows the JVM 64KB codegen method limit and
    forces interpreted fallback). DuckDB mirrors via list_dot_product
    (double-typed, exact for these magnitudes: |dot| < 2^31 << 2^53)."""
    if duck:
        planes = ", ".join(
            "[" + ",".join(str(s) for s in p) + "]" for p in rp_planes(dim, n_bits)
        )
        return (
            f"list_transform([{planes}],"
            " p -> CASE WHEN list_dot_product(q, p) >= 0 THEN 1 ELSE 0 END)"
        )
    planes = ", ".join(
        "array(" + ",".join(str(s) for s in p) + ")" for p in rp_planes(dim, n_bits)
    )
    return (
        f"transform(array({planes}), p -> CASE WHEN"
        " aggregate(zip_with(q, p, (a, b) -> a * b), cast(0 as bigint),"
        " (acc, x) -> acc + x) >= 0 THEN 1 ELSE 0 END)"
    )


def rp_band_val_exprs(
    n_bits: int = RP_BITS, n_bands: int = RP_BANDS, one_based: bool = False
) -> list[str]:
    """Band-value expressions over the `bits` array column (MSB-first)."""
    off = 1 if one_based else 0
    r = n_bits // n_bands
    return [
        " + ".join(
            f"bits[{b * r + i + off}] * {1 << (r - 1 - i)}" for i in range(r)
        )
        for b in range(n_bands)
    ]


def embedding_near_dup_bucketed(
    embeddings: DataFrame,
    min_cosine: float = 0.95,
    dim: int = 64,
    n_bits: int = RP_BITS,
    n_bands: int = RP_BANDS,
) -> DataFrame:
    """Sign-LSH bucketed near-dup pairs: candidates from band agreement,
    verified with the exact cosine. Same output columns as the brute-force
    `embedding_near_dup_pairs`; recall < 1 by design (see module notes),
    tested against the brute-force oracle in tests/test_ops.py.

    Verify path (round 6): the per-pair JVM HOF dot fold was the wall at
    scale — sum over buckets of |bucket|^2 pairs, each paying a 64-double
    zip_with+aggregate (52.8M candidate pairs at 20k vectors: 13.8-16.2 s
    on the driver bench). Buckets are WHOLE groups by construction (only
    n_bands * 2^(n_bits/n_bands) of them), so the verify now ships each
    bucket's vectors ONCE to a vectorized numpy kernel
    (groupBy(band).applyInPandas) that accumulates all pairwise dots
    dimension-by-dimension in the SAME left-to-right IEEE order as the
    fold — acc_d+1 = acc_d + a[d]*b[d] elementwise over the whole bucket
    matrix — so every returned cosine is BIT-IDENTICAL to the HOF form
    (threshold + round happen on identical doubles). Python boundary
    traffic is vectors-per-bucket (80k narrow rows in, passing pairs
    out), never candidate pairs. The explicit numbered repartition on the
    band key defeats AQE's byte-blind coalescing (the banded frame is
    ~44 MB — AQE would run the whole 13.5-GFLOP verify in 1-2 tasks)."""
    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    # norm computed ONCE per vector in the JVM (sqrt of the HOF square
    # fold), carried into the kernel so its value is unchanged bit-for-bit
    q = _barrier(
        e.withColumn(
            "nrm",
            F.sqrt(F.expr("aggregate(transform(emb, x -> x * x), 0D, (acc, v) -> acc + v)")),
        )
        .withColumn(
            "q", F.expr(f"transform(emb, x -> cast(round(x * {RP_QUANT}) as bigint))")
        )
        .withColumn("bits", F.expr(rp_bits_expr(dim, n_bits)))
    )
    band_vals = rp_band_val_exprs(n_bits, n_bands)
    banded = q.select(
        "vec_id",
        "emb",
        "nrm",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.expr(band_vals[b]).alias("band_val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select("vec_id", "emb", "nrm", "bb.band_id", "bb.band_val")

    from pyspark.sql import types as T

    id_type = banded.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("a_id", id_type),
            T.StructField("b_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    thr = float(min_cosine)

    def _verify_bucket(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)  # triu below then means a_id < b_id
        ids = ids[order]
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])[order]
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)[order]
        out_a, out_b, out_c = [], [], []
        # row blocks bound the pair matrix to ~32 MB however big a bucket gets
        blk = max(1, 4_000_000 // n)
        Mt = np.ascontiguousarray(M.T)
        for s in range(0, n, blk):
            # dgemm with K = vector dim: the k-loop is the innermost
            # sequential register accumulation, measured BIT-IDENTICAL to
            # the explicit d=0..63 add-in-order fold on this BLAS (maxdiff
            # exactly 0 over 2.9M pair dots) and ~50x faster than the
            # dimension-at-a-time outer-product accumulation, which is
            # memory-bandwidth-bound (acc re-streamed 64 times). The
            # contract small-SF oracle hashes re-verify equality end-to-end.
            acc = M[s : s + blk] @ Mt
            cos = acc / np.multiply.outer(nrm[s : s + blk], nrm)
            bi, j = np.nonzero(cos >= thr)
            keep = (bi + s) < j  # a_id < b_id (ids ascending by order)
            bi, j = bi[keep], j[keep]
            out_a.append(ids[bi + s])
            out_b.append(ids[j])
            out_c.append(cos[bi, j])
        return pd.DataFrame(
            {
                "a_id": np.concatenate(out_a),
                "b_id": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    # Only n_bands * 2^(bits/band) distinct group keys exist (64 at the
    # defaults), so partitions beyond that are pure task overhead; below
    # the core count they serialize the kernel. A/B at driver scale:
    # 128 -> 1.44 s, 64 -> 1.17 s, 32 -> 1.14 s (and 0.78 s vs 1.28 s at
    # sf0.1, where per-task applyInPandas setup dominates). Numbered, so
    # AQE cannot coalesce the compute-dense stage away.
    parallelism = banded.sparkSession.sparkContext.defaultParallelism
    n_groups = n_bands * (1 << (n_bits // n_bands))
    pairs = (
        banded.repartition(min(n_groups, max(16, parallelism)), "band_id", "band_val")
        .groupBy("band_id", "band_val")
        .applyInPandas(_verify_bucket, schema=out_schema)
    )
    return (
        pairs.select("a_id", "b_id", F.round("cosine", 4).alias("cosine_r"))
        .dropDuplicates(["a_id", "b_id"])
    )


def embedding_dedup_keep(
    embeddings: DataFrame,
    min_cosine: float = 0.95,
    dim: int = 64,
) -> DataFrame:
    """Greedy embedding dedup: drop the higher vec_id of every bucketed-
    verified near-dup pair; return surviving vec_ids (the embedding-space
    analogue of minhash_dedup_keep, built on the sign-LSH scale path)."""
    drops = (
        embedding_near_dup_bucketed(embeddings, min_cosine, dim=dim)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return embeddings.select("vec_id").join(drops, "vec_id", "left_anti")
