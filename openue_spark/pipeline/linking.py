"""Entity linking / canonicalization (SURVEY.md §2.10; north-rule stage).

The reference emits raw surface-form triples (model.py:380-384) — it has no
linking. This stage is Spark-native by design:

1. mention table: distinct subject/object surface forms with stable 64-bit ids
2. candidate blocking over character-3-gram shingles — avoids the O(n^2)
   all-pairs comparison: pure column-expression MinHash banding over the
   band hashes stored in a `mention_state` table
3. rerank: cosine similarity on pooled mention embeddings (mock pooled [CLS]
   vector = char-trigram hashing vector, openue_spark.mock_models, built in
   an Arrow-batched mapInPandas) as a built-in array dot product, ahead of
   the exact-Jaccard verify
4. connected components: iterative min-label propagation over the surviving
   edges (join-based union-find) with bounded iterations and per-round
   localCheckpoint to cut lineage — the scale-safe fixpoint loop
5. canonical id/name per component: lexicographically-least (shortest-first)
   member, a deterministic representative

Scale notes: steps 1-3 are shuffle-light (distinct + LSH join); step 4's
join fan-in is bounded by the candidate-edge count, not the mention count;
every round coalesces via AQE. Mentions are distinct'd before any expensive
work, so duplicate surface forms cost nothing.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..mock_models import mention_embedding

EMB_DIM = 32

# Mention-count ceiling for the explicit F.broadcast() hints on the fused
# verify's per-mention side tables (hashed shingles ~40 int64s ≈ 350 B/row
# in a broadcast hash relation, embeddings 32 doubles ≈ 300 B/row): at 5M
# mentions each hinted side is ~1.5-1.8 GB per executor — about the
# practical ceiling. The hint OVERRIDES autoBroadcastJoinThreshold, so an
# unconditional hint at 10^8-10^9 mentions (the 100 TB regime) would build
# a multi-GB table on every executor and OOM. Above this ceiling the hints
# are dropped and AQE chooses the strategy from RUNTIME sizes — it still
# broadcasts any side that genuinely fits (e.g. the incident-restricted
# tables of an incremental fold), and falls back to a cores-scaling
# shuffle join otherwise (the switch BASELINE.md's 100 TB plan promises).
BROADCAST_MAX_MENTIONS = 5_000_000

# Mention-count ceiling for canonicalize's broadcast-regime rep join. Below
# it the per-component rep table (3 narrow cols, one row per component)
# broadcasts under AQE and component-size skew is moot; above it reps stops
# fitting a broadcast (~10^8 components ≈ several GB) and the giant
# component's label would become one hot shuffle key — canonicalize then
# salts the join across CANON_SALT_PARTS subkeys (exact same output; see
# its docstring). Set well above BROADCAST_MAX_MENTIONS because reps rows
# are ~10x narrower than the verify-side feature tables.
CANON_SALT_MENTIONS = 50_000_000
CANON_SALT_PARTS = 16


def mention_table(triples: DataFrame) -> DataFrame:
    """Distinct mention surface forms with stable ids (xxhash64 of the
    string — deterministic across runs/partitionings)."""
    mentions = (
        triples.select(F.col("subj").alias("mention"))
        .unionByName(triples.select(F.col("obj").alias("mention")))
        .where(F.length("mention") > 0)
        .distinct()
    )
    return mentions.withColumn("mention_id", F.xxhash64("mention"))


def _embed_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        vecs = [mention_embedding(m, EMB_DIM) for m in pdf["mention"].to_numpy()]
        yield pd.DataFrame(
            {
                "mention_id": pdf["mention_id"].to_numpy(),
                "mention": pdf["mention"].to_numpy(),
                "embedding": vecs,
            }
        )


_EMB_SCHEMA = T.StructType(
    [
        T.StructField("mention_id", T.LongType()),
        T.StructField("mention", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def embed_mentions(mentions: DataFrame) -> DataFrame:
    """Mock pooled-[CLS] embeddings, Arrow-batched (never per-row Python)."""
    return mentions.select("mention_id", "mention").mapInPandas(
        _embed_batches, schema=_EMB_SCHEMA
    )


def _shingled_mentions(mentions: DataFrame) -> DataFrame:
    """(mention_id, shingles): distinct char-3-gram set per mention —
    the ONE definition of the portable-mode blocking feature space, shared
    by candidate_pairs_banded, mention_state and the incremental fold so
    the hashing scheme can never desynchronize between them.

    Lazily checkpointed: the shingle arrays feed minhash signatures AND the
    verify join's payload; without the barrier Catalyst inlines the
    construction into the join output and re-evaluates it per candidate
    pair (see ops.dedup._barrier — measured 32x on the simhash analogue).
    """
    out = mentions.select(
        "mention_id",
        "mention",  # carried for the hot-bucket chunk sort key; pruned
        # by Catalyst wherever a consumer never references it
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(1, length(mention) - 2)),"
                " i -> substring(mention, i, 3))"
            )
        ).alias("shingles"),
    )
    return out if out.isStreaming else out.localCheckpoint(eager=False)


def _shingle_hashed_mentions(mentions: DataFrame) -> DataFrame:
    """(mention_id, mention, sh): int64-hashed char-3-gram shingle set per
    mention — the DE-STRINGED production feature source (VERDICT r4 item
    2 applied to linking). Each 3-gram is xxhash64'd in place of the
    substring array, so neither the shingle strings nor the 16 md5 hex
    sigs per shingle are ever materialized; everything downstream
    (signatures, band hashes, verify intersects) is bigint arithmetic.
    `sh` is BIT-IDENTICAL to `_hashed_shingles(_shingled_mentions(...))`
    — xxhash64 of the same distinct substrings in the same first-seen
    order (64-bit collisions inside one mention: ~1e-17) — so the stored
    mention_state's verify column is the same in both hash modes.
    Barriered like _shingled_mentions (the array feeds signatures AND the
    verify payload; see ops.dedup._barrier)."""
    out = mentions.select(
        "mention_id",
        "mention",  # hot-bucket chunk sort key; pruned where unreferenced
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(1, length(mention) - 2)),"
                " i -> xxhash64(substring(mention, i, 3)))"
            )
        ).alias("sh"),
    )
    return out if out.isStreaming else out.localCheckpoint(eager=False)


def _sig_cols(n_hashes: int, portable: bool = False) -> list:
    """Per-hash minhash columns. portable=True: md5 hex strings over the
    `shingles` strings — bit-replayable in DuckDB, the mode the
    hash-checked link oracle rows pin. Default: variadic xxhash64 over
    the int64 `sh` hashes — the production mode (no hex strings, no
    crypto rounds; identical LSH statistics, and the exact-Jaccard verify
    keeps false positives out either way)."""
    if portable:
        return [
            F.expr(
                f"array_min(transform(shingles, s -> md5(concat(s, '#{i}'))))"
            ).alias(f"sig{i}")
            for i in range(n_hashes)
        ]
    return [
        F.expr(f"array_min(transform(sh, h -> xxhash64(h, {i})))").alias(f"sig{i}")
        for i in range(n_hashes)
    ]


def _band_hash_exprs(n_hashes: int, n_bands: int, portable: bool = False) -> list:
    """Band-hash columns (one per band) over the sig{i} columns: md5 over
    a '|'-joined string in portable mode, variadic xxhash64 over the
    BIGINT sigs (zero string materialization) in production mode."""
    rows_per_band = n_hashes // n_bands
    if portable:
        return [
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"sig{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            )
            for b in range(n_bands)
        ]
    return [
        F.xxhash64(
            *[F.col(f"sig{b * rows_per_band + r}") for r in range(rows_per_band)]
        )
        for b in range(n_bands)
    ]


def _banded_signatures(
    shingled: DataFrame, n_hashes: int, n_bands: int, portable: bool = False
) -> DataFrame:
    """(mention_id[, mention], band_id, band_hash): minhash sigs folded into
    band hashes and exploded one row per band (shared blocking
    construction). `mention` rides along when the source carries it — the
    hot-bucket chunk sort key needs it; pruned where unreferenced.
    `shingled` carries `shingles` strings in portable mode
    (_shingled_mentions) and the int64 `sh` in production mode
    (_shingle_hashed_mentions)."""
    extra = ["mention"] if "mention" in shingled.columns else []
    sigs = shingled.select("mention_id", *extra, *_sig_cols(n_hashes, portable))
    bands = _band_hash_exprs(n_hashes, n_bands, portable)
    return sigs.select(
        "mention_id",
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), bh.alias("band_hash"))
                    for b, bh in enumerate(bands)
                ]
            )
        ).alias("bh"),
    ).select("mention_id", *extra, "bh.band_id", "bh.band_hash")


def mention_state(
    mentions: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Persistable per-mention linking features — the stored state that
    makes incremental folds sublinear in corpus size:

      (mention, mention_id, band_hashes array<bigint|string>,
       sh array<bigint>, n_sh, embedding array<double>)

    band_hashes[b] is EXACTLY _banded_signatures' band_hash for band b in
    the same `portable` mode (shared column builders — pinned by test);
    sh/n_sh are the int64-hashed shingles (identical in BOTH modes — see
    _shingle_hashed_mentions), embedding mirrors embed_mentions.
    INVARIANT: a stored state table accompanies a mapping covering the
    same mention set, built with the same (n_hashes, n_bands, portable) —
    the hash MODE is part of the state's identity (bigint xxhash64 bands
    in production, md5 hex strings under portable=True), so a fold must
    run in the mode its prior state was built with. Every feature is a
    pure function of the mention string, so state never goes stale — an
    increment only APPENDS rows for fresh mentions.
    """
    if portable:
        shingled = _shingled_mentions(mentions)
        sigs = shingled.select("mention_id", "shingles", *_sig_cols(n_hashes, True))
        feat = sigs.select(
            "mention_id",
            F.array(*_band_hash_exprs(n_hashes, n_bands, True)).alias("band_hashes"),
            F.expr("transform(shingles, s -> xxhash64(s))").alias("sh"),
            F.size("shingles").alias("n_sh"),
        )
    else:
        shingled = _shingle_hashed_mentions(mentions)
        sigs = shingled.select("mention_id", "sh", *_sig_cols(n_hashes, False))
        feat = sigs.select(
            "mention_id",
            F.array(*_band_hash_exprs(n_hashes, n_bands, False)).alias("band_hashes"),
            F.col("sh"),
            F.size("sh").alias("n_sh"),
        )
    return embed_mentions(mentions).join(feat, "mention_id").select(
        "mention", "mention_id", "band_hashes", "sh", "n_sh", "embedding"
    )


def _hashed_shingles(shingled: DataFrame) -> DataFrame:
    """(mention_id, sh array<bigint>, n_sh): int64-hashed shingle sets for
    the exact-Jaccard verify (array<bigint> ships ~3x fewer bytes than
    array<string>; 64-bit collisions are negligible)."""
    return shingled.select(
        "mention_id",
        F.expr("transform(shingles, s -> xxhash64(s))").alias("sh"),
        F.size("shingles").alias("n_sh"),
    )


def candidate_pairs_banded(
    mentions: DataFrame,
    jaccard_distance: float = 0.6,
    n_hashes: int = 16,
    n_bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Banded-MinHash blocking in pure column expressions (the scale path;
    same algorithm as ops.dedup, char-3-gram shingles).

    Band shape is a recall/candidate-volume dial: 16 hashes in 8 two-row
    bands gives band-match probability 1-(1-J^2)^8 (~0.90 at J=0.5, ~0.97
    at J=0.6 — the region the cosine rerank keeps) while single-row bands
    flood the verify join with low-J candidates on a repetitive-vocabulary
    corpus (measured 2x slower end-to-end). The exact-Jaccard verify keeps
    LSH false positives out of the edge set either way.

    No ML pipeline fit, no sparse-vector conversion, no key-distance UDF —
    just narrow array exprs (whole-stage codegen) + one self-join on
    uniform band hashes (no skew by construction) + an exact-Jaccard verify
    that keeps false positives out; the plan is fully
    Catalyst-visible/AQE-tunable. Returns (a_id, b_id, jaccard_dist).

    `portable=True` switches the signature family to the md5-over-string
    scheme the DuckDB link oracles replay (the hash-checked contract rows
    pin it); the default is the de-stringed xxhash64 path — identical LSH
    statistics, exact verify either way, only the candidate sampling
    differs.
    """
    if portable:
        shingled = _shingled_mentions(mentions)
        hashed = _hashed_shingles(shingled)
    else:
        shingled = _shingle_hashed_mentions(mentions)
        hashed = shingled.select("mention_id", "sh", F.size("sh").alias("n_sh"))
    banded = _banded_signatures(shingled, n_hashes, n_bands, portable)
    a = banded.select(F.col("mention_id").alias("a_id"), "band_id", "band_hash")
    b = banded.select(F.col("mention_id").alias("b_id"), "band_id", "band_hash")
    # No distinct here: deduping 3.4M+ raw collisions is a full shuffle,
    # while the verify below is a narrow map over broadcast mention arrays —
    # re-verifying a pair that collided in k bands costs k cheap intersects,
    # and the dropDuplicates at the end runs on the ~10x smaller verified
    # edge set instead.
    cand = (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    return (
        _jaccard_verify(cand, hashed, jaccard_distance)
        .select("a_id", "b_id", "jaccard_dist")
        .dropDuplicates(["a_id", "b_id"])
    )


def _jaccard_verify(
    cand: DataFrame,
    hashed: DataFrame,
    jaccard_distance: float,
    broadcast_sides: bool = False,
) -> DataFrame:
    """Exact-Jaccard verify of an (a_id, b_id) candidate stream — the one
    shared tail of every blocker (banded, state-fed, incremental), so the
    arithmetic the DuckDB link oracles mirror can never fork. `hashed` is
    a (mention_id, sh, n_sh) table (from _hashed_shingles or the stored
    mention_state).

    Shuffle-lean (the candidate set dwarfs the mention set — 3.4M pairs
    from 36k mentions at the 100k-turn profile — so verify cost dominates
    blocking):
    - int64-hashed shingles (see _hashed_shingles)
    - size-ratio prefilter BEFORE the intersect: J >= t forces
      min(|a|,|b|) >= t * max(|a|,|b|) (|∩| <= min, |∪| >= max), an
      int-only reject of most candidates
    - |∪| computed as n_a + n_b - |∩| (shingle sets are distinct)
    - broadcast_sides=True ships the per-mention tables explicitly
      broadcast so the candidate stream itself is never shuffled (the
      state-fed path's choice; the verify-first path lets AQE decide)

    Keeps every input column of `cand`, adds `jaccard_dist`; duplicate
    candidate pairs ride through (dedup AFTER verify — the round-1 lesson).
    """
    min_j = 1.0 - jaccard_distance
    # NOTE (round-3 investigation): a same-aliased-frame form of this self-
    # lookup ("one reused exchange for both sides") was tried and REVERTED —
    # AQE's runtime stage cache already reuses identical per-side stages
    # even with the renamed projections below (canonicalization normalizes
    # the aliases), and pinned-core A/B/A/B showed the two forms are
    # performance-identical. See PLANS.md §15.
    sa = hashed.select(
        F.col("mention_id").alias("a_id"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    sb = hashed.select(
        F.col("mention_id").alias("b_id"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    if broadcast_sides:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    keep = list(cand.columns)
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .where(
            F.least("n_a", "n_b").cast("double")
            >= F.lit(min_j) * F.greatest("n_a", "n_b")
        )
        .withColumn("inter", inter)
        .withColumn(
            "jaccard_dist",
            1 - F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard_dist") <= jaccard_distance)
        .select(*keep, "jaccard_dist")
    )


def _cosine_filter(
    cand: DataFrame,
    embedded: DataFrame,
    min_cosine: float,
    broadcast_sides: bool = True,
) -> DataFrame:
    """Keep (a_id, b_id) candidates whose pooled-embedding cosine >=
    min_cosine (embeddings are L2-normalized -> plain dot). With
    broadcast_sides=True (the <= BROADCAST_MAX_MENTIONS regime) per-pair
    vectors join from explicitly-broadcast mention-side tables, so the
    candidate stream is never shuffled; above the ceiling the hints are
    dropped and AQE picks the strategy from runtime sizes. Adds a
    `cosine` column."""
    ea = embedded.select(F.col("mention_id").alias("a_id"), F.col("embedding").alias("emb_a"))
    eb = embedded.select(F.col("mention_id").alias("b_id"), F.col("embedding").alias("emb_b"))
    if broadcast_sides:
        ea, eb = F.broadcast(ea), F.broadcast(eb)
    dot = F.expr("aggregate(zip_with(emb_a, emb_b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    keep = list(cand.columns)
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .withColumn("cosine", dot)
        .where(F.col("cosine") >= min_cosine)
        .select(*keep, "cosine")
    )


# Rows of chunk k whose within-chunk rank is < _CAP_CHUNK_OVERLAP are also
# emitted into chunk k-1, chaining adjacent chunks of a hot bucket through
# the verify + connected components (see _chunk_hot_buckets).
_CAP_CHUNK_OVERLAP = 8
# Chunk size for buckets OVER the max_bucket threshold. Decoupled from the
# threshold: buckets <= max_bucket keep exact full pairing; bigger buckets
# pay O(B * _CAP_CHUNK_SIZE) candidates. The measured recall/wall tradeoff
# (60k-turn pairwise component recall vs uncapped / 600k-turn verify wall
# at local[32]) that picked 128:
#   drop-the-bucket (round 3): R 0.889 /  7.2 s     C=64:  R 0.947 / 12.9 s
#   C=16: R 0.932 /  7.5 s                          C=128: R 0.954 / 15.5 s
#   C=32: R 0.938 / 11.2 s                          C=256: R 0.964 / 28.6 s
_CAP_CHUNK_SIZE = 128


def _chunk_hot_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Split band buckets larger than max_bucket into overlapping chunks
    BEFORE the self-join (sorted-neighborhood blocking within the bucket).

    Repetitive surface-form vocabularies concentrate minhashes: at the
    200k-turn profile the hottest of 8x62k band buckets held 18,281
    mentions — that single bucket alone is 167M candidate pairs, and the
    raw candidate stream reached 512M rows (the whole linking stage was
    ~85% this join's payload shipping).

    Round 3 DROPPED over-cap buckets outright, arguing a dropped pair still
    meets through one of its other n_bands-1 bands (analytically ~0.956 at
    J >= 0.6). MEASURED at 60k fixture turns (23,445 mentions) that claim
    fails: the same hot vocabulary concentrates in ALL bands, so edge
    recall vs uncapped was 0.7475 and pairwise component recall 0.889 —
    dense clusters living only in hot buckets shattered into singletons.

    This version keeps candidate volume bounded at O(B * _CAP_CHUNK_SIZE)
    per over-threshold bucket instead of O(B^2) but never orphans a
    mention: rows get row_number() within the bucket; buckets at or below
    max_bucket land whole in chunk 0 (pair set byte-identical to the
    uncapped join for them), bigger buckets split into chunks of
    C = min(_CAP_CHUNK_SIZE, max_bucket) rows, and the first
    _CAP_CHUNK_OVERLAP rows of each chunk k>0 are ALSO emitted into chunk
    k-1 (one explode, no second window pass). The self-join key gains
    `chunk`, so pairs form only within a chunk; overlap rows that survive
    the cosine+Jaccard verify chain adjacent chunks of a genuinely-dense
    cluster into one connected component, while vocabulary-collision
    buckets stay split (their cross-chunk pairs would have failed the
    verify anyway). Capped edges remain a SUBSET of uncapped edges, so
    pairwise precision vs the uncapped clustering is 1.0 by construction.

    Chunk ORDER is sorted-neighborhood's whole trick: hot buckets
    interleave several true clusters, so a similarity-blind order (raw
    mention_id) puts cross-cluster pairs on the chain and the links fail
    the verify. Rows sort by the mention string ROTATED by band_id
    (substring from 1 + band_id*5 mod len, then the full string), giving
    each of the n_bands buckets an independently-phased lexicographic
    neighborhood — prefix-similar forms sort adjacent in band 0,
    suffix-similar ones in some other band. Measured at the 60k fixture
    (23,445 mentions, threshold 256 vs uncapped): pairwise component
    recall 0.889 (round-3 drop) -> 0.929 (chunks, id order) -> 0.954
    (rotated order, C=128); the full C/recall/wall curve is at
    _CAP_CHUNK_SIZE above; pinned by tests/test_linking.py.
    """
    if "mention" in banded.columns:
        rot = F.expr(
            "concat(substring(mention,"
            " 1 + (band_id * 5) % greatest(length(mention), 1), 1000), mention)"
        )
        order = [rot, F.col("mention_id")]
    else:
        order = [F.col("mention_id")]
    w = Window.partitionBy("band_id", "band_hash").orderBy(*order)
    wsz = Window.partitionBy("band_id", "band_hash")
    c = min(_CAP_CHUNK_SIZE, max_bucket)
    ov = min(_CAP_CHUNK_OVERLAP, max(c - 1, 1))
    rn, bsz = F.col("_rn"), F.col("_bsz")
    over = bsz > max_bucket
    chunk = F.when(over, F.floor(rn / c).cast("int")).otherwise(F.lit(0))
    chunks = F.when(
        over & (rn >= c) & (rn % c < ov),
        F.array(chunk, chunk - F.lit(1)),
    ).otherwise(F.array(chunk))
    return (
        banded.withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("_bsz", F.count(F.lit(1)).over(wsz))
        .withColumn("chunk", F.explode(chunks))
        .drop("_rn", "_bsz")
    )


def candidate_edges_from_state(
    state: DataFrame,
    jaccard_distance: float = 0.6,
    min_cosine: float = 0.85,
    max_bucket: int | None = 256,
    n_mentions: int | None = None,
) -> DataFrame:
    """Blocking -> hot-bucket cap -> cosine prefilter -> exact-Jaccard
    verify, fed from a persisted mention_state table (zero per-mention
    feature recompute).

    The edge set is a CONJUNCTION (jaccard_dist <= t AND cosine >= c), so
    filter order is free — and the order matters enormously at scale:
    array_intersect over ~38-element shingle sets costs ~10x a 32-dim dot
    product, and the cosine cut (8.7x selective on the 200k-turn profile)
    runs first so the expensive verify only sees survivors. Per-pair inputs
    (embedding, hashed shingles, set size) join from explicitly-broadcast
    mention-side tables, so the candidate stream is never shuffled; pair
    dedup runs LAST on the survivors (the round-1 lesson, applied to both
    expensive filters). `candidate_pairs_banded` keeps the verify-first
    shape for the oracle-checked contract queries.

    `n_mentions` gates the broadcast hints (BROADCAST_MAX_MENTIONS);
    counted from `state` when not supplied (parquet-footer-cheap)."""
    if n_mentions is None:
        n_mentions = state.count()
    broadcast_sides = n_mentions <= BROADCAST_MAX_MENTIONS
    banded = state.select(
        "mention_id",
        "mention",
        F.posexplode("band_hashes").alias("band_id", "band_hash"),
    )
    keys = ["band_id", "band_hash"]
    if max_bucket is not None:
        banded = _chunk_hot_buckets(banded, max_bucket)
        keys.append("chunk")
        # The verify stage is COMPUTE-dense, not byte-dense: ~30 bytes/row
        # of band keys in, then pair fan-out + cosine + array_intersect
        # per candidate (measured 628 core-s of HOF work from a 77 MB
        # shuffle read at 333k mentions). AQE's byte-based partition
        # coalescing can't see that and collapsed the stage to
        # defaultParallelism tasks of 57-78 s — two ragged waves on 8
        # cores (eff 0.648 vs 0.836 pre-chunking). A user-NUMBERED
        # repartition on the join keys is exempt from AQE coalescing, so
        # the join runs at ~4x cores tasks and packs cleanly; per-task
        # skew needs no AQE splitting because _chunk_hot_buckets already
        # bounds every key group to <= max_bucket rows. Costs one narrow
        # ~40 MB exchange; both self-join sides reuse it.
        sc = banded.sparkSession.sparkContext
        banded = banded.repartition(4 * sc.defaultParallelism, *keys)
    a = banded.select(F.col("mention_id").alias("a_id"), *keys)
    b = banded.select(F.col("mention_id").alias("b_id"), *keys)
    cand = (
        a.join(b, keys)
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    # stage 1: cosine prefilter; stage 2: exact-Jaccard verify on the
    # survivors only (shared helpers — see their docstrings for the
    # broadcast/shuffle rationale)
    close = _cosine_filter(
        cand,
        state.select("mention_id", "embedding"),
        min_cosine,
        broadcast_sides=broadcast_sides,
    )
    return (
        _jaccard_verify(
            close,
            state.select("mention_id", "sh", "n_sh"),
            jaccard_distance,
            broadcast_sides=broadcast_sides,
        )
        .select("a_id", "b_id", "jaccard_dist", "cosine")
        .dropDuplicates(["a_id", "b_id"])
    )


_CC_CONTRACT_AFTER = 3  # propagation rounds per level before contracting
_CC_MAX_DEPTH = 8  # contraction recursion bound (graph shrinks ~20x/level)

# Edge-count gate below which components are solved on the driver instead of
# by the distributed fixpoint loop. 4M edges = two int64 columns = ~64 MB
# collected — a bounded, size-gated collect (CLAUDE.md invariant). This is
# NOT a small-data-only shortcut: the distributed loop CONTRACTS the graph
# ~5-20x per level, so at any input scale the recursion reaches a
# driver-sized super-node graph within a few levels and finishes there,
# replacing ~10 more rounds x 3 Spark actions of pure scheduler latency
# (the measured core-count-invariant term in the full-job scaling pair)
# with one collect + ~1 s of vectorized numpy.
_CC_DRIVER_MAX_EDGES = 4_000_000


def _min_label_components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact min-label connected components on the driver, vectorized.

    Boruvka-style levels: one scatter-min relaxation (sort + minimum.reduceat
    — np.minimum.at is ~10x slower here), full pointer compression (repeated
    parent[parent]; pointers only ever point to smaller indices, so the
    forest is acyclic and compression terminates), then graph contraction to
    the surviving roots. Every level merges each active component with at
    least one neighbor, so levels are O(log n) — a 2.6M-edge path graph
    (worst diameter) measured 13 levels / ~4.5 s; the production 600k-turn
    mention graph (~1.3M edges) ~2 s vs 10-20 s for the distributed loop.

    Returns (nodes, labels): sorted distinct node ids and, per node, the
    MINIMUM id of its component — identical semantics to the distributed
    propagation and the DuckDB transitive-closure oracle. np.unique sorts
    ascending, so the min remapped index is the min original id.
    """
    both = np.concatenate([src, dst])
    nodes, inv = np.unique(both, return_inverse=True)
    n = int(nodes.size)
    if n == 0:
        return nodes, nodes
    us = inv  # both directions: inv already holds src-halves and dst-halves
    vs = np.concatenate([inv[src.size :], inv[: src.size]])
    parent = np.arange(n, dtype=np.int64)
    level = 0
    while us.size:
        order = np.argsort(us, kind="stable")
        us_s = us[order]
        pv = parent[vs[order]]
        starts = np.flatnonzero(np.r_[True, us_s[1:] != us_s[:-1]])
        uu = us_s[starts]
        parent[uu] = np.minimum(parent[uu], np.minimum.reduceat(pv, starts))
        while True:
            p2 = parent[parent]
            if np.array_equal(p2, parent):
                break
            parent = p2
        cu = parent[us]
        cv = parent[vs]
        keep = cu != cv
        if not keep.any():
            break
        key = np.unique(cu[keep] * n + cv[keep])  # n <= 2*4M: no overflow
        us = key // n
        vs = key % n
        level += 1
        if level > 64:  # log2-bounded in theory; loud if that breaks
            raise RuntimeError("driver components failed to converge")
    return nodes, nodes[parent]


def _driver_cc_labels(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Collect a (gated, <= _CC_DRIVER_MAX_EDGES) edge list, solve exactly on
    the driver, and return labels(mention_id, label) as a distributed frame.

    Input need not be symmetrized or deduplicated — the solver handles both —
    so the depth-0 caller can skip the symmetrize+distinct shuffle entirely.
    """
    spark = edges.sparkSession
    pdf = edges.select(F.col(a).alias("a"), F.col(b).alias("b")).toPandas()
    nodes, labels = _min_label_components(
        pdf["a"].to_numpy(np.int64), pdf["b"].to_numpy(np.int64)
    )
    schema = T.StructType(
        [
            T.StructField("mention_id", T.LongType(), False),
            T.StructField("label", T.LongType(), False),
        ]
    )
    out = spark.createDataFrame(
        pd.DataFrame({"mention_id": nodes, "label": labels}), schema=schema
    )
    # Arrow chunks the local frame across defaultParallelism partitions;
    # checkpoint so downstream double-consumers scan executor blocks, not a
    # LocalRelation re-shipped inside every plan that joins it.
    return out.localCheckpoint(eager=True)


def _cc_propagate_contract(
    sym: DataFrame, labels: DataFrame, max_iterations: int, depth: int = 0,
    driver_max_edges: int = 0,
) -> tuple[DataFrame, bool]:
    """Min-label propagation with graph CONTRACTION between levels.

    Run _CC_CONTRACT_AFTER propagation rounds, then contract: rebuild the
    edge set between CURRENT labels (super-nodes), solve the (much
    smaller) contracted graph recursively, and compose the result back
    (label[m] <- clabel[label[m]]). Propagation alone needs O(diameter)
    rounds at ~2 s/round of fixed scheduler+checkpoint cost; the 600k-turn
    profile measured diameter ~21 -> 22 rounds / 34 s flat, vs 10 rounds /
    ~10-12 s contracted (same-session A/B/A/B, identical 1,547
    components). Contraction preserves components exactly (super-edges
    connect current labels, which are node ids of the same component;
    composition is the quotient map), and the component MINIMUM survives:
    the min node's label is itself, so it is present at every level.
    Pointer-jumping was tried first and did NOT pay (the labels-on-labels
    join costs a full extra shuffle per round for ~2x fewer rounds);
    contraction pays because the recursive levels run on ~20x smaller data.
    """
    converged = False
    for it in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.mention_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the previous label through the round so convergence is a
        # filter over the (already materialized) checkpoint, not an extra
        # join per round — CC here is scheduler-latency-bound (tiny per-
        # round data, 3 actions/round), so shaving actions is what helps
        new_labels = (
            labels.join(neighbor_min, labels.mention_id == neighbor_min.src, "left")
            .select(
                "mention_id",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
                F.col("label").alias("prev"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.where(F.col("label") != F.col("prev")).limit(1).count()
        labels = new_labels.drop("prev")
        if changed == 0:
            converged = True
            break
        if it + 1 >= _CC_CONTRACT_AFTER and depth < _CC_MAX_DEPTH:
            ls = labels.select(F.col("mention_id").alias("src"), F.col("label").alias("ls"))
            ld = labels.select(F.col("mention_id").alias("dst"), F.col("label").alias("ld"))
            ce = (
                sym.join(ls, "src")
                .join(ld, "dst")
                .select(F.col("ls").alias("src"), F.col("ld").alias("dst"))
                .where(F.col("src") != F.col("dst"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            if (
                driver_max_edges > 0
                and isinstance(ce.schema["src"].dataType, T.LongType)
                and ce.count() <= driver_max_edges
            ):
                # contraction shrank the super-node graph under the driver
                # gate: finish exactly in numpy (ce is checkpointed, so the
                # count and collect read materialized blocks)
                clabels = _driver_cc_labels(ce, "src", "dst")
                converged = True
            else:
                cn = (
                    ce.select(F.col("src").alias("mention_id"))
                    .unionByName(ce.select(F.col("dst").alias("mention_id")))
                    .distinct()
                )
                clabels = cn.select(
                    "mention_id", F.col("mention_id").alias("label")
                ).localCheckpoint(eager=True)
                clabels, converged = _cc_propagate_contract(
                    ce, clabels, max_iterations, depth + 1,
                    driver_max_edges=driver_max_edges,
                )
            cmap = clabels.select(
                F.col("mention_id").alias("cm"), F.col("label").alias("cl")
            )
            labels = (
                labels.join(cmap, labels.label == cmap.cm, "left")
                .select(
                    "mention_id",
                    F.coalesce("cl", F.col("label")).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            return labels, converged
    return labels, converged


def connected_components(
    mentions: DataFrame, edges: DataFrame, max_iterations: int = 15,
    strict: bool = False, driver_max_edges: int | None = None,
) -> DataFrame:
    """Join-based min-label connected components (bounded).

    labels(mention_id, label); propagation rounds interleave with graph
    contraction (see `_cc_propagate_contract`) so deep chains cost
    O(log diameter) levels of a few rounds each instead of O(diameter)
    full-size rounds. Each round localCheckpoints to keep lineage flat
    (iterative-join lineage blowup is the classic trap). `max_iterations`
    bounds the rounds PER LEVEL; levels are bounded by _CC_MAX_DEPTH.

    strict=True raises if the budget is exhausted before the fixpoint —
    for callers checked against an exact-transitive-closure oracle, a loud
    failure beats silently-nonminimal labels.

    Edge sets at or below _CC_DRIVER_MAX_EDGES are solved exactly on the
    driver instead (see _min_label_components) — same labels, one collect
    and ~1-4 s of numpy in place of ~100 sequential Spark actions of
    scheduler latency. Above the gate, the distributed loop runs, and its
    contraction recursion hits the same gate once the super-node graph has
    shrunk enough — so the driver finish applies at every input scale.
    """
    gate = _CC_DRIVER_MAX_EDGES if driver_max_edges is None else driver_max_edges
    # the driver solver is int64-only; non-long ids (tests use strings) and
    # gate=0 (strict-mode tests force the distributed loop) skip it
    eligible = gate > 0 and isinstance(edges.schema["a_id"].dataType, T.LongType)
    if eligible:
        # ONE evaluation of the (possibly expensive, unmaterialized) edge
        # plan serves the gate probe, the driver collect, and both union
        # branches of the distributed fallback — without this barrier the
        # probe + toPandas would re-run the fused verify join twice (its
        # inputs are checkpointed upstream, the join itself is not)
        edges = edges.select("a_id", "b_id").localCheckpoint(eager=False)
    from ..session import job_phase

    spark = edges.sparkSession
    with job_phase(spark, "edges-gate-probe"):
        small = eligible and edges.limit(gate + 1).count() <= gate
    if small:
        with job_phase(spark, "cc-driver-finish"):
            labels = _driver_cc_labels(edges, "a_id", "b_id")
        converged = True
    else:
        sym = (
            edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
            .unionByName(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
            .distinct()
            .persist()
        )
        # Only edge-incident nodes can ever change label — loop over those;
        # isolated mentions (the vast majority at scale) are their own
        # component and are unioned back in at the end, never shuffled per round.
        incident = sym.select(F.col("src").alias("mention_id")).distinct()
        labels = incident.select("mention_id", F.col("mention_id").alias("label"))
        labels = labels.localCheckpoint(eager=True)
        with job_phase(spark, "cc-propagate"):
            labels, converged = _cc_propagate_contract(
                sym, labels, max_iterations, driver_max_edges=gate
            )
        sym.unpersist()
    if not converged:
        msg = (
            f"connected_components did not converge within {max_iterations}"
            " iterations — a component's diameter exceeds the cap; raise"
            " max_iterations (labels are non-minimal: one true component"
            " may carry multiple labels)"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    isolated = (
        mentions.select("mention_id")
        .join(labels.select("mention_id"), "mention_id", "left_anti")
        .select("mention_id", F.col("mention_id").alias("label"))
    )
    return labels.unionByName(isolated)


def canonicalize(
    mentions: DataFrame, labels: DataFrame, n_mentions: int | None = None
) -> DataFrame:
    """Per component: canonical member = (shortest, then lexicographically
    least) mention. Returns (mention, mention_id, canonical_id, canonical).

    The rep pick itself is skew-safe at any component size (min-of-struct
    partial-aggregates map-side), but the rep JOIN back onto the labeled
    mentions has two regimes:

    - n_mentions <= CANON_SALT_MENTIONS (every measured run here): `reps`
      holds one narrow row per component and AQE broadcasts it — no shuffle
      on `label`, so a giant component costs nothing extra (probed at 5M
      mentions / 80%-giant: 3.4-7.9 s, PLANS.md §17 tail).
    - above the gate (10^8-10^9 mentions, the 100 TB regime): `reps` can
      reach ~10^8 rows and stops being broadcastable, the join shuffles on
      `label`, and the giant component's label becomes ONE hot key whose
      partition AQE's byte-based skew split may not rescue (§18: byte
      heuristics are blind to row-count hot spots on narrow rows). Salting
      splits the hot label across CANON_SALT_PARTS subpartitions: the
      labeled side salts by a hash of mention_id, the one-row-per-label
      reps side replicates across all salts — exact same output, bounded
      per-task fan-in.

    `n_mentions` (threaded from the caller's existing count, same pattern
    as BROADCAST_MAX_MENTIONS) selects the regime; None keeps the
    broadcast-regime plan.
    """
    labeled = mentions.join(labels, "mention_id")
    reps = (
        labeled.groupBy("label")
        .agg(
            F.min(F.struct(F.length("mention").alias("len"), F.col("mention"), F.col("mention_id"))).alias("rep")
        )
        .select(
            "label",
            F.col("rep.mention").alias("canonical"),
            F.col("rep.mention_id").alias("canonical_id"),
        )
    )
    if n_mentions is not None and n_mentions > CANON_SALT_MENTIONS:
        parts = F.lit(CANON_SALT_PARTS)
        lab_s = labeled.withColumn(
            "_salt", F.pmod(F.xxhash64("mention_id"), parts).cast("int")
        )
        reps_s = reps.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), parts - F.lit(1)))
        )
        joined = lab_s.join(reps_s, ["label", "_salt"])
    else:
        joined = labeled.join(reps, "label")
    return joined.select("mention", "mention_id", "canonical_id", "canonical")


def link_entities(
    triples: DataFrame,
    jaccard_distance: float = 0.6,
    min_cosine: float = 0.85,
    max_bucket: int | None = 256,
    state: DataFrame | None = None,
) -> DataFrame:
    """Full linking stage: triples -> canonical mention mapping.

    Blocking always reads a mention_state table. `state` is an optional
    one covering exactly this corpus's mentions (the job builds it once
    and also persists it for --increment runs); without it the state is
    built here from `mention_table(triples)` and eagerly checkpointed,
    the same barrier the job puts on its stored state.

    The mention set is persisted for its consumers (component init,
    canonicalize) and the returned mapping is eagerly localCheckpointed:
    downstream `canonical_triples` joins it twice, and without
    materialization each join would re-pull the whole blocking + CC
    lineage (measured 4x wall-clock on the end-to-end job).
    """
    if state is None:
        state = mention_state(mention_table(triples)).localCheckpoint(eager=True)
    # the state table IS the distinct mention set (one row per mention_id,
    # carrying the surface form): deriving `mentions` from it skips
    # re-scanning the full triple table through mention_table's explode +
    # distinct shuffle — at 12M turns that scan costs a full extra pass
    # over ~33M mention instances for rows the caller already materialized
    mentions = state.select("mention_id", "mention").persist()
    # one count: warms the persist for the downstream consumers AND gates
    # the verify's broadcast hints (BROADCAST_MAX_MENTIONS — at
    # 10^8-10^9 mentions the hinted side stops fitting executor memory and
    # AQE must pick the join from runtime sizes instead)
    n_mentions = mentions.count()
    edges = candidate_edges_from_state(
        state,
        jaccard_distance,
        min_cosine,
        max_bucket=max_bucket,
        n_mentions=n_mentions,
    )
    # cap 50, not 15: the loop exits at the first converged round, so the
    # higher bound is free on shallow clusters and covers deep chains a
    # 15-round cap would silently leave with split labels (a warning fires
    # if even 50 is exhausted)
    from ..session import job_phase

    spark = triples.sparkSession
    # the fused verify's work materializes inside connected_components'
    # first action over `edges` (the gate probe) — label both together
    with job_phase(spark, "verify+cc"):
        labels = connected_components(mentions, edges, max_iterations=50)
    with job_phase(spark, "canonicalize"):
        mapping = canonicalize(
            mentions, labels, n_mentions=n_mentions
        ).localCheckpoint(eager=True)
    # over-merge guard: one giant transitive component is noise chained
    # into a single "entity", not signal (a 100k-turn profile produced a
    # component holding 84% of all mentions before the hot-bucket cap).
    # Canonicalization proceeds — the warning is the operator's cue to
    # tighten thresholds or the bucket cap. ONE aggregation over the
    # already-checkpointed mapping (canonical_id is 1:1 with the CC label,
    # and mapping holds exactly one row per mention) replaces the former
    # two pre-checkpoint jobs — a mentions.count plus a label histogram
    # that re-shuffled the unmaterialized CC lineage; the serial-latency
    # attribution in BASELINE.md round-3b motivated the fold-in.
    stats = (
        mapping.groupBy("canonical_id")
        .count()
        .agg(F.max("count").alias("biggest"), F.sum("count").alias("n"))
        .collect()[0]
    )
    biggest, n_mentions = int(stats.biggest or 0), int(stats.n or 0)
    if n_mentions > 0 and biggest > max(1000, n_mentions // 10):
        import warnings

        warnings.warn(
            f"link_entities: largest canonical component holds {biggest}"
            f" of {n_mentions} mentions ({100.0 * biggest / n_mentions:.0f}%)"
            " — likely transitive over-merge; consider a tighter"
            " min_cosine/jaccard_distance or a smaller max_bucket",
            RuntimeWarning,
            stacklevel=2,
        )
    mentions.unpersist()
    return mapping


def canonical_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj to canonical forms (two hash joins on the mention
    string; the mapping is small relative to triples — AQE converts to
    broadcast when it fits)."""
    subj_map = mapping.select(
        F.col("mention").alias("subj"), F.col("canonical").alias("subj_canon")
    )
    obj_map = mapping.select(
        F.col("mention").alias("obj"), F.col("canonical").alias("obj_canon")
    )
    return (
        triples.join(subj_map, "subj", "left")
        .join(obj_map, "obj", "left")
        .select(
            "conv_id",
            "turn_idx",
            F.coalesce("subj_canon", "subj").alias("subj"),
            "rel_id",
            "pred",
            F.coalesce("obj_canon", "obj").alias("obj"),
        )
    )


# --- Incremental maintenance: fold a new transcript batch into an existing
#     canonical mapping without re-linking the whole corpus. The reference
#     is batch-only (it has no linking at all); at 10^12 turns a daily
#     batch must NOT pay a full-corpus LSH self-join + CC, so the increment
#     re-blocks only pairs incident to genuinely-new mentions and re-runs
#     connected components only on the components those pairs touch. ---


def incremental_canonical_mapping(
    prior_mapping: DataFrame,
    new_mentions: DataFrame,
    jaccard_distance: float = 0.6,
    min_cosine: float | None = 0.85,
    n_hashes: int = 16,
    n_bands: int = 8,
    max_bucket: int | None = 256,
    max_iterations: int = 50,
    strict: bool = False,
    prior_state: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """Fold `new_mentions` into `prior_mapping`, returning the full updated
    mapping (mention, mention_id, canonical_id, canonical) over old ∪ new.

    Equivalence: with max_bucket=None the result is IDENTICAL to a full
    `link_entities` recompute over the union corpus —
      - blocking is a deterministic pairwise function (band signatures
        depend only on the two mentions), so the full recompute's old-old
        edges are exactly the old run's edges, already folded into
        prior components; only fresh-incident pairs are new,
      - each prior component is re-encoded as star edges
        (member -> canonical_id), so merged connectivity is preserved,
      - the canonical representative (shortest, then lexicographically
        least member) is a per-component function of membership alone.
    With a hot-bucket cap the increment is monotone instead: a new batch
    can push an old bucket over the cap, which would make a FULL recompute
    drop old-old pairs the prior run already verified — the increment
    never forgets a verified edge, so its components are a refinement-free
    superset of the capped recompute's (the behavior you actually want).

    Cost: with `prior_state` (the persisted mention_state table — the
    production shape) the increment touches only fresh mentions plus the
    bucket-local and component-local old rows they collide with: fresh
    features are computed, old features are READ, and nothing scans the
    full corpus. Without prior_state every feature is recomputed from the
    mention strings (bit-identical — they are pure functions), which adds
    one linear full-corpus pass; correct, but Θ(corpus) per fold.
    Untouched components (the vast majority of a mature KG) ride through
    verbatim with zero shuffle either way.
    """
    fresh = (
        new_mentions.select("mention", "mention_id")
        .join(prior_mapping.select("mention_id"), "mention_id", "left_anti")
        .localCheckpoint(eager=True)  # 3 consumers + a driver-side emptiness probe
    )
    if fresh.limit(1).count() == 0:
        return prior_mapping
    old_mentions = prior_mapping.select("mention", "mention_id")
    all_mentions = old_mentions.unionByName(fresh).persist()
    # corpus size after the fold — gates the verify broadcast hints (the
    # hinted sides are incident-RESTRICTED, so this bound is conservative;
    # above BROADCAST_MAX_MENTIONS the hints drop and AQE still broadcasts
    # an incident side that genuinely fits, from runtime sizes) and feeds
    # the over-merge guard at the end. Both inputs are checkpointed —
    # the counts are narrow-scan cheap.
    n_total = prior_mapping.count() + fresh.count()
    bc_sides = n_total <= BROADCAST_MAX_MENTIONS
    try:
        if prior_state is not None:
            # stored-state path: fresh features computed, old features read.
            # The union is the increment's WHOLE feature cost — Θ(batch).
            # `portable` must match the mode prior_state was built with
            # (band_hashes types/values must line up — the mention_state
            # invariant); the union would fail loudly on a type mismatch
            state_all = prior_state.select(
                "mention_id", "mention", "band_hashes", "sh", "n_sh", "embedding"
            ).unionByName(
                mention_state(fresh, n_hashes, n_bands, portable=portable).select(
                    "mention_id", "mention", "band_hashes", "sh", "n_sh", "embedding"
                )
            ).localCheckpoint(eager=False)
            banded_src = state_all.select(
                "mention_id",
                "mention",
                F.posexplode("band_hashes").alias("band_id", "band_hash"),
            )
            hashed_all = state_all.select("mention_id", "sh", "n_sh")
            emb_all = state_all.select("mention_id", "embedding")
        else:
            # recompute path: one linear full-corpus signature pass (17 s
            # for 62k+10k mentions on the 200k-turn profile — measured
            # ~45%% of the whole fold; pass prior_state to drop it).
            if portable:
                shingled = _shingled_mentions(all_mentions)
                hashed_all = _hashed_shingles(shingled)
            else:
                shingled = _shingle_hashed_mentions(all_mentions)
                hashed_all = shingled.select(
                    "mention_id", "sh", F.size("sh").alias("n_sh")
                )
            banded_src = _banded_signatures(shingled, n_hashes, n_bands, portable)
            emb_all = None  # embedded lazily, restricted to incident ids
        # Materialized once — banded feeds both sides of the bucket join,
        # and re-evaluating 16 md5 minhashes + the cap window per consumer
        # was measured at ~3x the whole stage's cost.
        banded = banded_src.localCheckpoint(eager=False)
        # Candidate pairs incident to >=1 fresh mention: fresh signatures on
        # one side, ALL signatures on the other. Orientation is normalized
        # AFTER the join (least/greatest) so a fresh-fresh pair seen in both
        # orders collapses in the final dedup, exactly like the self-join
        # path's a_id < b_id.
        fresh_banded = banded.join(
            fresh.select("mention_id"), "mention_id", "left_semi"
        )
        if max_bucket is not None:
            # Fresh-incident hot-bucket chunking: _chunk_hot_buckets'
            # window would shuffle EVERY band row — a Θ(corpus) exchange
            # hiding in a Θ(batch) fold. Only buckets containing a fresh
            # mention can produce pairs, so the chunk assignment (over each
            # such bucket's FULL membership — the semi-join keeps all
            # members, so rn/chunk match what a full recompute would
            # assign) runs on that subset alone. The fresh side then picks
            # its own rows' chunked copies back out by mention_id.
            fresh_buckets = fresh_banded.select("band_id", "band_hash").distinct()
            relevant = banded.join(
                fresh_buckets, ["band_id", "band_hash"], "left_semi"
            ).localCheckpoint(eager=False)  # windowed once, joined twice
            chunked = _chunk_hot_buckets(relevant, max_bucket).localCheckpoint(
                eager=False
            )
            x_src = chunked.join(fresh.select("mention_id"), "mention_id", "left_semi")
            y_src = chunked
            join_keys = ["band_id", "band_hash", "chunk"]
        else:
            x_src, y_src = fresh_banded, banded
            join_keys = ["band_id", "band_hash"]
        x = x_src.select(F.col("mention_id").alias("x_id"), *join_keys)
        y = y_src.select(F.col("mention_id").alias("y_id"), *join_keys)
        cand = (
            x.join(y, join_keys)
            .where(F.col("x_id") != F.col("y_id"))
            .select(
                F.least("x_id", "y_id").alias("a_id"),
                F.greatest("x_id", "y_id").alias("b_id"),
            )
        ).localCheckpoint(eager=False)  # feeds the incident-id semi-joins + filters
        # Only candidate-INCIDENT mentions need embeddings and verify-side
        # shingle tables — never the whole corpus (the broadcast sides are
        # built per filter, so restricting them is what keeps the increment
        # sublinear past the feature source).
        incident = (
            cand.select(F.col("a_id").alias("mention_id"))
            .unionByName(cand.select(F.col("b_id").alias("mention_id")))
            .distinct()
        )
        inc_hashed = hashed_all.join(incident, "mention_id", "left_semi")
        if min_cosine is not None:
            if emb_all is None:
                # recompute path: the mock embedding is a pure function of
                # the mention string, so recomputing is bit-identical to a
                # stored embedding table
                inc_emb = embed_mentions(
                    all_mentions.join(incident, "mention_id", "left_semi")
                ).localCheckpoint(eager=False)  # broadcast twice (a/b sides)
            else:
                inc_emb = emb_all.join(incident, "mention_id", "left_semi")
            cand = _cosine_filter(cand, inc_emb, min_cosine, broadcast_sides=bc_sides)
        edges = (
            _jaccard_verify(cand, inc_hashed, jaccard_distance, broadcast_sides=bc_sides)
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"])
        )
        # components touched by any new edge: every member rides into the
        # CC subgraph, connected through star edges to its prior canonical
        touched = (
            edges.select(F.col("a_id").alias("mention_id"))
            .unionByName(edges.select(F.col("b_id").alias("mention_id")))
            .distinct()
        )
        affected_comp = (
            prior_mapping.join(touched, "mention_id", "left_semi")
            .select("canonical_id")
            .distinct()
        )
        affected = prior_mapping.join(affected_comp, "canonical_id", "left_semi")
        star = affected.where(F.col("mention_id") != F.col("canonical_id")).select(
            F.col("mention_id").alias("a_id"), F.col("canonical_id").alias("b_id")
        )
        sub_mentions = affected.select("mention", "mention_id").unionByName(fresh)
        labels = connected_components(
            sub_mentions,
            edges.unionByName(star),
            max_iterations=max_iterations,
            strict=strict,
        )
        # over-merge guard, mirroring link_entities: a fold that chains a
        # huge fraction of the KG into one component is noise, not signal —
        # warn so the operator tightens thresholds before the next batch
        # (cheap: one count over the small CC subgraph + one over the
        # checkpointed prior mapping)
        biggest = (
            labels.groupBy("label").count().agg(F.max("count")).collect()[0][0]
            or 0
        )
        if biggest > max(1000, n_total // 10):
            import warnings

            warnings.warn(
                f"incremental_canonical_mapping: this fold links {biggest}"
                f" of {n_total} mentions into one component — likely"
                " transitive over-merge; consider a tighter"
                " min_cosine/jaccard_distance or a smaller max_bucket",
                RuntimeWarning,
                stacklevel=2,
            )
        changed = canonicalize(sub_mentions, labels, n_mentions=n_total)
        kept = prior_mapping.join(affected_comp, "canonical_id", "left_anti").select(
            "mention", "mention_id", "canonical_id", "canonical"
        )
        out = kept.unionByName(
            changed.select("mention", "mention_id", "canonical_id", "canonical")
        )
        # same rationale as link_entities: the mapping is consumed by two
        # joins downstream; checkpoint so neither re-pulls the CC lineage
        return out.localCheckpoint(eager=True)
    finally:
        all_mentions.unpersist()


def link_entities_increment(
    prior_mapping: DataFrame, new_triples: DataFrame, **kwargs
) -> DataFrame:
    """Triple-level wrapper: extract the new batch's mention table and fold
    it into `prior_mapping` (see incremental_canonical_mapping)."""
    return incremental_canonical_mapping(
        prior_mapping, mention_table(new_triples), **kwargs
    )


def mapping_delta(prior_mapping: DataFrame, updated_mapping: DataFrame) -> DataFrame:
    """(mention, old_canonical, new_canonical) for every mention whose
    canonical form changed or appeared — the rewrite set for an incremental
    triple-table refresh. At scale this drives a partition-pruned MERGE:
    only triple partitions containing a changed mention are rewritten;
    an empty delta means the batch added no linkable surface forms and the
    materialized KG needs no touch at all."""
    old = prior_mapping.select(
        "mention_id", F.col("canonical").alias("old_canonical")
    )
    new = updated_mapping.select(
        "mention", "mention_id", F.col("canonical").alias("new_canonical")
    )
    return (
        new.join(old, "mention_id", "left")
        .where(
            F.col("old_canonical").isNull()
            | (F.col("old_canonical") != F.col("new_canonical"))
        )
        .select("mention", "old_canonical", "new_canonical")
    )
