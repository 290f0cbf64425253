"""Entity linking / canonicalization stage tests (SURVEY.md §2.10)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openue_spark.pipeline.linking import (
    canonical_triples,
    canonicalize,
    connected_components,
    embed_mentions,
    link_entities,
    mention_table,
)


@pytest.fixture(scope="module")
def triples_df(spark):
    rows = [
        # cluster: 'acme corp' variants (near-dup surface forms)
        ("c0", 0, "acme corp", 0, "works_at", "alice smith"),
        ("c0", 1, "acme corp.", 0, "works_at", "alice smith"),
        ("c1", 0, "acme corporation", 0, "works_at", "bob jones"),
        # unrelated mentions
        ("c1", 1, "zebra industries", 2, "located_in", "paris"),
        ("c2", 0, "alice smith", 5, "spouse_of", "bob jones"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, subj string, rel_id int, pred string, obj string"
    )


def test_mention_table_distinct_and_stable(spark, triples_df):
    m = mention_table(triples_df)
    names = {r.mention for r in m.collect()}
    assert names == {
        "acme corp", "acme corp.", "acme corporation",
        "alice smith", "bob jones", "zebra industries", "paris",
    }
    ids1 = dict(m.collect())
    ids2 = {r.mention: r.mention_id for r in mention_table(triples_df).collect()}
    assert {r.mention: r.mention_id for r in m.collect()} == ids2
    assert len(set(ids2.values())) == len(ids2)
    del ids1


def test_embeddings_normalized(spark, triples_df):
    emb = embed_mentions(mention_table(triples_df))
    norms = emb.select(
        F.expr("aggregate(transform(embedding, x -> x * x), 0D, (a, v) -> a + v)").alias("n2")
    ).collect()
    assert all(abs(r.n2 - 1.0) < 1e-9 for r in norms)


def test_connected_components_transitive(spark):
    mentions = spark.createDataFrame(
        [(i, f"m{i}") for i in range(6)], "mention_id long, mention string"
    ).select("mention", "mention_id")
    # chain 0-1-2, pair 3-4, singleton 5
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "a_id long, b_id long"
    )
    labels = {r.mention_id: r.label for r in connected_components(mentions, edges).collect()}
    assert labels[0] == labels[1] == labels[2] == 0
    assert labels[3] == labels[4] == 3
    assert labels[5] == 5


def test_end_to_end_linking_and_rewrite(spark, triples_df):
    mapping = link_entities(triples_df, jaccard_distance=0.6, min_cosine=0.5)
    canon = {r.mention: r.canonical for r in mapping.collect()}
    # the three acme variants canonicalize to one representative: the
    # shortest-then-lex member of the component
    assert canon["acme corp"] == canon["acme corp."] == canon["acme corporation"] == "acme corp"
    assert canon["zebra industries"] == "zebra industries"

    rewritten = canonical_triples(triples_df, mapping)
    subs = {r.subj for r in rewritten.collect()}
    assert "acme corp." not in subs and "acme corporation" not in subs
    assert "acme corp" in subs
    # row count preserved (linking rewrites, never drops)
    assert rewritten.count() == triples_df.count()


def test_banded_blocking_matches_ml_lsh_on_clusters(spark, triples_df):
    """The banded blocker surfaces the acme-variant near-dup pairs and no
    pair across unrelated surface forms (exact-Jaccard-verified)."""
    from openue_spark.pipeline.linking import candidate_pairs_banded

    mentions = mention_table(triples_df)
    by_name = {r.mention: r.mention_id for r in mentions.collect()}
    got = {
        (min(r.a_id, r.b_id), max(r.a_id, r.b_id))
        for r in candidate_pairs_banded(mentions, jaccard_distance=0.6).collect()
    }
    acme = [by_name["acme corp"], by_name["acme corp."], by_name["acme corporation"]]
    assert (min(acme[0], acme[1]), max(acme[0], acme[1])) in got
    # no candidate pairs across obviously-unrelated surface forms
    far = (min(by_name["paris"], by_name["zebra industries"]),
           max(by_name["paris"], by_name["zebra industries"]))
    assert far not in got


def test_connected_components_strict_raises_on_deep_chain(spark):
    """strict mode fails loudly when the round budget cannot reach the
    fixpoint (the silent alternative diverges from the exact-closure
    oracle). With contraction (round 3+), even a tight budget now closes a
    deep chain — the genuinely-unreachable case is a budget BELOW the
    contraction trigger (one propagation round per level, no contraction),
    which cannot close an 18-node chain."""
    import pytest
    from pyspark.sql import functions as F

    from openue_spark.pipeline.linking import connected_components

    n = 18
    mentions = spark.createDataFrame([(f"m{i:02d}",) for i in range(n)], "mention_id string")
    edges = spark.createDataFrame(
        [(f"m{i:02d}", f"m{i + 1:02d}") for i in range(n - 1)], "a_id string, b_id string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(mentions, edges, max_iterations=1, strict=True)
    # contraction closes the 22-hop diameter within a 3-round/level budget
    # (flat propagation needed 17 rounds for this chain)
    labels3 = connected_components(mentions, edges, max_iterations=3, strict=True)
    assert labels3.where(F.col("label") != "m00").count() == 0
    labels = connected_components(mentions, edges, max_iterations=50, strict=True)
    assert labels.where(F.col("label") != "m00").count() == 0


def _numpy_cosine_cut(pairs, embedded, min_cosine):
    """Reference cosine cut over collected rows: {(a_id, b_id):
    (jaccard_dist, cosine)} for the verified `pairs` whose embedding dot
    product (a sequential numpy cumsum, the same left-to-right order as
    the Spark fold) is >= min_cosine."""
    vec = {r.mention_id: np.asarray(r.embedding) for r in embedded.collect()}
    out = {}
    for r in pairs.collect():
        cos = float(np.cumsum(vec[r.a_id] * vec[r.b_id])[-1])
        if cos >= min_cosine:
            out[(r.a_id, r.b_id)] = (r.jaccard_dist, cos)
    return out


def test_candidate_edges_hot_bucket_cap(spark):
    """candidate_edges_from_state == (blocking -> verify -> cosine cut)
    conjunction on a small corpus, with the cut computed in numpy,
    and the hot-bucket cap bounds candidate volume: with a cap below a
    degenerate bucket's size its pairs are dropped, while small-bucket
    corpora are unaffected by the default cap."""
    from pyspark.sql import functions as F

    from openue_spark.pipeline.linking import (
        candidate_edges_from_state,
        candidate_pairs_banded,
        mention_state,
    )

    rows = [(f"ent{i:03d} corp", ) for i in range(20)] + [("unrelated zebra",)]
    mentions = spark.createDataFrame(rows, "mention string").withColumn(
        "mention_id", F.xxhash64("mention")
    ).persist()
    state = mention_state(mentions).persist()

    fused = {
        (r.a_id, r.b_id)
        for r in candidate_edges_from_state(state, 0.6, 0.85, max_bucket=None).collect()
    }
    classic = set(
        _numpy_cosine_cut(
            candidate_pairs_banded(mentions, 0.6), embed_mentions(mentions), 0.85
        )
    )
    assert fused == classic and len(fused) > 0  # reordered conjunction, same set

    # default cap leaves this small corpus untouched; a tiny cap drops the
    # shared-vocabulary bucket's pairs entirely
    dflt = {
        (r.a_id, r.b_id)
        for r in candidate_edges_from_state(state, 0.6, 0.85).collect()
    }
    assert dflt == fused
    capped = {
        (r.a_id, r.b_id)
        for r in candidate_edges_from_state(state, 0.6, 0.85, max_bucket=2).collect()
    }
    assert len(capped) < len(fused)  # chunking bounds candidate volume...
    assert capped <= fused  # ...and capped edges stay a subset of uncapped


def test_chunked_cap_keeps_dense_cluster_connected(spark):
    """The round-4 cap redesign's guarantee: a genuinely-dense near-dup
    cluster whose members co-occur in over-cap buckets is NOT shattered —
    the overlap chain links its chunks into ONE connected component even
    at cap=2 (the round-3 drop-the-bucket cap left every member a
    singleton here)."""
    from pyspark.sql import functions as F

    from openue_spark.pipeline.linking import (
        candidate_edges_from_state,
        connected_components,
        mention_state,
    )

    # 30 near-identical surface forms: pairwise char-3-gram Jaccard is high,
    # so every adjacent chain pair passes the verify
    rows = [(f"consolidated freight holdings unit {i:02d}",) for i in range(30)]
    mentions = spark.createDataFrame(rows, "mention string").withColumn(
        "mention_id", F.xxhash64("mention")
    ).persist()
    state = mention_state(mentions).persist()
    capped = candidate_edges_from_state(state, 0.6, 0.85, max_bucket=2).persist()
    full = candidate_edges_from_state(state, 0.6, 0.85, max_bucket=None).persist()
    n_capped, n_full = capped.count(), full.count()
    assert 0 < n_capped < n_full  # volume genuinely bounded
    labels = connected_components(mentions, capped)
    assert labels.select("label").distinct().count() == 1  # one component


@pytest.mark.slow
def test_chunked_cap_recall_at_corpus_scale(spark):
    """Regression-pin the hot-bucket cap's measured quality at fixture
    scale (VERDICT r3 item 4): capped(256)-vs-uncapped candidate edges on
    the 60k-turn corpus (23,445 mentions — buckets well past the cap).
    Round-3's drop-the-bucket cap measured edge recall 0.7475 / pairwise
    component recall 0.889 here (its docstring claimed ~0.956
    analytically — wrong: hot vocabulary concentrates in ALL bands); the
    rotated-sort chunk chain at the default C=128 measured 0.8330 /
    0.9537 (full tradeoff curve at linking._CAP_CHUNK_SIZE).
    Deterministic fixtures + hashes, so the bars carry only small
    code-drift margin."""
    from openue_spark.fixtures import transcripts_spark
    from openue_spark.pipeline import extract_triples
    from openue_spark.pipeline.evaluate import pairwise_clustering_prf
    from openue_spark.pipeline.linking import (
        candidate_edges_from_state,
        connected_components,
        mention_state,
        mention_table,
    )

    raw = extract_triples(transcripts_spark(spark, 60_000))
    mentions = mention_table(raw).persist()
    state = mention_state(mentions).persist()
    nm = state.count()
    capped = (
        candidate_edges_from_state(state, n_mentions=nm)
        .select("a_id", "b_id")
        .persist()
    )
    uncapped = (
        candidate_edges_from_state(state, max_bucket=None, n_mentions=nm)
        .select("a_id", "b_id")
        .persist()
    )
    n_c, n_u = capped.count(), uncapped.count()
    assert capped.join(uncapped, ["a_id", "b_id"]).count() == n_c  # subset
    assert n_c / n_u >= 0.80  # edge recall (measured 0.8330 at C=128)
    cc_c = connected_components(mentions, capped).withColumnRenamed(
        "label", "pred_label"
    )
    cc_u = connected_components(mentions, uncapped).withColumnRenamed(
        "label", "gold_label"
    )
    row = pairwise_clustering_prf(cc_c.join(cc_u, "mention_id")).collect()[0]
    assert row.precision == 1.0  # subset edges can only split, never merge
    assert row.recall >= 0.94  # measured 0.9537 (was 0.889 pre-redesign)


# --- driver-side components short-circuit (round 3) ---


def _uf_oracle(edges):
    """Sequential union-find: per node, the MIN id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_min_label_components_matches_union_find_oracle():
    """The vectorized driver solver is exact on randomized graphs — chains,
    cliques, stars, duplicate/reversed edges, negative ids (xxhash64 range),
    self-loops — against a sequential union-find oracle."""
    import random

    import numpy as np

    from openue_spark.pipeline.linking import _min_label_components

    rng = random.Random(42)
    for trial in range(25):
        n = rng.randrange(1, 400)
        ids = rng.sample(range(-(2**62), 2**62 - 1), n)
        m = rng.randrange(1, 800)
        edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(m)]
        # adversarial shapes mixed in: a long chain and a clique
        chain = ids[: min(n, 50)]
        edges += list(zip(chain, chain[1:]))
        clique = ids[-min(n, 8):]
        edges += [(a, b) for a in clique for b in clique]
        src = np.array([e[0] for e in edges], dtype=np.int64)
        dst = np.array([e[1] for e in edges], dtype=np.int64)
        nodes, labels = _min_label_components(src, dst)
        expect = _uf_oracle(edges)
        got = dict(zip(nodes.tolist(), labels.tolist()))
        assert got == expect, f"trial {trial}"


def test_min_label_components_empty():
    import numpy as np

    from openue_spark.pipeline.linking import _min_label_components

    nodes, labels = _min_label_components(
        np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    )
    assert nodes.size == 0 and labels.size == 0


def test_connected_components_driver_and_distributed_agree(spark):
    """The size-gated driver path and the distributed fixpoint loop return
    identical labels (including isolated mentions) on a mixed graph."""
    import random

    rng = random.Random(7)
    ids = rng.sample(range(-(2**62), 2**62 - 1), 60)
    mentions = spark.createDataFrame(
        [(i,) for i in ids], "mention_id long"
    )
    edge_rows = (
        list(zip(ids[:20], ids[1:21]))          # 21-node chain
        + [(ids[30], ids[31]), (ids[31], ids[32]), (ids[30], ids[32])]  # triangle
        + [(ids[40], ids[40])]                  # self-loop
        + [(ids[45], ids[46]), (ids[46], ids[45])]  # reversed duplicate
    )
    edges = spark.createDataFrame(edge_rows, "a_id long, b_id long")
    via_driver = {
        r.mention_id: r.label
        for r in connected_components(mentions, edges).collect()
    }
    via_spark = {
        r.mention_id: r.label
        for r in connected_components(
            mentions, edges, max_iterations=50, driver_max_edges=0
        ).collect()
    }
    assert via_driver == via_spark
    assert via_driver[ids[20]] == min(ids[:21])
    assert via_driver[ids[40]] == ids[40]  # self-loop stays its own component
    # isolated mentions present in both
    assert set(via_driver) == set(ids)


# --- incremental maintenance (link_entities_increment) ---


def _mk_triples(spark, mentions, start=0):
    """One triple per adjacent mention pair (keeps every mention present as
    subj or obj)."""
    rows = [
        (f"c{start + i}", 0, mentions[i], 0, "rel", mentions[(i + 1) % len(mentions)])
        for i in range(len(mentions))
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subj string, rel_id int, pred string, obj string",
    )


def test_increment_equals_full_recompute(spark):
    """Folding batch 2 into batch 1's mapping must equal link_entities over
    the union corpus (max_bucket=None: the documented exactness regime)."""
    from openue_spark.pipeline.linking import link_entities, link_entities_increment

    bases = [f"{w} gadget factory" for w in ("red", "blue", "green", "amber", "mauve")]
    batch1_mentions = bases + [b + "s" for b in bases] + ["lone wolf holdings"]
    # batch 2: new variants of existing clusters + a brand-new cluster +
    # repeats of already-known mentions (must be no-ops)
    batch2_mentions = (
        [b + "." for b in bases]
        + ["quartz mining co", "quartz mining cos"]
        + bases[:2]
    )
    t1 = _mk_triples(spark, batch1_mentions)
    t2 = _mk_triples(spark, batch2_mentions, start=100)

    m1 = link_entities(t1, max_bucket=None)
    inc = link_entities_increment(m1, t2, max_bucket=None)
    full = link_entities(t1.unionByName(t2), max_bucket=None)

    got = {r.mention: r.canonical for r in inc.collect()}
    want = {r.mention: r.canonical for r in full.collect()}
    assert got == want
    # sanity: the increment actually linked new variants into old clusters
    assert got["red gadget factory."] == got["red gadget factory"]
    assert got["quartz mining cos"] == "quartz mining co"


def test_increment_noop_batch(spark):
    """A batch with only already-known mentions returns the prior mapping
    unchanged and an empty rewrite delta."""
    from openue_spark.pipeline.linking import (
        link_entities,
        link_entities_increment,
        mapping_delta,
    )

    t1 = _mk_triples(spark, ["acme corp", "acme corps", "zebra ltd"])
    m1 = link_entities(t1, max_bucket=None)
    again = link_entities_increment(m1, t1, max_bucket=None)
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in m1.collect()}
    assert mapping_delta(m1, again).count() == 0


def test_increment_bridge_merges_prior_components(spark):
    """A new mention can bridge two previously-separate components; the
    merged component re-canonicalizes and mapping_delta reports exactly the
    mentions whose canonical changed (plus the new ones)."""
    from pyspark.sql import functions as F

    from openue_spark.pipeline.linking import (
        incremental_canonical_mapping,
        mapping_delta,
        mention_table,
    )

    empty_prior = spark.createDataFrame(
        [], "mention string, mention_id bigint, canonical_id bigint, canonical string"
    )

    def mentions_of(names):
        return mention_table(_mk_triples(spark, names))

    # two clusters with no cross-cluster similarity (cosine disabled so the
    # bridge geometry is pure-Jaccard and easy to reason about)
    c1, c2 = ["abcdefgh", "abcdefghx"], ["qrstuvwx", "qrstuvwxy"]
    # 16 single-row bands: band-match probability ~1-(1-J)^16 (~0.9999 at
    # the bridge's J=0.43) so the merge exercises CC, not banding luck
    prior = incremental_canonical_mapping(
        empty_prior, mentions_of(c1 + c2), min_cosine=None, max_bucket=None,
        n_hashes=16, n_bands=16,
    )
    canon0 = {r.mention: r.canonical for r in prior.collect()}
    assert canon0["abcdefghx"] == "abcdefgh"
    assert canon0["qrstuvwxy"] == "qrstuvwx"
    assert canon0["abcdefgh"] != canon0["qrstuvwx"]

    bridge = "abcdefghqrstuvwx"  # shares 6-of-14 trigrams with each cluster head
    updated = incremental_canonical_mapping(
        prior, mentions_of([bridge] * 2 + c1[:1]), min_cosine=None, max_bucket=None,
        n_hashes=16, n_bands=16,
    )
    canon1 = {r.mention: r.canonical for r in updated.collect()}
    assert len({canon1[m] for m in c1 + c2 + [bridge]}) == 1  # all merged
    assert canon1["abcdefgh"] == "abcdefgh"  # shortest-then-lex rep

    delta = {
        (r.mention, r.old_canonical, r.new_canonical)
        for r in mapping_delta(prior, updated).collect()
    }
    # changed: the c2 members re-pointed; new: the bridge itself. c1 members
    # keep their canonical and must NOT appear.
    assert ("qrstuvwx", "qrstuvwx", "abcdefgh") in delta
    assert ("qrstuvwxy", "qrstuvwx", "abcdefgh") in delta
    assert (bridge, None, "abcdefgh") in delta
    assert not any(m == "abcdefgh" for m, _, _ in delta)


def test_mention_state_matches_recomputed_features(spark, triples_df):
    """The persisted state's band_hashes/sh/n_sh must be bit-identical to
    the blocker's recomputed signatures — the invariant that makes the
    state-fed increment equal the recompute-fed one — in BOTH hash modes.
    The `sh` verify column must additionally be identical ACROSS modes
    (the de-stringed char-3-gram hashes == xxhash64 of the string
    shingles, same order), so only band_hashes carries the mode."""
    from pyspark.sql import functions as F

    from openue_spark.pipeline.linking import (
        _banded_signatures,
        _hashed_shingles,
        _shingle_hashed_mentions,
        _shingled_mentions,
        mention_state,
        mention_table,
    )

    mentions = mention_table(triples_df)
    for portable in (False, True):
        state = mention_state(mentions, portable=portable)
        from_state = {
            (r.mention_id, r.band_id, r.band_hash)
            for r in state.select(
                "mention_id",
                F.posexplode("band_hashes").alias("band_id", "band_hash"),
            ).collect()
        }
        shingled = (
            _shingled_mentions(mentions)
            if portable
            else _shingle_hashed_mentions(mentions)
        )
        recomputed = {
            (r.mention_id, r.band_id, r.band_hash)
            for r in _banded_signatures(shingled, 16, 8, portable).collect()
        }
        assert from_state == recomputed, f"portable={portable}"
        sh_state = {(r.mention_id, tuple(r.sh), r.n_sh) for r in state.collect()}
        sh_re = {
            (r.mention_id, tuple(r.sh), r.n_sh)
            for r in _hashed_shingles(_shingled_mentions(mentions)).collect()
        }
        assert sh_state == sh_re, f"portable={portable}"


@pytest.mark.slow
def test_increment_with_stored_state_equals_recompute(spark):
    """Feeding the persisted mention_state must not change the fold result
    (features are pure functions of the mention string)."""
    from openue_spark.pipeline.linking import (
        link_entities,
        link_entities_increment,
        mention_state,
        mention_table,
    )

    bases = [f"{w} widget works" for w in ("cyan", "teal", "plum")]
    t1 = _mk_triples(spark, bases + [b + "s" for b in bases])
    t2 = _mk_triples(spark, [b + "." for b in bases] + ["new thing co"], start=50)
    m1 = link_entities(t1, max_bucket=None)
    state1 = mention_state(mention_table(t1))
    with_state = {
        tuple(r)
        for r in link_entities_increment(
            m1, t2, max_bucket=None, prior_state=state1
        ).collect()
    }
    without = {
        tuple(r)
        for r in link_entities_increment(m1, t2, max_bucket=None).collect()
    }
    full = {
        tuple(r)
        for r in link_entities(t1.unionByName(t2), max_bucket=None).collect()
    }
    assert with_state == without == full


@pytest.mark.slow
def test_increment_fresh_incident_cap(spark):
    """The fold's fresh-incident hot-bucket chunking: with a generous cap
    (no bucket exceeds it) the result equals the uncapped fold; with cap=1
    the bucket splits into single-row chunks, but the overlap chain keeps a
    genuinely-dense cluster connected — the fresh near-dup mention still
    merges instead of being orphaned (the round-4 fix: the old
    drop-the-bucket cap shattered dense clusters into singletons)."""
    from openue_spark.pipeline.linking import (
        incremental_canonical_mapping,
        mention_table,
    )

    empty_prior = spark.createDataFrame(
        [], "mention string, mention_id bigint, canonical_id bigint, canonical string"
    )
    base = ["grape press works", "grape press workss"]
    prior = incremental_canonical_mapping(
        empty_prior, mention_table(_mk_triples(spark, base)),
        min_cosine=None, max_bucket=None,
    )
    batch = mention_table(_mk_triples(spark, ["grape press works."], start=9))
    uncapped = {
        (r.mention, r.canonical)
        for r in incremental_canonical_mapping(
            prior, batch, min_cosine=None, max_bucket=None
        ).collect()
    }
    generous = {
        (r.mention, r.canonical)
        for r in incremental_canonical_mapping(
            prior, batch, min_cosine=None, max_bucket=256
        ).collect()
    }
    assert generous == uncapped
    assert ("grape press works.", "grape press works") in uncapped
    capped1 = {
        (r.mention, r.canonical)
        for r in incremental_canonical_mapping(
            prior, batch, min_cosine=None, max_bucket=1
        ).collect()
    }
    # chunk-chain connectivity: even at cap=1 the fresh near-dup merges
    # into the existing cluster (same mapping as the uncapped fold here)
    assert capped1 == uncapped


def test_pairwise_clustering_prf_hand_case(spark):
    """4 items, pred {a,b,c}{d}, gold {a,b}{c,d}: pred_pairs=3, gold_pairs=2,
    both=1 -> P=1/3, R=1/2, F1=0.4."""
    from openue_spark.pipeline.evaluate import pairwise_clustering_prf

    rows = [("a", 1, "x"), ("b", 1, "x"), ("c", 1, "y"), ("d", 2, "y")]
    df = spark.createDataFrame(rows, "item string, pred_label int, gold_label string")
    out = pairwise_clustering_prf(df).collect()[0]
    assert (out.pred_pairs, out.gold_pairs, out.both_pairs) == (3, 2, 1)
    assert abs(out.precision - 1 / 3) < 1e-12
    assert abs(out.recall - 0.5) < 1e-12
    assert abs(out.f1 - 0.4) < 1e-12


def test_state_fed_blocker_and_link_match_recompute(spark, triples_df):
    """candidate_edges_from_state must produce the verified, cosine-cut
    edges of the verify-first blocker (cut recomputed in numpy), and
    link_entities(state=...) the same mapping as link_entities building
    its own state — the one-feature-pass full build depends on it."""
    from openue_spark.pipeline.linking import (
        candidate_edges_from_state,
        candidate_pairs_banded,
        link_entities,
        mention_state,
        mention_table,
    )

    mentions = mention_table(triples_df).persist()
    state = mention_state(mentions).localCheckpoint(eager=True)
    recomputed = {
        (a, b, round(jd, 9), round(cos, 9))
        for (a, b), (jd, cos) in _numpy_cosine_cut(
            candidate_pairs_banded(mentions, 0.6), embed_mentions(mentions), 0.5
        ).items()
    }
    from_state = {
        (r.a_id, r.b_id, round(r.jaccard_dist, 9), round(r.cosine, 9))
        for r in candidate_edges_from_state(state, 0.6, 0.5, max_bucket=None).collect()
    }
    assert from_state == recomputed and len(from_state) > 0

    m_plain = {
        (r.mention, r.canonical) for r in link_entities(triples_df).collect()
    }
    m_state = {
        (r.mention, r.canonical)
        for r in link_entities(triples_df, state=state).collect()
    }
    assert m_state == m_plain


def test_canonicalize_salted_matches_broadcast_regime(spark):
    """Above CANON_SALT_MENTIONS canonicalize salts its rep join — the
    10^8-component regime where the per-component rep table stops being
    broadcastable and a giant component's label becomes one hot shuffle
    key. The salted plan must emit exactly the broadcast-regime mapping
    (same reps, same shortest-then-lex tie-breaks), with the salt visible
    in the join."""
    from openue_spark.pipeline.linking import CANON_SALT_MENTIONS

    n = 300
    mentions = spark.createDataFrame(
        [(i, f"mention {i:04d}") for i in range(n)],
        "mention_id long, mention string",
    ).select("mention", "mention_id")
    # 80%-giant component (label 0), one ten-row component, singletons
    labels = spark.createDataFrame(
        [(i, 0 if i < 240 else (240 if i < 250 else i)) for i in range(n)],
        "mention_id long, label long",
    )
    base = canonicalize(mentions, labels).collect()
    salted_df = canonicalize(mentions, labels, n_mentions=CANON_SALT_MENTIONS + 1)
    # the salted regime joins on (label, _salt): the salt column must
    # survive into the optimized plan (it is consumed by the join, so
    # column pruning would erase it if the join key reverted to label-only)
    plan = salted_df._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan
    salted = salted_df.collect()
    assert sorted(map(tuple, salted)) == sorted(map(tuple, base))
    canon = {r.mention: r.canonical for r in salted}
    # giant component canonicalizes to its shortest-then-lex member; the
    # under-gate call (n_mentions=None default) stays on the broadcast plan
    assert canon["mention 0239"] == "mention 0000"
    assert canon["mention 0245"] == "mention 0240"
    assert canon["mention 0299"] == "mention 0299"
