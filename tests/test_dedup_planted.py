"""Planted-duplicate recall: the oracle hash-gates pin ARITHMETIC; these
tests pin SEMANTICS — a corpus with known exact and near duplicates
planted must come back with exactly those pairs flagged, and unrelated
docs must not. Ground truth is constructed, not replayed."""

from __future__ import annotations

import random

import pytest

from stateflow_spark.queries import REGISTRY


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """documents.parquet with: d1 base, d2 == d1 (exact dup), d3 = d1 with
    2 of 60 words changed (near dup), d4-d13 unrelated random texts.
    doc_ids start at 1 so none is a benchmark doc (doc_id % 49 == 0)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    base = [rng.choice(vocab) for _ in range(60)]
    near = list(base)
    near[10], near[40] = "changedA", "changedB"
    rows = [
        (1, " ".join(base)),
        (2, " ".join(base)),
        (3, " ".join(near)),
    ] + [
        (i, " ".join(rng.choice(vocab) for _ in range(60)))
        for i in range(4, 14)
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp("planted")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_exact_dedup_finds_planted_copy(spark, planted):
    groups = {
        r.canonical_doc_id: r.n_copies
        for r in REGISTRY["dedup_exact"].fn(spark, planted).collect()
    }
    assert groups[1] == 2  # d1+d2 collapse; d1 canonical
    assert all(n == 1 for c, n in groups.items() if c != 1)


def test_jaccard_finds_near_dup_and_nothing_else(spark, planted):
    pairs = _pairs(REGISTRY["dedup_ngram_jaccard"].fn(spark, planted))
    assert (1, 2) in pairs  # exact copy: jaccard 1.0
    assert (1, 3) in pairs and (2, 3) in pairs  # 2-of-60-word edit
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in pairs), pairs


def test_minhash_lsh_recalls_planted_pairs(spark, planted):
    pairs = _pairs(REGISTRY["dedup_minhash_lsh"].fn(spark, planted))
    # identical docs share every signature -> always candidates; the
    # near-dup shares ~57/62 distinct shingles -> expected to band
    # together and pass the exact verify
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in pairs), pairs


@pytest.mark.slow
def test_simhash_banding_recalls_exact_copy(spark, planted):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_simhash_pairs"].fn(spark, planted).collect()
    }
    assert (1, 2) in pairs  # hamming 0
    # no unrelated doc may appear in any pair
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in pairs), pairs


@pytest.mark.slow
def test_connected_components_clusters_the_planted_trio(spark, planted):
    rows = REGISTRY["dedup_connected_components"].fn(spark, planted).collect()
    comp = {r.doc_id: r.comp_id for r in rows}
    assert comp[1] == comp[2] == comp[3] == 1  # keeper = min doc_id
    sizes = {r.doc_id: r.comp_size for r in rows}
    assert sizes[1] == 3
    assert not {d for d in comp if d not in (1, 2, 3)}, comp


def test_pagerank_ranks_the_cluster_center_highest(spark, planted):
    """In the planted trio, d1 connects to BOTH d2 and d3 while d2-d3 are
    also connected (all pairwise near-dups) — but d1 is the exact-copy
    hub; with a symmetric triangle all three ranks are equal, so assert
    the structural facts instead: ranks exist exactly for the trio, sum
    to ~1 (within the damping leak), and are strictly positive."""
    rows = REGISTRY["dedup_pagerank"].fn(spark, planted).collect()
    ranks = {r.doc_id: r.pagerank for r in rows}
    assert set(ranks) == {1, 2, 3}
    assert all(v > 0 for v in ranks.values())
    # symmetric triangle: uniform stationary distribution, preserved by
    # every iteration — ranks identical across the trio
    vals = sorted(ranks.values())
    assert abs(vals[0] - vals[-1]) < 1e-12
    assert abs(sum(vals) - 1.0) < 1e-9


@pytest.mark.slow
def test_pagerank_converged_hub_graph(spark):
    """Planted star graph K_{1,8}: the convergence-driven variant must
    (a) actually converge, (b) rank the hub strictly above every spoke,
    (c) produce a rank vector summing to ~1, and (d) agree with a long
    fixed-iteration power run to within the convergence tolerance."""
    from stateflow_spark.queries.dedup import pagerank_converged

    hub, spokes = 0, list(range(1, 9))
    pairs = [(hub, s) for s in spokes]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    ranks = {
        r.node: r.r
        for r in pagerank_converged(spark, edges, tol=1e-9).collect()
    }
    assert set(ranks) == {hub, *spokes}
    assert all(ranks[hub] > ranks[s] for s in spokes), ranks
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    # closed form for K_{1,n}: spoke = (0.15/N + 0.85*hub/n), hub =
    # 0.15/N + 0.85*(sum of spokes' full rank) — check the fixpoint eqn
    n = len(spokes) + 1
    assert abs(ranks[hub] - (0.15 / n + 0.85 * sum(ranks[s] for s in spokes))) < 1e-8
    for s in spokes:
        assert abs(ranks[s] - (0.15 / n + 0.85 * ranks[hub] / len(spokes))) < 1e-8


@pytest.mark.slow
def test_pagerank_converged_matches_fixed_iterations_and_releases(spark):
    """On the planted trio + a pendant node, the converged vector equals a
    100-iteration power run to within tol, it FAILS LOUD when max_iters is
    too small, and per-round checkpoints are released (persistent-RDD
    count stays bounded)."""
    import pytest as _pytest

    from stateflow_spark.queries.dedup import pagerank_converged

    # triangle 1-2-3 plus pendant 4 attached to 1 (asymmetric: real deltas)
    und = [(1, 2), (2, 3), (1, 3), (1, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )

    def n_persistent():
        return spark._jsc.sc().getPersistentRDDs().size()

    before = n_persistent()
    got = {
        r.node: r.r
        for r in pagerank_converged(spark, edges, tol=1e-10).collect()
    }
    # bounded: the result checkpoint (+ the degree-edge one freed at exit)
    assert n_persistent() <= before + 2, (before, n_persistent())

    # reference: long fixed-iteration power run, driver-side
    deg = {1: 3, 2: 2, 3: 2, 4: 1}
    r = {k: 0.25 for k in deg}
    for _ in range(200):
        nxt = {}
        for k in deg:
            incoming = [u for (u, v) in und + [(b, a) for a, b in und] if v == k]
            nxt[k] = 0.15 / 4 + 0.85 * sum(r[u] / deg[u] for u in incoming)
        r = nxt
    for k in deg:
        assert abs(got[k] - r[k]) < 1e-8, (k, got[k], r[k])
    assert got[1] > got[2] > got[4]  # degree order: 3 > 2 > 1

    with _pytest.raises(RuntimeError, match="did not converge"):
        pagerank_converged(spark, edges, tol=1e-12, max_iters=2)


def test_dup_graph_converged_twin_covers_same_nodes(spark):
    """The production convergence twin over the real sf0.001 dup graph:
    same node set as the registered fixed-3 query, ranks sum to ~1."""
    from stateflow_spark.queries.dedup import dup_graph_pagerank_converged
    from tests.conftest import SF_DIR

    fixed = {
        r.doc_id for r in REGISTRY["dedup_pagerank"].fn(spark, SF_DIR).collect()
    }
    conv = {
        r.doc_id: r.pagerank
        for r in dup_graph_pagerank_converged(spark, SF_DIR).collect()
    }
    assert set(conv) == fixed
    assert abs(sum(conv.values()) - 1.0) < 1e-6


def test_cluster_keeper_prefers_longest_not_min_id(spark, tmp_path):
    """Keeper selection must pick the LONGEST doc in a cluster even when a
    smaller doc_id exists (the min-id label stays the comp_id; the keeper
    is the quality choice) — planted: doc 11 is a superset of doc 10."""
    rng_words = [f"w{i}" for i in range(30)]
    short = " ".join(rng_words)
    longer = " ".join(rng_words + [f"x{i}" for i in range(10)])
    other = " ".join(f"z{i}" for i in range(25))
    rows = [
        (10, short, "en", "s", len(short)),
        (11, longer, "en", "s", len(longer)),
        (12, other, "en", "s", len(other)),  # isolated: no dup pair
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path / "kp"
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {
        r.comp_id: r
        for r in REGISTRY["dedup_cluster_keeper"].fn(spark, str(d)).collect()
    }
    assert set(out) == {10}  # one cluster, labeled by min doc_id
    assert out[10].keeper_doc_id == 11  # but the keeper is the longer doc
    assert out[10].comp_size == 2
    assert out[10].keeper_tokens == 40


def test_containment_catches_embedded_doc_jaccard_misses(spark, tmp_path):
    """A 10-word doc quoted verbatim inside a 200-word doc: Jaccard is
    ~8/~200 ≈ 0.04 — below the family threshold, invisible to
    dedup_ngram_jaccard — but containment of the short side is 1.0 and
    dedup_containment must flag it with the right direction."""
    import random

    rng = random.Random(21)
    vocab = [f"w{i}" for i in range(500)]
    short = [rng.choice(vocab) for _ in range(10)]
    long_doc = [rng.choice(vocab) for _ in range(95)] + short + [
        rng.choice(vocab) for _ in range(95)
    ]
    rows = [
        (1, " ".join(short)),
        (2, " ".join(long_doc)),
        (3, " ".join(rng.choice(vocab) for _ in range(60))),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    jac = _pairs(REGISTRY["dedup_ngram_jaccard"].fn(spark, str(tmp_path)))
    assert (1, 2) not in jac  # symmetric measure blind to the embedding
    cont = {(r.doc_a, r.doc_b): r for r in
            REGISTRY["dedup_containment"].fn(spark, str(tmp_path)).collect()}
    assert set(cont) == {(1, 2)}, cont
    r = cont[(1, 2)]
    assert r.cont_a == 1.0 and r.direction == "a_in_b"
    assert r.cont_b < 0.1


def test_triangle_stats_on_planted_clique(spark, planted):
    """d1-d2-d3 are pairwise duplicates (one triangle); nobody else has
    an edge — so each gets degree 2, one triangle, clustering 1.0."""
    rows = {
        r.doc_id: r
        for r in REGISTRY["dedup_triangle_stats"].fn(spark, planted).collect()
    }
    assert set(rows) == {1, 2, 3}
    for d in (1, 2, 3):
        assert rows[d].degree == 2
        assert rows[d].n_triangles == 1
        assert rows[d].clustering == 1.0


@pytest.fixture(scope="module")
def planted_typos(spark, tmp_path_factory):
    """Character-level mutations the shingle family cannot see: d21/d22
    differ by 3 mid-word typos (every 3-gram containing a typo'd word
    changes), d23 shares d21's prefix but is long-different, d24 starts
    with a different first token (blocking miss, by design)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    typo = "alpha beta gamme delte epsilon zeta eta thete iota kappa"
    other = "alpha " + " ".join(f"x{i}" for i in range(40))
    moved = "beta alpha gamma delta epsilon zeta eta theta iota kappa"
    rows = [(21, base), (22, typo), (23, other), (24, moved)]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp("planted-typos")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_edit_distance_catches_typos_blocking_bounds_recall(spark, planted_typos):
    rows = {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in REGISTRY["dedup_edit_distance"].fn(spark, planted_typos).collect()
    }
    assert (21, 22) in rows and rows[(21, 22)] == 3  # 3 single-char edits
    # d23 shares tok0+band with d21/22 but its prefix is far away
    # d24's different first token is a blocking miss — documented recall bound
    assert set(rows) == {(21, 22)}


@pytest.fixture(scope="module")
def planted_quote(spark, tmp_path_factory):
    """Corpus for the winnowing substring detector: d1 and d2 are
    UNRELATED 100-word texts that both embed the same 18-token quote
    (global Jaccard ≈ 16/212 ≈ 0.075, below the 0.10 near-dup
    threshold); d3-d10 are unrelated random texts. Winnowing's
    guarantee: an 18-token shared run yields 8 shared winnow windows
    and ≥ 2 shared selected fingerprints, so (1, 2) MUST be flagged."""
    rng = random.Random(11)
    vocab = [f"q{i}" for i in range(500)]
    quote = [f"quote{i}" for i in range(18)]

    def doc(insert_at=None):
        words = [rng.choice(vocab) for _ in range(100)]
        if insert_at is not None:
            words[insert_at:insert_at] = quote
        return " ".join(words)

    rows = [(1, doc(10)), (2, doc(40))] + [
        (i, doc()) for i in range(3, 11)
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp("planted_quote")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_winnowing_finds_planted_quote_pair(spark, planted_quote):
    pairs = _pairs(REGISTRY["dedup_winnowing_pairs"].fn(spark, planted_quote))
    assert (1, 2) in pairs, pairs  # shared 18-token passage → guaranteed
    assert pairs == {(1, 2)}, pairs  # and nothing else co-fingerprints


def test_winnowing_is_local_not_global_overlap(spark, planted_quote):
    """The same corpus is INVISIBLE to whole-document Jaccard: the quote
    pair's global shingle overlap (~16 of ~212 union shingles ≈ 0.075)
    is below the family threshold — pinning that the winnowing row adds
    detection power the Jaccard row does not have."""
    jac = _pairs(REGISTRY["dedup_ngram_jaccard"].fn(spark, planted_quote))
    assert (1, 2) not in jac, jac


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    run_len=st.integers(min_value=18, max_value=30),
)
@pytest.mark.slow
def test_winnowing_guarantee_property(spark, tmp_path_factory, data, run_len):
    """The winnowing THEOREM as a property: for random surrounding text
    and a random shared token run of length L ≥ 18 planted at random
    positions in two otherwise-unrelated documents, the pair MUST be
    flagged (L tokens → L-10 shared winnow windows → ≥ ⌈(L-10)/4⌉ ≥ 2
    shared selected fingerprints ≥ the registered threshold). Hypothesis
    walks run lengths and insert positions the hand-planted test fixes."""
    rng = data.draw(st.randoms(use_true_random=False))
    vocab = [f"h{i}" for i in range(300)]
    quote = [f"hq{i}" for i in range(run_len)]

    def doc():
        words = [rng.choice(vocab) for _ in range(120)]
        at = rng.randrange(0, len(words))
        words[at:at] = quote
        return " ".join(words)

    rows = [(1, doc()), (2, doc())] + [
        (i, " ".join(rng.choice(vocab) for _ in range(120)))
        for i in range(3, 7)
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp("winnow_prop")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    pairs = _pairs(REGISTRY["dedup_winnowing_pairs"].fn(spark, str(d)))
    assert (1, 2) in pairs, (run_len, pairs)


def test_lpa_splits_bridged_cliques_that_cc_merges(spark):
    """Two 5-cliques joined by ONE bridge edge: connected components
    merges them into a single component, but 3-round majority-vote LPA
    keeps two communities (one vote never outweighs four clique
    neighbors) — the template-family separation the query docstring
    claims. Labels are the deterministic clique minima."""
    from stateflow_spark.queries.dedup import label_propagation

    cliq_a = list(range(10, 15))
    cliq_b = list(range(20, 25))
    pairs = (
        [(a, b) for i, a in enumerate(cliq_a) for b in cliq_a[i + 1:]]
        + [(a, b) for i, a in enumerate(cliq_b) for b in cliq_b[i + 1:]]
        + [(14, 20)]  # the bridge
    )
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "u long, v long"
    )
    labs = {r.node: r.lab for r in label_propagation(edges, 3).collect()}
    assert set(labs) == set(cliq_a) | set(cliq_b)
    assert all(labs[n] == 10 for n in cliq_a), labs
    assert all(labs[n] == 20 for n in cliq_b), labs


@pytest.mark.slow
def test_lss_components_match_union_find_on_random_graphs(spark):
    """Large-star/small-star CC vs a Python union-find ground truth on
    random graphs, a 120-node PATH (the adversarial-diameter case it
    exists for — min-label propagation would need 120 rounds; LSS is
    given 15), cliques and singleton-free stars."""
    import random

    from stateflow_spark.queries.dedup import connected_components_lss

    def uf_components(n_nodes, pairs):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        touched = {x for p in pairs for x in p}
        for x in touched:
            comp[x] = find(x)
        # comp id must be the min node id of the component
        roots = {}
        for x, r in sorted(comp.items()):
            roots.setdefault(r, x)
        return {x: roots[r] for x, r in comp.items()}

    rng = random.Random(99)
    cases = []
    # random sparse graphs
    for _ in range(3):
        n = 60
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(70)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        cases.append((n, pairs, 50))
    # long path: diameter 119, LSS must converge in O(log n) rounds
    cases.append((120, [(i, i + 1) for i in range(119)], 15))
    # two cliques + a star
    cliq = [(a, b) for i, a in enumerate(range(0, 8)) for b in range(i + 1, 8)]
    cliq += [(a, b) for i, a in enumerate(range(20, 26)) for b in range(i + 21, 26)]
    cliq += [(40, x) for x in range(41, 50)]
    cases.append((50, cliq, 50))

    for n, pairs, max_rounds in cases:
        expected = uf_components(n, pairs)
        edges = spark.createDataFrame(pairs, "u long, v long")
        got = {
            r.id: r.comp
            for r in connected_components_lss(edges, max_rounds=max_rounds).collect()
        }
        assert got == expected, (n, len(pairs), max_rounds)


def test_semdedup_tree_k1_matches_duckdb_exactly():
    """The three-level quantizer's k1 = exact integer ceil-cbrt(k) must be
    computed IDENTICALLY by the Python plan parameters and the oracle's
    probed-window SQL — a 1-off divergence silently re-shapes the whole
    assignment tree. Sweep small k plus perfect cubes ± 1 and two huge
    values (POW rounding territory)."""
    import duckdb

    con = duckdb.connect()
    ks = list(range(4, 300))
    ks += [c**3 + d for c in (7, 50, 1000, 10000) for d in (-1, 0, 1)]
    ks += [10**6, 10**9, 10**12]
    for k in ks:
        g = round(k ** (1.0 / 3.0))
        while g**3 < k:
            g += 1
        while g > 1 and (g - 1) ** 3 >= k:
            g -= 1
        k1_py = max(2, g)
        (k1_sql,) = con.execute(
            f"""
            SELECT GREATEST(2, MIN(c)) FROM (
              SELECT CAST(CEIL(POW({k}, 1.0/3.0)) AS BIGINT) + d.d AS c
              FROM (VALUES (-1), (0), (1)) d(d)) t
            WHERE c >= 1 AND c * c * c >= {k}
            """
        ).fetchone()
        assert k1_py == k1_sql, (k, k1_py, k1_sql)
        assert k1_py**3 >= k and (k1_py == 2 or (k1_py - 1) ** 3 < k), k


@pytest.fixture(scope="module")
def planted_delta(spark, tmp_path_factory):
    """Old/delta split fixture for the stored-index maintenance row
    (delta = doc_id % 5 == 0): old base doc 4; delta exact dup 5, delta
    near dup 10 (2 of 60 words changed), delta unrelated 15; old
    unrelated filler."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(500)]
    base = [rng.choice(vocab) for _ in range(60)]
    near = list(base)
    near[7], near[33] = "editedA", "editedB"
    rows = [
        (4, " ".join(base)),               # old: the indexed original
        (5, " ".join(base)),               # delta: exact dup of 4
        (10, " ".join(near)),              # delta: near dup of 4
        (15, " ".join(rng.choice(vocab) for _ in range(60))),  # delta: new
    ] + [
        (i, " ".join(rng.choice(vocab) for _ in range(60)))
        for i in (1, 2, 3, 6, 7, 8, 9)     # old filler
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp("planted_delta")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_minhash_index_maintenance_classifies_planted_delta(
    spark, planted_delta
):
    """The stored-index probe must recall the planted cross-split dups:
    delta 5 (exact copy of old 4) at jaccard 1.0, delta 10 (near dup)
    above threshold with match 4, delta 15 unmatched → 'new'. Every
    delta doc appears exactly once (the LEFT-join universe)."""
    out = {
        r.doc_id: (r.match_id, r.jaccard, r.verdict)
        for r in REGISTRY["dedup_minhash_index_maintenance"]
        .fn(spark, planted_delta)
        .collect()
    }
    assert set(out) == {5, 10, 15}
    assert out[5][0] == 4 and out[5][1] == 1.0 and out[5][2] == "dup"
    assert out[10][0] == 4 and out[10][2] == "dup" and out[10][1] > 0.5
    assert out[15][2] == "new" and out[15][0] is None


def test_stream_minhash_classify_batch_boundary_independent(spark, tmp_path):
    """stream_minhash_delta_classify's docstring claims per-doc
    classification is micro-batch-independent. Force MANY micro-batches
    (5 source files, maxFilesPerTrigger=1) and pin that the union of
    per-batch outputs equals the single-batch run row-for-row — the
    MinHash sibling of the stream_ivf boundary test."""
    import pyspark.sql.functions as F

    from stateflow_spark.catalog import load as cat_load
    from stateflow_spark.queries.dedup import (
        _mh_classify_delta,
        _minhash_index_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    tbl = _minhash_index_table(spark, sf_dir)
    delta_docs = cat_load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    src = str(tmp_path / "delta_src")
    delta_docs.repartition(5).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out_dir = str(tmp_path / "out")

    def classify(batch_df, _bid):
        _mh_classify_delta(spark, batch_df, tbl).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(classify)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    streamed = {
        r.doc_id: (r.match_id, r.jaccard, r.verdict)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        r.doc_id: (r.match_id, r.jaccard, r.verdict)
        for r in REGISTRY["dedup_minhash_index_maintenance"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert streamed == batch


def test_minhash_index_merge_flags_hot_posting(spark, tmp_path_factory):
    """The hot-posting flag never fires on the shipped corpora (touched
    postings max out at 3 docs at sf0.01), so plant a mass-duplicated
    document group: 6 old copies + 4 delta copies of one text share every
    band key — new_n 10 > 8 must flag; a singleton delta doc must not."""
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(500)]
    hot = " ".join(rng.choice(vocab) for _ in range(60))
    lone = " ".join(rng.choice(vocab) for _ in range(60))
    rows, vid, n_old, n_new = [], 1, 0, 0
    while n_old < 6 or n_new < 4:
        if vid % 5 != 0 and n_old < 6:
            rows.append((vid, hot)); n_old += 1
        elif vid % 5 == 0 and n_new < 4:
            rows.append((vid, hot)); n_new += 1
        vid += 1
    while vid % 5 != 0:
        vid += 1
    rows.append((vid, lone))
    d = tmp_path_factory.mktemp("planted_hot")
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = REGISTRY["dedup_minhash_index_merge"].fn(spark, str(d)).collect()
    hot_rows = [r for r in out if r.is_hot]
    cold_rows = [r for r in out if not r.is_hot]
    # the duplicated group shares all 4 band keys: 4 hot rows at 6+4=10
    assert len(hot_rows) == 4
    assert all(r.old_n == 6 and r.added_n == 4 and r.new_n == 10 for r in hot_rows)
    # the singleton delta doc's 4 band keys stay cold at new_n 1
    assert len(cold_rows) == 4
    assert all(r.new_n == 1 for r in cold_rows)


def test_minhash_compaction_bounds_hot_posting_keeps_recall(
    spark, tmp_path
):
    """Round-10 VERDICT #5's done-gate at the PRODUCTION cap: a
    mass-duplicated text group grows every one of its band-key postings
    to 30 docs; compaction must bound each posting at the cap while a
    NEW copy of the mass text still classifies 'dup' at jaccard 1.0
    against a kept representative (the stop-shingle knob drops hot keys;
    here representatives are kept so recall on the mass group survives),
    and untouched postings pass through unchanged."""
    import pyspark.sql.functions as F

    from stateflow_spark.queries.dedup import (
        _MH_HOT_POSTING_CAP,
        _mh_classify_delta,
        _minhash_index_table,
        minhash_apply_compaction,
    )

    mass = "lorem ipsum dolor sit amet consectetur adipiscing elit repeated"
    rows = []
    vid = 1
    made = 0
    while made < 30:  # 30 old copies of the mass text
        if vid % 5 != 0:
            rows.append((vid, mass))
            made += 1
        vid += 1
    # distinct old docs (cool postings)
    for i in range(6):
        if vid % 5 == 0:
            vid += 1
        rows.append((vid, f"unique document number {vid} about topic "
                          f"{'x' * (i + 3)} with enough words"))
        vid += 1
    # delta: one mass copy + one distinct doc
    while vid % 5 != 0:
        vid += 1
    mass_delta = vid
    rows.append((vid, mass))
    vid += 5
    new_delta = vid
    rows.append((vid, "completely fresh delta text never seen before "
                      "anywhere in this corpus"))
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    tbl = _minhash_index_table(spark, sf_dir)
    pre = spark.table(tbl).groupBy("bkey").count()
    assert pre.agg(F.max("count")).collect()[0][0] == 30  # genuinely hot

    compacted = minhash_apply_compaction(spark, sf_dir)
    post = spark.table(compacted).groupBy("bkey").count()
    assert (
        post.agg(F.max("count")).collect()[0][0] <= _MH_HOT_POSTING_CAP
    )
    # cool postings pass through untouched
    cool_pre = pre.filter(F.col("count") <= _MH_HOT_POSTING_CAP).count()
    cool_post = post.filter(F.col("count") <= _MH_HOT_POSTING_CAP).count()
    assert cool_post >= cool_pre  # hot keys became cool, none vanished

    delta_docs = spark.read.parquet(
        str(tmp_path / "documents.parquet")
    ).filter(F.col("doc_id") % 5 == 0)
    out = {
        r.doc_id: (r.jaccard, r.verdict)
        for r in _mh_classify_delta(spark, delta_docs, compacted).collect()
    }
    assert out[mass_delta] == (1.0, "dup")  # recall survives the cap
    assert out[new_delta][1] == "new"

    # round-11 VERDICT wrong-item #1's done-gate: the rewrite is
    # BUCKET-SCOPED — every cool bucket's file in the compacted table is
    # a HARDLINK of the source file (same inode: never rewritten, never
    # even opened), only buckets containing a hot key got fresh files,
    # and the published dir is atomic (no .building residue)
    import glob
    import os
    import re

    import pyspark.sql.functions as F2

    from stateflow_spark.queries.dedup import (
        _MH_IDX_BUCKETS,
        _table_location,
    )

    src_loc = _table_location(spark, tbl)
    out_loc = _table_location(spark, compacted)
    hot_bkeys = [
        r.bkey for r in pre.filter(
            F2.col("count") > _MH_HOT_POSTING_CAP
        ).collect()
    ]
    hot_ids = {
        r.b
        for r in spark.createDataFrame([(k,) for k in hot_bkeys], "bkey string")
        .select(F2.pmod(F2.hash("bkey"), F2.lit(_MH_IDX_BUCKETS)).alias("b"))
        .distinct()
        .collect()
    }
    assert hot_ids  # the planted mass group really flagged buckets

    def bucket_files(loc):
        out = {}
        for f in os.listdir(loc):
            m = re.search(r"_(\d{5})\.c", f)
            if m and f.endswith(".parquet"):
                out.setdefault(int(m.group(1)), []).append(
                    os.stat(os.path.join(loc, f)).st_ino
                )
        return out

    src_b, out_b = bucket_files(src_loc), bucket_files(out_loc)
    for b, inos in out_b.items():
        if b in hot_ids:
            assert not set(inos) & set(src_b.get(b, [])), b  # rewritten
        else:
            assert sorted(inos) == sorted(src_b[b]), b  # hardlinked
    # every cool source bucket survives into the compacted table
    assert set(src_b) - hot_ids <= set(out_b)
    # scratch dirs are named <dest>.building.<token>
    assert not glob.glob(out_loc + ".building*")
