"""Planted-neighbor recall for the ANN family: a vector nearly identical
to the query is planted in an otherwise random corpus; every search
variant must return it as the top neighbor. Ground truth is constructed,
not oracle-replayed."""

from __future__ import annotations

import random

import pytest

from stateflow_spark.queries import REGISTRY


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    rng = random.Random(11)
    dim = 64
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    near = [x + 1e-6 for x in base]  # cosine ~ 1 - 1e-12
    rows = [(0, base, 0), (1, near, 0)] + [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], i % 10)
        for i in range(2, 102)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tmp_path_factory.mktemp("planted-emb")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(d / "embeddings.parquet")
    )
    return str(d)


@pytest.mark.parametrize(
    "name",
    ["sim_cosine_topk", "sim_hyperplane_lsh", "sim_quantized_topk"],
)
def test_planted_neighbor_is_top1(spark, planted, name):
    rows = REGISTRY[name].fn(spark, planted).collect()
    assert rows, name
    top = rows[0]
    assert top.vec_id == 1, (name, [(r.vec_id, r.cosine) for r in rows[:3]])
    assert top.cosine > 0.999
    # and the random corpus stays far away
    assert all(r.cosine < 0.9 for r in rows[1:]), name


def test_planted_neighbor_in_knn_join(spark, planted):
    rows = REGISTRY["sim_knn_join"].fn(spark, planted).collect()
    by_q = {(r.qid, r.rnk): r for r in rows}
    # query 0's nearest neighbor is the planted vec 1, and vice versa
    assert by_q[(0, 1)].neighbor_id == 1
    assert by_q[(1, 1)].neighbor_id == 0


@pytest.fixture(scope="module")
def planted_blobs(spark, tmp_path_factory):
    """Four well-separated Gaussian blobs; seed vectors 1..4 land one per
    blob, so 3 Lloyd iterations must recover blob membership exactly."""
    rng = random.Random(31)
    dim = 64
    centers = []
    for b in range(4):
        c = [0.0] * dim
        for d in range(16 * b, 16 * b + 16):
            c[d] = 4.0
        centers.append(c)
    rows = []
    vid = 1  # ids 1..4 are the first point of blobs 0..3 (the seeds)
    sizes = [30, 25, 20, 15]
    for b in range(4):
        rows.append((vid, [x + rng.gauss(0, 0.1) for x in centers[b]], b))
        vid += 1
    for b in range(4):
        for _ in range(sizes[b] - 1):
            rows.append((vid, [x + rng.gauss(0, 0.3) for x in centers[b]], b))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tmp_path_factory.mktemp("planted-blobs")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(d / "embeddings.parquet")
    )
    return str(d), dict(zip(range(1, 5), sizes))


def test_kmeans_recovers_planted_blobs(spark, planted_blobs):
    path, sizes = planted_blobs
    rows = REGISTRY["sim_kmeans_iterations"].fn(spark, path).collect()
    got = {r.cid: r.n_members for r in rows}
    assert got == sizes, got
    # centroids sit near the blob centers: ||c||^2 ~ 16 * 4^2 = 256
    for r in rows:
        assert 200 < r.cnorm2 < 300, r


def test_mmr_prefers_diverse_over_redundant(spark, tmp_path):
    """MMR pick 2 must skip the near-copy of pick 1 (higher relevance,
    sim≈1 → score .7·.8−.3·1 ≈ .26) in favor of the diverse vector
    (rel .78, sim to pick 1 ≈ .25 → score ≈ .47); plain top-k would
    have returned the copy. Pick 3 then takes the copy."""
    pad = [0.0] * 5
    rows = [
        (0, [1.0, 0.0, 0.0] + pad, 0),            # query
        (1, [0.8, 0.6, 0.0] + pad, 0),            # top relevance (.8)
        (2, [0.8, 0.6, 1e-6] + pad, 0),           # its near-copy
        (3, [0.78, -0.62, 0.0] + pad, 0),         # diverse, rel .78
        (4, [0.0, 0.0, 1.0] + pad, 0),            # rel 0 filler
        (5, [0.1, 0.1, 0.9] + pad, 0),            # low-rel filler
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = sorted(
        REGISTRY["sim_mmr_diverse_topk"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r.sel_rank,
    )
    assert [r.vec_id for r in out] == [1, 3, 2], out
    assert out[0].mmr_score == out[0].relevance  # pick 1 is pure relevance
    assert out[1].mmr_score > 0.4 and out[2].mmr_score < 0.3


def test_power_iteration_finds_planted_dominant_axis(spark, tmp_path):
    """Corpus with 10× the energy on axis 3: after 3 power steps the
    dominant component must overwhelmingly point along that axis and the
    eigenvalue estimate must dwarf the noise floor."""
    import random

    rng = random.Random(5)
    dim = 8
    rows = []
    for i in range(1, 41):
        v = [rng.uniform(-0.1, 0.1) for _ in range(dim)]
        v[3] += rng.choice([-1.0, 1.0]) * rng.uniform(0.9, 1.1)
        rows.append((i, v, 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {r.pos: r for r in
           REGISTRY["sim_power_iteration"].fn(spark, str(tmp_path)).collect()}
    assert len(out) == dim
    comp = {p: abs(r.component) for p, r in out.items()}
    assert comp[4] > 0.99, comp  # pos is 1-based; axis 3 -> pos 4
    assert all(c < 0.1 for p, c in comp.items() if p != 4), comp
    assert out[4].eigval_estimate > 20  # ~40 vectors x ~1.0 energy


def test_planted_neighbor_tops_pq_adc(spark, planted):
    rows = REGISTRY["sim_pq_adc_topk"].fn(spark, planted).collect()
    assert rows
    top = rows[0]
    # the near-identical plant wins the exact rerank, with ~zero distance
    assert top.vec_id == 1, [(r.vec_id, r.l2_dist) for r in rows[:3]]
    assert top.l2_dist < 1e-4
    assert all(rows[i].l2_dist <= rows[i + 1].l2_dist for i in range(len(rows) - 1))
    # and its ADC approximation also ranks it far below the random corpus
    assert top.adc_fx == min(r.adc_fx for r in rows)


def test_pq_recall_against_exact_scan(spark):
    """On the real sf0.001 corpus, PQ@(16x64, rerank 100) must keep the
    EXACT top-1 in its top-10 and overlap the exact top-10 by >= 6 — the
    measured recall floor of the parameter sweep (the 4x16 variant
    scored 0.1-0.2 and was rejected)."""
    from tests.conftest import SF_DIR
    import pyspark.sql.functions as F
    from stateflow_spark.catalog import load
    from stateflow_spark.functions.similarity import sqdist_dec

    e = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    exact = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", F.sqrt(sqdist_dec("v", "qv")).alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    )
    true10 = [r.vec_id for r in exact]
    got = [
        r.vec_id
        for r in REGISTRY["sim_pq_adc_topk"].fn(spark, SF_DIR).collect()
    ]
    assert true10[0] in got, (true10, got)
    assert len(set(true10) & set(got)) >= 6, (true10, got)


def test_hard_negative_mining_planted(spark, tmp_path):
    """A corpus with a planted impostor (near-identical vector, WRONG
    label) and a planted drifter (far vector, SAME label): the impostor
    must surface as anchor 0's #1 hard negative and the drifter as its
    hard positive — same-label near-dups must NOT appear as negatives."""
    rng = random.Random(23)
    dim = 64
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    impostor = [x + 1e-6 for x in base]  # ~identical, label differs
    twin = [x + 2e-6 for x in base]  # ~identical, label matches
    drifter = [-x for x in base]  # opposite direction, label matches
    rows = [
        (0, base, 0),
        (1, impostor, 1),
        (2, twin, 0),
        (3, drifter, 0),
    ] + [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], i % 2)
        for i in range(4, 104)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = REGISTRY["sim_hard_negatives"].fn(spark, str(tmp_path)).collect()
    q0 = {(r.kind, r.rnk): r for r in out if r.qid == 0}
    assert q0[("hard_neg", 1)].neighbor_id == 1  # the impostor
    assert q0[("hard_neg", 1)].cosine > 0.999
    assert q0[("hard_pos", 1)].neighbor_id == 3  # the drifter
    assert q0[("hard_pos", 1)].cosine < -0.999
    # the same-label twin never shows up on the negative side
    assert 2 not in {
        r.neighbor_id for r in out if r.qid == 0 and r.kind == "hard_neg"
    }
    # every anchor gets exactly 3 negatives and 1 positive
    for qid in {r.qid for r in out}:
        kinds = [(r.kind, r.rnk) for r in out if r.qid == qid]
        assert sorted(kinds) == [
            ("hard_neg", 1), ("hard_neg", 2), ("hard_neg", 3), ("hard_pos", 1)
        ], (qid, kinds)


def test_bitext_margin_accepts_true_pair_rejects_hub(spark, tmp_path):
    """A planted translation pair (near-identical cross-side vectors)
    must be accepted with a high margin; a source vector equidistant
    from several targets (the hubness case) gets margin ~1 and is
    rejected even though it HAS a nearest neighbor."""
    rng = random.Random(31)
    dim = 64
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    pair = [x + 1e-6 for x in base]
    rows = [
        (0, base, 0),  # source with a true counterpart
        (100, pair, 1),  # its translation on the target side
    ]
    # a hub source: a CLUSTER of near-identical targets sits at moderate
    # cosine from it, so its best neighbor is no better than its top-4
    # mean (margin ≈ 1) even though a nearest neighbor exists
    hub = [rng.uniform(-1, 1) for _ in range(dim)]
    cluster = [x + rng.uniform(-0.5, 0.5) for x in hub]
    rows.append((1, hub, 0))
    for i in range(101, 107):
        rows.append(
            (i, [x + rng.uniform(-1e-4, 1e-4) for x in cluster], 1)
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {r.src_id: r for r in REGISTRY["sim_bitext_mining"].fn(spark, str(tmp_path)).collect()}
    assert out[0].tgt_id == 100 and out[0].accepted
    assert out[0].margin > 1.5
    # the hub's best neighbor is not meaningfully better than its top-4
    assert not out[1].accepted, out[1]


def test_stream_ivf_classify_batch_boundary_independent(spark, tmp_path):
    """stream_ivf_delta_classify's docstring claims per-row classification
    is micro-batch-independent. Force MANY micro-batches (one source file
    per delta row bucket, maxFilesPerTrigger=1) and pin that the union of
    per-batch outputs equals the single-batch run row-for-row."""
    import pyspark.sql.functions as F

    from stateflow_spark.queries.similarity import (
        _ivf_classify_delta,
        _ivf_index_dir,
        _pin_n2,
    )

    sf_dir = "/root/testdata/sf0.001"
    base = _ivf_index_dir(spark, sf_dir)
    from stateflow_spark.catalog import load as cat_load

    delta_rows = cat_load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    )
    # 5 source files → 5 micro-batches under maxFilesPerTrigger=1
    src = str(tmp_path / "delta_src")
    delta_rows.repartition(5).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out_dir = str(tmp_path / "out")
    n_part = spark.sparkContext.defaultParallelism

    def classify(batch_df, _bid):
        d = _pin_n2(
            batch_df.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            ).repartition(n_part, "vec_id")
        ).withColumnRenamed("n2", "dn2")
        _ivf_classify_delta(spark, d, base).write.mode("append").parquet(
            out_dir
        )

    q = (
        stream.writeStream.foreachBatch(classify)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    streamed = {
        r.vec_id: (r.cid, r.subcell, r.nn_id, r.nn_cosine, r.verdict)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        r.vec_id: (r.cid, r.subcell, r.nn_id, r.nn_cosine, r.verdict)
        for r in REGISTRY["sim_ivf_index_maintenance"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert streamed == batch


def test_ivf_index_merge_flags_overfull_cell(spark, tmp_path):
    """The merge row's needs_split flag never fires on the shipped corpora
    (cells sit near their 64-row target), so plant one: label 1 holds 64
    old rows (one cell) and 70 delta rows routed into it — 134 > 2x64
    must flag; label 2 stays tiny and must not."""
    import random

    import pyspark.sql.functions as F

    from stateflow_spark.queries import REGISTRY

    rng = random.Random(3)

    def near(center, eps=0.01):
        return [c + rng.uniform(-eps, eps) for c in center]

    c1 = [rng.uniform(-1, 1) for _ in range(16)]
    c2 = [rng.uniform(-1, 1) for _ in range(16)]
    rows = []
    vid = 1
    made_old1 = 0
    while made_old1 < 64:  # 64 old rows for label 1 (ids not % 5 == 0)
        if vid % 5 != 0:
            rows.append((vid, near(c1), 1))
            made_old1 += 1
        vid += 1
    made_new1 = 0
    while made_new1 < 70:  # 70 delta rows routed to the same cell
        if vid % 5 == 0:
            rows.append((vid, near(c1), 1))
            made_new1 += 1
        vid += 1
    # label 2: 4 old + 1 delta — far below the split threshold
    for _ in range(4):
        if vid % 5 == 0:
            vid += 1
        rows.append((vid, near(c2), 2))
        vid += 1
    while vid % 5 != 0:
        vid += 1
    rows.append((vid, near(c2), 2))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {
        (r.cid,): r
        for r in REGISTRY["sim_ivf_index_merge"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    big = out[(1,)]
    assert big.old_n == 64 and big.added_n == 70 and big.new_n == 134
    assert big.needs_split
    small = out[(2,)]
    assert small.new_n < 128 and not small.needs_split


def _plant_overfull_corpus(spark, tmp_path):
    """The merge test's planted corpus: label 1 = one 64-row cell + 70
    delta rows routed into it (134 > 2x64 flags at PRODUCTION constants);
    label 2 tiny (4 old + 1 delta, never flags)."""
    import random

    rng = random.Random(3)

    def near(center, eps=0.01):
        return [c + rng.uniform(-eps, eps) for c in center]

    c1 = [rng.uniform(-1, 1) for _ in range(16)]
    c2 = [rng.uniform(-1, 1) for _ in range(16)]
    rows = []
    vid = 1
    made_old1 = 0
    while made_old1 < 64:
        if vid % 5 != 0:
            rows.append((vid, near(c1), 1))
            made_old1 += 1
        vid += 1
    made_new1 = 0
    while made_new1 < 70:
        if vid % 5 == 0:
            rows.append((vid, near(c1), 1))
            made_new1 += 1
        vid += 1
    for _ in range(4):
        if vid % 5 == 0:
            vid += 1
        rows.append((vid, near(c2), 2))
        vid += 1
    while vid % 5 != 0:
        vid += 1
    rows.append((vid, near(c2), 2))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    return str(tmp_path)


@pytest.mark.slow
def test_ivf_resplit_clears_flag_at_production_constants(spark, tmp_path):
    """Round-10 VERDICT #4's done-gate: the re-split job consumes the
    merge worklist at the PRODUCTION constants (pop 64, cap 128) on a
    genuinely over-full planted cell — post-split populations all clear
    the flag, no member is lost, and ivf_apply_resplit rewrites ONLY the
    flagged cid's partition (the untouched cid's files are bit-identical
    to the nightly build's)."""
    import os

    import pyspark.sql.functions as F

    from stateflow_spark.queries.similarity import (
        _IVF_SPLIT_FACTOR,
        _IVF_SUBCELL_POP,
        _ivf_index_dir,
        _ivf_resplit_cells,
        _ivf_routed_delta_df,
        ivf_apply_resplit,
    )

    sf_dir = _plant_overfull_corpus(spark, tmp_path)
    cap = _IVF_SPLIT_FACTOR * _IVF_SUBCELL_POP
    base = _ivf_index_dir(spark, sf_dir)
    routed = _ivf_routed_delta_df(spark, sf_dir, base)

    # accounting at production constants: the 134-row cell splits into
    # ceil(134/64)=3 cells covering all 134 members, every one <= cap
    acct = _ivf_resplit_cells(
        spark, base, routed, _IVF_SUBCELL_POP, cap
    ).collect()
    assert {r.cid for r in acct} == {1}
    assert len(acct) == 3
    assert sum(r.n_members for r in acct) == 134
    assert all(not r.still_hot for r in acct)

    # execute: only cid=1's partition is rewritten
    applied = ivf_apply_resplit(spark, sf_dir)
    assert applied != base

    def part_files(root, cid):
        d = os.path.join(root, "corpus", f"cid={cid}")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    assert part_files(applied, 2) == part_files(base, 2)  # untouched
    assert part_files(applied, 1) != part_files(base, 1)  # rewritten

    # post-apply: the delta is folded in, every cell clears the cap,
    # and no member was lost
    post = spark.read.parquet(os.path.join(applied, "corpus"))
    cid1 = post.filter(F.col("cid") == 1)
    assert cid1.count() == 134
    sizes = {
        r.subcell: r.n
        for r in cid1.groupBy("subcell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(sizes) == 3 and all(n <= cap for n in sizes.values())
    # cid=2 stays the nightly build (its delta is a plain append, not
    # this job's concern)
    assert post.filter(F.col("cid") == 2).count() == 4

    # the new fine seeds are registered and routable: every post-split
    # subcell of cid=1 exists in the seeds table with the SAME coarse
    # parent as the split cell, so probes reach them through the
    # unchanged coarse level
    seeds = spark.read.parquet(os.path.join(applied, "seeds"))
    s1 = {r.seed_id: r.parent for r in seeds.filter("cid = 1").collect()}
    parents = {s1[sc] for sc in sizes}
    assert set(sizes) <= set(s1) and len(parents) == 1

    # E2E probe through the APPLIED index: a fresh vector near the mass
    # cluster must route through the appended seeds into one of the
    # split cells and classify 'dup' against a near neighbor — the
    # split must not break the probe path or lose the cluster
    from stateflow_spark.queries.similarity import (
        _IVF_DELTA_DUP_TAU,
        _ivf_classify_delta,
        _pin_n2,
    )

    rng2 = __import__("random").Random(99)
    import pyspark.sql.functions as F2

    old_emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    c1v = [
        r.embedding
        for r in old_emb.filter("label = 1 and vec_id = 1").collect()
    ][0]
    probe_v = [x + rng2.uniform(-0.005, 0.005) for x in c1v]
    probe = _pin_n2(
        spark.createDataFrame(
            [(999999, probe_v)], "vec_id long, v array<double>"
        )
    ).withColumnRenamed("n2", "dn2")
    out = _ivf_classify_delta(spark, probe, applied).collect()
    assert len(out) == 1
    r = out[0]
    assert r.cid == 1 and r.subcell in sizes  # routed into a split cell
    assert r.verdict == "dup" and r.nn_cosine >= _IVF_DELTA_DUP_TAU


@pytest.mark.slow
def test_ivf_apply_resplit_versioned_publish(spark, tmp_path):
    """Round-11 VERDICT #4 + ADVICE medium: the apply job never mutates
    its source and never exposes a corpus/seeds mixed state — the source
    index is inode/mtime/size identical after the apply (a concurrent
    probe of the source sees fully-old throughout), the new version
    appears only via the atomic rename (no .building residue), carries
    _INDEX_READY, unflagged partitions are HARDLINKS of the source files
    (zero data copy), and with an explicit index_dir every read flows
    from that dir — the session-snapshot resolver is never consulted."""
    import os
    import glob
    import shutil

    import stateflow_spark.queries.similarity as S
    from stateflow_spark.queries.similarity import (
        _IVF_SPLIT_FACTOR,
        _IVF_SUBCELL_POP,
        _ivf_index_dir,
        ivf_apply_resplit,
    )

    sf_dir = _plant_overfull_corpus(spark, tmp_path)
    base = _ivf_index_dir(spark, sf_dir)

    def tree_stat(root):
        out = {}
        for r, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(r, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (
                    st.st_ino, st.st_mtime_ns, st.st_size
                )
        return out

    # drive through an EXPLICIT index_dir (the production path): a copy
    # of the nightly snapshot at a different location, with the session
    # resolver booby-trapped — any read routed through the snapshot
    # cache instead of index_dir trips it (round-11 ADVICE medium)
    src = str(tmp_path / "live_index")
    shutil.copytree(base, src)
    before = tree_stat(src)

    def boom(*a, **kw):  # pragma: no cover - trap
        raise AssertionError("apply consulted the session snapshot")

    orig = S._ivf_index_dir
    S._ivf_index_dir = boom
    try:
        delta = S._pin_n2(
            S._corpus(spark, sf_dir, fan_out=True).filter(
                "vec_id % 5 = 0"
            )
        ).withColumnRenamed("n2", "dn2")
        applied = ivf_apply_resplit(
            spark, sf_dir, index_dir=src, delta=delta
        )
    finally:
        S._ivf_index_dir = orig

    # fully-old: the source tree is untouched, byte for byte
    assert tree_stat(src) == before
    # fully-new: the published version is complete and atomic
    assert applied != src and os.path.isdir(applied)
    assert os.path.exists(os.path.join(applied, "_INDEX_READY"))
    # scratch dirs are named <dest>.building.<token>
    assert not glob.glob(applied + ".building*")
    # unflagged cid=2 files are hardlinks of the source's (zero copy);
    # flagged cid=1 was written fresh
    def inodes(root, cid):
        d = os.path.join(root, "corpus", f"cid={cid}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    assert inodes(applied, 2) == inodes(src, 2)
    assert not set(inodes(applied, 1)) & set(inodes(src, 1))
    # and the applied index still serves a correct probe (full E2E is
    # test_ivf_resplit_clears_flag_at_production_constants)
    cap = _IVF_SPLIT_FACTOR * _IVF_SUBCELL_POP
    post = spark.read.parquet(os.path.join(applied, "corpus"))
    import pyspark.sql.functions as F

    sizes = post.filter("cid = 1").groupBy("subcell").count().collect()
    assert len(sizes) == 3 and all(r["count"] <= cap for r in sizes)


@pytest.mark.slow
def test_version_pointer_cutover_e2e(spark, tmp_path):
    """The CURRENT-pointer cutover primitive (DEPLOY.md contract, made
    code in stateflow_spark.versioning): publish v1 (the nightly index),
    resolve and classify; apply the re-split (publishes immutable v2);
    swap the pointer; a NEW resolve classifies against v2 while a reader
    still holding v1 is untouched. Unstamped dirs are refused on both
    publish and resolve."""
    import os

    import pytest

    import stateflow_spark.queries.similarity as S
    from stateflow_spark.versioning import publish_current, resolve_current

    sf_dir = _plant_overfull_corpus(spark, tmp_path)
    v1 = S._ivf_index_dir(spark, sf_dir)
    root = str(tmp_path / "index_root")
    publish_current(root, v1)
    held = resolve_current(root)  # a long-lived prober resolves ONCE
    assert held == os.path.abspath(v1)

    def classify_against(version_dir):
        delta = S._pin_n2(
            S._corpus(spark, sf_dir, fan_out=True).filter("vec_id % 5 = 0")
        ).withColumnRenamed("n2", "dn2")
        return {
            r.vec_id: (r.cid, r.subcell, r.verdict)
            for r in S._ivf_classify_delta(
                spark, delta, version_dir
            ).collect()
        }

    before = classify_against(resolve_current(root))

    v2 = S.ivf_apply_resplit(spark, sf_dir, index_dir=v1)
    assert v2 != v1
    publish_current(root, v2)
    assert resolve_current(root) == os.path.abspath(v2)

    # the reader holding v1 is untouched by the cutover
    assert classify_against(held) == before
    # a fresh resolve routes through the re-split layout: same verdicts
    # (the split preserves semantics), cells may move within cid=1
    after = classify_against(resolve_current(root))
    assert set(after) == set(before)
    assert all(after[q][2] == before[q][2] for q in before)

    # refusal paths: unstamped publish target and dangling pointer
    bare = tmp_path / "not_an_index"
    bare.mkdir()
    with pytest.raises(ValueError, match="no _INDEX_READY"):
        publish_current(root, str(bare))
    os.unlink(os.path.join(v2, "_INDEX_READY"))
    with pytest.raises(ValueError, match="no _INDEX_READY"):
        resolve_current(root)
    open(os.path.join(v2, "_INDEX_READY"), "w").close()  # restore


def test_applied_layouts_publish_deterministically(spark):
    """The read-back rows' applied layouts are pure functions of the
    nightly version, so they publish under DETERMINISTIC names and are
    reused instead of re-applied — a second resolution returns the same
    path/table with no new version dirs appearing (the round-11 ADVICE
    accumulation class, applied to the apply jobs)."""
    import glob
    import os

    from stateflow_spark.queries.dedup import (
        _MH_COMPACT_ROW_CAP,
        _mh_compacted_table,
        _table_location,
    )
    from stateflow_spark.queries.similarity import (
        _ivf_applied_dir,
        _ivf_index_dir,
    )

    sf_dir = "/root/testdata/sf0.001"
    a1 = _ivf_applied_dir(spark, sf_dir)
    siblings = set(glob.glob(_ivf_index_dir(spark, sf_dir) + ".applied.*"))
    a2 = _ivf_applied_dir(spark, sf_dir)
    assert a1 == a2
    assert a1.endswith(".applied.post-resplit-16")
    assert set(glob.glob(_ivf_index_dir(spark, sf_dir) + ".applied.*")) == (
        siblings
    )
    assert os.path.exists(os.path.join(a1, "_INDEX_READY"))

    t1 = _mh_compacted_table(spark, sf_dir, _MH_COMPACT_ROW_CAP)
    t2 = _mh_compacted_table(spark, sf_dir, _MH_COMPACT_ROW_CAP)
    assert t1 == t2 and t1.endswith(f"_compact_c{_MH_COMPACT_ROW_CAP}")
    assert os.path.exists(
        os.path.join(_table_location(spark, t1), "_INDEX_READY")
    )


def test_norms_layout_append_equals_rebuild(spark, tmp_path):
    """norms_apply_append: growing the corpus appends per-row norms to
    the stored layout; the result must be row-identical (vec_id, label,
    v, n2 — decimal-exact) to rebuilding the layout over the full
    corpus. Norms are per-row pure, so the append IS the daily job."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from stateflow_spark.catalog import load as cat_load
    from stateflow_spark.queries.similarity import (
        _norms_dir,
        norms_apply_append,
    )

    full_src = "/root/testdata/sf0.001"
    old_dir = tmp_path / "old"
    old_dir.mkdir()
    emb = cat_load(spark, full_src, "embeddings")
    emb.filter(F.col("vec_id") % 5 != 0).write.parquet(
        str(old_dir / "embeddings.parquet")
    )
    old_layout = _norms_dir(spark, str(old_dir))
    grown = str(tmp_path / "grown_layout")
    shutil.copytree(old_layout, grown)
    delta = emb.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    norms_apply_append(delta, grown)

    full_layout = _norms_dir(spark, full_src)

    def rows(d):
        return sorted(
            (r.vec_id, r.label, tuple(r.v), r.n2)
            for r in spark.read.parquet(os.path.join(d, "corpus")).collect()
        )

    assert rows(grown) == rows(full_layout)


def test_stored_layout_concurrent_build_loser_path(spark, tmp_path, monkeypatch):
    """The atomic-publish builders claim a concurrent loser cleans up and
    adopts the winner's directory. Exercise the loser path directly:
    fake the READY pre-check to miss once (as if the winner published
    mid-build), let os.rename fail against the winner's non-empty dir,
    and assert the builder still returns the WINNER's intact layout with
    no .building scratch left behind."""
    import glob
    import os

    import pyspark.sql.functions as F

    from stateflow_spark.catalog import load as cat_load
    from stateflow_spark.queries.similarity import _norms_dir

    src = tmp_path / "corpus"
    src.mkdir()
    cat_load(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 100
    ).write.parquet(str(src / "embeddings.parquet"))

    winner = _norms_dir(spark, str(src))  # the "winner" publishes first
    winner_files = sorted(os.listdir(os.path.join(winner, "corpus")))

    real_exists = os.path.exists
    missed = {"n": 0}

    def fake_exists(p):
        # the loser's READY pre-check misses exactly once
        if (
            p == os.path.join(winner, "_INDEX_READY")
            and missed["n"] == 0
        ):
            missed["n"] += 1
            return False
        return real_exists(p)

    monkeypatch.setattr(os.path, "exists", fake_exists)
    loser_result = _norms_dir(spark, str(src))
    monkeypatch.undo()

    assert missed["n"] == 1  # the race actually happened
    assert loser_result == winner
    # winner's layout intact, loser's scratch cleaned up
    assert sorted(os.listdir(os.path.join(winner, "corpus"))) == winner_files
    assert not glob.glob(winner + ".building.*")


def test_ivf_probe_widening_is_monotone_and_default_primary(spark):
    """The per-level probe knobs (nlabel, ncoarse, nprobe) must only
    WIDEN: per delta row, nn_cosine at (2,2,2) >= nn_cosine at (1,1,1)
    (more candidate cells can only improve the best), every (1,1,1)
    'dup' stays 'dup', and the reported primary cell (cid, subcell) is
    IDENTICAL — widening never moves the storage/merge assignment."""
    import pyspark.sql.functions as F

    from stateflow_spark.catalog import load as cat_load
    from stateflow_spark.queries.similarity import (
        _ivf_classify_delta,
        _ivf_index_dir,
        _pin_n2,
    )

    sf_dir = "/root/testdata/sf0.001"
    base = _ivf_index_dir(spark, sf_dir)
    delta = _pin_n2(
        cat_load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 5 == 0)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    ).withColumnRenamed("n2", "dn2")

    def run(**kw):
        return {
            r.vec_id: (r.cid, r.subcell, r.nn_cosine, r.verdict)
            for r in _ivf_classify_delta(spark, delta, base, **kw).collect()
        }

    narrow = run()
    wide = run(nprobe=2, ncoarse=2, nlabel=2)
    assert set(narrow) == set(wide)
    improved = 0
    for q, (cid, sc, cos, verdict) in narrow.items():
        wcid, wsc, wcos, wverdict = wide[q]
        assert (wcid, wsc) == (cid, sc), q  # primary cell unmoved
        if cos is not None:
            assert wcos is not None and wcos >= cos - 1e-12, q
            if wcos > cos + 1e-12:
                improved += 1
        if verdict == "dup":
            assert wverdict == "dup", q  # dups never lost by widening
    assert improved > 0  # the widening actually found better neighbors


def test_registered_narrow_row_is_restriction_of_widened_row(spark):
    """The REGISTERED (1,1,1) row's verdicts are a subset-consistent
    restriction of the registered widened row's (round-11 VERDICT #1's
    law): same vec set, same primary cells, widened nn_cosine >= narrow,
    narrow 'dup' implies widened 'dup'."""
    from stateflow_spark.queries import REGISTRY

    sf_dir = "/root/testdata/sf0.001"
    narrow = {
        r.vec_id: r
        for r in REGISTRY["sim_ivf_index_maintenance"].fn(spark, sf_dir).collect()
    }
    wide = {
        r.vec_id: r
        for r in REGISTRY["sim_ivf_widened_classify"].fn(spark, sf_dir).collect()
    }
    assert set(narrow) == set(wide)
    for q, n in narrow.items():
        w = wide[q]
        assert (w.cid, w.subcell) == (n.cid, n.subcell), q
        if n.nn_cosine is not None:
            assert w.nn_cosine is not None
            assert w.nn_cosine >= n.nn_cosine - 1e-12, q
        if n.verdict == "dup":
            assert w.verdict == "dup", q
