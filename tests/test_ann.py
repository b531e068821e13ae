"""ANN operator tests: brute-force top-k vs numpy truth; RP-LSH recall;
Hamming scan semantics (linear.py:206-244 analog)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from smqtk_indexing_spark import kernels as K
from smqtk_indexing_spark.operators import ann


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((60, 16)).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, vecs


def _numpy_topk(vecs, score_fn, k, largest):
    out = {}
    n = len(vecs)
    for q in range(n):
        scored = sorted(
            ((score_fn(vecs[q], vecs[j]), j) for j in range(n) if j != q),
            key=lambda t: (-t[0], t[1]) if largest else (t[0], t[1]),
        )
        out[q] = [j for _, j in scored[:k]]
    return out


def test_cosine_topk_matches_numpy(spark, emb):
    df, vecs = emb
    got = {}
    for r in ann.cosine_topk(df, k=3).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    want = _numpy_topk(vecs, K.cosine_similarity, 3, largest=True)
    for q, lst in got.items():
        assert [n for _, n in sorted(lst)] == want[q]


def test_euclidean_topk_matches_numpy(spark, emb):
    df, vecs = emb
    got = {}
    for r in ann.euclidean_topk(df, k=3).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    want = _numpy_topk(vecs, K.euclidean_distance, 3, largest=False)
    for q, lst in got.items():
        assert [n for _, n in sorted(lst)] == want[q]


def test_seq_score_block_bit_identical_to_naive_fold():
    # r07: the tiled/transposed fold kernel behind the blocked brute-force
    # top-k must reproduce the naive dimension-ordered fold (and therefore
    # the Catalyst aggregate(zip_with(...)) expression) BIT-FOR-BIT — the
    # exactness contract that lets the blocked path replace the old
    # crossJoin + window plan with identical results.
    rng = np.random.default_rng(123)
    for m, n, d in ((1, 1, 1), (5, 17, 3), (63, 513, 64), (40, 1100, 32)):
        q = rng.standard_normal((m, d))
        x = rng.standard_normal((n, d))
        for measure in ("cosine", "euclidean", "hik"):
            acc = np.zeros((m, n))
            if measure == "cosine":
                for j in range(d):
                    acc += q[:, j, None] * x[None, :, j]
                ref = acc
            elif measure == "euclidean":
                for j in range(d):
                    diff = q[:, j, None] - x[None, :, j]
                    acc += diff * diff
                ref = np.sqrt(acc)
            else:
                for j in range(d):
                    qa = q[:, j, None]
                    xb = x[None, :, j]
                    acc += (qa + xb - np.abs(qa - xb)) * 0.5
                ref = 1.0 - acc
            got = K.seq_score_block(q, x, measure)
            assert np.array_equal(ref, got), (measure, m, n, d)


def _lexsort_topk(q, qids, x, xids, k, measure):
    # naive reference: score the full (m, n) matrix, then one np.lexsort
    # per query over every non-self neighbor in Spark's order — NaN
    # greatest, a zero-norm cosine NULL after every score, ties by id
    sc = K.seq_score_block(q, x, measure)
    null = np.zeros(sc.shape, dtype=bool)
    if measure == "cosine":
        den = np.outer(K.seq_self_norms(q), K.seq_self_norms(x))
        null = den == 0
        sc = sc / np.where(null, 1.0, den)
    rows = []
    for i, qi in enumerate(qids):
        other = xids != qi
        s, nl, ids = sc[i, other], null[i, other], xids[other]
        nan = np.isnan(s) & ~nl
        if measure == "cosine":
            first = np.where(nan, 0, np.where(nl, 2, 1))
            key = np.where(nan | nl, 0.0, -s)
        else:
            first = np.where(nan, 1, 0)
            key = np.where(nan, 0.0, s)
        for r, j in enumerate(np.lexsort((ids, key, first))[:k]):
            rows.append((qi, ids[j], r + 1, "null" if nl[j] else repr(s[j])))
    return rows


@pytest.mark.parametrize("measure", ["cosine", "euclidean", "hik"])
def test_exact_topk_kernel_matches_lexsort_reference(measure):
    rng = np.random.default_rng(31)
    n, d = 1100, 6  # two full 512-column tiles and a partial one
    x = rng.integers(-3, 4, (n, d)).astype(np.float64)  # many score ties
    x[7] = x[900]  # a duplicate row: tied against every query
    x[11] = 0.0  # zero norm: a NULL cosine
    x[13, 2] = np.nan  # NaN scores against every query
    xids = rng.permutation(10 * n)[:n].astype(np.int64)  # ids not in row order
    qi = np.r_[np.arange(0, n, 16), [7, 11, 13, 900]]  # > 64 queries
    q, qids = x[qi], xids[qi]  # every query is also a corpus row: self pairs
    cases = [(q, qids, x, xids, 5), (x[:9], xids[:9], x[:7], xids[:7], 10)]
    for q_, qids_, x_, xids_, k in cases:
        got = K.exact_topk(q_, qids_, x_, xids_, k, measure)
        rows = [
            (a, b, r, "null" if nl else repr(s))
            for a, b, r, s, nl in zip(*(got[c] for c in got))
        ]
        assert rows == _lexsort_topk(q_, qids_, x_, xids_, k, measure)
    # k >= n: a query in the corpus gets every other row, one outside it all
    assert len(got["query_id"]) == 7 * 6 + 2 * 7
    empty = K.exact_topk(q, qids, np.zeros((0, 0)), xids[:0], 5, measure)
    assert all(len(v) == 0 for v in empty.values())


def test_blocked_topk_matches_crossjoin_window_plan(spark, emb):
    # r07: the blocked brute-force top-k must emit EXACTLY the rowset of
    # the previous crossJoin + aggregate(zip_with) + row_number window
    # plan — ranks, tie-breaks, and 6-decimal rounded scores included.
    from pyspark.sql import functions as F2

    from smqtk_indexing_spark.functions import metrics as M

    df, _ = emb
    a = df.select(
        F2.col("vec_id").alias("query_id"),
        F2.col("embedding").alias("va"),
        M.l2_norm("embedding").alias("na"),
    )
    b = df.select(
        F2.col("vec_id").alias("neighbor_id"),
        F2.col("embedding").alias("vb"),
        M.l2_norm("embedding").alias("nb"),
    )
    p = a.crossJoin(F2.broadcast(b)).where(
        F2.col("query_id") != F2.col("neighbor_id")
    )
    score = M.dot("va", "vb") / (F2.col("na") * F2.col("nb"))
    old = sorted(map(tuple, ann._ranked(p, score, 4, False).collect()))
    new = sorted(map(tuple, ann.cosine_topk(df, k=4).collect()))
    assert old == new


def test_blocked_topk_never_ranks_self_on_nan_scores(spark):
    # vector 0 has a NaN component, so every score it takes part in is NaN
    # and lands on the NaN-score sentinel; the self mask must still sort
    # after it, and the ranking must equal the crossJoin + window plan
    # (query_id != neighbor_id filter, Spark's NaN-greatest order)
    from smqtk_indexing_spark.functions import metrics as M

    rows = [
        (0, [float("nan"), 1.0]),
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [1.0, 1.0]),
        (4, [2.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    p = ann._self_pairs(df, "vec_id", "embedding")
    cases = [
        (ann.euclidean_topk, M.euclidean_distance("va", "vb"), True),
        (ann.hik_topk, M.histogram_intersection_distance("va", "vb"), True),
        (ann.cosine_topk, M.cosine_similarity("va", "vb"), False),
    ]
    for topk, score, ascending in cases:
        got = [tuple(r) for r in topk(df, k=4).collect()]
        assert len(got) == 5 * 4
        assert all(q != n for q, n, _, _ in got), topk.__name__
        want = [tuple(r) for r in ann._ranked(p, score, 4, ascending).collect()]
        norm = lambda rs: sorted((q, n, r, str(s)) for q, n, r, s in rs)  # noqa: E731
        assert norm(got) == norm(want), topk.__name__


def test_pair_cosines_bcast_matches_catalyst(spark, emb):
    # r07: the broadcast-matrix pair scorer (rp_lsh re-rank) must be
    # bit-identical to the joined-array Catalyst cosine on the same pairs.
    from pyspark.sql import functions as F2

    df, _ = emb
    cand = (
        df.select(F2.col("vec_id").alias("a"))
        .crossJoin(df.select(F2.col("vec_id").alias("b")))
        .where((F2.col("a") < F2.col("b")) & (F2.col("b") - F2.col("a") < 7))
    )
    old = sorted(map(tuple, ann._pair_cosines(cand, df).collect()))
    new = sorted(map(tuple, ann._pair_cosines_bcast(cand, df).collect()))
    assert old == new


def test_rp_signatures_deterministic_and_kernel_parity(spark, emb):
    df, vecs = emb
    sigs = {r.vec_id: r.rp_sig for r in ann.rp_signatures(df, seed=42).collect()}
    rps = K.rp_fit(16, 64, 42)
    expected = K.bits_to_int64(K.rp_hash(vecs.astype(np.float64), rps))
    for i in range(60):
        assert sigs[i] == expected[i]


def test_hamming_topk_self_similarity(spark, emb):
    df, _ = emb
    sigs = ann.rp_signatures(df, seed=42)
    rows = ann.hamming_topk(sigs, k=2).collect()
    assert all(0.0 <= r.score <= 1.0 for r in rows)  # normalized (linear.py:241-243)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == 2 for v in by_q.values())


def test_rp_lsh_topk_recall_planted_neighbors(spark):
    # reference pattern: perturbed query must return its source
    # (tests/impls/nn_index/test_lsh.py:790-802). Uniform gaussian vectors
    # have no near neighbors (all angles ~90deg), so plant them.
    rng = np.random.default_rng(5)
    base = rng.standard_normal((30, 16))
    pert = base + 0.05 * rng.standard_normal((30, 16))
    vecs = np.vstack([base, pert]).astype(np.float32)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.query_id: r.neighbor_id
        for r in ann.rp_lsh_topk(df, k=1).collect()
        if r.rank == 1
    }
    hits = sum(1 for i in range(30) if got.get(i) == i + 30)
    hits += sum(1 for i in range(30) if got.get(i + 30) == i)
    assert hits >= 0.9 * 60, f"planted-neighbor recall too low: {hits}/60"


def test_rp_lsh_topk_giant_bucket_salted_parity(spark):
    # round-3 VERDICT item 1: a planted giant bucket (every vector
    # identical -> all 8 band buckets collide on all rows) must route
    # through the salted block-pair path, finish, and produce exactly the
    # same ranked output as the small-bucket window-rank path on the same
    # data. 1200 identical vectors = ~719k undirected in-bucket pairs; with
    # salt_block_rows=128 the bucket is striped into C(10,2)+10 = 55
    # independent block-pair rows spread over the cluster instead of one
    # in-row explode.
    n = 1200
    vec = [1.0, 0.5, -0.25, 2.0, 0.0, -1.0, 0.75, 0.125]
    rng = np.random.default_rng(3)
    extra = rng.standard_normal((8, 8)).astype(np.float64)
    rows = [(i, vec) for i in range(n)] + [
        (n + j, extra[j].tolist()) for j in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    salted = ann.rp_lsh_topk(df, k=2, salt_block_rows=128)
    plain = ann.rp_lsh_topk(df, k=2, salt_block_rows=10**6)
    got_s = {(r.query_id, r.neighbor_id, r.rank, r.score) for r in salted.collect()}
    got_p = {(r.query_id, r.neighbor_id, r.rank, r.score) for r in plain.collect()}
    assert got_s == got_p
    # every identical vector found identical neighbors (cos == 1.0)
    perfect = [t for t in got_s if t[0] < n]
    assert len(perfect) == 2 * n
    assert all(abs(t[3] - 1.0) < 1e-6 for t in perfect)


@pytest.mark.parametrize("radius", [0, 1, 3, 7])
def test_hamming_pairs_banded_exact(spark, radius):
    # banded multi-index join == brute-force popcount filter, any radius
    # (including uneven 64/(r+1) segment splits)
    rng = np.random.default_rng(11)
    base = rng.integers(-(2**62), 2**62, size=60).astype(np.int64)
    vals = list(base)
    # plant near pairs at controlled distances
    for d in range(radius + 2):
        v = int(base[d])
        for bit in range(d):
            v ^= 1 << (7 * bit + 3)
        vals.append(v)
    rows = [(i, int(v)) for i, v in enumerate(vals)]
    sigs = spark.createDataFrame(rows, "vec_id long, rp_sig long")
    got = {
        (r.a, r.b, r.hamming)
        for r in ann.hamming_pairs_banded(sigs, radius).collect()
    }
    brute = {
        (i, j, bin((vi ^ vj) & (2**64 - 1)).count("1"))
        for i, vi in rows
        for j, vj in rows
        if i < j and bin((vi ^ vj) & (2**64 - 1)).count("1") <= radius
    }
    assert got == brute
    assert len(brute) > 0  # planted pairs make the test non-vacuous


def test_hamming_words_catalyst_matches_kernel(spark):
    rng = np.random.default_rng(13)
    bits = rng.integers(0, 2, size=(30, 128)).astype(bool)
    words = K.bits_to_words(bits)
    rows = [(i, words[i].tolist()) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, w array<long>")
    from pyspark.sql import functions as F
    from smqtk_indexing_spark.functions import metrics as M
    a = df.select(F.col("vec_id").alias("i"), F.col("w").alias("wa"))
    b = df.select(F.col("vec_id").alias("j"), F.col("w").alias("wb"))
    got = {
        (r.i, r.j): r.h
        for r in a.crossJoin(b)
        .where(F.col("i") < F.col("j"))
        .select("i", "j", M.hamming_words("wa", "wb").alias("h"))
        .collect()
    }
    for (i, j), h in got.items():
        assert h == K.hamming_words(words[i], words[j])
        assert h == int((bits[i] != bits[j]).sum())


def test_rp_signatures_words_and_topk(spark, emb):
    emb, _vecs = emb
    sigs = ann.rp_signatures_words(emb, bits=128)
    rows = sigs.collect()
    assert all(len(r.rp_sig_words) == 2 for r in rows)
    # deterministic across runs
    rows2 = ann.rp_signatures_words(emb, bits=128).collect()
    assert {r.vec_id: tuple(r.rp_sig_words) for r in rows} == {
        r.vec_id: tuple(r.rp_sig_words) for r in rows2
    }
    topk = ann.hamming_topk_words(sigs, k=3, bits=128)
    got = topk.collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r)
    sigmap = {r.vec_id: np.array(r.rp_sig_words) for r in rows}
    for q, rs in per_q.items():
        assert len(rs) == 3
        scores = [r.score for r in sorted(rs, key=lambda r: r.rank)]
        assert scores == sorted(scores)
        for r in rs:
            expect = K.hamming_words(sigmap[q], sigmap[r.neighbor_id]) / 128.0
            # Spark rounds HALF_UP, Python rounds half-even: allow the ulp
            assert abs(r.score - expect) <= 5.01e-7


def test_balltree_topk_matches_euclidean(spark, emb):
    # J6 partition-local index + global merge must equal the brute-force
    # euclidean ranking exactly, at any partition count
    from smqtk_indexing_spark.operators.balltree import balltree_topk

    df, _vecs = emb
    want = {
        (r.query_id, r.neighbor_id, r.rank, r.score)
        for r in ann.euclidean_topk(df, k=3).collect()
    }
    for nparts in (1, 7):
        got = {
            (r.query_id, r.neighbor_id, r.rank, r.score)
            for r in balltree_topk(df.repartition(nparts), k=3).collect()
        }
        assert got == want, nparts


def test_balltree_allpairs_grid_sides(spark, emb):
    # the 2D block grid must be exact at any grid side (every pair meets in
    # exactly one cell)
    from smqtk_indexing_spark.operators.balltree import balltree_topk_allpairs

    df, _vecs = emb
    want = {
        (r.query_id, r.neighbor_id, r.rank, r.score)
        for r in ann.euclidean_topk(df, k=3).collect()
    }
    for g in (1, 2, 5):
        got = {
            (r.query_id, r.neighbor_id, r.rank, r.score)
            for r in balltree_topk_allpairs(df, k=3, grid_side=g).collect()
        }
        assert got == want, g


def test_balltree_query_batch_and_cap(spark, emb):
    # explicit query batch: broadcast path, exact against the full corpus;
    # oversized batches must raise instead of collecting unbounded data
    import pytest

    from smqtk_indexing_spark.operators.balltree import balltree_topk

    df, _vecs = emb
    qs = df.where(F.col("vec_id") < 4)
    got = {
        (r.query_id, r.neighbor_id, r.rank, r.score)
        for r in balltree_topk(df, queries=qs, k=3).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank, r.score)
        for r in ann.euclidean_topk(df, k=3).collect()
        if r.query_id < 4
    }
    assert got == want
    with pytest.raises(ValueError, match="max_query_rows"):
        balltree_topk(df, queries=df, k=3, max_query_rows=3)


def test_balltree_matches_euclidean_with_a_nan_vector(spark):
    # every distance from vector 0 is NaN: balltree must keep brute force's
    # NaN scores and NaN-greatest order in all three forms (the pandas ->
    # Arrow handoff once turned them into nulls ranked first)
    from smqtk_indexing_spark.operators.balltree import (
        balltree_topk,
        balltree_topk_allpairs,
    )

    vecs = np.random.default_rng(43).standard_normal((30, 8)).astype(np.float32)
    vecs[0, 5] = np.nan
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(30)], "vec_id long, embedding array<float>"
    )

    def rows(topk):
        return sorted((q, n, r, str(s)) for q, n, r, s in topk.collect())

    want = rows(ann.euclidean_topk(df, k=3))
    assert any(s == "nan" for *_, s in want)
    for nparts in (1, 7):
        assert rows(balltree_topk(df.repartition(nparts), k=3)) == want, nparts
    for g in (1, 2, 5):
        assert rows(balltree_topk_allpairs(df, k=3, grid_side=g)) == want, g
    assert rows(balltree_topk(df, queries=df, k=3)) == want


def test_kmeans_kernel_deterministic_and_partitions():
    rng = np.random.default_rng(2)
    x = rng.standard_normal((300, 8))
    c1 = K.kmeans_fit(x, 8, seed=7)
    c2 = K.kmeans_fit(x, 8, seed=7)
    np.testing.assert_array_equal(c1, c2)
    a = K.kmeans_assign(x, c1, nprobe=3)
    assert a.shape == (300, 3)
    # column 0 is the true nearest centroid
    d2 = ((x[:, None, :] - c1[None, :, :]) ** 2).sum(axis=2)
    np.testing.assert_array_equal(a[:, 0], d2.argmin(axis=1))
    # two identical centroids tie for every row: the lower index comes first
    twin = np.vstack([c1[:3], c1[2:3], c1[3:]])
    t = K.kmeans_assign(x, twin, nprobe=9)
    pos2 = (t == 2).argmax(axis=1)
    np.testing.assert_array_equal(t[np.arange(300), pos2 + 1], 3)
    with pytest.raises(ValueError, match="n_cells"):
        K.kmeans_fit(x[:4], 8)


def test_kmeans_dead_cells_reseed_distinct():
    # ADVICE r3: multiple dead cells must re-seed on DISTINCT farthest
    # points, not all collapse onto one stale argmax. Heavy duplicates make
    # the seeded init pick coincident centroids -> immediate dead cells;
    # the four well-separated locations must all end up represented.
    A, B, C, D = [0.0, 0.0], [10.0, 10.0], [-20.0, 5.0], [30.0, -7.0]
    x = np.array([A] * 50 + [B] * 50 + [C] + [D])
    for seed in range(8):
        cent = K.kmeans_fit(x, 4, n_iter=25, seed=seed)
        uniq = {tuple(np.round(c, 9)) for c in cent}
        assert len(uniq) == 4, (seed, cent)
        for p in (A, B, C, D):
            assert min(np.abs(cent - p).sum(axis=1)) < 1e-9, (seed, p)


def test_ivf_topk_recall_and_exact_scores(spark):
    # planted clusters: IVF with nprobe covering the cluster structure must
    # recover >= 90% of the brute-force cosine top-3 and report EXACT scores
    rng = np.random.default_rng(13)
    centers = rng.standard_normal((6, 16)) * 4
    vecs = np.vstack(
        [c + 0.3 * rng.standard_normal((20, 16)) for c in centers]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    want = {
        (r.query_id, r.neighbor_id)
        for r in ann.cosine_topk(df, k=3).collect()
    }
    got_rows = ann.ivf_topk(df, k=3, n_cells=6, nprobe=3, seed=5).collect()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(got & want) >= 0.9 * len(want)
    # every reported score equals the exact cosine (re-rank is exact)
    sim = {}
    for r in got_rows:
        a, b = vecs[r.query_id].astype(np.float64), vecs[r.neighbor_id].astype(np.float64)
        expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.score - expect) < 5.01e-7
    per_q = {}
    for r in got_rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == 3 for v in per_q.values())


def test_ivf_topk_byte_bounded_fit_and_distributed_mode(spark):
    # round-3 VERDICT item 5: at dim 2048 the driver fit must respect a
    # BYTE budget (here ~8 cells' worth of rows, far below the row cap),
    # and the distributed partial-sums fit must never collect vectors yet
    # still recover the planted cluster structure.
    rng = np.random.default_rng(7)
    dim = 2048
    centers = rng.standard_normal((4, dim)) * 3
    vecs = np.vstack(
        [c + 0.2 * rng.standard_normal((15, dim)) for c in centers]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    want = {
        (r.query_id, r.neighbor_id) for r in ann.cosine_topk(df, k=3).collect()
    }
    # sample fit, byte-bounded: budget admits only 32 rows (32*2048*8)
    got_s = {
        (r.query_id, r.neighbor_id)
        for r in ann.ivf_topk(
            df, k=3, n_cells=4, nprobe=2, seed=3, max_sample_bytes=32 * dim * 8
        ).collect()
    }
    assert len(got_s & want) >= 0.9 * len(want)
    # distributed fit: driver sees only k x d partial sums
    got_d = {
        (r.query_id, r.neighbor_id)
        for r in ann.ivf_topk(
            df, k=3, n_cells=4, nprobe=2, seed=3, n_iter=5, fit="distributed"
        ).collect()
    }
    assert len(got_d & want) >= 0.9 * len(want)


def test_cosine_dup_pairs_banded_recall(spark):
    # planted near-dup embeddings: the banded scale path must find >=99%
    # of what the brute-force twin finds (radius-12 recall boundary), with
    # zero false positives (exact verify)
    rng = np.random.default_rng(21)
    base = rng.standard_normal((40, 16))
    pert = base + 0.03 * rng.standard_normal((40, 16))
    vecs = np.vstack([base, pert]).astype(np.float32)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    brute = {(r.a, r.b) for r in ann.cosine_dup_pairs(df, tau=0.95).collect()}
    banded = {
        (r.a, r.b)
        for r in ann.cosine_dup_pairs_banded(df, tau=0.95).collect()
    }
    assert banded <= brute
    assert len(brute) >= 40  # planted pairs present
    assert len(banded) >= 0.99 * len(brute)


def test_rp_lsh_topk_empty_table_returns_empty(spark):
    # an empty embedding table has no candidates to rank: empty top-k, the
    # same as cosine_topk, not a shape error from the broadcast scorer
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ann.rp_lsh_topk(df, k=3).collect() == []
    assert ann.cosine_topk(df, k=3).collect() == []


def test_zero_vector_cosine_is_null_not_an_error(spark):
    # Spark 4 runs with ANSI on: a zero-norm vector must score NULL (as
    # DuckDB's 0.0/0.0 and the broadcast scorer do), not raise
    # DIVIDE_BY_ZERO, on every Catalyst cosine path
    from smqtk_indexing_spark.functions import metrics as M
    from smqtk_indexing_spark.operators.mrpt import mrpt_topk

    rng = np.random.default_rng(17)
    vecs = rng.standard_normal((60, 8))
    vecs[0] = 0.0
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    for name, topk in [
        ("ivf", ann.ivf_topk(df, k=3, n_cells=4, nprobe=2, seed=3)),
        ("mrpt", mrpt_topk(df, k=3, n_trees=4, depth=2, seed=3)),
        ("rp_lsh", ann.rp_lsh_topk(df, k=3)),
    ]:
        rows = topk.collect()
        assert any(r.query_id == 0 for r in rows) or name == "rp_lsh", name
        for r in rows:
            assert (r.score is None) == (0 in (r.query_id, r.neighbor_id)), name

    pairs = ann.cosine_dup_pairs(df, tau=-1.0).collect()
    assert len(pairs) == 59 * 58 // 2  # every pair but the zero vector's
    banded = ann.cosine_dup_pairs_banded(df, tau=-1.0).collect()
    assert all(0 not in (r.a, r.b) for r in banded)

    z = F.array(F.lit(0.0), F.lit(0.0))
    x = F.array(F.lit(1.0), F.lit(0.0))
    got = df.limit(1).select(
        M.cosine_similarity(z, x).alias("sim"),
        M.cosine_distance(z, x).alias("dist"),
        M.cosine_distance(x, x).alias("self_dist"),
    ).first()
    assert got.sim is None and got.dist is None
    assert got.self_dist == 0.0


def test_blocked_cosine_topk_ranks_zero_vector_last_like_duckdb(spark):
    # a zero vector's cosine is NULL in DuckDB's oracle (x / 0), which
    # ranks it after every score; the blocked kernel once scored it NaN and
    # ranked it first for every query (NaN sorts greatest under desc)
    import os
    import sys

    import duckdb
    import pandas as pd

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((20, 8)).astype(np.float32)
    vecs[0] = 0.0
    embeddings = pd.DataFrame({"vec_id": np.arange(20), "embedding": list(vecs)})  # noqa: F841
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(20)], "vec_id long, embedding array<float>"
    )
    got = [tuple(r) for r in ann.cosine_topk(df, k=E.TOPK).collect()]
    want = duckdb.execute(E.oracle_sql()["ann_cosine_topk"]).fetchall()
    norm = lambda rs: sorted((q, n, r, None if s is None else f"{s:.9g}") for q, n, r, s in rs)  # noqa: E731
    assert norm(got) == norm(want)
    assert all(s is None for q, n, _, s in got if 0 in (q, n))
