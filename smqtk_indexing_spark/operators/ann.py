"""Similarity search over embedding columns — the reference's query surface
(``NearestNeighborsIndex.nn``, ``/root/reference/smqtk_indexing/interfaces/
nearest_neighbor_index.py:96-118``) generalized to batch top-k DataFrames.

- brute-force top-k: the correctness baseline, = the reference's
  ``LinearHashIndex`` scan (``impls/hash_index/linear.py:231-244``) with
  Catalyst's TakeOrdered/window-rank instead of ``heapq.nsmallest``.
- RP-LSH bucketed top-k: the scale path — 64-bit sign-of-projection
  signatures (``impls/lsh_functor/simple_rp.py:122-127`` semantics) banded
  into Hamming buckets for candidate generation, exact re-rank after
  (``impls/nn_index/lsh.py:505-519`` shape).

All ranking math is Catalyst expressions; only the signature projection is a
pandas UDF (matmul over Arrow batches — ``impls/nn_index/mrpt.py:243-266``
shape).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from smqtk_indexing_spark import kernels as K
from smqtk_indexing_spark.config import DEFAULT_CONFIG
from smqtk_indexing_spark.functions import metrics as M


def _ranked(
    pairs: DataFrame, score: Column, k: int, ascending: bool
) -> DataFrame:
    order = [score.asc() if ascending else score.desc(), F.col("neighbor_id").asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        pairs.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("score", 6).alias("score"))
    )


def _self_pairs(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    a = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb"))
    # broadcast the corpus side: the scan parallelizes over the query side's
    # partitions instead of a (n_part x n_part) cartesian
    return a.crossJoin(F.broadcast(b)).where(
        F.col("query_id") != F.col("neighbor_id")
    )


def _bruteforce_topk_blocked(
    emb: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    measure: str,
    ascending: bool,
    q_block: int = 64,
) -> DataFrame:
    """Exact brute-force self top-k via blocked vectorized scoring against a
    broadcast corpus matrix — identical results to the previous
    crossJoin + interpreted ``aggregate(zip_with(...))`` + window-rank plan,
    at a fraction of the cost (guide §4.2: hand whole batches to native
    code; §1.2: remove the n^2-row window shuffle outright).

    Plan shape change (plans/r07): the old plan materialized n^2 rows
    through a BroadcastNestedLoopJoin, evaluated one INTERPRETED lambda
    fold per pair (F.aggregate with lambdas gets no codegen), and shuffled
    the pair table into a WindowGroupLimit sort. The new plan is a single
    ArrowEvalPython-class pass over the query side: the corpus rides along
    once as an (ids, matrix) broadcast — the SAME bytes the old
    BroadcastExchange already collected to the driver and shipped to every
    executor, so the driver-memory envelope is unchanged — and each task
    emits only its queries' k winners (n*k rows instead of n^2).

    Exactness contract: scores come from kernels.seq_score_block /
    seq_self_norms, which reproduce the Catalyst fold's IEEE rounding
    sequence bit-for-bit (see that docstring), so ranks, 6-decimal rounded
    scores, and tie-breaks (score order, then neighbor_id asc — NaN scores
    sort as Spark's NaN-greatest) are unchanged. Verified by exact
    old-vs-new rowset equality at sf0.001/0.01/0.1/1.0 and the DuckDB
    oracle gate (OPTIMIZATION_r07.md).

    This is the O(n^2) correctness baseline by design (the certified scale
    paths are rp_lsh/ivf/mrpt); the corpus matrix must fit one executor,
    exactly as the previous broadcast relation had to.
    """
    spark = emb.sparkSession
    base = emb.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    pdf = base.toPandas()  # Arrow path; same relation the old plan broadcast
    ids_u = pdf["id"].to_numpy(np.int64)
    # id-SORTED corpus: tiles are then consecutive id ranges, so the
    # stable per-tile selection below breaks ties in global id order
    order = np.argsort(ids_u)
    ids_c = ids_u[order]
    x_mat = np.asarray(pdf["v"].tolist(), dtype=np.float64)[order]
    bc = spark.sparkContext.broadcast((ids_c, x_mat))
    kk = min(k, len(ids_c) - 1)
    x_tile = 512

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cids, xm = bc.value
        n = len(cids)
        if kk <= 0:
            return
        nx = K.seq_self_norms(xm) if measure == "cosine" else None
        rows_cache: dict = {}
        for b in batches:
            qids_all = b["id"].to_numpy(np.int64)
            q_all = np.asarray(b["v"].tolist(), dtype=np.float64)
            for s in range(0, len(qids_all), q_block):
                qids = qids_all[s : s + q_block]
                q = q_all[s : s + q_block]
                m = len(qids)
                rows = rows_cache.get(m)
                if rows is None:
                    rows = rows_cache[m] = np.arange(m)[:, None]
                nq = K.seq_self_norms(q) if measure == "cosine" else None
                # Tile-wise selection: per corpus tile, keep each query's
                # kk best by (key, neighbor_id) and merge pools at the end
                # — the full (m, n) score/key matrices are never
                # materialized, cutting the kernel's DRAM traffic by ~n/kk
                # (this stage was measured 4x slower in the VM's
                # bandwidth-contended windows at zero CPU steal). A stable
                # argsort over id-ordered tile columns == (key, id)
                # lexicographic, and any global top-kk entry is within its
                # tile's top-kk under the same comparator, so the merged
                # result is exactly the previous full-matrix selection
                # (old-vs-new rowset equality re-verified at all four SFs).
                pool_k: list = []
                pool_s: list = []
                pool_i: list = []
                for ts in range(0, n, x_tile):
                    te = min(ts + x_tile, n)
                    sc = K.seq_score_block(q, xm[ts:te], measure)
                    if measure == "cosine":
                        sc = sc / (nq[:, None] * nx[ts:te][None, :])
                    # ascending sort key; Spark orders NaN greatest (=>
                    # first under desc, last under asc); ties break on
                    # neighbor_id asc via the stable sorts
                    key = sc.copy() if ascending else -sc
                    key[np.isnan(key)] = np.inf if ascending else -np.inf
                    # self pairs: NaN, which the stable argsort places
                    # strictly after every score sentinel, +inf included
                    key[qids[:, None] == cids[ts:te][None, :]] = np.nan
                    kk2 = min(kk, te - ts)
                    ordt = np.argsort(key, axis=1, kind="stable")[:, :kk2]
                    pool_k.append(key[rows, ordt])
                    pool_s.append(sc[rows, ordt])
                    pool_i.append(cids[ts:te][ordt])
                keys = np.concatenate(pool_k, axis=1)
                scs = np.concatenate(pool_s, axis=1)
                nids = np.concatenate(pool_i, axis=1)
                ordf = np.argsort(keys, axis=1, kind="stable")[:, :kk]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qids, kk),
                        "neighbor_id": nids[rows, ordf].ravel(),
                        "rank": np.tile(
                            np.arange(1, kk + 1, dtype=np.int32), m
                        ),
                        "score": scs[rows, ordf].ravel(),
                    }
                )

    out = base.mapInPandas(
        gen, schema="query_id long, neighbor_id long, rank int, score double"
    )
    # the pandas -> Arrow handoff turns a NaN score into null; every row
    # has a score, so null can only be NaN
    score = F.coalesce("score", F.lit(float("nan")))
    return out.select(
        "query_id", "neighbor_id", "rank", F.round(score, 6).alias("score")
    )


def cosine_topk(
    emb: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Brute-force all-pairs cosine top-k (descending similarity), blocked
    exact scoring (see :func:`_bruteforce_topk_blocked`)."""
    return _bruteforce_topk_blocked(emb, k, id_col, vec_col, "cosine", False)


def euclidean_topk(
    emb: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Brute-force euclidean top-k — ``utils/metrics.py:73-86`` ranking,
    blocked exact scoring (see :func:`_bruteforce_topk_blocked`)."""
    return _bruteforce_topk_blocked(emb, k, id_col, vec_col, "euclidean", True)


def hik_topk(
    emb: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Histogram-intersection-distance top-k — ``utils/metrics.py:7-70``
    ranking (the FLANN HIK path, ``impls/nn_index/flann.py:467-474``),
    blocked exact scoring (see :func:`_bruteforce_topk_blocked`)."""
    return _bruteforce_topk_blocked(emb, k, id_col, vec_col, "hik", True)


RP_SIG_SCHEMA = "vec_id long, rp_sig long"


def rp_signatures(
    emb: DataFrame,
    bits: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """64-bit sign-of-projection signatures via one Arrow-batched matmul.

    The projection model is derived from (dim, bits, seed) inside each task
    — equivalent to broadcasting it, with zero driver state
    (``simple_rp.py:116-127`` semantics, no mean-centering)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rps = None
        for pdf in batches:
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if rps is None:
                rps = K.rp_fit(x.shape[1], bits, seed)
            bitmat = K.rp_hash(x, rps)
            sig = K.bits_to_int64(bitmat)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col].astype("int64"), "rp_sig": sig}
            )

    return emb.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    ).mapInPandas(gen, schema=RP_SIG_SCHEMA)


def rp_signatures_words(
    emb: DataFrame,
    bits: int = 128,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-word (>64-bit) sign-of-projection signatures as ``array<long>``
    (kernels.bits_to_words layout) — parity with the reference's
    arbitrary-precision codes (``utils/bits.py:4-20``; ITQ/RP up to 256
    bits, ``impls/lsh_functor/itq.py:71-78``). Projections allow
    bits > dim, unlike ITQ's PCA cap."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rps = None
        for pdf in batches:
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if rps is None:
                rps = K.rp_fit(x.shape[1], bits, seed)
            words = K.bits_to_words(K.rp_hash(x, rps))
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "rp_sig_words": list(words),
                }
            )

    return emb.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    ).mapInPandas(gen, schema="vec_id long, rp_sig_words array<long>")


def hamming_topk_words(sigs: DataFrame, k: int = 5, bits: int = 128) -> DataFrame:
    """Brute-force Hamming top-k over multi-word codes — the J5 linear scan
    (``impls/hash_index/linear.py:231-244``) at >64-bit width; normalized
    distance as at ``linear.py:241-243``."""
    a = sigs.select(
        F.col("vec_id").alias("query_id"), F.col("rp_sig_words").alias("sa")
    )
    b = sigs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("rp_sig_words").alias("sb")
    )
    p = a.crossJoin(F.broadcast(b)).where(F.col("query_id") != F.col("neighbor_id"))
    dist = M.hamming_words("sa", "sb").cast("double") / F.lit(float(bits))
    return _ranked(p, dist, k, ascending=True)


def hamming_topk(sigs: DataFrame, k: int = 5, sig_col: str = "rp_sig") -> DataFrame:
    """Brute-force Hamming top-k over (vec_id, <sig_col>) — the J5 theta-join
    (``impls/hash_index/linear.py:231-244``), normalized distance as at
    ``linear.py:241-243``. Works over any 64-bit code column (RP or ITQ)."""
    a = sigs.select(F.col("vec_id").alias("query_id"), F.col(sig_col).alias("sa"))
    b = sigs.select(F.col("vec_id").alias("neighbor_id"), F.col(sig_col).alias("sb"))
    p = a.crossJoin(F.broadcast(b)).where(F.col("query_id") != F.col("neighbor_id"))
    dist = M.hamming64("sa", "sb").cast("double") / F.lit(64.0)
    return _ranked(p, dist, k, ascending=True)


def hamming_pairs_banded(
    sigs: DataFrame,
    radius: int,
    id_col: str = "vec_id",
    sig_col: str = "rp_sig",
    bits: int = 64,
) -> DataFrame:
    """EXACT Hamming-radius self-join via multi-index banding — the scale
    path for J5 (``impls/hash_index/linear.py:206-244`` semantics, all pairs
    with popcount(a^b) <= radius).

    Pigeonhole (Manku/Jain/Sarma, WWW'07 SimHash dedup): split the code into
    ``radius+1`` disjoint bit segments; any pair within the radius differs in
    at most ``radius`` bits, so at least one segment is bit-identical. Each
    segment becomes an equi-join key — ONE shuffle of the (n x radius+1)
    exploded table per side, no cartesian product. Candidates are verified
    with a JVM-side popcount; distinct-ing on (a, b) dedupes pairs that
    collide in several segments. Skewed segment keys (boilerplate codes) are
    split by AQE's skew-join handling; empty-signature rows must be filtered
    upstream (they all share code 0).

    Returns (a, b, hamming) with a < b.
    """
    nseg = radius + 1
    base, rem = divmod(bits, nseg)
    segs = []
    off = 0
    for i in range(nseg):
        w = base + (1 if i < rem else 0)
        key = F.shiftrightunsigned(F.col(sig_col), off)
        if w < 64:  # a 64-bit all-ones mask overflows LongType literals
            key = key.bitwiseAND(F.lit((1 << w) - 1))
        segs.append(F.struct(F.lit(i).alias("seg"), key.alias("k")))
        off += w
    b = sigs.select(
        F.col(id_col), F.col(sig_col), F.explode(F.array(*segs)).alias("s")
    ).select(
        id_col, sig_col, F.col("s.seg").alias("seg"), F.col("s.k").alias("seg_key")
    )
    x = b.select(
        F.col(id_col).alias("a"), F.col(sig_col).alias("ha"), "seg", "seg_key"
    )
    y = b.select(
        F.col(id_col).alias("b"), F.col(sig_col).alias("hb"), "seg", "seg_key"
    )
    return (
        x.join(y, ["seg", "seg_key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
        .withColumn("hamming", M.hamming64("ha", "hb"))
        .where(F.col("hamming") <= radius)
        .select("a", "b", "hamming")
    )


def _pair_cosines_bcast(
    cand: DataFrame,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_cols: tuple = ("a", "b"),
) -> DataFrame:
    """(a, b) candidate pairs -> (a, b, cos) via a broadcast corpus matrix
    and the exact sequential-fold kernel — replaces the
    ``cand.join(v, "a").join(v, "b")`` + interpreted
    ``M.cosine_similarity`` re-rank shape (guide §2.3 "shuffle keys and
    metadata instead of payloads": only two longs per candidate row ever
    move; the vectors ride once in the broadcast, which is the same
    (id, vector) relation the join's broadcast hash build already shipped).

    Exactness: per-pair dot and both norms come from the dimension-ordered
    fold (kernels.seq_score_block contract) and the final
    ``dot / (na * nb)`` rounds exactly like the Catalyst expression, so
    scores are bit-identical to ``M.cosine_similarity`` on the joined
    arrays. Corpus norms are computed once per row instead of once per
    pair — same value by determinism of the fold.
    """
    spark = emb.sparkSession
    pdf = emb.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    ).toPandas()
    ids = pdf["id"].to_numpy(np.int64)
    order = np.argsort(ids)
    ids_sorted = ids[order]
    # an empty corpus would give a 1-D (0,) array; keep (rows, dims)
    x_mat = (
        np.asarray(pdf["v"].tolist(), dtype=np.float64)[order]
        if len(pdf) else np.zeros((0, 0))
    )
    norms = K.seq_self_norms(x_mat)
    bc = spark.sparkContext.broadcast((ids_sorted, x_mat, norms))
    ca, cb = out_cols

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sids, xm, ns = bc.value
        d = xm.shape[1]
        for b in batches:
            a = b[ca].to_numpy(np.int64)
            bb = b[cb].to_numpy(np.int64)
            ia = np.searchsorted(sids, a)
            ib = np.searchsorted(sids, bb)
            # transposed-contiguous gathers so each fold step reads a
            # contiguous row (same layout trick as seq_score_block)
            va = np.ascontiguousarray(xm[ia].T)
            vb = np.ascontiguousarray(xm[ib].T)
            acc = np.zeros(len(a))
            for j in range(d):
                acc += va[j] * vb[j]
            yield pd.DataFrame(
                {ca: a, cb: bb, "cos": acc / (ns[ia] * ns[ib])}
            )

    return cand.select(
        F.col(ca).cast("long").alias(ca), F.col(cb).cast("long").alias(cb)
    ).mapInPandas(gen, schema=f"{ca} long, {cb} long, cos double")


def cosine_dup_pairs(
    emb: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All unordered pairs with cosine similarity >= tau — embedding-level
    near-duplicate detection (brute-force correctness twin; the scale path
    is :func:`cosine_dup_pairs_banded`). Norms precomputed pre-join."""
    a = emb.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
        M.l2_norm(vec_col).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
        M.l2_norm(vec_col).alias("nb"),
    )
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a") < F.col("b"))
        .withColumn("cosine", M.dot("va", "vb") / (F.col("na") * F.col("nb")))
        .where(F.col("cosine") >= F.lit(tau))
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


def cosine_dup_pairs_banded(
    emb: DataFrame,
    tau: float = 0.95,
    hamming_radius: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: RP-signature Hamming banding for
    candidates, exact cosine verify after.

    For cos >= 0.95 the per-bit disagreement probability is
    arccos(0.95)/pi ~= 0.10, so 64-bit Hamming concentrates near 6.5 +- 2.4;
    radius 12 keeps recall ~0.99 (documented approximation boundary — the
    exact verify removes all false positives). Candidates come from the
    pigeonhole-EXACT banded join, so recall loss is only the radius cut."""
    sigs = rp_signatures(emb, 64, seed, id_col, vec_col)
    cand = hamming_pairs_banded(sigs, hamming_radius).select("a", "b")
    v = emb.select(
        F.col(id_col).cast("long").alias("did"),
        F.col(vec_col).alias("v"),
        M.l2_norm(vec_col).alias("n"),
    )
    return (
        cand.join(
            v.select(
                F.col("did").alias("a"), F.col("v").alias("va"),
                F.col("n").alias("na"),
            ),
            "a",
        )
        .join(
            v.select(
                F.col("did").alias("b"), F.col("v").alias("vb"),
                F.col("n").alias("nb"),
            ),
            "b",
        )
        .withColumn("cosine", M.dot("va", "vb") / (F.col("na") * F.col("nb")))
        .where(F.col("cosine") >= F.lit(tau))
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


def _kmeans_fit_distributed(
    emb: DataFrame,
    vec_col: str,
    init_cent: np.ndarray,
    n_iter: int,
) -> np.ndarray:
    """Lloyd iterations with DISTRIBUTED centroid updates: each round is
    one mapInPandas pass emitting per-partition (cell, dim, partial-sum,
    count) rows, reduced Spark-side (map-side combine over the k x d key
    space) — the driver only ever sees k x d doubles, never sample
    vectors. MLlib's treeAggregate shape re-expressed in DataFrame ops
    (round-3 VERDICT item 5). Dead cells keep their previous centroid."""
    sc = emb.sparkSession.sparkContext
    cent = init_cent.copy()
    n_cells, dim = cent.shape
    for _ in range(n_iter):
        b = sc.broadcast(cent)

        def part_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = b.value
            kk, d = c.shape
            s = np.zeros((kk, d))
            n = np.zeros(kk, np.int64)
            for pdf in batches:
                x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                if not len(x):
                    continue
                a = K.kmeans_assign(x, c, nprobe=1)[:, 0]
                np.add.at(s, a, x)
                n += np.bincount(a, minlength=kk)
            cells = np.repeat(np.arange(kk, dtype=np.int32), d)
            yield pd.DataFrame(
                {
                    "cell": cells,
                    "dim": np.tile(np.arange(d, dtype=np.int32), kk),
                    "s": s.ravel(),
                    "n": np.repeat(n, d),
                }
            )

        # toPandas (Arrow) not collect(): k x d py4j Row objects would cost
        # ~100x the 8-byte payload each at large k*d; the Arrow transfer is
        # three flat columns
        pdf_agg = (
            emb.select(vec_col)
            .mapInPandas(part_sums, schema="cell int, dim int, s double, n long")
            .groupBy("cell", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .toPandas()
        )
        b.destroy()
        new = cent.copy()
        cnt = np.zeros(n_cells, np.int64)
        acc = np.zeros((n_cells, dim))
        cells = pdf_agg["cell"].to_numpy()
        acc[cells, pdf_agg["dim"].to_numpy()] = pdf_agg["s"].to_numpy()
        cnt[cells] = pdf_agg["n"].to_numpy()
        live = cnt > 0
        new[live] = acc[live] / cnt[live, None]
        if np.array_equal(new, cent):
            break
        cent = new
    return cent


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    n_iter: int = 25,
    seed: int = 42,
    max_sample: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample_bytes: int = 256 << 20,
    fit: str = "sample",
) -> DataFrame:
    """IVF ANN: k-means coarse quantizer -> inverted cell lists -> nprobe
    cell equi-join -> exact cosine re-rank.

    Two fit modes (round-3 VERDICT item 5 — the driver collect is bounded
    by BYTES, not just rows):

    - ``fit="sample"`` (default): train on a bounded deterministic sample
      on the driver and broadcast the tiny centroid model
      (``impls/nn_index/mrpt.py:243-266`` analog). The sample row cap is
      ``min(max_sample, max_sample_bytes / (dim * 8))`` — at dim 2048 the
      default budget admits ~16k rows instead of a ~1.6 GB collect.
    - ``fit="distributed"``: Lloyd with mapInPandas partial sums reduced
      Spark-side (:func:`_kmeans_fit_distributed`) — the driver never
      holds sample vectors, only the k x d centroid matrix; init from a
      tiny byte-bounded seed sample. One corpus pass per iteration: the
      100 TB path when no representative sample fits a driver budget.

    Each corpus vector lives in exactly ONE cell, so the candidate join
    needs no distinct (unlike LSH banding, a pair can only meet in the
    neighbor's home cell). Approximate: a true neighbor outside the
    query's ``nprobe`` nearest cells is missed — the standard IVF
    recall/nprobe trade, pytest recall-gated. Scale: candidates per query
    ~ nprobe/n_cells of the corpus; grow ``n_cells`` with sqrt(n) to hold
    the ratio."""
    from smqtk_indexing_spark.operators.sample import bounded_sample

    dim_row = emb.select(F.size(vec_col)).limit(1).collect()  # 1-row probe
    dim = int(dim_row[0][0]) if dim_row else 1
    row_cap = max(n_cells, min(max_sample, max_sample_bytes // (dim * 8)))
    if fit == "distributed":
        # init sample is byte-bounded too (the whole point of this mode is
        # never holding big vector sets on the driver): ~64 rows per cell,
        # but never more than the byte budget admits
        seed_cap = max(n_cells, min(64 * n_cells, max_sample_bytes // (dim * 8)))
        rows = bounded_sample(emb.select(vec_col), seed_cap, seed=seed).collect()
        init = K.kmeans_fit(
            np.asarray([r[0] for r in rows], dtype=np.float64),
            n_cells,
            n_iter=1,
            seed=seed,
        )
        cent = _kmeans_fit_distributed(emb, vec_col, init, n_iter)
    else:
        rows = bounded_sample(emb.select(vec_col), row_cap, seed=seed).collect()
        cent = K.kmeans_fit(
            np.asarray([r[0] for r in rows], dtype=np.float64),
            n_cells,
            n_iter=n_iter,
            seed=seed,
        )
    b_cent = emb.sparkSession.sparkContext.broadcast(cent)

    def assign(batches):
        c = b_cent.value
        for pdf in batches:
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            probes = K.kmeans_assign(x, c, nprobe=nprobe)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "cell": probes[:, 0].astype("int32"),
                    "probes": list(probes.astype("int32")),
                }
            )

    assigned = emb.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    ).mapInPandas(assign, schema="vec_id long, cell int, probes array<int>")
    x = assigned.select(
        F.col("vec_id").alias("query_id"), F.explode("probes").alias("cell")
    )
    y = assigned.select(F.col("vec_id").alias("neighbor_id"), "cell")
    cand = x.join(y, "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id")
    v = emb.select(F.col(id_col).cast("long").alias("did"), F.col(vec_col).alias("v"))
    pairs = cand.join(
        v.select(F.col("did").alias("query_id"), F.col("v").alias("va")), "query_id"
    ).join(
        v.select(F.col("did").alias("neighbor_id"), F.col("v").alias("vb")),
        "neighbor_id",
    )
    return _ranked(pairs, M.cosine_similarity("va", "vb"), k, ascending=False)


def rp_lsh_topk(
    emb: DataFrame,
    k: int = 5,
    bands: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int = 10_000,
    salt_block_rows: int = 1024,
) -> DataFrame:
    """Scale-path ANN: band the 64-bit RP signature into ``bands`` byte
    buckets, bucket-group for candidates, exact cosine re-rank. Approximate:
    only pairs sharing >= 1 band are ranked; buckets with more than
    ``bucket_cap`` members are DROPPED entirely (a recall boundary, the
    same knob family as the LSH dedup path — upstream exact-dedup should
    collapse such boilerplate; the drop profile is observable via
    ``candidates.bucket_stats`` on the bucket table).

    Candidate generation is the dedup path's generator
    (``candidates.candidate_pairs`` in all mode): one bucket-key exchange
    and a streaming kernel; buckets above ``salt_block_rows`` are striped
    into salted block pairs spread over the whole cluster, so no single
    task enumerates a giant bucket's ~m^2 pairs. Pairs come back
    undirected (a < b), so each cosine is computed ONCE and then emitted
    in both (query, neighbor) directions before ranking — halving the
    re-rank arithmetic vs the directed-candidate shape. The result is a
    lazy plan; a consumer that acts on it more than once checkpoints it."""
    from smqtk_indexing_spark.operators.candidates import candidate_pairs

    sigs = rp_signatures(emb, 64, seed, id_col, vec_col)
    width = 64 // bands
    mask = (1 << width) - 1
    bucketed = sigs.select(
        F.col("vec_id").alias("doc_id"),
        F.explode(
            F.array(
                *[
                    (
                        F.shiftright("rp_sig", i * width).bitwiseAND(F.lit(mask))
                        + F.lit(i << 32)
                    ).alias(f"b{i}")
                    for i in range(bands)
                ]
            )
        ).alias("band_hash"),
    )
    cfg = replace(
        DEFAULT_CONFIG,
        bucket_cap=bucket_cap,
        salt_block_rows=salt_block_rows,
        pair_mode="all",
    )
    cand = candidate_pairs(bucketed, cfg)
    # exact cosine re-rank once per undirected pair, via the broadcast
    # corpus matrix instead of two vector-fetch joins + an interpreted
    # per-pair Catalyst fold (see _pair_cosines_bcast; bit-identical
    # scores, r07: two joins and the BatchEval of ~6M interpreted
    # aggregate() calls removed at the driver's sf1.0 scale)
    scored = _pair_cosines_bcast(cand, emb, id_col, vec_col)
    pairs = scored.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("query_id"), F.col("b").alias("neighbor_id")),
                F.struct(F.col("b").alias("query_id"), F.col("a").alias("neighbor_id")),
            )
        ).alias("p"),
        "cos",
    ).select("p.query_id", "p.neighbor_id", "cos")
    return _ranked(pairs, F.col("cos"), k, ascending=False)
