"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship near-dup pipeline at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for the SQL-expressible ones;
hash-function-dependent operators (MinHash/SimHash/xxhash64 outputs) are
intentionally omitted there and get the driver's rows-only check.

Column names are aliased identically on both sides (driver hashes values
after sorting columns by name).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smqtk_indexing_spark.config import DedupConfig
from smqtk_indexing_spark.functions import metrics as M
from smqtk_indexing_spark.functions import text as TX
from smqtk_indexing_spark.functions.text import LANG_MARKERS, _STOPWORDS
from smqtk_indexing_spark.operators import ann, dedup
from smqtk_indexing_spark.operators.candidates import band_buckets, candidate_pairs
from smqtk_indexing_spark.operators.cluster import connected_components
from smqtk_indexing_spark.operators.multimodal import extract_features, to_assets
from smqtk_indexing_spark.operators.signatures import compute_signatures
from smqtk_indexing_spark.operators.substrings import substring_pairs
from smqtk_indexing_spark.operators.verify import verify_candidates

CFG = DedupConfig()
K = CFG.shingle_k
TAU = CFG.tau
TOPK = 5

# ---------------------------------------------------------------------------
# loaders
# ---------------------------------------------------------------------------

def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    # testdata parquet is a single small file -> one input split; spread it
    # across the executor cores so mapInPandas/crossJoin stages parallelize
    # (a real corpus has many files/row-groups and needs no repartition).
    return df.repartition(spark.sparkContext.defaultParallelism)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

def q_sha256_rows(spark, sf_dir):
    # P10: per-row content sha256 (input_hint invariant)
    return dedup.with_sha256(_docs(spark, sf_dir)).select("doc_id", "sha256")


def q_exact_dup_groups(spark, sf_dir):
    # S4/A4 analog: exact-equality grouping fast path
    return dedup.exact_dup_groups(_docs(spark, sf_dir)).select(
        "sha256", "n_dups", "rep_id"
    )


def _bruteforce_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id", TX.shingles_str("text", K).alias("sh")
    ).where(F.size("sh") > 0)
    a = d.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a") < F.col("b"))
        .withColumn("jaccard", M.jaccard_arrays("sh_a", "sh_b"))
        .where(F.col("jaccard") >= F.lit(TAU))
        .select("a", "b", "jaccard")
    )


def q_near_dup_pairs_bruteforce(spark, sf_dir):
    # M5 exact Jaccard, all-pairs — correctness baseline for the LSH path
    return _bruteforce_pairs(spark, sf_dir)


# Session-scoped memos: one result per (live SparkContext, sf_dir,
# config_hash), shared by the queries that consume it — near_dup_pairs_lsh
# and dup_clusters share the verified LSH pairs (_PAIR_MEMO), the two
# clustering certificates share one full-corpus all-mode run_dedup
# (_DEDUP_MEMO), and repeat substring_containment calls reuse theirs
# (_SUBSTR_MEMO). Every value is (checkpointed plan, caches); _memo builds
# and owns them. Testdata is immutable per the driver contract, exactly the
# assumption Checkpointer resume makes for its parquet stages. The table
# names and the value shape are also a contract with the benchmark
# (perfbench/workloads.py, bench.py), which clears them by name between
# timed units.
_PAIR_MEMO: dict = {}
_SUBSTR_MEMO: dict = {}
_DEDUP_MEMO: dict = {}
_MEMO_TABLES = (_PAIR_MEMO, _SUBSTR_MEMO, _DEDUP_MEMO)
# every cache an entry was built with, kept until its entry is gone
_MEMO_CACHES: list = []

_DOCS_COUNT_MEMO: dict = {}


def _live(df: DataFrame) -> bool:
    return getattr(df.sparkSession.sparkContext, "_jsc", None) is not None


def _memo(table: dict, spark, sf_dir: str, build) -> DataFrame:
    """The one materialization point of the driver entry: ``build()``
    returns ``(lazy plan, caches)``; the first lookup of a key wraps the
    plan in ONE lazy ``localCheckpoint`` (the caller's first action fills
    it) and keeps the caches the plan reads until the entry is gone.

    Every lookup first drops entries of stopped contexts (a dead context's
    blocks must not stay referenced for the process lifetime; the id()
    key is safe because the value pins the live context) and releases the
    caches of entries cleared from outside, so a stale persisted plan can
    never serve a later, identical one."""
    for t in _MEMO_TABLES:
        for k in [k for k, (df, _caches) in t.items() if not _live(df)]:
            del t[k]
    owned = {id(c) for t in _MEMO_TABLES for _df, cs in t.values() for c in cs}
    for c in _MEMO_CACHES:
        if id(c) not in owned and _live(c):
            c.unpersist()
    _MEMO_CACHES[:] = [c for c in _MEMO_CACHES if id(c) in owned]
    key = (id(spark.sparkContext), sf_dir, CFG.config_hash)
    if key not in table:
        plan, caches = build()
        table[key] = (plan.localCheckpoint(eager=False), caches)
        _MEMO_CACHES.extend(caches)
    return table[key][0]


def _full_dedup_all(spark, sf_dir: str) -> DataFrame:
    """Cluster map of the full-corpus all-mode run_dedup — the identical
    computation both clustering certificates compare against (same corpus,
    same config: CFG.pair_mode is already "all"), run once between them."""
    from smqtk_indexing_spark.plans.pipeline import run_dedup

    def build():
        # the table is already Checkpointer-materialized: the memo's lazy
        # checkpoint over it copies it in memory, with no extra job
        base = _docs(spark, sf_dir).select("doc_id", "text")
        return run_dedup(spark, base, CFG, text_col="text").tables["clusters"], []

    return _memo(_DEDUP_MEMO, spark, sf_dir, build)


def _docs_count(spark, sf_dir: str) -> int:
    """Memoized corpus row count (parquet metadata count — no data scan).
    Bounds id sets for size-gated broadcasts (the verify fetch);
    testdata is immutable per the driver contract, so the count is a pure
    function of sf_dir alone — keyed by path only (ADVICE r5: an id()-based
    key whose int value does not pin the context could alias a recycled
    id() after context GC; the path key is context-independent by
    construction)."""
    n = _DOCS_COUNT_MEMO.get(sf_dir)
    if n is None:
        # raw read, not _docs(): the count folds to parquet row-group
        # metadata with no repartition in the plan
        n = _DOCS_COUNT_MEMO[sf_dir] = spark.read.parquet(
            f"{sf_dir}/documents.parquet"
        ).count()
    return n


def _lsh_pairs(spark, sf_dir) -> DataFrame:
    # Lean dataflow, the pipeline's (plans/pipeline.py run_dedup): the
    # signature pass carries ONLY band keys (~300 B/doc); shingle arrays are
    # computed a second time for CANDIDATE docs only (verify_candidates).
    # ``cand`` feeds both the id fetch and the verify join, so it is
    # persisted — without it the tokenize+minhash mapInPandas pass re-runs
    # once per DAG branch (the round-1 near_dup_pairs_lsh bottleneck).
    def build():
        docs = _docs(spark, sf_dir)
        sigs = compute_signatures(docs, CFG, include=("bands",))
        cand = candidate_pairs(band_buckets(sigs, CFG), CFG).persist()
        pairs, caches = verify_candidates(
            cand, docs, CFG, _docs_count(spark, sf_dir)
        )
        return pairs, [cand, *caches]

    return _memo(_PAIR_MEMO, spark, sf_dir, build)


def q_near_dup_pairs_lsh(spark, sf_dir):
    # P1/P11 + A1 + J1/J3 + M5/M6 + T1: the full LSH dedup dataflow.
    # Same oracle as brute force: banding at 32x4 has miss prob ~5e-8 at tau.
    return _lsh_pairs(spark, sf_dir)


def q_dup_clusters(spark, sf_dir):
    # connected components (large-star/small-star) over verified pairs
    docs = _docs(spark, sf_dir).select("doc_id")
    return connected_components(
        _lsh_pairs(spark, sf_dir).select("a", "b"), nodes=docs
    ).select("doc_id", "cluster_id")


def q_incremental_equivalence_cert(spark, sf_dir):
    # VERDICT r5 item 3: driver-gate the incremental append path
    # (plans/pipeline.py update_dedup — the 100 TB append topology:
    # signatures only for the new batch, candidates only in touched
    # buckets, prior verified pairs reused). Build on the even-id half,
    # append the odd ids incrementally, and compare cluster assignments
    # with a from-scratch run over the full corpus. Both paths label a
    # component by its min doc_id (connected_components contract), so
    # labels are CANONICAL and plain equality is relabeling-insensitive.
    from smqtk_indexing_spark.plans.pipeline import run_dedup, update_dedup

    base = _docs(spark, sf_dir).select("doc_id", "text")
    first = base.where(F.col("doc_id") % 2 == 0)
    new_ids = base.where(F.col("doc_id") % 2 == 1).select("doc_id")
    prior = run_dedup(spark, first, CFG, text_col="text")
    updated = update_dedup(spark, base, new_ids, prior, CFG, text_col="text")
    # shared with q_star_cluster_cert's all-mode side (_DEDUP_MEMO)
    inc = updated.tables["clusters"].withColumnRenamed("cluster_id", "c_inc")
    full = _full_dedup_all(spark, sf_dir).withColumnRenamed("cluster_id", "c_full")
    n_docs = full.count()
    n_mismatch = (
        full.join(inc, "doc_id")
        .where(F.col("c_full") != F.col("c_inc"))
        .count()
    )
    n_coverage_diff = (
        full.join(inc, "doc_id", "left_anti").count()
        + inc.join(full, "doc_id", "left_anti").count()
    )
    return spark.createDataFrame(
        [(n_docs, n_mismatch, n_coverage_diff)],
        "n_docs long, n_label_mismatch long, n_coverage_diff long",
    )


def q_star_cluster_cert(spark, sf_dir):
    # VERDICT r5 item 4: driver-gate the pair_mode='star' clustering
    # topology — the declared 10^12-file configuration (candidates.py:
    # member->bucket-minimum edges, linear in corpus size, vs 'all''s
    # quadratic per-bucket enumeration). Star is a connectivity SKELETON:
    # it must close over the same components, so cluster assignments
    # (canonical min-doc_id labels) must be identical to the all-mode run.
    from dataclasses import replace

    from smqtk_indexing_spark.plans.pipeline import run_dedup

    base = _docs(spark, sf_dir).select("doc_id", "text")
    star = run_dedup(
        spark, base, replace(CFG, pair_mode="star"), text_col="text"
    ).tables["clusters"].withColumnRenamed("cluster_id", "c_star")
    # replace(CFG, pair_mode="all") == CFG (the default IS "all"), so this
    # side is the identical computation q_incremental_equivalence_cert runs
    # from scratch — shared via _DEDUP_MEMO (round-6 VERDICT item 5)
    full = _full_dedup_all(spark, sf_dir).withColumnRenamed("cluster_id", "c_all")
    n_docs = full.count()
    n_mismatch = (
        full.join(star, "doc_id")
        .where(F.col("c_all") != F.col("c_star"))
        .count()
    )
    return spark.createDataFrame(
        [(n_docs, n_mismatch)], "n_docs long, n_label_mismatch long"
    )


def q_substring_containment(spark, sf_dir):
    # CDC-anchored substring pass + exact verify. n_docs from the memoized
    # parquet-metadata count fuses the short-leg gate into the chunk
    # materialization agg (one fewer job; substrings.substring_pairs).
    # The pair plan and its chunk cache are memoized (_memo), so repeat
    # calls reuse the materialized result.
    #
    # r07: candidates come from the UNCAPPED rarest-chunk anchor
    # (mode='rarest', df_cap=None) instead of the all-interior equi-join.
    # With the cap disabled the candidate DOMAIN is identical (every
    # containee with an interior chunk >= the length floor; its rarest
    # interior chunk necessarily appears in any container's chunk set) and
    # the exact JVM `contains` verify removes every false candidate, so
    # the output pair set is unchanged — oracle-gated + old-vs-new rowset
    # equality at all four SFs. What changes is join volume: hot
    # boilerplate chunk hashes (df up to 13k at the 50k-doc bench corpus)
    # made the all-interior chunk join quadratic (605M join rows); the
    # rarest anchor joins one chunk per containee (435k rows, ~1400x
    # less — OPTIMIZATION_r07.md).
    return _memo(
        _SUBSTR_MEMO,
        spark,
        sf_dir,
        lambda: substring_pairs(
            _docs(spark, sf_dir),
            CFG,
            id_col="doc_id",
            text_col="text",
            mode="rarest",
            df_cap=None,
            n_docs=_docs_count(spark, sf_dir),
        ),
    )


def q_substring_rarest_cert(spark, sf_dir):
    # Exactness certificate for the declared 100 TB containment path
    # (round-4 VERDICT item 6): mode='rarest' joins only each containee's
    # RAREST interior chunk (join volume sum(df(rarest)) instead of the
    # full interior x owner product), yet must produce EXACTLY the
    # all_interior pair set — if inner is contained in outer then every
    # interior chunk of inner, in particular the rarest, appears in
    # outer's chunk set, and the exact contains-verify removes any false
    # candidate. Both modes run in Spark (chunk hashes are engine-side
    # rolling-hash state); the oracle asserts the invariant's only legal
    # value — an empty symmetric difference.
    # Domain (ADVICE r5): the rarest path has ONE documented recall
    # boundary — containees whose rarest interior chunk has df > df_cap
    # (pathologically repetitive content) are dropped. The certificate
    # asserts exactness on the COVERED domain: the all_interior side
    # excludes boundary containees (rarest_dropped_containees), so the
    # gate is corpus-independent rather than assuming testdata stays
    # below the boundary. The extra-pair check stays against the FULL
    # set: 'rarest' may never emit a pair all_interior would not.
    from smqtk_indexing_spark.operators.substrings import (
        cdc_chunks,
        rarest_dropped_containees,
    )

    docs = _docs(spark, sf_dir)
    n_docs = _docs_count(spark, sf_dir)
    rare, rare_caches = substring_pairs(docs, CFG, mode="rarest", n_docs=n_docs)
    full, full_caches = substring_pairs(
        docs, CFG, mode="all_interior", n_docs=n_docs
    )
    # both sides are read by two actions: materialize each once
    rare = rare.localCheckpoint(eager=False)
    full = full.localCheckpoint(eager=False)
    dropped = rarest_dropped_containees(
        cdc_chunks(docs, CFG, "doc_id", "text"), CFG
    ).withColumnRenamed("doc_id", "inner")
    covered = full.join(dropped, "inner", "left_anti")
    missing = covered.join(rare, ["inner", "outer"], "left_anti").count()
    extra = rare.join(full, ["inner", "outer"], "left_anti").count()
    for c in rare_caches + full_caches:
        c.unpersist()
    return spark.createDataFrame(
        [(missing, extra)], "n_missing long, n_extra long"
    )


def q_index_counts(spark, sf_dir):
    # S6 count + A2 bucket count: bucket rows = 32 bands per shingled doc
    d = _docs(spark, sf_dir)
    sigs = compute_signatures(d, CFG)
    n_docs = d.count()
    n_indexed = sigs.where(F.col("n_shingles") > 0).count()
    n_buckets = band_buckets(sigs, CFG).count()
    return spark.createDataFrame(
        [("n_docs", n_docs), ("n_indexed", n_indexed), ("n_bucket_rows", n_buckets)],
        "metric string, value long",
    )


def q_token_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_txt"),
        TX.mean_token_len("text").alias("mean_tok_len"),
        F.size(F.array_distinct(TX.tokens("text"))).alias("n_distinct_tokens"),
    )


def q_quality_scores(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.stopword_ratio("text").alias("stopword_ratio"),
        TX.whitespace_ratio("text").alias("ws_ratio"),
        F.when(
            F.size(TX.tokens("text")) > 0,
            F.size(F.array_distinct(TX.tokens("text"))).cast("double")
            / F.size(TX.tokens("text")),
        ).otherwise(F.lit(0.0)).alias("ttr"),
    )


def q_lang_id(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", TX.lang_id("text").alias("lang_pred")
    )


def q_doc_fingerprint(spark, sf_dir):
    # rolling-hash document fingerprint (bottom-1 sketch); hash-dependent
    return _docs(spark, sf_dir).select(
        "doc_id", TX.fingerprint64("text", K).alias("fingerprint")
    )


def q_minhash_signatures(spark, sf_dir):
    # P1/P2/P6 signature projection; hash-dependent -> rows-only oracle
    return compute_signatures(_docs(spark, sf_dir), CFG).select(
        "doc_id", "n_tokens", "n_shingles", "simhash"
    )


def _simhash_sigs(spark, sf_dir):
    return (
        compute_signatures(
            _docs(spark, sf_dir), CFG, include=("simhash",)
        )
        .where(F.col("n_shingles") > 0)
        .select("doc_id", "simhash")
    )


def _simhash_pairs_bruteforce(sigs):
    # broadcast crossJoin — O(n^2) correctness twin, never the scale path
    a = sigs.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    b = sigs.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a") < F.col("b"))
        .withColumn("hamming", M.hamming64("ha", "hb"))
        .where(F.col("hamming") <= CFG.simhash_hamming_max)
        .select("a", "b", "hamming")
    )


def q_simhash_hamming_pairs(spark, sf_dir):
    # J5/M1 at scale: multi-index banded Hamming-radius equi-join
    # (radius+1 bit segments, pigeonhole-exact) — no cartesian product.
    return ann.hamming_pairs_banded(
        _simhash_sigs(spark, sf_dir),
        radius=CFG.simhash_hamming_max,
        id_col="doc_id",
        sig_col="simhash",
    )


def q_simhash_banding_exact(spark, sf_dir):
    # Oracle-checkable exactness certificate for the banded join: the banded
    # equi-join must emit EXACTLY the crossJoin's pair set (pigeonhole
    # guarantees it). SimHash values are hash-function-dependent, so DuckDB
    # cannot recompute them — instead both paths run in Spark and the
    # invariant (symmetric difference is empty) is emitted as counts the
    # oracle states unconditionally.
    sigs = _simhash_sigs(spark, sf_dir)
    banded = ann.hamming_pairs_banded(
        sigs, radius=CFG.simhash_hamming_max, id_col="doc_id", sig_col="simhash"
    )
    brute = _simhash_pairs_bruteforce(sigs)
    missing = brute.join(banded, ["a", "b"], "left_anti").count()
    extra = banded.join(brute, ["a", "b"], "left_anti").count()
    return spark.createDataFrame(
        [(missing, extra)], "n_missing long, n_extra long"
    )


def q_ann_cosine_topk(spark, sf_dir):
    return ann.cosine_topk(_emb(spark, sf_dir), k=TOPK)


def q_ann_euclidean_topk(spark, sf_dir):
    return ann.euclidean_topk(_emb(spark, sf_dir), k=TOPK)


def q_ann_hik_topk(spark, sf_dir):
    return ann.hik_topk(_emb(spark, sf_dir), k=TOPK)


def q_ann_rp_lsh_topk(spark, sf_dir):
    # approximate: banded RP-LSH candidates + exact cosine re-rank
    return ann.rp_lsh_topk(_emb(spark, sf_dir), k=TOPK)


def q_rp_hamming_topk(spark, sf_dir):
    # linear Hamming scan over RP signatures (linear.py:206-244 analog)
    return ann.hamming_topk(ann.rp_signatures(_emb(spark, sf_dir)), k=TOPK)


def q_rp_hamming128_topk(spark, sf_dir):
    # >64-bit multi-word codes (array<long>): 128-bit RP signatures, summed
    # per-word popcount Hamming (utils/bits.py:4-20 parity; itq.py:71-78)
    return ann.hamming_topk_words(
        ann.rp_signatures_words(_emb(spark, sf_dir), bits=128), k=TOPK, bits=128
    )


def q_rp_hamming128_cert(spark, sf_dir):
    # same certificate form as rp_hamming_cert, over multi-word codes
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir)
    topk = q_rp_hamming128_topk(spark, sf_dir)
    sigs = ann.rp_signatures_words(emb, bits=128)
    sa = sigs.select(
        F.col("vec_id").alias("query_id"), F.col("rp_sig_words").alias("sa")
    )
    sb = sigs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("rp_sig_words").alias("sb")
    )
    j = (
        topk.join(sa, "query_id")
        .join(sb, "neighbor_id")
        .withColumn(
            "true_score",
            F.round(M.hamming_words("sa", "sb").cast("double") / F.lit(128.0), 6),
        )
    )
    n_rows = topk.count()
    n_score_mismatch = j.where(
        F.abs(F.col("score") - F.col("true_score")) > 1e-9
    ).count()
    win = W.partitionBy("query_id").orderBy("rank")
    bad = F.lead("score").over(win) < F.col("score")
    n_rank_violations = topk.withColumn("bad", bad).where("bad").count()
    return spark.createDataFrame(
        [(n_rows, n_score_mismatch, n_rank_violations)],
        "n_rows long, n_score_mismatch long, n_rank_violations long",
    )


def _itq_codes(spark, sf_dir):
    # P2-P4: fit ITQ (PCA + Procrustes, reference impls/lsh_functor/
    # itq.py:291-387) on a deterministic bounded sample, then one
    # Arrow-batched apply (itq.py:389-408). bits = 64 = the descriptor
    # dim: ITQ's PCA caps bits <= dim (the reference raises the same
    # error, itq.py:318-321), so the >64-bit multi-word code path is
    # driver-gated via rp_hamming128_* instead (projections have no cap).
    from smqtk_indexing_spark.operators.itq import itq_fit, itq_hash_codes

    emb = _emb(spark, sf_dir)
    model = itq_fit(emb, bits=64, n_iter=50, seed=CFG.seed, max_sample=4096)
    return itq_hash_codes(emb, model), emb


def q_itq_hamming_topk(spark, sf_dir):
    # the reference's flagship functor end-to-end: ITQ codes + Hamming
    # ranking (hash-state-dependent -> rows-only oracle; see itq_cert)
    codes, _ = _itq_codes(spark, sf_dir)
    return ann.hamming_topk(codes, k=TOPK, sig_col="itq_code")


def q_itq_cert(spark, sf_dir):
    # certificate: k rows per vector, every reported score equals the
    # independently recomputed Hamming/64 over the code table, ranks
    # monotone — same oracle form as rp_hamming_cert.
    from pyspark.sql import Window as W

    codes, _ = _itq_codes(spark, sf_dir)
    topk = ann.hamming_topk(codes, k=TOPK, sig_col="itq_code")
    sa = codes.select(F.col("vec_id").alias("query_id"), F.col("itq_code").alias("sa"))
    sb = codes.select(
        F.col("vec_id").alias("neighbor_id"), F.col("itq_code").alias("sb")
    )
    j = (
        topk.join(sa, "query_id")
        .join(sb, "neighbor_id")
        .withColumn(
            "true_score",
            F.round(M.hamming64("sa", "sb").cast("double") / F.lit(64.0), 6),
        )
    )
    n_rows = topk.count()
    n_score_mismatch = j.where(
        F.abs(F.col("score") - F.col("true_score")) > 1e-9
    ).count()
    win = W.partitionBy("query_id").orderBy("rank")
    bad = F.lead("score").over(win) < F.col("score")
    n_rank_violations = topk.withColumn("bad", bad).where("bad").count()
    return spark.createDataFrame(
        [(n_rows, n_score_mismatch, n_rank_violations)],
        "n_rows long, n_score_mismatch long, n_rank_violations long",
    )


def q_index_lifecycle(spark, sf_dir):
    # S1-S3 + S6 driver-gated: deterministic counts through a
    # build -> duplicate-insert (skip) -> remove sequence
    # (interfaces/nearest_neighbor_index.py:43-124; duplicate-insert
    # warn+skip per impls/nn_index/faiss.py:590-598). The removal batch is
    # a FIXED small id list — the reference's remove() takes a driver-side
    # uuid iterable by contract, so no unbounded collect is involved.
    from smqtk_indexing_spark.operators import incremental as IX

    docs = _docs(spark, sf_dir)
    sigs = IX.build_index(docs.where(F.col("doc_id") % 2 == 0), CFG)
    n_build = IX.count(sigs)
    # update with the FULL corpus: even ids are duplicate inserts (skipped)
    sigs = IX.update_index(sigs, docs, CFG)
    n_update = IX.count(sigs)
    sigs = IX.remove_from_index(sigs, [0, 2, 4, 6, 8])
    n_removed = IX.count(sigs)
    return spark.createDataFrame(
        [
            ("n_after_build", n_build),
            ("n_after_dup_insert", n_update),
            ("n_after_remove", n_removed),
        ],
        "step string, value long",
    )


def q_ann_mrpt_topk(spark, sf_dir):
    # MRPT tree-ensemble candidates + exact re-rank (mrpt.py J7/A5 analog)
    from smqtk_indexing_spark.operators.mrpt import mrpt_topk

    return mrpt_topk(_emb(spark, sf_dir), k=TOPK, n_trees=8, depth=4, seed=CFG.seed)


def q_ann_ivf_topk(spark, sf_dir):
    # IVF scale path: k-means coarse quantizer + nprobe cell equi-join +
    # exact cosine re-rank (centroids are model-state -> rows-only oracle;
    # see ann_ivf_cert)
    return ann.ivf_topk(_emb(spark, sf_dir), k=TOPK, seed=CFG.seed)


def q_ann_ivf_cert(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _ann_certificate(
        spark,
        ann.ivf_topk(emb, k=TOPK, seed=CFG.seed),
        emb,
        M.cosine_similarity,
        False,
    )


def q_ann_ivf_dist_cert(spark, sf_dir):
    # VERDICT r5 item 5: the DISTRIBUTED Lloyd fit (fit="distributed" —
    # mapInPandas partial sums reduced Spark-side, the driver only ever
    # holds the k x d centroid matrix; ann.py _kmeans_fit_distributed) is
    # the no-driver-sample 100 TB path. Same certificate as the sampled
    # fit: k rows per query, every reported score equal to the exact
    # cosine recomputed from raw embeddings, monotone ranks.
    emb = _emb(spark, sf_dir)
    return _ann_certificate(
        spark,
        ann.ivf_topk(emb, k=TOPK, seed=CFG.seed, fit="distributed"),
        emb,
        M.cosine_similarity,
        False,
    )


def _ann_certificate(spark, topk, emb, score_col, ascending, k=TOPK):
    """Oracle-checkable correctness certificate for an approximate ANN
    query (VERDICT r1 item 4): DuckDB cannot recompute hash-dependent
    candidate sets, but it CAN assert the three exactness invariants the
    operator guarantees regardless of which candidates banding surfaced:
      - exactly k rows per query (n_rows = k * n_queries),
      - every reported score equals the independently recomputed exact
        score of that (query, neighbor) pair,
      - ranks are monotone in score within each query.
    ``score_col(va, vb)`` recomputes the exact measure from raw embeddings.
    """
    from pyspark.sql import Window as W

    topk = topk.localCheckpoint(eager=False)  # read by three actions
    v = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("va"))
    w = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vb")
    )
    j = (
        topk.join(v, "query_id")
        .join(w, "neighbor_id")
        .withColumn("true_score", F.round(score_col(F.col("va"), F.col("vb")), 6))
    )
    n_rows = topk.count()
    n_score_mismatch = j.where(
        F.abs(F.col("score") - F.col("true_score")) > 1e-9
    ).count()
    win = W.partitionBy("query_id").orderBy("rank")
    nxt = F.lead("score").over(win)
    bad = (nxt < F.col("score")) if ascending else (nxt > F.col("score"))
    n_rank_violations = topk.withColumn("bad", bad).where("bad").count()
    return spark.createDataFrame(
        [(n_rows, n_score_mismatch, n_rank_violations)],
        "n_rows long, n_score_mismatch long, n_rank_violations long",
    )


def q_ann_rp_lsh_cert(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _ann_certificate(
        spark, ann.rp_lsh_topk(emb, k=TOPK), emb, M.cosine_similarity, False
    )


def q_ann_mrpt_cert(spark, sf_dir):
    from smqtk_indexing_spark.operators.mrpt import mrpt_topk

    emb = _emb(spark, sf_dir)
    return _ann_certificate(
        spark,
        mrpt_topk(emb, k=TOPK, n_trees=8, depth=4, seed=CFG.seed),
        emb,
        M.cosine_similarity,
        False,
    )


def q_rp_hamming_cert(spark, sf_dir):
    # hamming scores are hash-state-dependent; the certificate recomputes
    # them from the signature table and checks rank monotonicity + k-rows
    emb = _emb(spark, sf_dir)
    topk = ann.hamming_topk(ann.rp_signatures(emb), k=TOPK)
    sigs = ann.rp_signatures(emb)
    sa = sigs.select(F.col("vec_id").alias("query_id"), F.col("rp_sig").alias("sa"))
    sb = sigs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("rp_sig").alias("sb")
    )
    j = (
        topk.join(sa, "query_id")
        .join(sb, "neighbor_id")
        .withColumn(
            "true_score",
            F.round(M.hamming64("sa", "sb").cast("double") / F.lit(64.0), 6),
        )
    )
    from pyspark.sql import Window as W

    n_rows = topk.count()
    n_score_mismatch = j.where(
        F.abs(F.col("score") - F.col("true_score")) > 1e-9
    ).count()
    win = W.partitionBy("query_id").orderBy("rank")
    bad = F.lead("score").over(win) < F.col("score")
    n_rank_violations = topk.withColumn("bad", bad).where("bad").count()
    return spark.createDataFrame(
        [(n_rows, n_score_mismatch, n_rank_violations)],
        "n_rows long, n_score_mismatch long, n_rank_violations long",
    )


def q_minhash_estimate_accuracy(spark, sf_dir):
    # M6 estimator quality, oracle-checked: over every pair with exact
    # Jaccard >= 0.5 (a set DuckDB recomputes from raw text), the 128-perm
    # MinHash agreement must sit within 0.15 of the exact value (>3.4
    # sigma; deterministic given the seeded permutations).
    d = _docs(spark, sf_dir)
    sigs = compute_signatures(d, CFG, include=("shingles", "minhash")).where(
        F.col("n_shingles") > 0
    )
    a = sigs.select(
        F.col("doc_id").alias("a"),
        F.col("shingles").alias("sh_a"),
        F.col("minhash").alias("mh_a"),
    )
    b = sigs.select(
        F.col("doc_id").alias("b"),
        F.col("shingles").alias("sh_b"),
        F.col("minhash").alias("mh_b"),
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a") < F.col("b"))
        .withColumn("jaccard", M.jaccard_arrays("sh_a", "sh_b"))
        .where(F.col("jaccard") >= 0.5)
        .withColumn("est", M.minhash_agreement("mh_a", "mh_b"))
    )
    n_pairs = pairs.count()
    n_outside = pairs.where(
        F.abs(F.col("est") - F.col("jaccard")) > 0.15
    ).count()
    return spark.createDataFrame(
        [(n_pairs, n_outside)], "n_pairs long, n_outside_tolerance long"
    )


def q_fingerprint_properties(spark, sf_dir):
    # SQL-derivable properties of the bottom-1 fingerprint sketch: it is
    # null exactly when the doc has < k tokens, and docs with IDENTICAL
    # shingle sets (a set DuckDB recomputes from raw text) must share a
    # fingerprint — the sketch is a pure function of the set.
    d = _docs(spark, sf_dir)
    fp = d.select(
        "doc_id",
        TX.shingles_str("text", K).alias("sh"),
        TX.fingerprint64("text", K).alias("fingerprint"),
    )
    n_docs = fp.count()
    n_with = fp.where(F.col("fingerprint").isNotNull()).count()
    g = (
        fp.where(F.col("fingerprint").isNotNull())
        .groupBy(F.array_sort("sh").alias("key"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("fingerprint").alias("nfp"),
        )
    )
    agg = g.agg(
        F.coalesce(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long"), F.lit(0)
        ).alias("pairs"),
        F.coalesce(
            F.sum(F.when(F.col("nfp") > 1, 1).otherwise(0)).cast("long"),
            F.lit(0),
        ).alias("bad"),
    ).first()
    return spark.createDataFrame(
        [(n_docs, n_with, agg["pairs"], agg["bad"])],
        "n_docs long, n_with_fingerprint long, "
        "n_sameset_pairs long, n_sameset_fp_mismatch long",
    )


def q_emb_near_dup_pairs(spark, sf_dir):
    # embedding-cosine near-duplicate pairs (training-data dedup surface);
    # brute twin is oracle-checked, ann.cosine_dup_pairs_banded is the
    # 100 TB path (pytest-gated recall). The testdata embeddings have no
    # planted dups (max pairwise cosine ~0.51), so the oracle threshold
    # sits at the top of the background distribution to hash real rows;
    # production tau is ~0.95.
    return ann.cosine_dup_pairs(_emb(spark, sf_dir), tau=0.45)


def q_ann_balltree_topk(spark, sf_dir):
    # J6: partition-local BallTree (exact fallback scan in this container)
    # + global top-k merge — exact, so it shares the euclidean oracle
    from smqtk_indexing_spark.operators.balltree import balltree_topk

    return balltree_topk(_emb(spark, sf_dir), k=TOPK)


def q_token_freq_topk(spark, sf_dir):
    # corpus-wide token frequency top-20 (training-data vocab profiling)
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(TX.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


def _events(spark, sf_dir):
    return _spread(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_windowed_dedup(spark, sf_dir):
    # event-stream dedup: first event per (user, type) per 5-minute window —
    # the batch form of the streaming dedup in streaming/ingest.py
    from pyspark.sql import Window as W

    # ts is TIMESTAMP_NTZ; route through timestamp (session tz = UTC) to
    # epoch seconds so the window start matches DuckDB's epoch(ts)
    e = _events(spark, sf_dir).withColumn(
        "w_start",
        (F.floor(F.col("ts").cast("timestamp").cast("long") / 300) * 300).cast("long"),
    )
    w = W.partitionBy("w_start", "user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("w_start", "user_id", "event_type", "event_id")
    )


def q_events_type_stats(spark, sf_dir):
    # per-type rollup with exact decimal sums (deterministic across
    # partition orders, unlike double aggregation). The sum is accumulated
    # in decimal then canonicalized to a rounded double: Spark widens
    # sum(decimal(18,4)) to decimal(28,4) while DuckDB widens to
    # decimal(38,4), and the two disagree on the hashed string form —
    # round(...::DOUBLE, 4) is representation-identical on both sides.
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
    )


def q_events_json_extract(spark, sf_dir):
    # JSON scalar extraction over the props column (no reference analog —
    # SURVEY §2.10: the reference has no string/JSON function library)
    e = _events(spark, sf_dir)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


def q_multimodal_features(spark, sf_dir):
    # binary-asset plumbing: text payload -> binary -> feature stub
    assets = to_assets(_docs(spark, sf_dir), "doc_id", "text", "text")
    return extract_features(assets, decode="fake").select(
        F.col("asset_id"),
        F.col("kind"),
        F.col("n_bytes"),
        F.size("feature").alias("n_dims"),
    )


def q_multimodal_decode(spark, sf_dir):
    # REAL media decode end-to-end (stdlib codecs, no PIL/ffmpeg):
    # deterministic PNG gradient + WAV ramp per doc are encoded to binary
    # columns, decoded back, and their decoded-domain stats must equal the
    # DuckDB closed form of the generator — pixel(y,x) = (id*7+3x+5y)%256,
    # sample(t) = ((id*13+11t)%65536)-32768.
    from smqtk_indexing_spark.operators.multimodal import decode_stats, synth_assets

    assets = synth_assets(_docs(spark, sf_dir))
    return decode_stats(assets).select(
        "asset_id", "kind", "n_units", F.round("mean_val", 6).alias("mean_val")
    )


def _stage_stream_input(src_file: str, sort_col: str, n_files: int = 3) -> tuple:
    """FileStreamSource needs a DIRECTORY; the testdata tables are single
    parquet files. Stage the table as ``n_files`` parquet files SPLIT IN
    ``sort_col`` ORDER with strictly increasing mtimes, so an AvailableNow
    drain with maxFilesPerTrigger=1 runs several REAL micro-batches
    (round-4 VERDICT item 5: one deterministic batch never exercised the
    watermark advance or cross-batch state). Sorted splitting keeps the
    drain oracle-equal: for the watermarked window query no batch carries
    data older than a prior batch's watermark (nothing is late-dropped),
    and for first-seen each key's minimum payload lives in the earliest
    batch containing that key. Also pre-creates the sink dir so a
    zero-row stream still leaves a readable (schema-supplied, empty)
    sink (ADVICE r4). Dirs are removed at process exit (not per-call:
    the returned query DataFrame reads the sink lazily)."""
    import atexit
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    base = tempfile.mkdtemp(prefix="sgq-stream-")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    os.makedirs(f"{base}/in")
    os.makedirs(f"{base}/sink")
    tbl = pq.read_table(src_file).sort_by(sort_col)
    n = tbl.num_rows
    cut = max(1, (n + n_files - 1) // n_files)
    now = time.time() - 600
    for i in range(0, n_files):
        part = tbl.slice(i * cut, cut)
        if part.num_rows == 0:
            break
        p = f"{base}/in/part-{i:04d}.parquet"
        pq.write_table(part, p)
        os.utime(p, (now + 10 * i, now + 10 * i))  # listing order == split order
    return f"{base}/in", f"{base}/sink", f"{base}/ck"


def q_streaming_windowed_first(spark, sf_dir):
    # §2.8 driver gate (round-3 VERDICT item 7): the REAL watermarked
    # streaming operator (streaming/ingest.py windowed_first_events), run
    # as an AvailableNow drain into a parquet sink. Append mode emits a
    # window exactly once — when the final no-data micro-batch advances
    # the watermark past its end — so the oracle is the batch first-per-
    # window query restricted to windows closed by the final watermark
    # (w_end <= max(ts) - delay); the one in-flight window near max(ts)
    # stays in state, by design.
    from smqtk_indexing_spark.streaming.ingest import windowed_first_events

    # ts-sorted 3-file staging -> 3 REAL micro-batches (maxFilesPerTrigger
    # 1): early windows are emitted by INTERMEDIATE watermark advances with
    # state carried across batches, not by one final no-data batch — while
    # staying oracle-equal (sorted split => nothing is ever late-dropped)
    in_dir, sink, ck = _stage_stream_input(f"{sf_dir}/events.parquet", "ts")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = windowed_first_events(stream, "5 minutes", "10 minutes")
    sel = out.select(
        F.col("w_start").cast("long").alias("w_start"),
        "user_id",
        "event_type",
        "first_event_id",
        "n_in_window",
    )
    q = (
        sel.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # schema-supplied read: a zero-row drain leaves a data-file-less sink,
    # which a schema-less parquet read would refuse to infer (ADVICE r4)
    return spark.read.schema(sel.schema).parquet(sink)


def q_streaming_first_seen(spark, sf_dir):
    # §2.8 driver gate: the applyInPandasWithState first-seen operator
    # (streaming/ingest.py first_seen_keys) over the documents table keyed
    # by content sha256 — one AvailableNow drain, so first-seen == global
    # min doc_id per sha (the exact-dedup streaming fast path).
    from smqtk_indexing_spark.streaming.ingest import first_seen_keys

    # doc_id-sorted 3-file staging -> 3 REAL micro-batches: a sha first
    # seen in batch 1 must be SUPPRESSED by checkpoint state when it
    # reappears in batches 2-3 (cross-batch dedup for real), and sorting
    # keeps first-seen == global min doc_id per sha, the batch oracle
    in_dir, sink, ck = _stage_stream_input(
        f"{sf_dir}/documents.parquet", "doc_id"
    )
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    keyed = stream.select(
        F.sha2(F.col("text"), 256).alias("sha256"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
    q = (
        first_seen_keys(keyed)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema("sha256 string, doc_id long").parquet(sink)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LSH near-dup pairs on sf0.001 (SURVEY.md §3.2)."""
    return q_near_dup_pairs_lsh(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "sha256_rows": q_sha256_rows,
        "exact_dup_groups": q_exact_dup_groups,
        "near_dup_pairs_bruteforce": q_near_dup_pairs_bruteforce,
        "near_dup_pairs_lsh": q_near_dup_pairs_lsh,
        "dup_clusters": q_dup_clusters,
        "incremental_equivalence_cert": q_incremental_equivalence_cert,
        "star_cluster_cert": q_star_cluster_cert,
        "substring_containment": q_substring_containment,
        "substring_rarest_cert": q_substring_rarest_cert,
        "index_counts": q_index_counts,
        "token_stats": q_token_stats,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "minhash_signatures": q_minhash_signatures,
        "simhash_hamming_pairs": q_simhash_hamming_pairs,
        "simhash_banding_exact": q_simhash_banding_exact,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_euclidean_topk": q_ann_euclidean_topk,
        "ann_hik_topk": q_ann_hik_topk,
        "ann_balltree_topk": q_ann_balltree_topk,
        "emb_near_dup_pairs": q_emb_near_dup_pairs,
        "ann_rp_lsh_topk": q_ann_rp_lsh_topk,
        "rp_hamming_topk": q_rp_hamming_topk,
        "ann_mrpt_topk": q_ann_mrpt_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_cert": q_ann_ivf_cert,
        "ann_ivf_dist_cert": q_ann_ivf_dist_cert,
        "ann_rp_lsh_cert": q_ann_rp_lsh_cert,
        "ann_mrpt_cert": q_ann_mrpt_cert,
        "rp_hamming_cert": q_rp_hamming_cert,
        "rp_hamming128_topk": q_rp_hamming128_topk,
        "rp_hamming128_cert": q_rp_hamming128_cert,
        "itq_hamming_topk": q_itq_hamming_topk,
        "itq_cert": q_itq_cert,
        "index_lifecycle": q_index_lifecycle,
        "minhash_estimate_accuracy": q_minhash_estimate_accuracy,
        "fingerprint_properties": q_fingerprint_properties,
        "multimodal_features": q_multimodal_features,
        "multimodal_decode": q_multimodal_decode,
        "token_freq_topk": q_token_freq_topk,
        "events_windowed_dedup": q_events_windowed_dedup,
        "events_type_stats": q_events_type_stats,
        "events_json_extract": q_events_json_extract,
        "streaming_windowed_first": q_streaming_windowed_first,
        "streaming_first_seen": q_streaming_first_seen,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# same explicit ASCII whitespace class as kernels._WS_RE / functions.text.tokens
_TOKS = r"list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')"
_SHINGLES = (
    "list_distinct([list_aggregate(ts[i:i+{km1}], 'string_agg', ' ') "
    "FOR i IN generate_series(1, len(ts)-{km1})])"
).format(km1=K - 1)

_PAIRS_CTE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t WHERE len(ts) >= {K}),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         len(list_intersect(x.sh, y.sh))::DOUBLE
           / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
  FROM s x JOIN s y ON x.doc_id < y.doc_id
)
"""

_NEAR_DUP_SQL = _PAIRS_CTE + f"SELECT a, b, jaccard FROM pairs WHERE jaccard >= {TAU}"

_CLUSTERS_SQL = (
    "WITH RECURSIVE "
    + _PAIRS_CTE.replace("WITH ", "", 1)
    + f""",
dup AS (SELECT a, b FROM pairs WHERE jaccard >= {TAU}),
edges AS (SELECT a AS u, b AS v FROM dup UNION SELECT b, a FROM dup),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS doc_id, least(min(v), u) AS cluster_id FROM reach GROUP BY u)
SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c USING (doc_id)
"""
)


def _dot(x: str, y: str) -> str:
    return (
        f"list_sum([{x}[i]::DOUBLE * {y}[i]::DOUBLE "
        f"FOR i IN generate_series(1, len({x}))])"
    )


def _ann_sql(score: str, direction: str) -> str:
    return f"""
WITH p AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {score} AS score0
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score0 {direction}, neighbor_id)::INT AS rank,
         round(score0, 6) AS score
  FROM p
)
SELECT query_id, neighbor_id, rank, score FROM r WHERE rank <= {TOPK}
"""


_COSINE = (
    _dot("a.embedding", "b.embedding")
    + " / (sqrt(" + _dot("a.embedding", "a.embedding") + ")"
    + " * sqrt(" + _dot("b.embedding", "b.embedding") + "))"
)
_EUCLID = (
    "sqrt(list_sum([(a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)"
    " * (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)"
    " FOR i IN generate_series(1, len(a.embedding))]))"
)
_HIK = (
    "1.0 - list_sum([(a.embedding[i]::DOUBLE + b.embedding[i]::DOUBLE"
    " - abs(a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)) * 0.5"
    " FOR i IN generate_series(1, len(a.embedding))])"
)


def _lang_sql() -> str:
    hits = {
        lang: (
            "len(list_intersect(list_distinct(ts), ["
            + ", ".join(f"'{m}'" for m in ms)
            + "]))"
        )
        for lang, ms in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    case = "CASE"
    conds = []
    for i, lang in enumerate(langs):
        gt = " AND ".join(f"{hits[lang]} > {hits[p]}" for p in langs[:i])
        ge = " AND ".join(f"{hits[lang]} >= {hits[q]}" for q in langs[i + 1 :])
        cond = " AND ".join(c for c in [f"{hits[lang]} > 0", gt, ge] if c)
        conds.append(f" WHEN {cond} THEN '{lang}'")
    case += "".join(conds) + " ELSE 'und' END"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS ts FROM documents)
SELECT doc_id, {case} AS lang_pred FROM t
"""


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return {
        "sha256_rows": "SELECT doc_id, sha256(text) AS sha256 FROM documents",
        "exact_dup_groups": """
            SELECT sha256(text) AS sha256, count(*) AS n_dups,
                   min(doc_id) AS rep_id
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "near_dup_pairs_bruteforce": _NEAR_DUP_SQL,
        "near_dup_pairs_lsh": _NEAR_DUP_SQL,
        "dup_clusters": _CLUSTERS_SQL,
        "substring_containment": """
            SELECT a.doc_id AS "inner", b.doc_id AS "outer"
            FROM documents a JOIN documents b
              ON a.doc_id <> b.doc_id
             AND length(a.text) < length(b.text)
             AND position(a.text IN b.text) > 0
        """,
        # exactness certificate: the rarest-chunk anchor join (the 100 TB
        # containment path) must reproduce the all-interior pair set
        # exactly; both modes run in Spark (CDC chunk hashes are
        # engine-side rolling-hash state DuckDB cannot recompute) and the
        # oracle asserts the invariant's only legal value.
        "substring_rarest_cert": """
            SELECT CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_extra
        """,
        # incremental-update equivalence: the append path must land every
        # doc in the same (canonically min-id-labeled) cluster as a full
        # rebuild — the only legal values are zero mismatches over the
        # whole corpus. Signatures/pairs are hash-state the oracle cannot
        # recompute; the invariant counts are corpus-independent.
        "incremental_equivalence_cert": """
            SELECT count(*)::BIGINT AS n_docs,
                   CAST(0 AS BIGINT) AS n_label_mismatch,
                   CAST(0 AS BIGINT) AS n_coverage_diff
            FROM documents
        """,
        # star-topology equivalence: the linear member->bucket-min
        # candidate skeleton must close over the same connected
        # components as the full quadratic pair enumeration.
        "star_cluster_cert": """
            SELECT count(*)::BIGINT AS n_docs,
                   CAST(0 AS BIGINT) AS n_label_mismatch
            FROM documents
        """,
        "index_counts": f"""
            SELECT 'n_docs' AS metric, count(*)::BIGINT AS value FROM documents
            UNION ALL
            SELECT 'n_indexed', count(*)::BIGINT FROM documents
             WHERE len({_TOKS}) >= {K}
            UNION ALL
            SELECT 'n_bucket_rows', ({CFG.bands} * count(*))::BIGINT FROM documents
             WHERE len({_TOKS}) >= {K}
        """,
        "token_stats": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS ts FROM documents)
            SELECT doc_id,
                   len(ts)::INT AS n_tokens,
                   length(text)::INT AS n_chars_txt,
                   CASE WHEN len(ts) > 0
                        THEN list_sum([length(x) FOR x IN ts])::DOUBLE / len(ts)
                        ELSE 0.0 END AS mean_tok_len,
                   len(list_distinct(ts))::INT AS n_distinct_tokens
            FROM t
        """,
        "quality_scores": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS ts FROM documents)
            SELECT doc_id,
                   CASE WHEN len(ts) > 0
                        THEN len(list_filter(ts, x -> list_contains([{stop_list}], x)))::DOUBLE / len(ts)
                        ELSE 0.0 END AS stopword_ratio,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^ \t\n\x0B\f\r]', '', 'g'))::DOUBLE / length(text)
                        ELSE 0.0 END AS ws_ratio,
                   CASE WHEN len(ts) > 0
                        THEN len(list_distinct(ts))::DOUBLE / len(ts)
                        ELSE 0.0 END AS ttr
            FROM t
        """,
        "lang_id": _lang_sql(),
        "ann_cosine_topk": _ann_sql(_COSINE, "DESC"),
        "ann_euclidean_topk": _ann_sql(_EUCLID, "ASC"),
        "ann_hik_topk": _ann_sql(_HIK, "ASC"),
        "ann_balltree_topk": _ann_sql(_EUCLID, "ASC"),
        "emb_near_dup_pairs": f"""
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round({_COSINE}, 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_COSINE} >= 0.45
        """,
        "multimodal_features": """
            SELECT doc_id AS asset_id, 'text' AS kind,
                   octet_length(encode(text))::INT AS n_bytes,
                   256 AS n_dims
            FROM documents
        """,
        # real-decode oracle: stats of the DECODED pixels/samples must
        # equal the generator's closed form (encode->decode round trip
        # through actual PNG/WAV byte streams in the Spark path)
        "multimodal_decode": """
            WITH px AS (
              SELECT x, y
              FROM generate_series(0, 23) t1(x), generate_series(0, 15) t2(y)
            ),
            img AS (
              SELECT d.doc_id AS asset_id, 'image/png' AS kind,
                     384::BIGINT AS n_units,
                     round(avg((d.doc_id*7 + 3*x + 5*y) % 256), 6) AS mean_val
              FROM documents d, px GROUP BY d.doc_id
            ),
            ts AS (SELECT t FROM generate_series(0, 255) g(t)),
            aud AS (
              SELECT d.doc_id AS asset_id, 'audio/wav' AS kind,
                     256::BIGINT AS n_units,
                     round(avg(((d.doc_id*13 + 11*t) % 65536) - 32768), 6)
                         AS mean_val
              FROM documents d, ts GROUP BY d.doc_id
            )
            SELECT * FROM img UNION ALL SELECT * FROM aud
        """,
        "token_freq_topk": f"""
            SELECT token, count(*)::BIGINT AS freq
            FROM (SELECT unnest({_TOKS}) AS token FROM documents)
            GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20
        """,
        "events_windowed_dedup": """
            WITH w AS (
              SELECT (floor(epoch(ts)/300)*300)::BIGINT AS w_start,
                     user_id, event_type, event_id,
                     row_number() OVER (
                       PARTITION BY (floor(epoch(ts)/300)*300)::BIGINT,
                                    user_id, event_type
                       ORDER BY ts ASC, event_id ASC) AS rn
              FROM events
            )
            SELECT w_start, user_id, event_type, event_id FROM w WHERE rn = 1
        """,
        # streaming gates (round-3 VERDICT item 7): the drain is a real
        # Structured Streaming run; its append-mode output is the batch
        # twin restricted to windows the final watermark closed
        "streaming_windowed_first": """
            WITH b AS (
              SELECT (floor(epoch(ts)/300)*300)::BIGINT AS w_start,
                     user_id, event_type, event_id, ts
              FROM events
            ),
            mx AS (SELECT epoch(max(ts)) AS m FROM events),
            r AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY w_start, user_id, event_type
                       ORDER BY ts ASC, event_id ASC) AS rn,
                     count(*) OVER (
                       PARTITION BY w_start, user_id, event_type) AS n
              FROM b
            )
            SELECT w_start, user_id, event_type,
                   event_id AS first_event_id, n::BIGINT AS n_in_window
            FROM r, mx WHERE rn = 1 AND w_start + 300 <= m - 600
        """,
        "streaming_first_seen": """
            SELECT sha256(text) AS sha256, min(doc_id)::BIGINT AS doc_id
            FROM documents GROUP BY sha256(text)
        """,
        "events_type_stats": """
            SELECT event_type, count(*)::BIGINT AS n_events,
                   count(DISTINCT user_id)::BIGINT AS n_users,
                   round(sum(value::DECIMAL(18,4))::DOUBLE, 4) AS sum_value
            FROM events GROUP BY event_type
        """,
        # ANN certificates (VERDICT r1 item 4): DuckDB cannot recompute the
        # hash-dependent candidate sets, but it can assert the operator's
        # exactness invariants — k rows per query, scores equal to the
        # independently recomputed exact measure (checked in Spark against
        # raw embeddings), monotone ranks.
        "ann_rp_lsh_cert": f"""
            SELECT (count(*) * {TOPK})::BIGINT AS n_rows,
                   CAST(0 AS BIGINT) AS n_score_mismatch,
                   CAST(0 AS BIGINT) AS n_rank_violations
            FROM embeddings
        """,
        "ann_mrpt_cert": f"""
            SELECT (count(*) * {TOPK})::BIGINT AS n_rows,
                   CAST(0 AS BIGINT) AS n_score_mismatch,
                   CAST(0 AS BIGINT) AS n_rank_violations
            FROM embeddings
        """,
        "ann_ivf_cert": f"""
            SELECT (count(*) * {TOPK})::BIGINT AS n_rows,
                   CAST(0 AS BIGINT) AS n_score_mismatch,
                   CAST(0 AS BIGINT) AS n_rank_violations
            FROM embeddings
        """,
        "ann_ivf_dist_cert": f"""
            SELECT (count(*) * {TOPK})::BIGINT AS n_rows,
                   CAST(0 AS BIGINT) AS n_score_mismatch,
                   CAST(0 AS BIGINT) AS n_rank_violations
            FROM embeddings
        """,
        "rp_hamming_cert": f"""
            SELECT (count(*) * {TOPK})::BIGINT AS n_rows,
                   CAST(0 AS BIGINT) AS n_score_mismatch,
                   CAST(0 AS BIGINT) AS n_rank_violations
            FROM embeddings
        """,
        "rp_hamming128_cert": f"""
            SELECT (count(*) * {TOPK})::BIGINT AS n_rows,
                   CAST(0 AS BIGINT) AS n_score_mismatch,
                   CAST(0 AS BIGINT) AS n_rank_violations
            FROM embeddings
        """,
        "itq_cert": f"""
            SELECT (count(*) * {TOPK})::BIGINT AS n_rows,
                   CAST(0 AS BIGINT) AS n_score_mismatch,
                   CAST(0 AS BIGINT) AS n_rank_violations
            FROM embeddings
        """,
        # lifecycle counts recomputed from the raw table: build indexes the
        # even ids; the full-corpus update skips even (duplicate) inserts
        # and adds the odd ids; the remove drops the 5 listed ids.
        "index_lifecycle": """
            SELECT 'n_after_build' AS step, count(*)::BIGINT AS value
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'n_after_dup_insert', count(*)::BIGINT FROM documents
            UNION ALL
            SELECT 'n_after_remove', (count(*) - 5)::BIGINT FROM documents
        """,
        # estimator accuracy: every pair DuckDB finds at exact Jaccard >=
        # 0.5 must have a 128-perm MinHash agreement within 0.15 (>3.4
        # sigma; deterministic under the seeded permutations)
        "minhash_estimate_accuracy": _PAIRS_CTE
        + """
            SELECT count(*)::BIGINT AS n_pairs,
                   CAST(0 AS BIGINT) AS n_outside_tolerance
            FROM pairs WHERE jaccard >= 0.5
        """,
        "fingerprint_properties": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
            s AS (SELECT doc_id, list_sort({_SHINGLES}) AS sh FROM t
                   WHERE len(ts) >= {K}),
            g AS (SELECT sh, count(*) AS n FROM s GROUP BY sh)
            SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
                   (SELECT count(*) FROM s)::BIGINT AS n_with_fingerprint,
                   (SELECT coalesce(sum(n*(n-1)//2), 0) FROM g)::BIGINT
                       AS n_sameset_pairs,
                   CAST(0 AS BIGINT) AS n_sameset_fp_mismatch
        """,
        # exactness certificate: the banded multi-index Hamming join must
        # reproduce the brute-force pair set exactly (pigeonhole). Both
        # sides run in Spark (SimHash is engine-side hash state DuckDB
        # cannot recompute); the oracle asserts the invariant's only legal
        # value — an empty symmetric difference.
        "simhash_banding_exact": """
            SELECT CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_extra
        """,
        "events_json_extract": """
            SELECT event_id,
                   json_extract_string(props, '$.k')::INT AS k_val
            FROM events
        """,
        # intentionally no oracle (hash-function- or model-state-dependent
        # outputs; each has an oracle-checked certificate companion):
        # doc_fingerprint, minhash_signatures, simhash_hamming_pairs,
        # ann_rp_lsh_topk, rp_hamming_topk, rp_hamming128_topk,
        # ann_mrpt_topk, ann_ivf_topk, itq_hamming_topk
    }
