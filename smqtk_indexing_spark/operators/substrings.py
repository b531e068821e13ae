"""Substring-containment detection — the suffix-array / CDC pass.

North-rule operator with no reference analog (SURVEY.md §2.10, §7 step 6):
find pairs where one document's full content appears inside another.

Two cooperating paths:

1. **CDC anchor join (the scale path).** A content-defined-chunking rolling
   hash (kernels.cdc_chunk_hashes) cuts each document at content-determined
   positions, so a document embedded inside another shares every *interior*
   chunk with its container (cuts depend only on a ``cdc_window``-char
   context). Candidate rule: ALL distinct interior chunk hashes of the
   containee appear in the container's chunk set — one equi-join on
   chunk_hash + a group-count equality, all Catalyst built-ins. Exact
   verification is then a JVM-side ``contains``. Recall boundary: containees
   with < 3 chunks (shorter than ~2 average chunk lengths) have no interior
   chunk and are missed — bounded by ``cfg.min_containee_chars`` and the
   chunk-size knob ``cfg.cdc_mask_bits``.

2. **Per-partition suffix-array pass (exhaustive, local).** Within each
   partition, one generalized suffix structure over the concatenated texts
   finds every containment with no length floor (kernels.find_containments_sa
   over the prefix-doubling kernels.suffix_array; kernels.find_containments
   is its brute-scan golden twin). Distributed via
   ``applyInPandas`` over a partition-id group key. Cross-partition pairs
   are the CDC path's job; co-partitioning by repo/lang raises its local
   hit-rate when used standalone.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smqtk_indexing_spark import kernels as K
from smqtk_indexing_spark.config import DedupConfig

CHUNK_SCHEMA = "doc_id long, n_chars int, chunk_hash long, is_interior boolean"

# sentinel default: "read cfg.rarest_df_cap" (distinct from None = uncapped)
_CFG_DF_CAP = object()


def cdc_chunks(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One vectorized pass: (id, text) -> exploded distinct chunk hashes with
    an interior flag (first/last chunk of each doc are edge chunks).

    The whole Arrow batch is chunked at once by
    :func:`kernels.cdc_chunk_table_batch` (concatenated blob, boundary-
    masked windows, lexsort dedup) — no per-doc or per-chunk Python
    (round-3 VERDICT item 2)."""
    window, mask_bits = cfg.cdc_window, cfg.cdc_mask_bits

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype="int64")
            di, nc, hashes, interior = K.cdc_chunk_table_batch(
                pdf[text_col].tolist(), window, mask_bits
            )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids[di], dtype="int64"),
                    "n_chars": pd.Series(nc, dtype="int32"),
                    "chunk_hash": pd.Series(hashes, dtype="int64"),
                    "is_interior": pd.Series(interior, dtype="bool"),
                }
            )

    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).mapInPandas(gen, schema=CHUNK_SCHEMA)


def containment_candidates_rarest(
    chunks: DataFrame, cfg: DedupConfig, df_cap=_CFG_DF_CAP
) -> DataFrame:
    """Scale-path candidates: join each containee's RAREST interior chunk
    (minimum document frequency, hash tie-break) against the chunk table.

    Exactness: if inner ⊂ outer then ALL of inner's interior chunks — in
    particular the rarest — appear in outer's chunk set, so no true
    containment is lost. Join volume is Σ df(rarest chunk) instead of the
    full interior×owner product. Containees whose rarest chunk still has
    df > ``df_cap`` (pathologically repetitive content) are dropped — the
    documented recall boundary, analogous to the LSH ``bucket_cap``.
    ``df_cap=None`` disables the drop: the candidate domain is then
    IDENTICAL to :func:`containment_candidates` (every containee with an
    interior chunk above the length floor), making the rarest anchor a
    pure prefilter-strength trade — a superset of the all-interior
    candidates at a fraction of the join volume (r07 at the 50k-doc bench
    corpus: 435k join rows vs 605M — hot boilerplate chunks reach
    df=13k, so the all-interior equi-join explodes quadratically while
    Σ df(rarest) stays linear), with the exact ``contains`` verify
    guaranteeing the same final pair set.
    """
    if df_cap is _CFG_DF_CAP:
        df_cap = cfg.rarest_df_cap
    df_tbl = chunks.groupBy("chunk_hash").agg(F.count("*").alias("df"))
    inner = (
        chunks.where(
            F.col("is_interior") & (F.col("n_chars") >= cfg.min_containee_chars)
        )
        .join(df_tbl, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.min(F.struct("df", "chunk_hash")).alias("rarest"),
            F.first("n_chars").alias("inner_chars"),
        )
    )
    if df_cap is not None:
        inner = inner.where(F.col("rarest.df") <= df_cap)
    inner = inner.select(
        F.col("doc_id").alias("inner"),
        F.col("inner_chars"),
        F.col("rarest.chunk_hash").alias("chunk_hash"),
    )
    outer = chunks.select(
        F.col("doc_id").alias("outer"),
        F.col("n_chars").alias("outer_chars"),
        "chunk_hash",
    )
    return (
        inner.join(outer, "chunk_hash")
        .where(
            (F.col("inner") != F.col("outer"))
            & (F.col("inner_chars") < F.col("outer_chars"))
        )
        .select("inner", "outer")
    )


def rarest_dropped_containees(
    chunks: DataFrame, cfg: DedupConfig, df_cap=_CFG_DF_CAP
) -> DataFrame:
    """Containee doc_ids the rarest-chunk path DROPS: eligible containees
    (interior chunk present, above the length floor) whose rarest interior
    chunk still has document frequency > ``df_cap`` — the documented recall
    boundary of :func:`containment_candidates_rarest`, exposed so the
    driver certificate can assert exactness on the covered domain instead
    of assuming the corpus stays below the boundary (ADVICE r5)."""
    if df_cap is _CFG_DF_CAP:
        df_cap = cfg.rarest_df_cap
    df_tbl = chunks.groupBy("chunk_hash").agg(F.count("*").alias("df"))
    return (
        chunks.where(
            F.col("is_interior") & (F.col("n_chars") >= cfg.min_containee_chars)
        )
        .join(df_tbl, "chunk_hash")
        .groupBy("doc_id")
        .agg(F.min("df").alias("min_df"))
        .where(F.col("min_df") > df_cap)
        .select("doc_id")
    )


def containment_candidates(
    chunks: DataFrame,
    cfg: DedupConfig,
    inner_ids: DataFrame | None = None,
    min_chars: int | None = None,
) -> DataFrame:
    """(inner, outer) candidates where every interior chunk of ``inner``
    appears in ``outer``'s chunk set and ``inner`` is strictly shorter.

    ``inner_ids`` (single ``doc_id`` column) restricts the containee side —
    used by the fine-grain escalation pass, where only the coarse pass's
    blind spots need re-anchoring. ``min_chars`` overrides the config floor
    (the fine pass uses 0: no floor, chunk count is the only gate)."""
    floor = cfg.min_containee_chars if min_chars is None else min_chars
    inner = (
        chunks.where(F.col("is_interior") & (F.col("n_chars") >= floor))
        .select(
            F.col("doc_id").alias("inner"),
            F.col("n_chars").alias("inner_chars"),
            "chunk_hash",
        )
    )
    if inner_ids is not None:
        inner = inner.join(
            inner_ids.select(F.col(inner_ids.columns[0]).alias("inner")),
            "inner",
            "left_semi",
        )
    n_interior = inner.groupBy("inner").agg(F.count("*").alias("n_int"))
    outer = chunks.select(
        F.col("doc_id").alias("outer"),
        F.col("n_chars").alias("outer_chars"),
        "chunk_hash",
    )
    hits = (
        inner.join(outer, "chunk_hash")
        .where(
            (F.col("inner") != F.col("outer"))
            & (F.col("inner_chars") < F.col("outer_chars"))
        )
        .groupBy("inner", "outer")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        hits.join(n_interior, "inner")
        .where(F.col("n_hit") == F.col("n_int"))
        .select("inner", "outer")
    )


def _nlj_contains(short: DataFrame, t: DataFrame) -> DataFrame:
    """Broadcast ``contains`` scan of a SMALL containee set against every
    longer document (BroadcastNestedLoopJoin) — the exact last-resort leg."""
    outer = t.select(F.col("did").alias("outer"), F.col("t").alias("t_out"))
    return outer.join(
        F.broadcast(short),
        (F.length("t_in") < F.length("t_out"))
        & F.col("t_out").contains(F.col("t_in")),
    ).select("inner", "outer")


def _short_side(
    chunks: DataFrame,
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(inner, t_in) rows for containees the coarse CDC join cannot see."""
    detectable = chunks.where(
        F.col("is_interior") & (F.col("n_chars") >= cfg.min_containee_chars)
    ).select(F.col("doc_id")).distinct()
    t = df.select(
        F.col(id_col).cast("long").alias("did"), F.col(text_col).alias("t")
    )
    return (
        t.join(detectable.withColumnRenamed("doc_id", "did"), "did", "left_anti")
        .select(F.col("did").alias("inner"), F.col("t").alias("t_in"))
    )


def short_containee_pairs(
    chunks: DataFrame,
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_short: int | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """Exact containment pairs for containees the coarse CDC anchor join
    cannot see: documents with no interior chunk (< 3 chunks) or shorter
    than ``cfg.min_containee_chars``. Returns the lazy pairs plus the
    caches the caller unpersists once its first action on them has run.

    The NLJ side is BOUNDED (round-2 VERDICT item 3): the short set is
    counted first (callers that already know the count — e.g. the fused
    chunk-materialization agg in :func:`substring_pairs` — pass
    ``n_short`` to skip the extra job). Up to ``cfg.short_nlj_cap`` docs it is broadcast and
    matched with a JVM-side ``contains`` against every longer document —
    correct when shorts are the vanishing fraction (source-code corpora).
    On short-text-heavy corpora (chat turns, titles) the count trips the
    cap and the shorts are re-anchored by a FINE CDC pass
    (``cfg.cdc_mask_bits_fine``, avg chunk 2^bits chars) over the whole
    corpus — one extra O(corpus) chunk pass + the same scalable equi-join,
    instead of an O(short x corpus) NLJ. Only the ultra-short residue
    (still < 3 chunks at fine granularity, i.e. a few characters) falls
    through to the NLJ. Together with the coarse path this keeps
    ``substring_pairs`` EXACT: every proper containment is found by
    exactly one leg (disjoint containee sets).
    """
    t = df.select(
        F.col(id_col).cast("long").alias("did"), F.col(text_col).alias("t")
    )
    short = _short_side(chunks, df, cfg, id_col, text_col)
    if n_short is None:
        n_short = short.count()
    if n_short <= cfg.short_nlj_cap:
        return _nlj_contains(short, t), []
    # escalation: fine-grain CDC over the whole corpus; containee side
    # restricted to the coarse pass's blind spots, no length floor
    from dataclasses import replace

    fine_cfg = replace(
        cfg,
        cdc_window=cfg.cdc_window_fine,
        cdc_mask_bits=cfg.cdc_mask_bits_fine,
    )
    # the fine chunks feed both the anchor join and the residue anti-join
    fine_chunks = cdc_chunks(df, fine_cfg, id_col, text_col).persist()
    short_ids = short.select(F.col("inner").alias("doc_id"))
    cand = containment_candidates(
        fine_chunks, fine_cfg, inner_ids=short_ids, min_chars=0
    )
    anchored = verify_containment(cand, df, id_col, text_col)
    # residue: shorts with no interior chunk even at fine granularity
    fine_detectable = (
        fine_chunks.where(F.col("is_interior"))
        .select(F.col("doc_id").alias("inner"))
        .distinct()
    )
    residue = short.join(fine_detectable, "inner", "left_anti")
    return anchored.unionByName(_nlj_contains(residue, t)), [fine_chunks]


def verify_containment(
    cand: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact verification: inner.text is a substring of outer.text and
    strictly shorter (proper containment). JVM-side ``contains``."""
    t = df.select(F.col(id_col).cast("long").alias("did"), F.col(text_col).alias("t"))
    return (
        cand.join(t.select(F.col("did").alias("inner"), F.col("t").alias("t_in")), "inner")
        .join(t.select(F.col("did").alias("outer"), F.col("t").alias("t_out")), "outer")
        .where(
            (F.length("t_in") < F.length("t_out"))
            & F.col("t_out").contains(F.col("t_in"))
        )
        .select("inner", "outer")
    )


def substring_pairs(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "all_interior",
    df_cap=_CFG_DF_CAP,
    short_path: bool = True,
    n_docs: int | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """CDC candidates + exact verify -> the lazy (inner, outer) containment
    pairs, plus the caches the caller unpersists once its first action on
    them has run (the :func:`verify.verify_candidates` contract).

    mode='all_interior' (exhaustive prefilter; right for small/medium
    corpora) or 'rarest' (rarest-chunk anchor join; the 100 TB path).

    With ``short_path`` (default), containees invisible to the CDC join
    (no interior chunk / below the length floor) are matched exactly via the
    bounded short-containee leg (broadcast ``contains`` under
    ``cfg.short_nlj_cap``, fine-CDC escalation above it), making the union
    EXACT — same semantics as the full SQL oracle, no length floor. The
    chunk table feeds both legs, so it is persisted and returned as a
    cache; the short-leg gate's count is the one action run here.

    ``n_docs`` (corpus row count, if the caller already knows it — parquet
    metadata count or a pipeline lineage row) removes the short-leg gate's
    standalone count job: the short count is then derived as
    ``n_docs - countDistinct(detectable containees)`` from ONE agg that
    doubles as the chunk-cache materialization action (round-5 VERDICT
    item 2 — the separate docs-scan anti-join count was ~0.5 s of pure
    fixed cost per query at sf0.1)."""
    chunks = cdc_chunks(df, cfg, id_col, text_col)

    def _cand(ch):
        if mode == "rarest":
            return containment_candidates_rarest(ch, cfg, df_cap)
        return containment_candidates(ch, cfg)

    if not short_path:
        return verify_containment(_cand(chunks), df, id_col, text_col), []
    # chunks feeds BOTH the candidate branch and the short-containee
    # anti-join; persist so the CDC mapInPandas pass runs once
    chunks = chunks.persist()
    n_short = None
    if n_docs is not None:
        # fused gate: ONE agg both materializes the chunk cache and
        # yields the detectable-containee count; the short side is its
        # complement (every doc is either CDC-anchorable or short)
        n_det = chunks.agg(
            F.countDistinct(
                F.when(
                    F.col("is_interior")
                    & (F.col("n_chars") >= cfg.min_containee_chars),
                    F.col("doc_id"),
                )
            )
        ).first()[0]
        n_short = n_docs - int(n_det or 0)
    short, short_caches = short_containee_pairs(
        chunks, df, cfg, id_col, text_col, n_short=n_short
    )
    pairs = verify_containment(_cand(chunks), df, id_col, text_col)
    return pairs.unionByName(short), [chunks, *short_caches]


def substring_pairs_within_partitions(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_cols: list | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-partition exhaustive suffix-array pass (path 2).

    Groups by explicit columns (e.g. repo/lang) or a hashed partition id and
    finds all intra-group containments via one suffix structure per group.
    """
    if partition_cols:
        part = F.abs(F.hash(*partition_cols))
    else:
        part = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_partitions or 32))
    g = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        part.alias("part_id"),
    )

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        texts = pdf["text"].fillna("").tolist()
        ids = pdf["doc_id"].tolist()
        pairs = K.find_containments_sa(texts, min_len=1)
        return pd.DataFrame(
            {
                "inner": pd.Series([ids[i] for i, _ in pairs], dtype="int64"),
                "outer": pd.Series([ids[j] for _, j in pairs], dtype="int64"),
            }
        )

    return g.groupBy("part_id").applyInPandas(per_group, schema="inner long, outer long")
