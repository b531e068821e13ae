"""Bucket construction + candidate-pair generation — the heart of the engine.

Reference analog: the hash->uuids multimap build (``/root/reference/
smqtk_indexing/impls/nn_index/lsh.py:315-323``) and the near-hash -> candidate
UUID expansion (``lsh.py:489-497``), generalized from single-query lookup to
an all-pairs self-join: every document is simultaneously query and corpus.

Scale design (north rule: "partitioning / shuffle / skew handled explicitly"):
- band keys already fold the band index (kernels.band_keys), so the bucket key
  is one LongType column — a single hash-partitionable shuffle key.
- ONE generator (:func:`candidate_pairs`) serves the pipeline, the driver
  entry and rp_lsh: the bucket table is hash-partitioned once on
  ``band_hash`` and sorted by (band_hash, doc_id) inside each partition, so
  a streaming kernel sees every bucket complete and in member order. It
  carries the one open bucket across Arrow batch boundaries, so no task
  ever holds more than one bucket (bounded by ``bucket_cap``) plus one
  batch.
- pair explosion is quadratic per bucket. A giant bucket is *salted*: its
  members are striped into blocks of ``salt_block_rows`` and block pairs
  are emitted as independent rows, which a round-robin repartition spreads
  over the whole cluster, so one hot key's O(m^2) work runs in
  O((m/r)^2) tasks. No pairs are lost — salting redistributes, it does
  not sample.
- buckets larger than ``bucket_cap`` are dropped in all mode (recall
  boundary; the kernel only counts their members): at corpus scale those
  are boilerplate whose members are already collapsed by the exact-sha
  fast path upstream (plans/pipeline.py). Star mode emits linear rows and
  has no cap.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smqtk_indexing_spark.config import DedupConfig

_BLOCK_SCHEMA = "ba array<long>, bb array<long>, same boolean"


def band_buckets(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures -> (band_hash, doc_id) bucket membership rows.

    The un-aggregated form of the reference's KV multimap (``lsh.py:224-225``)
    — kept exploded so downstream groupBy/self-join shuffles on the bucket
    key directly.
    """
    return sig_df.select(
        F.col("doc_id"), F.explode("bands").alias("band_hash")
    )


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """Bucket-size profile — operator A2/S6 analog (``lsh.py:271-281``)."""
    return (
        buckets.groupBy("band_hash")
        .agg(F.count("*").alias("sz"))
        .groupBy("sz")
        .agg(F.count("*").alias("n_buckets"))
        .orderBy("sz")
    )


def _all_blocks(mem: np.ndarray, salt: int, out: tuple) -> None:
    """Block rows of one all-mode bucket (sorted members, 2 <= m <= cap):
    one self block up to ``salt`` members, else its ceil(m/salt) stripes
    paired i <= j."""
    ba, bb, same = out
    blocks = [mem[i : i + salt] for i in range(0, len(mem), salt)]
    for i, x in enumerate(blocks):
        for j in range(i, len(blocks)):
            ba.append(x)
            bb.append(blocks[j])
            same.append(i == j)


def _star_chunks(
    head: np.ndarray, pend: np.ndarray, salt: int, out: tuple, final: bool
) -> np.ndarray:
    """Emit ``[head] x chunk`` rows for the full ``salt``-member chunks of
    ``pend`` (every chunk when ``final``); return the unemitted rest."""
    ba, bb, same = out
    stop = len(pend) if final else len(pend) - len(pend) % salt
    for i in range(0, stop, salt):
        ba.append(head)
        bb.append(pend[i : i + salt])
        same.append(False)
    return pend[stop:]


def _bucket_blocks(
    batches: Iterator[pd.DataFrame], salt: int, cap: int, star: bool
) -> Iterator[pd.DataFrame]:
    """Sorted (band_hash, doc_id) Arrow batches -> block rows, streamed.

    Complete buckets inside a batch are emitted from the batch's arrays;
    the last bucket of a batch stays OPEN and is carried into the next
    batch. The open bucket holds at most ``cap`` members in all mode (an
    over-cap bucket is only counted from then on) and fewer than ``salt``
    pending members in star mode (full chunks are emitted as they fill)."""
    key = None
    n = 0  # members seen in the open bucket
    held: list | np.ndarray = []  # all: member pieces; star: pending chunk
    head = None  # star: the open bucket's minimum, as a 1-element array

    def extend(x: np.ndarray, out: tuple) -> None:
        nonlocal n, held
        n += len(x)
        if star:
            held = _star_chunks(
                head, np.concatenate([held, x[x != head[0]]]), salt, out, False
            )
        elif n <= cap:
            held.append(x)
        else:
            held = []  # over cap: count only

    def close(out: tuple) -> None:
        if star:
            _star_chunks(head, held, salt, out, True)
        elif 2 <= n <= cap:
            _all_blocks(np.concatenate(held), salt, out)

    def emit(out: tuple) -> Iterator[pd.DataFrame]:
        if out[0]:
            yield pd.DataFrame({"ba": out[0], "bb": out[1], "same": out[2]})

    for pdf in batches:
        if pdf.empty:
            continue
        bh = pdf["band_hash"].to_numpy(np.int64)
        did = pdf["doc_id"].to_numpy(np.int64)
        out: tuple = ([], [], [])
        starts = np.flatnonzero(np.concatenate([[True], bh[1:] != bh[:-1]]))
        ends = np.append(starts[1:], len(bh))
        if bh[0] == key:  # the first run continues the open bucket
            extend(did[: ends[0]], out)
            starts, ends = starts[1:], ends[1:]
        if len(starts):
            if key is not None:
                close(out)
            # complete buckets: every run but the last
            s, e = starts[:-1], ends[:-1]
            m = e - s
            keep = (m >= 2) if star else (m >= 2) & (m <= cap)
            for a, b in zip(s[keep], e[keep]):
                x = did[a:b]
                if star:
                    _star_chunks(x[:1], x[1:][x[1:] != x[0]], salt, out, True)
                else:
                    _all_blocks(x, salt, out)
            # the last run opens the next bucket
            last = starts[-1]
            key, n, head = bh[last], 0, did[last : last + 1]
            held = np.empty(0, np.int64) if star else []
            extend(did[last:], out)
        yield from emit(out)
    if key is not None:
        out = ([], [], [])
        close(out)
        yield from emit(out)


def candidate_pairs(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidate pairs (a < b) sharing >= 1 band bucket, distinct.
    Corresponds to J1+J3 in SURVEY.md §2.4.

    Plan: ``repartition(defaultParallelism, band_hash)`` ->
    ``sortWithinPartitions(band_hash, doc_id)`` -> a streaming
    ``mapInPandas`` kernel (:func:`_bucket_blocks`) that emits uniform
    BLOCK rows ``(ba, bb, same)`` -> a round-robin repartition that spreads
    a giant bucket's block rows -> explode to (a, b) -> distinct. The
    kernel width is the session's default parallelism, not a config
    constant: the stage is bound by per-task Python cost, so it is sized
    by cores. Singleton buckets never leave the kernel.

    ``cfg.pair_mode="all"``: EVERY co-bucketed pair — the exact pair-output
    semantic (matches the brute-force oracle). A bucket of at most
    ``cfg.salt_block_rows`` members is one self block; a larger one is
    striped into ceil(m/salt) blocks emitted as i <= j block pairs;
    buckets above ``cfg.bucket_cap`` emit nothing.

    ``cfg.pair_mode="star"``: per bucket, connect each member to the bucket
    MINIMUM only — ``[min] x chunk`` rows of at most ``salt_block_rows``
    members, sum(m-1) pairs, no cap. For CLUSTERING this preserves
    connectivity whenever each true group member verifies against at least
    one of its 32 bucket minima (gated by star_cluster_cert); it is the
    right candidate topology at 10^12-file scale, where giant boilerplate
    groups make all-pairs enumeration quadratic. The pair LIST is a
    connectivity skeleton, not the full pair set.
    """
    star = cfg.pair_mode == "star"
    salt, cap = cfg.salt_block_rows, cfg.bucket_cap
    width = buckets.sparkSession.sparkContext.defaultParallelism
    blocks = (
        buckets.select("band_hash", "doc_id")
        .repartition(width, "band_hash")
        .sortWithinPartitions("band_hash", "doc_id")
        .mapInPandas(
            lambda it: _bucket_blocks(it, salt, cap, star), schema=_BLOCK_SCHEMA
        )
        .repartition(width)
    )
    gx = F.explode("ba").alias("x")
    return (
        blocks.select(gx, "bb", "same")
        .select(
            F.col("x"),
            F.explode(
                F.when(F.col("same"), F.filter("bb", lambda y: y > F.col("x")))
                .otherwise(F.col("bb"))
            ).alias("y"),
        )
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
    )
