"""Substring-containment operators: CDC anchor join + per-partition
suffix-array pass, against a brute-force truth."""

import pytest

from smqtk_indexing_spark.config import DedupConfig
from smqtk_indexing_spark.operators.substrings import (
    substring_pairs,
    substring_pairs_within_partitions,
)
from smqtk_indexing_spark.sources.files import synth_files

CFG = DedupConfig()


def _pairs(df, cfg, **kw):
    """(inner, outer) rows of one substring_pairs action; caches released."""
    out, caches = substring_pairs(df, cfg, **kw)
    rows = [(r.inner, r.outer) for r in out.collect()]
    for c in caches:
        c.unpersist()
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    files, _truth = synth_files(n=400, seed=7)
    df = (
        spark.createDataFrame(files)
        .select("doc_id", "content")
        .withColumnRenamed("content", "text")
    )
    brute = {
        (int(a.doc_id), int(b.doc_id))
        for a in files.itertuples()
        for b in files.itertuples()
        if a.doc_id != b.doc_id
        and len(a.content) < len(b.content)
        and a.content in b.content
    }
    return df, brute


def test_cdc_substring_exact(spark, corpus):
    # CDC anchor join + short-containee broadcast path = EXACT containment
    df, brute = corpus
    got = _pairs(df, CFG)
    assert len(got) == len(set(got))  # disjoint paths -> no duplicate rows
    assert set(got) == brute


def test_short_containees_found(spark):
    # docs below the CDC floor (< min_containee_chars / < 3 chunks) are
    # caught by the broadcast short path, including the empty document
    rows = [
        (1, "tiny"),
        (2, ""),
        (3, "prefix tiny suffix padding to make this one much longer " * 3),
        (4, "unrelated content with nothing shared at all " * 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = set(_pairs(df, CFG))
    brute = {
        (a, b)
        for a, ta in rows
        for b, tb in rows
        if a != b and len(ta) < len(tb) and ta in tb
    }
    assert got == brute
    assert (1, 3) in got and (2, 3) in got and (2, 4) in got


def test_short_heavy_corpus_escalates_and_stays_exact(spark):
    # short-text-heavy corpus (chat turns / titles): the short side trips
    # short_nlj_cap, the fine-CDC escalation re-anchors the shorts, and the
    # union stays EXACT. Also proves the NLJ side is bounded: the residue
    # handed to the broadcast-contains leg is only the ultra-short docs
    # with < 3 chunks at fine granularity, a strict subset of the shorts.
    import dataclasses

    from pyspark.sql import functions as F

    from smqtk_indexing_spark.operators.substrings import cdc_chunks

    rows = []
    # 80 short docs (well under min_containee_chars at coarse granularity)
    for i in range(80):
        rows.append((i, f"short message number {i} ok"))
    # a handful of tiny docs that stay unanchorable even at fine chunks
    for i in range(80, 85):
        rows.append((i, f"t{i}"))
    # 20 long containers, each embedding two of the short docs
    for i in range(100, 120):
        a, b = (i - 100) * 4 % 80, ((i - 100) * 4 + 1) % 80
        rows.append(
            (i,
             f"container head padding {'x' * 40} short message number {a} ok "
             f"middle filler {'y' * 40} short message number {b} ok tail t{80 + i % 5} end")
        )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    brute = {
        (a, b)
        for a, ta in rows
        for b, tb in rows
        if a != b and len(ta) < len(tb) and ta in tb
    }
    cfg = dataclasses.replace(CFG, short_nlj_cap=10)  # force escalation
    got = _pairs(df, cfg)
    assert len(got) == len(set(got))
    assert set(got) == brute
    # bound check: residue (< 3 interior-bearing chunks at fine granularity)
    # excludes every normal short doc — only the t## stubs may remain
    fine_cfg = dataclasses.replace(
        cfg, cdc_window=cfg.cdc_window_fine, cdc_mask_bits=cfg.cdc_mask_bits_fine
    )
    fine_detectable = {
        r.doc_id
        for r in cdc_chunks(df, fine_cfg)
        .where(F.col("is_interior"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    residue = {i for i, t in rows if i not in fine_detectable}
    assert residue <= {i for i, t in rows if len(t) < 12}
    assert len(residue) <= 10  # the NLJ side stays under the cap


def test_rarest_mode_equals_all_interior(spark, corpus):
    df, brute = corpus
    got = set(_pairs(df, CFG, mode="rarest"))
    assert got <= brute
    assert len(got) >= 0.99 * len(brute)


def test_rarest_uncapped_exactly_equals_all_interior(spark, corpus):
    # r07: the production substring query anchors candidates on the
    # UNCAPPED rarest interior chunk (df_cap=None). With the cap disabled
    # the candidate domain equals the all-interior join's, and the exact
    # contains-verify removes false candidates — so the verified pair set
    # must be IDENTICAL to mode='all_interior' (not just a subset) and to
    # the brute-force truth.
    df, brute = corpus
    rare = set(_pairs(df, CFG, mode="rarest", df_cap=None))
    full = set(_pairs(df, CFG, mode="all_interior"))
    assert rare == full
    assert rare == brute


def test_rarest_df_cap_reads_config():
    # round-6 VERDICT item 4: the recall boundary lives in DedupConfig so
    # the cert domain and the production path cannot drift
    from dataclasses import replace

    from smqtk_indexing_spark.operators.substrings import _CFG_DF_CAP

    assert CFG.rarest_df_cap == 10_000
    assert replace(CFG, rarest_df_cap=5).rarest_df_cap == 5
    assert _CFG_DF_CAP is not None


def test_suffix_array_pass_exhaustive_single_partition(spark, corpus):
    df, brute = corpus
    got = {
        (r.inner, r.outer)
        for r in substring_pairs_within_partitions(df, CFG, num_partitions=1).collect()
    }
    assert got == brute


def test_suffix_array_pass_partitioned_subset(spark, corpus):
    df, brute = corpus
    got = {
        (r.inner, r.outer)
        for r in substring_pairs_within_partitions(df, CFG, num_partitions=6).collect()
    }
    assert got <= brute


def test_cleanup_out_lazy_path_exact(spark, corpus):
    # the (pairs, caches) contract: substring_pairs returns a lazy plan (no
    # checkpoint of its own) that must produce the identical exact pair
    # set, hands back the persisted chunk cache for the caller to release,
    # and stays correct after the caller unpersists it (plan recomputes,
    # just uncached).
    df, brute = corpus
    out, caches = substring_pairs(df, CFG)
    got = {(r.inner, r.outer) for r in out.collect()}
    assert got == brute
    assert len(caches) == 1 and caches[0].is_cached
    for c in caches:
        c.unpersist()
    assert {(r.inner, r.outer) for r in out.collect()} == brute
