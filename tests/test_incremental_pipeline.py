"""Incremental pipeline update: append a batch, update signatures/pairs
incrementally, and verify cluster equivalence with a from-scratch run over
the full corpus (reference state-transition pattern: additive-update
invariants, tests/impls/nn_index/test_faiss.py:197-226 analog)."""

import pytest
from pyspark.sql import functions as F

from smqtk_indexing_spark.config import DedupConfig
from smqtk_indexing_spark.plans.pipeline import run_dedup, update_dedup
from smqtk_indexing_spark.sources.files import synth_files

CFG = DedupConfig()


def test_incremental_update_equals_full_rebuild(spark):
    files, _ = synth_files(n=500, seed=23)
    full_df = spark.createDataFrame(files)
    first = spark.createDataFrame(files.iloc[:350])
    new_ids = spark.createDataFrame(
        [(int(i),) for i in files.iloc[350:]["doc_id"]], "doc_id long"
    )

    prior = run_dedup(spark, first, CFG)
    updated = update_dedup(spark, full_df, new_ids, prior, CFG)
    scratch = run_dedup(spark, full_df, CFG)

    inc_clusters = {
        (r.doc_id, r.cluster_id) for r in updated.tables["clusters"].collect()
    }
    full_clusters = {
        (r.doc_id, r.cluster_id) for r in scratch.tables["clusters"].collect()
    }
    assert inc_clusters == full_clusters

    inc_pairs = {(r.a, r.b) for r in updated.tables["dup_pairs"].collect()}
    full_pairs = {(r.a, r.b) for r in scratch.tables["dup_pairs"].collect()}
    # full-run pairs are generated among exact-dup representatives of the
    # FULL corpus; the incremental run verified some of them in round one
    # under the smaller corpus's representative choice. The pair sets must
    # agree up to exact-duplicate substitution — cluster equality above is
    # the strong check; here assert no full-run pair is missing.
    assert full_pairs <= inc_pairs


def test_incremental_update_from_sha_less_prior(spark):
    """Resume compatibility (ADVICE r5): a prior whose signatures
    checkpoint predates the sha256 column must be backfilled (one content
    pass over the prior corpus), not crash the unionByName or feed null
    shas into the exact-dup map."""
    files, _ = synth_files(n=400, seed=31)
    full_df = spark.createDataFrame(files)
    first = spark.createDataFrame(files.iloc[:280])
    new_ids = spark.createDataFrame(
        [(int(i),) for i in files.iloc[280:]["doc_id"]], "doc_id long"
    )
    prior = run_dedup(spark, first, CFG)
    # simulate the pre-r5 checkpoint schema
    prior.tables["signatures"] = prior.tables["signatures"].drop("sha256")

    updated = update_dedup(spark, full_df, new_ids, prior, CFG)
    scratch = run_dedup(spark, full_df, CFG)
    inc = {(r.doc_id, r.cluster_id) for r in updated.tables["clusters"].collect()}
    full = {(r.doc_id, r.cluster_id) for r in scratch.tables["clusters"].collect()}
    assert inc == full
    sigs = updated.tables["signatures"]
    assert "sha256" in sigs.columns
    assert sigs.where(F.col("sha256").isNull()).count() == 0


def test_incremental_update_signature_counts(spark):
    files, _ = synth_files(n=300, seed=29)
    full_df = spark.createDataFrame(files)
    first = spark.createDataFrame(files.iloc[:200])
    new_ids = spark.createDataFrame(
        [(int(i),) for i in files.iloc[200:]["doc_id"]], "doc_id long"
    )
    prior = run_dedup(spark, first, CFG)
    updated = update_dedup(spark, full_df, new_ids, prior, CFG)
    # every doc has exactly one signature row after the update
    sigs = updated.tables["signatures"]
    assert sigs.count() == 300
    assert sigs.select("doc_id").distinct().count() == 300


def test_update_dedup_lineage_rows_match_tables(spark):
    # update_dedup materializes through a Checkpointer under run_dedup's
    # stage names: one lineage row per stage, rows_out = the table's count
    files, _ = synth_files(n=200, seed=31)
    full_df = spark.createDataFrame(files)
    prior = run_dedup(spark, spark.createDataFrame(files.iloc[:150]), CFG)
    new_ids = spark.createDataFrame(
        [(int(i),) for i in files.iloc[150:]["doc_id"]], "doc_id long"
    )
    updated = update_dedup(spark, full_df, new_ids, prior, CFG)
    stages = ["signatures", "member_map", "cand_pairs", "dup_pairs", "clusters"]
    assert [row[0] for row in updated.lineage] == stages
    for stage, rows_out, *_rest in updated.lineage:
        assert rows_out == updated.tables[stage].count(), stage
    assert updated.lineage[1][1] == len(files)  # member_map covers the corpus
