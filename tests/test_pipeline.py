"""End-to-end pipeline tests on the synthetic files corpus: dup-pair recall
vs reference-config assignments (the north-rule >=0.99 gate), cluster
correctness, checkpoint/resume, lineage."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from smqtk_indexing_spark import kernels as K
from smqtk_indexing_spark.config import DedupConfig
from smqtk_indexing_spark.plans.pipeline import run_dedup
from smqtk_indexing_spark.sources.files import synth_files

CFG = DedupConfig()


def _reference_assignments(files, cfg):
    """Single-node numpy 'reference' run: exact Jaccard >= tau pairs +
    exact content dups, transitively closed (BASELINE.md note: reference
    cluster assignments = transitive closure of verified pairs under the
    same shingle/signature config)."""
    shingles = {
        int(r.doc_id): K.text_shingles(r.content, cfg.shingle_k, cfg.lowercase)
        for r in files.itertuples()
    }
    content = {int(r.doc_id): r.content for r in files.itertuples()}
    ids = sorted(shingles)
    pairs = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if content[a] == content[b]:
                pairs.add((a, b))
            elif (
                shingles[a].size
                and shingles[b].size
                and K.jaccard(shingles[a], shingles[b]) >= cfg.tau
            ):
                pairs.add((a, b))
    # union-find closure
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {i: find(i) for i in ids}
    return pairs, labels


@pytest.fixture(scope="module")
def corpus():
    return synth_files(n=600, seed=13)


def test_dup_pair_recall_and_clusters(spark, corpus, tmp_path_factory):
    files, _ = corpus
    ref_pairs, ref_labels = _reference_assignments(files, CFG)
    df = spark.createDataFrame(files)
    res = run_dedup(spark, df, CFG)

    # engine pairs: verified near-dups on reps + exact-dup member edges,
    # expanded through exact-rep mapping for pairwise comparison
    clusters = {
        r.doc_id: r.cluster_id for r in res.tables["clusters"].collect()
    }
    # cluster-derived pair set == reference closure pair set
    from collections import defaultdict

    by_cluster = defaultdict(list)
    for d, c in clusters.items():
        by_cluster[c].append(d)
    got_pairs = {
        (a, b)
        for members in by_cluster.values()
        for i, a in enumerate(sorted(members))
        for b in sorted(members)[i + 1 :]
    }
    ref_closure_pairs = set()
    by_ref = defaultdict(list)
    for d, c in ref_labels.items():
        by_ref[c].append(d)
    for members in by_ref.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                ref_closure_pairs.add((a, b))

    missing = ref_closure_pairs - got_pairs
    recall = 1 - len(missing) / max(1, len(ref_closure_pairs))
    assert recall >= 0.99, f"recall {recall}: missing {list(missing)[:5]}"
    # cluster labels: identical partition (min-id labeling on both sides)
    assert clusters == ref_labels


def test_checkpoint_resume_and_lineage(spark, corpus, tmp_path):
    files, _ = corpus
    df = spark.createDataFrame(files.head(200))
    out = str(tmp_path / "ckpt")
    r1 = run_dedup(spark, df, CFG, out_dir=out)
    assert all(not row[5] for row in r1.lineage)  # nothing resumed
    assert os.path.exists(os.path.join(out, "clusters", "_SUCCESS"))
    stages = [row[0] for row in r1.lineage]
    assert stages == [
        "signatures", "member_map", "cand_pairs", "dup_pairs", "clusters",
    ]

    r2 = run_dedup(spark, df, CFG, out_dir=out)
    assert all(row[5] for row in r2.lineage)  # everything resumed
    # a fresh stage counts its rows through the write's Observation, a
    # resumed one by count(): both must be the table's row count
    for r in (r1, r2):
        for stage, rows_out, *_rest in r.lineage:
            assert rows_out == r.tables[stage].count(), stage
    c1 = {(r.doc_id, r.cluster_id) for r in r1.tables["clusters"].collect()}
    c2 = {(r.doc_id, r.cluster_id) for r in r2.tables["clusters"].collect()}
    assert c1 == c2

    # config change refuses to reuse the checkpoint dir
    with pytest.raises(ValueError):
        run_dedup(spark, df, DedupConfig(seed=999), out_dir=out)


def test_lineage_df_schema(spark, corpus):
    files, _ = corpus
    df = spark.createDataFrame(files.head(100))
    res = run_dedup(spark, df, CFG)
    ldf = res.lineage_df(spark)
    assert set(ldf.columns) == {
        "stage", "rows_out", "n_partitions", "wall_ms", "config_hash", "resumed"
    }
    # one row per stage: signatures, member_map, cand_pairs, dup_pairs, clusters
    assert ldf.count() == 5


def test_prefilter_preserves_pairs(spark, corpus):
    # the 0.5 estimated-Jaccard prefilter must not drop any true pair
    # (it sits ~7 sigma below tau at 128 perms) — VERDICT r1 item 10 gate
    files, _ = corpus
    df = spark.createDataFrame(files)
    on = run_dedup(spark, df, DedupConfig(minhash_prefilter=0.5))
    off = run_dedup(spark, df, DedupConfig(minhash_prefilter=0.0))
    p_on = {(r.a, r.b) for r in on.tables["dup_pairs"].collect()}
    p_off = {(r.a, r.b) for r in off.tables["dup_pairs"].collect()}
    assert p_on == p_off and len(p_on) > 0


def test_star_candidates_same_clusters(spark, corpus):
    # star-mode candidates (member -> bucket-min, linear volume) must yield
    # the same cluster assignments as all-pairs mode — the 10^12-file
    # candidate topology's correctness gate
    files, _ = corpus
    df = spark.createDataFrame(files)
    allm = run_dedup(spark, df, DedupConfig(pair_mode="all"))
    star = run_dedup(spark, df, DedupConfig(pair_mode="star"))
    c_all = {r.doc_id: r.cluster_id for r in allm.tables["clusters"].collect()}
    c_star = {r.doc_id: r.cluster_id for r in star.tables["clusters"].collect()}
    assert c_all == c_star
    # star pair list is a subset (skeleton) of the full pair set
    p_all = {(r.a, r.b) for r in allm.tables["dup_pairs"].collect()}
    p_star = {(r.a, r.b) for r in star.tables["dup_pairs"].collect()}
    assert p_star <= p_all and len(p_star) > 0


def test_partition_lineage_profile(spark, corpus):
    # north rule: per-partition lineage rows — every materialized stage
    # gets a (stage, partition_id, rows) profile whose per-stage sum equals
    # the stage's rows_out; a DataFrame form is exposed for sinks
    files, _ = corpus
    df = spark.createDataFrame(files.head(150))
    res = run_dedup(spark, df, CFG, partition_lineage=True)
    by_stage = {}
    for stage, pid, rows in res.partition_lineage:
        assert rows >= 0 and pid >= 0
        by_stage[stage] = by_stage.get(stage, 0) + rows
    totals = {row[0]: row[1] for row in res.lineage}
    # stages with zero output rows have no per-partition rows (an empty
    # groupBy) — every non-empty stage must be profiled and sum exactly
    assert set(by_stage) == {s for s, n in totals.items() if n > 0}
    for stage, n in by_stage.items():
        assert n == totals[stage], stage
    ldf = res.partition_lineage_df(spark)
    assert set(ldf.columns) == {"stage", "partition_id", "rows"}
    # default stays off: no extra jobs unless asked
    res2 = run_dedup(spark, df, CFG)
    assert res2.partition_lineage == []
