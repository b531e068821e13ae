"""End-to-end dedup pipeline: files -> docs -> signatures -> buckets ->
candidate pairs -> verified dup pairs -> clusters, with stage-boundary
checkpoints, per-stage lineage metrics, and resume.

Checkpoint/resume maps the reference's model-cache persistence (S5 in
SURVEY.md §2.1 — ``impls/lsh_functor/itq.py:212-237``, ``impls/nn_index/
faiss.py:398-484``): each stage writes a parquet table next to a JSON
config sidecar; a rerun with the same ``config_hash`` skips completed
stages (north rule: "resumable from Iceberg-snapshot checkpoints" — plain
parquet locally, identical DataFrame code against Iceberg tables on a
cluster, where each stage write is a snapshot).

Lineage rows make the reference's ProgressReporter rates
(``utils/progress_reporter.py:105-121``) durable: one row per stage with
row counts, wall time, partition count, and the config hash.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smqtk_indexing_spark.config import DedupConfig
from smqtk_indexing_spark.operators import dedup as X
from smqtk_indexing_spark.operators.candidates import band_buckets, candidate_pairs
from smqtk_indexing_spark.operators.cluster import connected_components
from smqtk_indexing_spark.operators.signatures import compute_signatures
from smqtk_indexing_spark.operators.substrings import substring_pairs
from smqtk_indexing_spark.operators.verify import verify_candidates

LINEAGE_SCHEMA = (
    "stage string, rows_out long, n_partitions int, wall_ms long, "
    "config_hash string, resumed boolean"
)

PARTITION_LINEAGE_SCHEMA = "stage string, partition_id int, rows long"


def partition_profile(df: DataFrame) -> DataFrame:
    """(partition_id, rows) of a materialized stage table — the
    per-partition lineage row of the north rule ("resumable from
    checkpoint with per-partition lineage + metrics"): skew in a stage's
    output is visible without re-running it. One cheap job over the
    checkpointed table (spark_partition_id + map-side count)."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("rows")
    )


@dataclass
class PipelineResult:
    tables: dict = field(default_factory=dict)
    lineage: list = field(default_factory=list)
    partition_lineage: list = field(default_factory=list)

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.lineage, schema=LINEAGE_SCHEMA)

    def partition_lineage_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.partition_lineage, schema=PARTITION_LINEAGE_SCHEMA
        )


class Checkpointer:
    """Stage-boundary persistence + resume. ``partition_lineage=True``
    additionally records a (stage, partition_id, rows) profile of every
    materialized stage table (one extra cheap job per stage)."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str | None,
        cfg: DedupConfig,
        partition_lineage: bool = False,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.cfg = cfg
        self.partition_lineage = partition_lineage
        if out_dir:
            os.makedirs(out_dir, exist_ok=True)
            cfg_path = os.path.join(out_dir, "config.json")
            if os.path.exists(cfg_path):
                with open(cfg_path) as f:
                    prior = json.load(f)
                if prior.get("config_hash") != cfg.config_hash:
                    raise ValueError(
                        "checkpoint dir was written under a different config "
                        f"({prior.get('config_hash')} != {cfg.config_hash}); "
                        "refusing to mix signatures across configs"
                    )
            else:
                with open(cfg_path, "w") as f:
                    json.dump(
                        {"config_hash": cfg.config_hash, "config": cfg.to_json()}, f
                    )

    def _path(self, stage: str) -> str | None:
        return os.path.join(self.out_dir, stage) if self.out_dir else None

    def _complete(self, stage: str) -> bool:
        p = self._path(stage)
        return bool(p) and os.path.exists(os.path.join(p, "_SUCCESS"))

    def run(
        self, stage: str, build, result: PipelineResult, cleanup=None
    ) -> DataFrame:
        """Materialize a stage: resume from parquet if complete, else build,
        write, and record lineage.

        The in-memory path uses a LAZY localCheckpoint whose first action is
        the lineage ``count`` — ONE job materializes and counts the stage
        (the previous eager-checkpoint-then-count shape paid two jobs per
        stage, ~0.2-0.4 s of pure fixed latency each at any corpus size —
        flat cost that never amortizes with cores and so drags the N -> 4N
        scaling efficiency directly). ``cleanup`` (optional) runs after the
        stage is materialized — builders use it to unpersist caches their
        lazy plan depended on, instead of eagerly checkpointing inside the
        builder (which would re-materialize the same rows a second time
        here)."""
        t0 = time.time()
        resumed = self._complete(stage)
        if resumed:
            df = self.spark.read.parquet(self._path(stage))
        else:
            df = build()
            if self.out_dir:
                df.write.mode("overwrite").parquet(self._path(stage))
                df = self.spark.read.parquet(self._path(stage))
            else:
                df = df.localCheckpoint(eager=False)
        result.lineage.append(
            (stage, df.count(), df.rdd.getNumPartitions(),
             int((time.time() - t0) * 1000), self.cfg.config_hash, resumed)
        )
        if cleanup is not None and not resumed:
            cleanup()
        # profile on BOTH paths: a resumed run must not come back with an
        # empty per-partition table (dedup_job overwrites its output)
        if self.partition_lineage:
            result.partition_lineage.extend(
                (stage, int(r[0]), int(r[1]))
                for r in partition_profile(df).collect()
            )
        result.tables[stage] = df
        return df


def _run_with_caches(
    ck: Checkpointer, stage: str, build, result: PipelineResult
) -> DataFrame:
    """``ck.run`` for a ``build`` returning ``(lazy plan, caches)``, as
    ``verify_candidates`` and ``substring_pairs`` do: the stage's
    checkpoint+count materializes the plan in one action, then the caches
    it filled are released."""
    caches: list = []

    def plan() -> DataFrame:
        df, used = build()
        caches.extend(used)
        return df

    return ck.run(
        stage, plan, result, cleanup=lambda: [c.unpersist() for c in caches]
    )


def run_dedup(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig | None = None,
    out_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "content",
    include_substrings: bool = False,
    partition_lineage: bool = False,
) -> PipelineResult:
    """The flagship plan (SURVEY.md §3.2 Spark translation).

    1. docs: sha256 + exact-dup collapse to representatives (skew fast path)
    2. signatures: one vectorized pass over representatives only
    3. buckets -> candidate pairs (salted skew handling)
    4. exact-Jaccard verification at cfg.tau
    5. optional CDC substring pass
    6. connected components over (rep dup pairs) ∪ (exact-dup member edges)
       -> cluster map over ALL doc_ids, cluster_id = min(doc_id).
    """
    cfg = cfg or DedupConfig()
    ck = Checkpointer(spark, out_dir, cfg, partition_lineage=partition_lineage)
    res = PipelineResult()

    base = files.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )

    # Content NEVER shuffles in the hot path, and it is scanned exactly
    # ONCE: the signature pass carries the Catalyst-computed content sha256
    # through the same scan (round-4's separate member_map scan was 6.3 s
    # at local[2] with 0.44 scaling efficiency — a pure scan floor), and
    # the exact-dup representative filter is applied to the LEAN signature
    # table (~300 B/doc: bands + simhash + sha) instead of to the content
    # rows. Recomputing signatures for duplicate content costs
    # ~dup-fraction of kernel CPU; shuffling the full corpus content (the
    # alternative) costs a sort/spill of the whole dataset — CPU is the
    # cheaper currency at 100 TB. Shingle arrays are fetched later for
    # candidate docs only.
    sigs_all = ck.run(
        "signatures",
        lambda: compute_signatures(
            base, cfg, include=("simhash", "bands", "sha256")
        ),
        res,
    )
    # a signature checkpoint resumed from a pre-r5 run lacks the sha256
    # column; fall back to the standalone content scan rather than fail
    # the resume (the config_hash guard does not encode stage schemas)
    mm_build = (
        (lambda: X.member_map_from_sigs(sigs_all))
        if "sha256" in sigs_all.columns
        else (lambda: X.member_map(base))
    )
    member_map = ck.run("member_map", mm_build, res)
    n_docs = res.lineage[-1][1]  # member_map rows == corpus rows
    reps_ids = member_map.where(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    # representative filter: broadcast the id set while the corpus is under
    # the byte-bounded cap so the lean signature table never shuffles for
    # this semi-join (measured: cand stage -1.5 s at local[2] on 800k docs)
    if n_docs <= cfg.broadcast_id_cap:
        reps_ids = F.broadcast(reps_ids)
    sigs = sigs_all.join(reps_ids, "doc_id", "left_semi")

    buckets = band_buckets(sigs, cfg)
    cand = ck.run("cand_pairs", lambda: candidate_pairs(buckets, cfg), res)

    pairs = _run_with_caches(
        ck, "dup_pairs", lambda: verify_candidates(cand, base, cfg, n_docs), res
    )

    if include_substrings:
        reps = base.join(reps_ids, "doc_id", "left_semi")
        _run_with_caches(
            ck,
            "substr_pairs",
            lambda: substring_pairs(
                reps, cfg, id_col="doc_id", text_col="text", mode="rarest"
            ),
            res,
        )

    def build_clusters() -> DataFrame:
        edges = pairs.select("a", "b")
        exact_edges = member_map.where(F.col("doc_id") != F.col("rep_id")).select(
            F.col("doc_id").alias("a"), F.col("rep_id").alias("b")
        )
        if include_substrings:
            edges = edges.unionByName(
                res.tables["substr_pairs"].select(
                    F.col("inner").alias("a"), F.col("outer").alias("b")
                )
            )
        all_edges = edges.unionByName(exact_edges)
        nodes = member_map.select("doc_id")
        return connected_components(all_edges, nodes=nodes)

    ck.run("clusters", build_clusters, res)
    return res


def update_dedup(
    spark: SparkSession,
    all_files: DataFrame,
    new_ids: DataFrame,
    prior: PipelineResult,
    cfg: DedupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "content",
) -> PipelineResult:
    """Incremental update (S2 at pipeline granularity, SURVEY §7 step 8):
    signatures/shingles are computed ONLY for the new batch; candidate
    pairs are generated ONLY where a new document shares a bucket; old
    verified pairs are reused and clustering merges the union.

    ``all_files``: the post-append corpus. ``new_ids``: single-column
    DataFrame of newly appended doc ids. ``prior``: result of the previous
    run_dedup/update_dedup over the pre-append corpus.

    Stages are materialized in memory by a :class:`Checkpointer` under
    run_dedup's stage names, so the result carries the same lineage rows.
    """
    cfg = cfg or DedupConfig()
    ck = Checkpointer(spark, None, cfg)
    res = PipelineResult()
    base = all_files.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )
    new_ids = new_ids.select(F.col(new_ids.columns[0]).cast("long").alias("doc_id"))
    new_docs = base.join(new_ids, "doc_id", "left_semi")

    # signatures: prior table + one vectorized pass over the new batch only;
    # ids already indexed are skipped (duplicate-insert warn+skip contract,
    # reference impls/nn_index/faiss.py:590-598)
    old_sigs = prior.tables["signatures"]
    # pre-r5 checkpoint compatibility (mirrors run_dedup's fallback, ADVICE
    # r5): a signatures table resumed from a checkpoint predating the sha256
    # column would make the unionByName below fail — and allowMissingColumns
    # would silently feed null shas into member_map_from_sigs. Backfill the
    # prior corpus' shas with ONE content pass instead (the same cost
    # run_dedup's member_map fallback pays on such checkpoints).
    if "sha256" not in old_sigs.columns:
        old_shas = X.with_sha256(
            base.join(old_sigs.select("doc_id"), "doc_id", "left_semi")
        ).select("doc_id", "sha256")
        old_sigs = old_sigs.join(old_shas, "doc_id")
    new_docs = new_docs.join(old_sigs.select("doc_id"), "doc_id", "left_anti")
    new_sigs = compute_signatures(
        new_docs, cfg, include=("simhash", "bands", "sha256")
    )
    sigs_all = ck.run(
        "signatures", lambda: old_sigs.unionByName(new_sigs), res
    )

    # exact-dup map over the whole corpus from the LEAN signature union —
    # content is scanned only for the new batch, never re-scanned for the
    # prior corpus (same single-scan contract as run_dedup)
    mm = ck.run("member_map", lambda: X.member_map_from_sigs(sigs_all), res)
    n_docs = res.lineage[-1][1]  # member_map rows == corpus rows
    reps_ids = mm.where(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    sigs = sigs_all.join(reps_ids, "doc_id", "left_semi")

    # candidate pairs touching at least one NEW doc: semi-join the bucket
    # table to buckets that gained a new member, then pair-generate only
    # within those buckets
    buckets = band_buckets(sigs, cfg)
    new_rep_ids = new_ids.join(reps_ids, "doc_id", "left_semi")
    touched = (
        band_buckets(new_sigs.join(new_rep_ids, "doc_id", "left_semi"), cfg)
        .select("band_hash")
        .distinct()
    )
    touched_buckets = buckets.join(touched, "band_hash", "left_semi")
    old_pairs = prior.tables["dup_pairs"].select("a", "b", "jaccard")
    # drop pairs already verified last round (old x old in a touched bucket)
    cand_new = ck.run(
        "cand_pairs",
        lambda: candidate_pairs(touched_buckets, cfg).join(
            old_pairs.select("a", "b"), ["a", "b"], "left_anti"
        ),
        res,
    )

    def build_dup_pairs():
        new_pairs, caches = verify_candidates(cand_new, base, cfg, n_docs)
        return old_pairs.unionByName(new_pairs).distinct(), caches

    pairs = _run_with_caches(ck, "dup_pairs", build_dup_pairs, res)

    exact_edges = mm.where(F.col("doc_id") != F.col("rep_id")).select(
        F.col("doc_id").alias("a"), F.col("rep_id").alias("b")
    )
    ck.run(
        "clusters",
        lambda: connected_components(
            pairs.select("a", "b").unionByName(exact_edges),
            nodes=mm.select("doc_id"),
        ),
        res,
    )
    return res
