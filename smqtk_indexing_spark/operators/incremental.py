"""Incremental index lifecycle — the reference's build/update/remove/count
contracts (``/root/reference/smqtk_indexing/interfaces/
nearest_neighbor_index.py:43-124``) over immutable DataFrames.

Locks are obsolete (reference RLocks at ``impls/nn_index/lsh.py:229-232``):
Spark DataFrames are immutable and table swaps are atomic at the storage
layer (Iceberg snapshot isolation; overwrite-by-directory on plain parquet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smqtk_indexing_spark.config import DedupConfig
from smqtk_indexing_spark.operators.signatures import compute_signatures


def check_nonempty(df: DataFrame, what: str = "input") -> DataFrame:
    """Empty-iterable guard — ``utils/iter_validation.py:8-28``: raise on
    empty input, else forward non-destructively (cheap limit-1 probe)."""
    if df.limit(1).isEmpty():
        raise ValueError(f"{what} is empty")
    return df


def build_index(docs: DataFrame, cfg: DedupConfig, **kw) -> DataFrame:
    """Full rebuild — S1 (``interfaces/nearest_neighbor_index.py:43-60``):
    never additive; caller persists with mode('overwrite')."""
    return compute_signatures(check_nonempty(docs, "build_index input"), cfg, **kw)


def update_index(
    sigs: DataFrame, new_docs: DataFrame, cfg: DedupConfig, **kw
) -> DataFrame:
    """Additive insert — S2 (``interfaces/nearest_neighbor_index.py:62-79``,
    LSH impl ``lsh.py:331-383``). Ids already indexed are skipped
    (duplicate-insert warn+skip, ``impls/nn_index/faiss.py:590-598``) via a
    left-anti join — the distributed form of the reference's tee-and-filter
    (``lsh.py:352``)."""
    check_nonempty(new_docs, "update_index input")
    id_col = kw.get("id_col", "doc_id")
    genuinely_new = new_docs.join(
        sigs.select(F.col("doc_id").alias(id_col)).distinct(), id_col, "left_anti"
    )
    if genuinely_new.limit(1).isEmpty():
        return sigs
    return sigs.unionByName(compute_signatures(genuinely_new, cfg, **kw))


def remove_from_index(sigs: DataFrame, ids: list) -> DataFrame:
    """All-or-nothing remove — S3 (``interfaces/nearest_neighbor_index.py:
    81-94``): KeyError on any unknown id, index unmodified."""
    if not ids:
        return sigs
    spark = sigs.sparkSession
    ids_df = spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
    present = (
        ids_df.join(sigs.select("doc_id").distinct(), "doc_id", "left_semi").count()
    )
    if present != len(set(int(i) for i in ids)):
        raise KeyError("remove_from_index: some ids are not in the index")
    return sigs.join(ids_df, "doc_id", "left_anti")


def count(sigs: DataFrame) -> int:
    """Index cardinality — S6 (``interfaces/nearest_neighbor_index.py:
    120-124``)."""
    return sigs.count()
