"""MRPT index as Spark operators — the reference's tree-ensemble ANN path
(``/root/reference/smqtk_indexing/impls/nn_index/mrpt.py``).

Reference lifecycle: draw (num_trees, d, depth) random bases
(``mrpt.py:239-242``), project all vectors in chunks (``mrpt.py:243-266``),
recursive median split per tree (``mrpt.py:333-343``), leaf membership
lists (``mrpt.py:349-360``); query descends every tree and unions leaf
members (``mrpt.py:452-471, 510-513``) then exact-ranks (``mrpt.py:473-496``).

Spark mapping (SURVEY.md §2.3 A5 + §2.4 J7): the model (bases + splits) is
a few hundred KB — broadcast; leaf assignment is one Arrow-batched matmul
pass; the "leaf membership list" is simply the (tree_id, leaf_id, vec_id)
DataFrame (A5's groupBy-collect is left un-aggregated, like the LSH bucket
table); query = equi-join on (tree_id, leaf_id) + exact re-rank + top-k.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smqtk_indexing_spark import kernels as K
from smqtk_indexing_spark.operators.ann import _pair_cosines, _ranked


class MrptModel:
    def __init__(self, bases: np.ndarray, splits: np.ndarray):
        self.bases = bases
        self.splits = splits

    def save(self, path: str) -> None:
        np.savez(path, bases=self.bases, splits=self.splits)

    @classmethod
    def load(cls, path: str) -> "MrptModel":
        z = np.load(path if path.endswith(".npz") else path + ".npz")
        return cls(z["bases"], z["splits"])


def mrpt_fit(
    emb: DataFrame,
    n_trees: int = 8,
    depth: int = 5,
    seed: int = 42,
    max_sample: int = 50_000,
    vec_col: str = "embedding",
) -> MrptModel:
    """Train on a sampled slice collected to the driver (the model is tiny;
    the reference trains on the full iterable, ``mrpt.py:239-266``)."""
    from smqtk_indexing_spark.operators.sample import bounded_sample

    # deterministic unbiased draw across partitions (not a limit() prefix)
    rows = bounded_sample(emb.select(vec_col), max_sample, seed=seed).collect()
    if not rows:
        raise ValueError("mrpt_fit: empty training input")
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    bases, splits = K.mrpt_fit(x, n_trees, depth, seed)
    return MrptModel(bases, splits)


def mrpt_leaf_table(
    emb: DataFrame,
    model: MrptModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, tree_id, leaf_id) — the exploded leaf-membership table."""
    spark = emb.sparkSession
    b = spark.sparkContext.broadcast((model.bases, model.splits))
    n_trees = model.bases.shape[0]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bases, splits = b.value
        for pdf in batches:
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            leaves = K.mrpt_leaves(x, bases, splits)  # (n, t)
            n = leaves.shape[0]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf[id_col].to_numpy(), n_trees),
                    "tree_id": np.tile(np.arange(n_trees, dtype=np.int32), n),
                    "leaf_id": leaves.reshape(-1),
                }
            )

    return emb.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    ).mapInPandas(gen, schema="vec_id long, tree_id int, leaf_id long")


def mrpt_topk(
    emb: DataFrame,
    model: MrptModel | None = None,
    k: int = 5,
    n_trees: int = 8,
    depth: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-queries MRPT top-k: candidates = pairs sharing >= 1 leaf across
    any tree (multi-tree union via distinct, ``mrpt.py:510-513``), exact
    cosine re-rank + window top-k (``mrpt.py:473-496``)."""
    model = model or mrpt_fit(emb, n_trees, depth, seed, vec_col=vec_col)
    leaves = mrpt_leaf_table(emb, model, id_col, vec_col)
    x = leaves.select(
        F.col("vec_id").alias("query_id"), "tree_id", "leaf_id"
    )
    y = leaves.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("tree_id").alias("t2"),
        F.col("leaf_id").alias("l2"),
    )
    cand = (
        x.join(y, (x.tree_id == y.t2) & (x.leaf_id == y.l2))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    pairs = _pair_cosines(cand, emb, id_col, vec_col, ("query_id", "neighbor_id"))
    return _ranked(pairs, F.col("cos"), k, ascending=False)
