"""The benchmark's workloads: seeded input generation, one timed unit of
work, and the correctness checks on each unit's output.

Every workload sees only the inputs generated here from ``--seed``; the
engine is driven through its public API (``plans.pipeline``,
``operators.ann``, ``__spark_entry__.queries()``).
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TAU = 0.8
SHINGLE_K = 4
TOPK = 5

# Sizes of each workload's generated input (also recorded in layers.json).
SIZES = {
    "dedup_full": {"files": 3000},
    "dedup_append": {"files": 3000, "append_share": 0.1},
    "ann_topk": {"vectors": 2000, "dims": 64, "clusters": 40},
    "small_queries": {"docs": 1000, "vectors": 600, "dims": 64},
}

LEAVES = (
    "near_dup_pairs_lsh",
    "dup_clusters",
    "substring_containment",
    "exact_dup_groups",
    "token_stats",
    "quality_scores",
    "ann_cosine_topk",
    "ann_rp_lsh_topk",
    "minhash_signatures",
    "simhash_hamming_pairs",
)

# small_queries leaf -> layer (module) whose work the leaf exercises.
# near_dup_pairs_lsh runs signatures -> candidates -> verify in one action
# and is reported as a leaf only.
LEAF_LAYER = {
    "minhash_signatures": "signatures",
    "exact_dup_groups": "dedup",
    "dup_clusters": "cluster",
    "substring_containment": "substrings",
    "ann_cosine_topk": "ann",
    "ann_rp_lsh_topk": "ann",
    "simhash_hamming_pairs": "ann",
    "token_stats": "text",
    "quality_scores": "text",
}


class CheckFailed(Exception):
    """A workload output failed a correctness check."""


def write_parquet_parts(pdf: pd.DataFrame, path: str, parts: int) -> None:
    """Write ``pdf`` as ``parts`` parquet files so Spark scans it with
    ``parts`` tasks, like a multi-file corpus table."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


# ---------------------------------------------------------------------------
# reference computations (independent of the engine)
# ---------------------------------------------------------------------------

def shingle_set(text: str) -> frozenset:
    toks = text.split()
    return frozenset(
        tuple(toks[i:i + SHINGLE_K]) for i in range(len(toks) - SHINGLE_K + 1)
    )


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def components(n_ids: np.ndarray, edges) -> dict:
    """doc_id -> min doc_id of its connected component (union-find)."""
    parent = {int(i): int(i) for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def norm_cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols: list, rows: list) -> list:
    """Order-insensitive, column-order-insensitive normal form of a rowset
    (floats to 9 significant digits)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def rowset_hash(cols: list, rows: list) -> str:
    h = hashlib.sha256()
    for r in norm_rows(cols, rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def exact_topk(vecs: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(neighbor index, cosine) of each row's k best other rows, ties by
    index ascending."""
    x = vecs.astype(np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    s = x @ x.T
    np.fill_diagonal(s, -np.inf)
    order = np.lexsort((np.broadcast_to(np.arange(len(x)), s.shape), -s), axis=1)
    idx = order[:, :k]
    return idx, np.take_along_axis(s, idx, axis=1)


def check_topk(pdf: pd.DataFrame, ids: np.ndarray, vecs: np.ndarray,
               k: int, what: str) -> None:
    """``pdf`` (query_id, neighbor_id, rank, score) must be the exact
    cosine top-k: scores within 1e-6 of the float64 reference, ranks 1..k
    in descending score order, and no neighbor left out that scores better
    than the k-th. (Scores are rounded to 6 decimals, so the order is
    judged on the unrounded reference.)"""
    pos = {int(v): i for i, v in enumerate(ids)}
    ref_idx, ref_s = exact_topk(vecs, k)
    x = vecs.astype(np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    if len(pdf) != len(ids) * k:
        raise CheckFailed(f"{what}: {len(pdf)} rows, expected {len(ids) * k}")
    for q, g in pdf.sort_values(["query_id", "rank"]).groupby("query_id"):
        qi = pos[int(q)]
        nb = np.array([pos[int(n)] for n in g["neighbor_id"]])
        got = g["score"].to_numpy(np.float64)
        true = x[nb] @ x[qi]
        if list(g["rank"]) != list(range(1, k + 1)):
            raise CheckFailed(f"{what}: ranks of query {q} are {list(g['rank'])}")
        if np.any(np.abs(got - true) > 1e-6):
            raise CheckFailed(f"{what}: query {q} scores differ from cosine")
        if ref_s[qi][-1] > got[-1] + 1e-6:
            raise CheckFailed(f"{what}: query {q} misses a better neighbor")
        if np.any(np.diff(true) > 1e-9):
            raise CheckFailed(f"{what}: query {q} neighbors out of order")


def recall_at_k(pdf: pd.DataFrame, ids: np.ndarray, vecs: np.ndarray, k: int) -> float:
    ref_idx, _ = exact_topk(vecs, k)
    truth = {int(ids[i]): {int(ids[j]) for j in ref_idx[i]} for i in range(len(ids))}
    hit = sum(
        int(n) in truth[int(q)]
        for q, n in zip(pdf["query_id"], pdf["neighbor_id"])
    )
    return hit / (len(ids) * k)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    name = ""
    items = 0  # inputs processed by one unit (for items_per_s)
    parts: dict = {}  # named sub-walls of the last unit, for the log
    # Untimed units per process before measuring. The first unit of a fresh
    # JVM pays Python-worker start-up, codegen and JIT (2-3x a later unit)
    # and later ones keep drifting down a few percent each; the time budget
    # of a full measurement (4 + 22 runs per workload in 3420 s) affords one
    # warm-up unit, or more where units are short.
    warmup_units = 1

    def __init__(self, seed: int, work: str, cores: int):
        self.seed = seed
        self.work = work
        self.cores = cores

    def generate(self) -> None:
        """Write the seeded inputs under ``self.work`` (no Spark)."""

    def prepare(self, spark) -> None:
        """Set-up that needs the session (e.g. the prior index)."""

    def reset(self) -> None:
        """Forget state the engine carries between units (outside timing)."""

    def run(self, spark, tracer, i: int) -> object:
        """The timed unit; returns what ``check`` needs."""
        raise NotImplementedError

    def collect(self, spark, out) -> object:
        """Fetch a unit's output to the driver (outside the timed window)."""
        return out

    def cleanup(self, spark, i: int) -> None:
        """Drop a unit's on-disk output (outside the timed window)."""

    def check(self, fetched) -> dict:
        """Raise CheckFailed on a wrong output; return quality figures."""
        return {}

    def diagnostics(self, spark, out, i: int) -> dict:
        """Row counts of a traced unit's output tables; their extra jobs
        run after the unit's timed window, outside its job groups."""
        return {}


class _DedupBase(Workload):
    def generate(self) -> None:
        from smqtk_indexing_spark.sources.files import synth_files

        files, truth = synth_files(n=SIZES[self.name]["files"], seed=self.seed)
        self.files = files
        texts = files["content"].tolist()
        self.shingles = [shingle_set(t) for t in texts]
        # reference pairs: planted truth pairs that really are near-dups
        ref = [
            (int(a), int(b)) for a, b in zip(truth["a"], truth["b"])
            if jaccard(self.shingles[a], self.shingles[b]) >= TAU
        ]
        if not ref:
            raise CheckFailed("generator planted no reference pairs")
        self.ref_pairs = ref
        first: dict = {}
        self.exact_edges = []
        for i, t in enumerate(texts):
            j = first.setdefault(t, i)
            if j != i:
                self.exact_edges.append((j, i))

    def _config(self):
        from dataclasses import fields

        from smqtk_indexing_spark.config import DedupConfig

        # run the corpus-scale branch (materialized hot-bucket stage) at
        # benchmark size, where the config has that switch
        names = {f.name for f in fields(DedupConfig)}
        kw = {"ranked_persist_min_docs": 0} if "ranked_persist_min_docs" in names else {}
        return DedupConfig(**kw)

    def collect(self, spark, res):
        return (res.tables["dup_pairs"].select("a", "b", "jaccard").toPandas(),
                res.tables["clusters"].select("doc_id", "cluster_id").toPandas())

    def check(self, fetched) -> dict:
        pairs, clusters = fetched
        n = len(self.files)
        # every emitted pair is a true near-duplicate
        for a, b, j in zip(pairs["a"], pairs["b"], pairs["jaccard"]):
            ref = jaccard(self.shingles[int(a)], self.shingles[int(b)])
            if ref < TAU or abs(ref - float(j)) > 1e-6:
                raise CheckFailed(
                    f"{self.name}: pair ({a},{b}) has jaccard {j}, recomputed "
                    f"{ref}; must equal it and be >= {TAU}")
        # every doc exactly once; cluster_id = min doc_id of its component
        ids = clusters["doc_id"].to_numpy(np.int64)
        if len(ids) != n or len(np.unique(ids)) != n or set(ids.tolist()) != set(range(n)):
            raise CheckFailed(f"{self.name}: clusters do not cover each doc once")
        edges = list(zip(pairs["a"], pairs["b"])) + self.exact_edges
        comp = components(np.arange(n), edges)
        got = dict(zip(ids.tolist(), clusters["cluster_id"].tolist()))
        bad = [d for d in range(n) if got[d] != comp[d]]
        if bad:
            raise CheckFailed(
                f"{self.name}: {len(bad)} docs with a wrong cluster_id, e.g. {bad[0]}")
        recall = sum(got[a] == got[b] for a, b in self.ref_pairs) / len(self.ref_pairs)
        if recall < 0.99:
            raise CheckFailed(f"{self.name}: pair recall {recall:.4f} < 0.99")
        return {"recall": recall}

    def _counts(self, res, n_files: int) -> dict:
        from pyspark.sql import functions as F

        from smqtk_indexing_spark.operators.candidates import band_buckets

        t = res.tables
        out = {"signatures.docs": n_files}
        if "member_map" in t:
            mm = t["member_map"]
            out["dedup.reps"] = mm.where(F.col("doc_id") == F.col("rep_id")).count()
        if "cand_pairs" in t:
            cand = t["cand_pairs"]
            out["candidates.pairs"] = cand.count()
            out["verify.fetch_docs"] = (
                cand.select(F.col("a").alias("d"))
                .union(cand.select(F.col("b").alias("d"))).distinct().count())
        if "dup_pairs" in t:
            out["verify.pairs_out"] = t["dup_pairs"].count()
        if "clusters" in t:
            cl = t["clusters"]
            out["cluster.clusters"] = cl.select("cluster_id").distinct().count()
            out["cluster.edges"] = out.get("verify.pairs_out", 0) + (
                n_files - out.get("dedup.reps", n_files))
        if "signatures" in t and "bands" in t["signatures"].columns:
            cfg = self._config()
            sizes = band_buckets(t["signatures"], cfg).groupBy("band_hash").count()
            row = sizes.agg(F.sum("count"), F.max("count"),
                            F.sum((F.col("count") > cfg.bucket_cap).cast("int"))
                            ).collect()[0]
            out["candidates.bucket_rows"] = int(row[0] or 0)
            out["candidates.bucket_max"] = int(row[1] or 0)
            out["candidates.buckets_over_cap"] = int(row[2] or 0)
        if out.get("candidates.pairs"):
            out["verify.yield"] = out.get("verify.pairs_out", 0) / out["candidates.pairs"]
        return out


class DedupFull(_DedupBase):
    name = "dedup_full"
    # with two, the three timed units still ran ~5-10% faster each
    # (5.7 -> 5.5 -> 5.1 s)
    warmup_units = 4

    def generate(self) -> None:
        super().generate()
        self.items = len(self.files)
        self.input = os.path.join(self.work, "files.parquet")
        write_parquet_parts(self.files, self.input, 2 * self.cores)

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"out{i}")

    def run(self, spark, tracer, i: int):
        from smqtk_indexing_spark.plans.pipeline import run_dedup

        shutil.rmtree(self._out(i), ignore_errors=True)
        return run_dedup(spark, spark.read.parquet(self.input), self._config(),
                         out_dir=self._out(i))

    def cleanup(self, spark, i: int) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)

    def diagnostics(self, spark, res, i: int) -> dict:
        out = self._counts(res, self.items)
        out["pipeline.stages"] = len(res.lineage)
        return out


class DedupAppend(_DedupBase):
    name = "dedup_append"

    def generate(self) -> None:
        super().generate()
        n = len(self.files)
        rng = np.random.default_rng(self.seed + 1)
        share = SIZES[self.name]["append_share"]
        new = np.sort(rng.choice(n, size=max(1, int(n * share)), replace=False))
        self.items = len(new)
        is_new = np.zeros(n, bool)
        is_new[new] = True
        self.all_path = os.path.join(self.work, "all.parquet")
        self.prior_path = os.path.join(self.work, "prior.parquet")
        self.new_path = os.path.join(self.work, "new_ids.parquet")
        write_parquet_parts(self.files, self.all_path, 2 * self.cores)
        write_parquet_parts(self.files[~is_new], self.prior_path, 2 * self.cores)
        pq.write_table(pa.table({"doc_id": pa.array(new, pa.int64())}),
                       self.new_path)

    def prepare(self, spark) -> None:
        from smqtk_indexing_spark.plans.pipeline import run_dedup

        # the prior index lives on disk, as a batch job leaves it
        self.prior = run_dedup(spark, spark.read.parquet(self.prior_path),
                               self._config(),
                               out_dir=os.path.join(self.work, "prior_index"))

    def run(self, spark, tracer, i: int):
        from smqtk_indexing_spark.plans.pipeline import update_dedup

        return update_dedup(spark, spark.read.parquet(self.all_path),
                            spark.read.parquet(self.new_path), self.prior,
                            self._config())

    def diagnostics(self, spark, res, i: int) -> dict:
        out = self._counts(res, len(self.files))
        out["signatures.docs"] = self.items
        # verified pairs of this append only, not the carried-over prior ones
        out["verify.pairs_out"] -= self.prior.tables["dup_pairs"].count()
        if out.get("candidates.pairs"):
            out["verify.yield"] = out["verify.pairs_out"] / out["candidates.pairs"]
        return out


class AnnTopk(Workload):
    name = "ann_topk"

    def generate(self) -> None:
        s = SIZES[self.name]
        self.ids, self.vecs, pdf = clustered_vectors(
            s["vectors"], s["dims"], s["clusters"], self.seed)
        self.items = len(self.ids)
        self.input = os.path.join(self.work, "embeddings.parquet")
        write_parquet_parts(pdf, self.input, self.cores)

    def run(self, spark, tracer, i: int):
        from smqtk_indexing_spark.operators import ann

        emb = spark.read.parquet(self.input)
        with tracer.span("ann.exact"):
            exact = ann.cosine_topk(emb, k=TOPK).toPandas()
        with tracer.span("ann.rp_lsh"):
            approx = ann.rp_lsh_topk(emb, k=TOPK).toPandas()
        return exact, approx

    def check(self, fetched) -> dict:
        exact, approx = fetched
        check_topk(exact, self.ids, self.vecs, TOPK, "cosine_topk")
        return {"recall": recall_at_k(approx, self.ids, self.vecs, TOPK)}


def clustered_vectors(n: int, dims: int, n_clusters: int, seed: int):
    """Unit-norm float32 vectors around ``n_clusters`` random centers,
    shaped like the embeddings test table (vec_id, embedding, label)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dims))
    label = rng.integers(0, n_clusters, n)
    v = centers[label] + 0.35 * rng.normal(size=(n, dims))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(v),
                        "label": label.astype(np.int32)})
    return ids, v, pdf


_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer the lake index shard page block cache plan node"
).split()


def documents(n: int, seed: int) -> pd.DataFrame:
    """Seeded documents table shaped like the sf test tables (doc_id,
    text, lang, source, n_chars), with planted exact copies, near copies
    (one token edited) and containments."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    n_base = int(n * 0.9)
    for _ in range(n_base):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    while len(texts) < n:
        src = texts[int(rng.integers(0, n_base))]
        kind = rng.integers(0, 3)
        if kind == 0:
            texts.append(src)
        elif kind == 1:
            toks = src.split()
            toks[int(rng.integers(0, len(toks)))] = f"tok{int(rng.integers(0, 999))}"
            texts.append(" ".join(toks))
        else:
            pre = " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), 5))
            texts.append(f"{pre} {src}")
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    langs = np.array(["en", "zh", "es", "fr", "de"])
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, 5, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


class SmallQueries(Workload):
    name = "small_queries"

    def generate(self) -> None:
        s = SIZES[self.name]
        self.dir = os.path.join(self.work, "sf")
        os.makedirs(self.dir, exist_ok=True)
        docs = documents(s["docs"], self.seed)
        self.texts = docs["text"].tolist()
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                       os.path.join(self.dir, "documents.parquet"))
        self.ids, self.vecs, emb = clustered_vectors(
            s["vectors"], s["dims"], 10, self.seed + 1)
        pq.write_table(pa.Table.from_pandas(emb, preserve_index=False),
                       os.path.join(self.dir, "embeddings.parquet"))
        self.items = len(docs) + len(emb)
        self.hashes: dict | None = None

    def reset(self) -> None:
        """Forget the entry's per-session memos so every unit recomputes
        (a repeat near_dup_pairs_lsh would otherwise be a dict lookup)."""
        import __spark_entry__ as E

        for _plan, caches in getattr(E, "_SUBSTR_MEMO", {}).values():
            for c in caches:
                c.unpersist()
        for name in ("_PAIR_MEMO", "_SUBSTR_MEMO", "_DEDUP_MEMO", "_DOCS_COUNT_MEMO"):
            getattr(E, name, {}).clear()

    def run(self, spark, tracer, i: int):
        import __spark_entry__ as E

        qs = E.queries()
        out = {}
        parts = {}
        for name in LEAVES:
            t0 = time.perf_counter()
            with tracer.span(f"leaf.{name}"):
                df = qs[name](spark, self.dir)
                out[name] = (df.columns, [tuple(r) for r in df.collect()])
            parts[name] = time.perf_counter() - t0
        self.parts = parts
        return out

    def check(self, fetched) -> dict:
        hashes = {name: rowset_hash(*fetched[name]) for name in LEAVES}
        if self.hashes is None:
            self._oracle_check(fetched)
            self.hashes = hashes
        diff = [n for n in LEAVES if hashes[n] != self.hashes[n]]
        if diff:
            raise CheckFailed(f"small_queries: rowsets changed between units: {diff}")
        cols, rows = fetched["ann_rp_lsh_topk"]
        approx = pd.DataFrame(rows, columns=cols)
        return {"recall": recall_at_k(approx, self.ids, self.vecs, TOPK)}

    def diagnostics(self, spark, out, i: int) -> dict:
        cols, rows = out["dup_clusters"]
        cid = cols.index("cluster_id")
        return {
            "signatures.docs": len(out["minhash_signatures"][1]),
            "verify.pairs_out": len(out["near_dup_pairs_lsh"][1]),
            "cluster.clusters": len({r[cid] for r in rows}),
            "substrings.pairs": len(out["substring_containment"][1]),
        }

    def _oracle_check(self, fetched) -> None:
        """Leaves with an ``oracle_sql()`` entry must equal it on the
        generated dir. The quadratic oracles (Jaccard self-join, its
        recursive closure, all-pairs cosine) take minutes in DuckDB at this
        size, so those three are compared against the same definitions
        computed here instead; the rest run in DuckDB."""
        import duckdb

        import __spark_entry__ as E

        oracles = E.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO %d" % self.cores)
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.dir, t + '.parquet')}'")
            for name in LEAVES:
                if name not in oracles or name in PY_ORACLES:
                    continue
                cols, rows = fetched[name]
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                if norm_rows(cols, rows) != norm_rows(ocols, res.fetchall()):
                    raise CheckFailed(f"small_queries: {name} differs from DuckDB")
        finally:
            con.close()
        pairs = near_dup_pairs(self.texts)
        cols, rows = fetched["near_dup_pairs_lsh"]
        if norm_rows(cols, rows) != norm_rows(["a", "b", "jaccard"], pairs):
            raise CheckFailed("small_queries: near_dup_pairs_lsh differs from "
                              "the exact Jaccard self-join")
        comp = components(np.arange(len(self.texts)), [(a, b) for a, b, _ in pairs])
        cols, rows = fetched["dup_clusters"]
        if norm_rows(cols, rows) != norm_rows(["doc_id", "cluster_id"], list(comp.items())):
            raise CheckFailed("small_queries: dup_clusters differs from the "
                              "components of the exact pairs")
        cols, rows = fetched["ann_cosine_topk"]
        check_topk(pd.DataFrame(rows, columns=cols), self.ids, self.vecs, TOPK,
                   "ann_cosine_topk")


# oracle_sql() leaves checked against in-process references, not DuckDB
PY_ORACLES = ("near_dup_pairs_lsh", "dup_clusters", "ann_cosine_topk")


def near_dup_pairs(texts: list) -> list:
    """All (a, b, jaccard) with a < b and 4-shingle Jaccard >= TAU: exact,
    since such a pair shares at least one shingle (inverted index)."""
    sets = [shingle_set(t) for t in texts]
    index: dict = {}
    for i, sh in enumerate(sets):
        for s in sh:
            index.setdefault(s, []).append(i)
    cand = {(a, b) for ids in index.values() for x, a in enumerate(ids)
            for b in ids[x + 1:]}
    out = []
    for a, b in sorted(cand):
        j = jaccard(sets[a], sets[b])
        if j >= TAU:
            out.append((a, b, j))
    return out


WORKLOADS = {w.name: w for w in (DedupFull, DedupAppend, AnnTopk, SmallQueries)}
