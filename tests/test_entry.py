"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() keys
line up, a fast subset of queries matches DuckDB at sf0.001."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as E

FAST_ORACLE_QUERIES = [
    "sha256_rows",
    "exact_dup_groups",
    "token_stats",
    "quality_scores",
    "lang_id",
    "index_counts",
    "multimodal_features",
]


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"a", "b", "jaccard"}


def test_oracle_keys_subset_of_queries():
    qs = E.queries()
    os_ = E.oracle_sql()
    assert set(os_) <= set(qs)
    # the hash-dependent ones are intentionally rows-only
    assert "minhash_signatures" in qs and "minhash_signatures" not in os_


def test_whitespace_ratio_vertical_tab_matches_oracle(spark):
    # round-2 ADVICE: Java \s includes \x0B, RE2 \s does not — the shared
    # explicit class must keep the twins identical on \x0B-bearing docs
    from smqtk_indexing_spark.functions import text as TX

    doc = "a\x0bb \tc\x0b"
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    got = df.select(TX.whitespace_ratio("text").alias("r")).first()["r"]
    want = duckdb.execute(
        "SELECT length(regexp_replace(?, '[^ \t\n\x0B\f\r]', '', 'g'))::DOUBLE"
        " / length(?)",
        [doc, doc],
    ).fetchone()[0]
    assert got == want == 4 / 7


def _assert_matches_duckdb(spark, name, sf_dir):
    import math

    df = E.queries()[name](spark, sf_dir)
    cols = [c.lower() for c in df.columns]
    rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(E.oracle_sql()[name])
    ocols = [d[0].lower() for d in res.description]
    orows = res.fetchall()

    def norm(cs, rs):
        idx = sorted(range(len(cs)), key=lambda i: cs[i])
        def cell(v):
            return f"{v:.9g}" if isinstance(v, float) and not math.isnan(v) else str(v)
        return sorted(tuple(cell(r[i]) for i in idx) for r in rs)

    assert sorted(cols) == sorted(ocols)
    assert norm(cols, rows) == norm(ocols, orows)


@pytest.mark.parametrize("name", FAST_ORACLE_QUERIES)
def test_fast_queries_match_duckdb_sf0001(spark, name, sf001_dir):
    _assert_matches_duckdb(spark, name, sf001_dir)


@pytest.mark.parametrize("name", E.TOPK_CERTS)
def test_topk_certificates_match_duckdb_sf0001(spark, name, sf001_dir):
    # the seven top-k certificates share one body (_topk_certificate) and
    # one oracle: k rows per query, no score mismatch, no rank violation
    _assert_matches_duckdb(spark, name, sf001_dir)


@pytest.fixture(scope="module")
def hostile_emb_dir(tmp_path_factory):
    # 40x16 embeddings in the testdata schema: vector 1 copies vector 2
    # (tied scores) and vector 3 is all 1e30 (every distance from it ties)
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = np.random.default_rng(41).standard_normal((40, 16)).astype(np.float32)
    vecs[1] = vecs[2]
    vecs[3] = 1e30
    d = tmp_path_factory.mktemp("hostile_emb")
    table = pa.table(
        {
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array([0] * 40, pa.int32()),
        }
    )
    pq.write_table(table, d / "embeddings.parquet")
    return str(d)


@pytest.mark.parametrize(
    "name",
    ["ann_cosine_topk", "ann_euclidean_topk", "ann_hik_topk", "ann_balltree_topk"],
)
def test_exact_topk_ties_match_duckdb_on_hostile_embeddings(spark, name, hostile_emb_dir):
    # every exact top-k keeps the oracle's (score, neighbor_id) order on
    # exact ties; balltree's argpartition selection once kept others
    _assert_matches_duckdb(spark, name, hostile_emb_dir)


def _reset_memos():
    # the benchmark's per-unit reset: clear the four memo tables by name
    for _plan, caches in E._SUBSTR_MEMO.values():
        for c in caches:
            c.unpersist()
    for name in ("_PAIR_MEMO", "_SUBSTR_MEMO", "_DEDUP_MEMO", "_DOCS_COUNT_MEMO"):
        getattr(E, name).clear()


def _jobs(spark, group, query):
    """(Spark jobs, rows) of collecting ``query()`` under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = len(query().collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), rows


def test_pair_memo_materializes_once_and_resets(spark, sf001_dir):
    qs = E.queries()

    def lsh():
        return qs["near_dup_pairs_lsh"](spark, sf001_dir)

    def clusters():
        return qs["dup_clusters"](spark, sf001_dir)

    _reset_memos()
    lsh().collect()  # warm-up
    _reset_memos()
    warm, n_pairs = _jobs(spark, "memo_lsh", lsh)
    assert n_pairs == 28
    assert warm < 20  # one lazy checkpoint; an eager one in the build ran 20
    held = [c for _plan, caches in E._PAIR_MEMO.values() for c in caches]
    assert held and all(c.is_cached for c in held)

    hit, n_docs = _jobs(spark, "memo_cc_hit", clusters)
    _reset_memos()
    rebuilt, n_docs_rebuilt = _jobs(spark, "memo_cc_rebuild", clusters)
    assert n_docs == n_docs_rebuilt
    assert hit < rebuilt  # dup_clusters reads the memoized pairs

    # the cleared entry's caches were released by the next lookup, so no
    # stale persisted plan serves the rebuild: it costs the same jobs
    assert not any(c.is_cached for c in held)
    _reset_memos()
    again, _ = _jobs(spark, "memo_lsh_again", lsh)
    assert again == warm


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_and_count_match_spark_without_a_job(spark, sf, sf001_dir):
    # _read passes the parquet footer's schema and _docs_count reads the
    # footer's row count: both must equal what Spark infers and counts,
    # and neither may run a Spark job
    sf_dir = os.path.join(os.path.dirname(sf001_dir), sf)
    sc = spark.sparkContext
    group = f"footer_{sf}"
    E._DOCS_COUNT_MEMO.pop(sf_dir, None)
    sc.setJobGroup(group, group)
    try:
        read = {t: E._read(spark, f"{sf_dir}/{t}.parquet") for t in ("documents", "embeddings", "events")}
        n = E._docs_count(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    for t, df in read.items():
        assert df.schema == spark.read.parquet(f"{sf_dir}/{t}.parquet").schema, t
    assert n == spark.read.parquet(f"{sf_dir}/documents.parquet").count()
