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


@pytest.mark.parametrize("name", FAST_ORACLE_QUERIES)
def test_fast_queries_match_duckdb_sf0001(spark, name, sf001_dir):
    import math

    df = E.queries()[name](spark, sf001_dir)
    cols = [c.lower() for c in df.columns]
    rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf001_dir}/{t}.parquet'")
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
