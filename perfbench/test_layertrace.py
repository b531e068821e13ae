"""Tests of the benchmark's event-log parser and layer attribution.

    python3 -m pytest perfbench -q

The module fixture makes a tiny seeded traced run (a 300-file ``run_dedup``
and an ``update_dedup`` on top of it) with Spark's event log on, then
checks the parsed log against an independent full parse of the same file
and the spans against the unit walls.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import layertrace as LT  # noqa: E402

PIPELINE_LAYERS = {"signatures", "dedup", "candidates", "verify", "cluster"}


class FakeTracker:
    def __init__(self, jobs):
        self.jobs = jobs

    def getJobIdsForGroup(self, g):
        return self.jobs.get(g, [])


class FakeContext:
    def __init__(self):
        self.props = {}
        self.history = []
        self.jobs = {}

    def setLocalProperty(self, k, v):
        self.props[k] = v
        self.history.append(v)

    def statusTracker(self):
        return FakeTracker(self.jobs)


def test_parse_group():
    assert LT.parse_group(LT.group_name(3, "verify")) == (3, "verify")
    assert LT.parse_group("pb12/leaf.token_stats") == (12, "leaf.token_stats")
    for g in (None, "", "other", "pbx/verify", "pb3"):
        assert LT.parse_group(g) is None


def test_spans_nest_and_restore_groups():
    sc = FakeContext()
    tr = LT.Tracer(sc, enabled=True)
    with tr.unit(0):
        with tr.span("verify"):
            assert sc.props["spark.jobGroup.id"] == "pb0/verify"
            with tr.span("candidates"):
                time.sleep(0.02)
            assert sc.props["spark.jobGroup.id"] == "pb0/verify"
        assert sc.props["spark.jobGroup.id"] == "pb0/unit"
    assert sc.props["spark.jobGroup.id"] is None
    s = LT.span_summary(tr.spans, 0, wall_s=1.0)
    assert s["self_s"]["candidates"] >= 0.02
    total = sum(x["t1"] - x["t0"] for x in tr.spans if x["depth"] == 0)
    assert abs(sum(s["self_s"].values()) - total) < 1e-9
    sc.jobs = {"pb0/unit": [1], "pb0/verify": [2, 3], "pb0/candidates": [4]}
    assert tr.unit_jobs(0) == 4


def test_disabled_tracer_keeps_unit_group_only():
    sc = FakeContext()
    tr = LT.Tracer(sc, enabled=False)
    with tr.unit(5):
        with tr.span("verify"):
            assert sc.props["spark.jobGroup.id"] == "pb5/unit"
    assert tr.spans == []


def test_layer_of_statement(tmp_path):
    src = tmp_path / "p.py"
    src.write_text(
        "def f(a, b):\n"
        "    sigs_all = a.union(b).localCheckpoint(eager=True)\n"
        "    cand_new = a.join(\n"
        "        b, 'x'\n"
        "    ).localCheckpoint(eager=True)\n"
        "    res = {}\n"
        "    res['clusters'] = b.localCheckpoint(eager=True)\n"
        "    pairs = b.localCheckpoint(eager=True)\n"
        "    other = b.localCheckpoint(eager=True)\n"
    )
    p = str(src)
    assert LT.layer_of_statement(p, 2) == "signatures"
    assert LT.layer_of_statement(p, 5) == "candidates"
    assert LT.layer_of_statement(p, 7) == "cluster"
    assert LT.layer_of_statement(p, 8) == "verify"
    assert LT.layer_of_statement(p, 9) == "pipeline"


def test_instrument_restores_pipeline():
    from pyspark.sql.classic.dataframe import DataFrame

    from smqtk_indexing_spark.plans import pipeline

    before = (pipeline.Checkpointer.run, pipeline.compute_signatures,
              DataFrame.localCheckpoint)
    with LT.instrument(LT.Tracer(FakeContext(), True), DataFrame):
        assert pipeline.compute_signatures is not before[1]
    assert (pipeline.Checkpointer.run, pipeline.compute_signatures,
            DataFrame.localCheckpoint) == before


# ---------------------------------------------------------------------------
# a tiny traced run
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    from pyspark.sql import functions as F

    from smqtk_indexing_spark.config import DedupConfig
    from smqtk_indexing_spark.plans.pipeline import run_dedup, update_dedup
    from smqtk_indexing_spark.session import get_spark
    from smqtk_indexing_spark.sources.files import synth_files

    work = tmp_path_factory.mktemp("traced")
    events = str(work / "events")
    os.makedirs(events)
    spark = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "local"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    walls, jobs = {}, {}
    try:
        files, _ = synth_files(n=300, seed=7)
        df = spark.createDataFrame(files)
        new_ids = df.where(F.col("doc_id") % 10 == 3).select("doc_id")
        cfg = DedupConfig(ranked_persist_min_docs=0)
        tr = LT.Tracer(spark.sparkContext, enabled=True)
        with LT.instrument(tr, type(df)):
            with tr.unit(0):
                t0 = time.perf_counter()
                prior = run_dedup(spark, df.where(F.col("doc_id") % 10 != 3),
                                  cfg, out_dir=str(work / "prior"))
                walls[0] = time.perf_counter() - t0
            with tr.unit(1):
                t0 = time.perf_counter()
                update_dedup(spark, df, new_ids, prior, cfg)
                walls[1] = time.perf_counter() - t0
        jobs = {u: tr.unit_jobs(u) for u in walls}
    finally:
        spark.stop()
    return {"events": events, "spans": tr.spans, "walls": walls, "jobs": jobs}


def _full_parse(log_dir):
    """Reference: json-parse every line, count tasks/jobs per group."""
    lines = []
    for f in LT._event_files(log_dir):
        with open(f) as fh:
            lines += [json.loads(x) for x in fh]
    stage_group, tasks, njobs = {}, Counter(), Counter()
    for e in lines:
        if e["Event"] == "SparkListenerJobStart":
            g = e["Properties"].get("spark.jobGroup.id")
            njobs[g] += 1
            for s in e["Stage IDs"]:
                stage_group.setdefault(s, g)
    for e in lines:
        if e["Event"] == "SparkListenerTaskEnd":
            tasks[stage_group[e["Stage ID"]]] += 1
    return tasks, njobs, sum(e["Event"] == "SparkListenerTaskEnd" for e in lines)


def test_event_log_counts_match_full_parse(traced_run):
    agg = LT.read_event_log(traced_run["events"])
    tasks, njobs, n_task_end = _full_parse(traced_run["events"])
    assert sum(c["tasks"] for c in agg.values()) == n_task_end > 0
    for g, c in agg.items():
        assert c["tasks"] == tasks[g]
        assert c["jobs"] == njobs[g]


def test_layers_cover_each_unit(traced_run):
    units = LT.by_unit_layer(LT.read_event_log(traced_run["events"]))
    for u, wall in traced_run["walls"].items():
        layers = units[u]
        assert set(layers) <= PIPELINE_LAYERS | {LT.UNIT_LAYER, "pipeline"}
        assert PIPELINE_LAYERS <= set(layers), (u, sorted(layers))
        # the driver-side job count of the unit equals the log's
        assert sum(c["jobs"] for c in layers.values()) == traced_run["jobs"][u]
        assert all(c["python_ms"] >= 0 and c["run_ms"] >= 0 for c in layers.values())


def test_spans_within_unit_wall(traced_run):
    for u, wall in traced_run["walls"].items():
        s = LT.span_summary(traced_run["spans"], u, wall)
        assert 0 < s["covered_s"] <= wall
        assert sum(s["self_s"].values()) <= wall
        assert all(v >= 0 for v in s["self_s"].values())
        assert PIPELINE_LAYERS <= set(s["self_s"])
    # run_dedup's stage spans account for nearly all of its wall
    s0 = LT.span_summary(traced_run["spans"], 0, traced_run["walls"][0])
    assert s0["coverage"] >= 0.9
