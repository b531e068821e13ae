"""Per-layer tracing for the benchmark.

Three pieces, all outside the engine's own code:

- ``Tracer`` records driver-side spans around calls into the engine's
  layers and tags every Spark job a span launches with a job group
  ``pb<unit>/<layer>``. Spans nest; a layer's time is the self time of
  its spans (duration minus the part covered by child spans).
- ``instrument`` wraps the entry points of ``plans.pipeline`` from this
  file while a traced unit runs: each ``Checkpointer.run`` stage, the
  operator functions the pipeline calls, and every eager
  ``localCheckpoint`` issued from the pipeline module (``update_dedup``
  materializes its stages that way). Operators are lazy, so the span that
  matters is the one around the action; the wrappers add no action.
- ``read_event_log`` folds Spark's uncompressed event log into per-group
  executor metrics (jobs, stages, tasks, run/CPU/GC time, Python-worker
  time, shuffle, spill, bytes written).
"""

from __future__ import annotations

import ast
import contextlib
import functools
import json
import os
import sys
import time
from collections import Counter, defaultdict

GROUP_PREFIX = "pb"
UNIT_LAYER = "unit"  # jobs of a unit that ran outside every layer span

# Checkpointer stage -> layer (module under smqtk_indexing_spark.operators,
# or the pipeline itself). Unknown stages count as pipeline work.
STAGE_LAYER = {
    "signatures": "signatures",
    "member_map": "dedup",
    "hot_buckets": "candidates",
    "cand_pairs": "candidates",
    "dup_pairs": "verify",
    "substr_pairs": "substrings",
    "clusters": "cluster",
}

# Names plans.pipeline binds at import time -> layer. Wrapped where present.
PIPELINE_CALLS = {
    "compute_signatures": "signatures",
    "compute_shingle_arrays": "verify",
    "verify_pairs": "verify",
    "band_buckets": "candidates",
    "candidate_pairs": "candidates",
    "ranked_hot_buckets": "candidates",
    "connected_components": "cluster",
    "substring_pairs": "substrings",
}
DEDUP_CALLS = {"member_map_from_sigs": "dedup", "member_map": "dedup"}

# Assignment-target keywords -> layer, for eager localCheckpoint calls in
# the pipeline module (first match wins).
TARGET_LAYER = (
    ("cluster", "cluster"),
    ("cand", "candidates"),
    ("pair", "verify"),
    ("sig", "signatures"),
    ("mm", "dedup"),
    ("member", "dedup"),
)


def group_name(unit: int, layer: str) -> str:
    return f"{GROUP_PREFIX}{unit}/{layer}"


def parse_group(group: str | None) -> tuple[int, str] | None:
    """``pb<unit>/<layer>`` -> (unit, layer); None for foreign groups."""
    if not group or not group.startswith(GROUP_PREFIX) or "/" not in group:
        return None
    head, layer = group.split("/", 1)
    try:
        return int(head[len(GROUP_PREFIX):]), layer
    except ValueError:
        return None


class Tracer:
    """Spans plus job groups for one benchmark process.

    With ``enabled=False`` only the unit-level job group is set (so the
    per-unit job count can be checked) and no spans are kept."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._unit: int | None = None
        self._groups: dict[int, set] = defaultdict(set)

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        if group is not None:
            self._groups[self._unit].add(group)

    @contextlib.contextmanager
    def unit(self, unit: int):
        self._unit = unit
        self._set_group(group_name(unit, UNIT_LAYER))
        try:
            yield
        finally:
            self._set_group(None)
            self._unit = None

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled or self._unit is None:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"layer": layer, "unit": self._unit, "t0": time.perf_counter(),
               "t1": None, "child_s": 0.0, "depth": len(self._stack)}
        self._stack.append(rec)
        self._set_group(group_name(self._unit, layer))
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += rec["t1"] - rec["t0"]
            self._set_group(group_name(
                self._unit, parent["layer"] if parent else UNIT_LAYER))
            self.spans.append(rec)

    def unit_jobs(self, unit: int) -> int:
        st = self.sc.statusTracker()
        return sum(len(st.getJobIdsForGroup(g)) for g in self._groups[unit])


def span_summary(spans: list[dict], unit: int, wall_s: float) -> dict:
    """Per-layer self seconds of one unit, plus the share of the unit wall
    that top-level spans cover."""
    own = [s for s in spans if s["unit"] == unit]
    self_s: Counter = Counter()
    for s in own:
        self_s[s["layer"]] += (s["t1"] - s["t0"]) - s["child_s"]
    top = sum(s["t1"] - s["t0"] for s in own if s["depth"] == 0)
    return {"self_s": dict(self_s), "covered_s": top,
            "coverage": top / wall_s if wall_s > 0 else 0.0}


def _wrap(fn, tracer: Tracer, layer_of):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        layer = layer_of(*args, **kwargs)
        if layer is None:
            return fn(*args, **kwargs)
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return inner


@functools.lru_cache(maxsize=None)
def _assign_targets(path: str) -> tuple:
    """(first_line, last_line, target_text) of every assignment in a file."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            text = " ".join(ast.unparse(t) for t in node.targets)
            out.append((node.lineno, node.end_lineno, text))
    return tuple(out)


def layer_of_statement(path: str, line: int) -> str:
    """Layer of the innermost assignment enclosing ``path:line``, judged
    by the name it assigns to; ``pipeline`` when no keyword matches."""
    best = None
    for lo, hi, text in _assign_targets(path):
        if lo <= line <= hi and (best is None or hi - lo < best[1] - best[0]):
            best = (lo, hi, text)
    if best is not None:
        for key, layer in TARGET_LAYER:
            if key in best[2].lower():
                return layer
    return "pipeline"


@contextlib.contextmanager
def instrument(tracer: Tracer, dataframe_cls):
    """Wrap the pipeline's layer entry points for the duration of the block
    and restore them afterwards."""
    from smqtk_indexing_spark.plans import pipeline

    patches: list = []

    def patch(owner, name, layer_of):
        fn = getattr(owner, name, None)
        if fn is not None:
            patches.append((owner, name, fn))
            setattr(owner, name, _wrap(fn, tracer, layer_of))

    ck = getattr(pipeline, "Checkpointer", None)
    if ck is not None:
        patch(ck, "run", lambda self, stage, *a, **k:
              STAGE_LAYER.get(stage, "pipeline"))
    for name, layer in PIPELINE_CALLS.items():
        patch(pipeline, name, lambda *a, _l=layer, **k: _l)
    dedup_mod = getattr(pipeline, "X", None)
    for name, layer in DEDUP_CALLS.items():
        if dedup_mod is not None:
            patch(dedup_mod, name, lambda *a, _l=layer, **k: _l)

    pipeline_file = os.path.realpath(pipeline.__file__)

    def checkpoint_layer(self, eager=True, *a, **k):
        if not eager:
            return None
        caller = sys._getframe(2)  # inner() -> here; caller is two up
        if os.path.realpath(caller.f_code.co_filename) != pipeline_file:
            return None
        return layer_of_statement(pipeline_file, caller.f_lineno)

    patch(dataframe_cls, "localCheckpoint", checkpoint_layer)
    try:
        yield
    finally:
        for owner, name, fn in reversed(patches):
            setattr(owner, name, fn)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_RUN = "time to run Python workers"
EVENT_FIELDS = ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                "python_ms", "shuffle_write_b", "spill_b", "written_b")


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if not f.startswith(".") and not f.startswith("appstatus"):
                out.append(os.path.join(root, f))

    def order(p):  # rolling logs: events_<n>_<app>
        base = os.path.basename(p)
        parts = base.split("_")
        return (int(parts[1]) if base.startswith("events_") and
                parts[1].isdigit() else 0, p)

    return sorted(out, key=order)


def _kind(line: str) -> str | None:
    head = line[:64]
    for kind in ("SparkListenerTaskEnd", "SparkListenerJobStart",
                 "SparkListenerStageCompleted"):
        if f'"Event":"{kind}"' in head:
            return kind
    return None


def read_event_log(log_dir: str) -> dict[str | None, Counter]:
    """Group id -> Counter of ``EVENT_FIELDS``. A stage belongs to the
    group of the first job that lists it; tasks to their stage's group."""
    stage_group: dict[int, str | None] = {}
    agg: dict[str | None, Counter] = defaultdict(Counter)
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                kind = _kind(line)
                if kind is None:
                    continue
                e = json.loads(line)
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    agg[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    agg[stage_group.get(sid)]["stages"] += 1
                else:
                    c = agg[stage_group.get(e["Stage ID"])]
                    c["tasks"] += 1
                    tm = e.get("Task Metrics") or {}
                    c["run_ms"] += tm.get("Executor Run Time", 0)
                    c["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    c["gc_ms"] += tm.get("JVM GC Time", 0)
                    c["spill_b"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
                    c["shuffle_write_b"] += (tm.get("Shuffle Write Metrics")
                                             or {}).get("Shuffle Bytes Written", 0)
                    c["written_b"] += (tm.get("Output Metrics")
                                       or {}).get("Bytes Written", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == _PY_RUN:
                            c["python_ms"] += int(acc.get("Update") or 0)
    return dict(agg)


def by_unit_layer(agg: dict) -> dict[int, dict[str, Counter]]:
    """Regroup ``read_event_log`` output as unit -> layer -> Counter,
    dropping jobs outside the benchmark's unit groups."""
    out: dict[int, dict[str, Counter]] = defaultdict(dict)
    for g, c in agg.items():
        key = parse_group(g)
        if key is not None:
            out[key[0]][key[1]] = c
    return dict(out)
