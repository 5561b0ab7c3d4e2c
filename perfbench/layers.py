"""Per-layer metrics of a traced run.

The layers are the package's modules, named by the first component of a
span name (``spans.TARGETS``): ``sources``, ``sinks`` (``sources.sinks``),
``operators``, ``streaming``, ``plans``, plus ``queries`` (building a
declared query), ``spark`` (the engine forcing a built frame) and
``bench`` (the benchmark's own code between those calls).

Layer times are given as shares of the traced timed intervals, so a
layer that a workload never enters reads 0 rather than a constant time;
``render`` prints the same numbers in seconds per unit. Counts and
engine numbers are per timed unit.

The self shares of all layers sum to 1, since ``bench`` takes whatever
no package call covers. The check that the package's layers account for
the run is ``bench.layers_over_run_s``: their self time per unit inside
the intervals ``run_s`` times (a pass, or a rebuild; the upserts of
``lakehouse_day`` are timed apart from ``run_s``) over the traced
``run_s``. It should be within 10% of 1.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from collections import Counter, defaultdict

import eventlog
import spans

LAYERS = ["bench", "queries", "spark", "sources", "sinks", "operators", "streaming", "plans"]
SPANS = sorted({name for _, _, name in spans.TARGETS} | {"queries.build", "spark.exec"})
MEDALLION_PHASES = ["bronze", "silver", "gold", "contracts"]
# the root spans whose walls are run_s
RUN_ROOTS = ("bench.pass", "bench.rebuild")
ATTRIBUTION_LIMIT = 0.10
# shares of engine time, not of the traced wall time
ENGINE_FRACS = {"spark.jvm_gc.frac", "spark.python_worker.frac", "spark.core_busy_frac"}
SPARK_METRICS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "input_bytes": "B",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "dispatch_gap_s": "s",
}


def _phase(span: spans.Span) -> str | None:
    """Medallion phase of a call made by ``run_medallion``, from what it
    is and, for writes, from its output path."""
    if span.name in ("sources.read_raw_playlists", "operators.shred"):
        return "bronze"
    if span.name in ("operators.stage", "operators.gold"):
        return "gold"
    if span.name == "operators.quality.expect_all":
        return "contracts"
    path = (span.attrs.get("path") or "").replace(os.sep, "/")
    for phase in ("bronze", "silver", "gold"):
        if f"/{phase}/" in path:
            return phase
    return None


def _inclusive(under: set) -> tuple[dict, dict]:
    """Seconds inside each span name (outermost occurrence only) and in
    each medallion phase, over the spans ``under`` the timed roots."""
    by_name: dict = defaultdict(float)
    phases: dict = defaultdict(float)
    for s in under:
        p = s.parent
        while p is not None and p.name != s.name:
            p = p.parent
        if p is None:
            by_name[s.name] += s.duration
        if s.parent is not None and s.parent.name == "plans.medallion.run":
            ph = _phase(s)
            if ph:
                phases[ph] += s.duration
    return by_name, phases


def per_layer(tracer, run, session_start_s: float, eventlog_dir: str, cores: int) -> dict:
    """name -> (value, unit) for every per-layer metric."""
    roots = {s for s in tracer.spans if s.name.startswith("bench.") and s.parent is None}
    wall = sum(s.duration for s in roots)
    units = len(run.unit_s)
    layer_s: dict = defaultdict(float)
    in_run_s = 0.0  # package layers' self time inside the run_s roots
    for root in roots:
        for s, t in spans.exclusive_times(tracer.spans, root).items():
            layer_s[s.layer] += t
            if root.name in RUN_ROOTS and s.layer != "bench":
                in_run_s += t
    run_walls = [s.duration for s in roots if s.name in RUN_ROOTS]
    under = {s for s in tracer.spans if _under(s, roots)}
    by_name, phases = _inclusive(under)

    out: dict = {"session.start_s": (session_start_s, "s")}
    for layer in LAYERS:
        out[f"{layer}.self_frac"] = (layer_s.get(layer, 0.0) / wall, "frac")
    for name in SPANS:
        out[f"{name}.frac"] = (by_name.get(name, 0.0) / wall, "frac")
    for ph in MEDALLION_PHASES:
        out[f"plans.medallion.{ph}.frac"] = (phases.get(ph, 0.0) / wall, "frac")

    calls = Counter(s.name for s in under)
    out["queries.built"] = (calls["queries.build"] / units, "count")
    out["operators.lineage.cuts"] = (calls["operators.lineage.cut"] / units, "count")
    streams = calls["streaming.run_available_now"] + calls["streaming.run_cdc_upsert"]
    out["streaming.streams"] = (streams / units, "count")
    c = run.layer_counts
    rebuilds = max(c["lake_units"], 1)
    out["sinks.files_written"] = (c["files_written"] / rebuilds, "count")
    out["sinks.partition_dirs"] = (c["partition_dirs"] / rebuilds, "count")
    out["sinks.bytes_written"] = (c["bytes_written"] / rebuilds, "B")
    out["lake.bytes_per_input_byte"] = (
        c["bytes_written"] / rebuilds / run.input_bytes if c["lake_units"] else 0.0,
        "ratio",
    )
    out["lake.rewrite_bytes_per_update_byte"] = (
        c["rewrite_bytes"] / c["update_bytes"] if c["update_bytes"] else 0.0,
        "ratio",
    )

    offset_ms = (time.time() - time.perf_counter()) * 1e3
    windows = [(int(a * 1e3 + offset_ms), int(b * 1e3 + offset_ms) + 1) for a, b in run.windows]
    logs = glob.glob(os.path.join(eventlog_dir, "*"))
    engine = eventlog.summarize(eventlog.read_events(logs[0]), windows, cores) if logs else {}
    for key, unit in SPARK_METRICS.items():
        out[f"spark.{key}"] = (engine.get(key, 0) / units, unit)
    run_s = engine.get("executor_run_s", 0.0)
    out["spark.jvm_gc.frac"] = (engine.get("jvm_gc_s", 0.0) / run_s if run_s else 0.0, "frac")
    out["spark.python_worker.frac"] = (
        engine.get("python_worker_s", 0.0) / run_s if run_s else 0.0,
        "frac",
    )
    out["spark.core_busy_frac"] = (engine.get("core_busy_frac", 0.0), "frac")
    out["bench.traced_unit_s"] = (wall / units, "s")
    out["bench.layers_over_run_s"] = (
        in_run_s / len(run_walls) / statistics.median(run_walls) if run_walls else 0.0,
        "ratio",
    )
    return out


def _under(span, roots) -> bool:
    p = span.parent
    while p is not None:
        if p in roots:
            return True
        p = p.parent
    return False


def render(workload: str, run_s: float, table: dict) -> str:
    """The per-layer table in seconds per timed unit, and the check that
    the package's layers account for the traced ``run_s``."""
    unit_s = table["bench.traced_unit_s"][0]
    lines = [
        f"per-layer, {workload}: traced unit {unit_s:.3f} s, traced run_s {run_s:.3f} s",
        f"{'metric':44} {'share':>7} {'s/unit':>9}",
    ]
    for name, (value, unit) in table.items():
        if unit == "frac" and name not in ENGINE_FRACS:
            lines.append(f"{name:44} {value:7.3f} {value * unit_s:9.3f}")
        else:
            lines.append(f"{name:44} {value:>17.6g} {unit}")
    ratio = table["bench.layers_over_run_s"][0]
    verdict = "within" if abs(ratio - 1) <= ATTRIBUTION_LIMIT else "OUTSIDE"
    lines.append(
        f"package layers' self time = {ratio:.3f} x traced run_s, "
        f"{verdict} {ATTRIBUTION_LIMIT:.0%} of it"
    )
    return "\n".join(lines)
