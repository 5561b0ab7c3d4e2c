"""The workloads. Each runs in its own process, closed loop: one
client, one SparkSession, the next operation starts when the previous
one has returned.

``BENCHMARK.json`` lists ``stream_catchup`` and ``lakehouse_day``.
``query_mix`` runs the same way by hand; it is left out of the timed
set because its set-up (about 50 s per process on 4 cores, most of it
the cold first pass) does not fit the run budget, and ``bench.py``
already times those queries.

A workload is driven as: generate inputs, run ``WARMUP_UNITS`` untimed
units, run the timed units, then check outputs. The measuring time sets the
number of timed units, one per ``UNIT_NOMINAL_S`` seconds and at least
one, so every run of a given ``--seconds`` times the same work however
fast the machine is. ``Run`` collects what the metrics are computed
from.

- ``query_mix``: one unit is a pass over QUERY_MIX, each query built
  and forced with the ``noop`` sink; the seed permutes every pass. The
  first warm-up pass collects each result instead, and those results
  are checked (outside every timed interval) against ``expected.json``.
- ``stream_catchup``: one unit is a pass over STREAMS, each from a
  fresh checkpoint, catching up on ``events`` to AvailableNow
  termination, then forced with ``noop``. The last timed pass's results
  are checked against ``expected.json``.
- ``lakehouse_day``: one unit is a full ``run_medallion(validate=True)``
  rebuild into a fresh lake root (timed as ``run_s``), then
  ``UPSERT_BATCHES`` ``refresh_gold_incremental`` batches (each timed as
  an operation). The last unit's lake is checked against the state the
  generator says the rebuild and batches must leave.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
from collections import Counter, defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

import check
import gen

# Pinned here, not imported from bench.py, so a change to the repo's
# headline list cannot silently change a workload.
QUERY_MIX = [
    "flagship_revenue",
    "fact_order_lineitems",
    "q1_pricing_summary",
    "window_rank_topk",
    "join_asof",
    "sessionize_events",
    "dedup_minhash_lsh_pairs",
    "text_quality_score",
    "vector_cosine_topk",
    "udf_group_zscore",
    "multimodal_images",
    "q5_regional_revenue",
    "join_range_binned",
    "dedup_neardup_clusters",
    "corpus_curation",
    "dedup_embedding_cosine",
]
STREAMS = [
    "streaming_windowed_counts",
    "streaming_dedup_events",
    "streaming_stateful_user_totals",
    "streaming_cusum_watermarked",
    "streaming_cdc_upsert",
]

# The tables are the same in every run (expected.json is computed from
# them once); the run seed permutes the order of operations.
TABLE_SCALE = 0.01
TABLE_SEED = 42

# lakehouse_day: 128 playlists x 50 tracks, one playlist per raw file as
# in the source's raw zone; each upsert batch touches 8 playlists (5
# changed + 2 appended rows each) and 4 dim rows. Traced rebuilds at 32,
# 128, 256, 512 and 1024 playlists gave write_partitioned 7-13%, 18%, 23%,
# 26% and 28% of the rebuild and expect_all 10-16%, 18%, 15-17%, 15% and
# 15%. Each size adds little to a unit's fixed cost of many small Spark
# jobs, but two timed units of it, after a warm-up unit, must fit a run
# of about a minute on 4 vCPUs, busy host included: 128 is the largest
# size that does (runs of 55-67 s; with the host busy, 256 took 72-99 s
# and 128 70 s).
N_PLAYLISTS = 128
TRACKS_PER_PLAYLIST = 50
PLAYLISTS_PER_FILE = 1
UPSERT_BATCHES = 1
PLAYLISTS_PER_BATCH = 8
# The warm-up unit runs on a smaller lake of its own, which saves a few
# seconds a run. It has more than 32 playlist directories, Spark's threshold
# for listing a table's files with a job, as the timed lake has.
WARMUP_PLAYLISTS = 48

# Untimed units before the timed ones. One loads and compiles the code
# paths. The JVM keeps warming for a few units more (the first timed unit
# runs 10-20% slower than the next), but it does so alike in every run,
# and each further warm-up unit would push a run past a minute.
# query_mix's first warm-up unit collects results for the output check,
# so it runs a second.
WARMUP_UNITS = {"stream_catchup": 1, "lakehouse_day": 1, "query_mix": 2}
# Seconds of measuring time per timed unit, about one unit's length on
# 4 cores; ``--seconds`` divided by it is the number of timed units.
UNIT_NOMINAL_S = {"stream_catchup": 8.0, "lakehouse_day": 12.0, "query_mix": 15.0}

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


@dataclass
class Run:
    spark: object
    work: str
    workload: str
    seed: int
    seconds: float
    tracer: object = None
    sampler: object = None  # run.PssSampler, untraced runs only
    warmup_s: float = 0.0
    warmup_units: int = 0
    unit_s: list = field(default_factory=list)  # timed-unit walls (run_s)
    op_s: dict = field(default_factory=lambda: defaultdict(list))  # kind -> latencies
    windows: list = field(default_factory=list)  # (start, end) perf_counter
    attempted: int = 0
    failed: int = 0
    input_bytes: int = 0  # input consumed by one unit
    layer_counts: Counter = field(default_factory=Counter)  # traced runs only
    errors: list = field(default_factory=list)

    @property
    def n_units(self) -> int:
        return max(1, round(self.seconds / UNIT_NOMINAL_S[self.workload]))

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def root(self, name: str, timed: bool = True):
        """An interval measured with ``.wall``. A timed one is recorded
        as a window and, when tracing, as a root span that the layer
        attribution divides up."""
        return _Root(self, name, timed and self.tracer is not None, timed)


class _Root:
    def __init__(self, run: Run, name: str, traced: bool, timed: bool):
        self.run, self.name, self.traced, self.timed = run, name, traced, timed

    def __enter__(self):
        if self.timed and self.run.sampler is not None:
            self.run.sampler.resume()
        if self.traced:
            self.span = self.run.tracer.open(self.name)
            self.t0 = self.span.start
        else:
            self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.traced:
            self.run.tracer.close(self.span)
            self.t1 = self.span.end
        else:
            self.t1 = time.perf_counter()
        if self.timed:
            self.run.windows.append((self.t0, self.t1))
            if self.run.sampler is not None:
                self.run.sampler.pause()
        self.wall = self.t1 - self.t0


def _span(run: Run, name: str):
    return nullcontext() if run.tracer is None else run.tracer.span(name)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _orders(names: list[str], seed: int):
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def _expected() -> dict:
    with open(EXPECTED, encoding="utf-8") as fh:
        return json.load(fh)


def _build_and_force(run: Run, queries: dict, name: str, data: str):
    """One operation: build the query (its eager parts run here) and
    force it with the noop sink. Returns the built frame."""
    with _span(run, "queries.build"):
        df = queries[name](run.spark, data)
    with _span(run, "spark.exec"):
        df.write.format("noop").mode("overwrite").save()
    return df


def _passes(run: Run, queries: dict, data: str, orders, timed: bool) -> dict:
    """The warm-up or the timed passes; returns the last pass's frames
    by name."""
    last: dict = {}
    for _ in range(run.n_units if timed else WARMUP_UNITS[run.workload] - run.warmup_units):
        last = {}
        with run.root("bench.pass", timed) as unit:
            for name in next(orders):
                t0 = time.perf_counter()
                run.attempted += 1
                try:
                    last[name] = _build_and_force(run, queries, name, data)
                except Exception as exc:  # one broken query must not end the run
                    run.fail(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                if timed:
                    run.op_s[name].append(time.perf_counter() - t0)
                _log(f"{name} {time.perf_counter() - t0:.3f}s")
        if timed:
            run.unit_s.append(unit.wall)
        else:
            run.warmup_s += unit.wall
            run.warmup_units += 1
        _log(f"pass {unit.wall:.3f}s")
    return last


def _check_digests(run: Run, frames: dict, expected: dict) -> None:
    for name, pdf in frames.items():
        got = check.digest(pdf)
        if got != expected[name]:
            run.fail(f"{name}: output {got} != expected {expected[name]}")


def _table_bytes(paths: dict, names) -> int:
    return sum(os.path.getsize(paths[n]) for n in names)


def query_mix(run: Run) -> None:
    from spotify_etl_aws_spark.queries import all_queries

    queries = all_queries()
    data = os.path.join(run.work, "tables")
    paths = gen.make_tables(data, TABLE_SCALE, TABLE_SEED)
    run.input_bytes = _table_bytes(paths, paths)
    expected = _expected()
    orders = _orders(QUERY_MIX, run.seed)

    # the first warm-up pass collects each result for the output check;
    # the digest itself is computed outside the warm-up time
    collected = {}
    for name in next(orders):
        t0 = time.perf_counter()
        run.attempted += 1
        try:
            collected[name] = queries[name](run.spark, data).toPandas()
        except Exception as exc:
            run.fail(f"{name}: {type(exc).__name__}: {exc}")
        run.warmup_s += time.perf_counter() - t0
        _log(f"warm-up {name} {time.perf_counter() - t0:.3f}s")
    run.warmup_units = 1
    _check_digests(run, collected, expected)
    del collected

    _passes(run, queries, data, orders, timed=False)
    _passes(run, queries, data, orders, timed=True)


def stream_catchup(run: Run) -> None:
    from spotify_etl_aws_spark.queries import all_queries

    queries = all_queries()
    data = os.path.join(run.work, "tables")
    paths = gen.make_tables(data, TABLE_SCALE, TABLE_SEED)
    run.input_bytes = len(STREAMS) * _table_bytes(paths, ["events"])
    expected = _expected()
    orders = _orders(STREAMS, run.seed)

    _passes(run, queries, data, orders, timed=False)
    last = _passes(run, queries, data, orders, timed=True)
    _check_digests(run, {n: df.toPandas() for n, df in last.items()}, expected)


def _lake_unit(run: Run, raw: str, batches: list, lake_root: str, timed: bool):
    """One rebuild plus the upsert batches into ``lake_root``. When
    ``timed``, the rebuild wall goes to ``unit_s`` and each upsert's to
    ``op_s``. Returns whether the rebuild succeeded."""
    from spotify_etl_aws_spark.plans.medallion import (
        refresh_gold_incremental,
        run_medallion,
    )

    run.attempted += 1
    try:
        with run.root("bench.rebuild", timed) as unit:
            run_medallion(run.spark, raw, lake_root, validate=True)
    except Exception as exc:
        run.fail(f"run_medallion: {type(exc).__name__}: {exc}")
        return False
    _log(f"rebuild {unit.wall:.3f}s")
    if timed:
        run.unit_s.append(unit.wall)
        if run.tracer is not None:
            _count_lake(run, lake_root)
    for b in batches:
        updates = {name: run.spark.read.parquet(p) for name, p in b["paths"].items()}
        before = _listing(lake_root) if run.tracer is not None and timed else None
        run.attempted += 1
        try:
            with run.root("bench.upsert", timed) as op:
                refresh_gold_incremental(run.spark, lake_root, updates, validate=True)
        except Exception as exc:
            run.fail(f"refresh_gold_incremental: {type(exc).__name__}: {exc}")
            continue
        _log(f"upsert {op.wall:.3f}s")
        if timed:
            run.op_s["upsert"].append(op.wall)
            if before is not None:
                after = _listing(lake_root)
                rewritten = sum(
                    size for f, (size, mtime) in after.items() if before.get(f) != (size, mtime)
                )
                run.layer_counts["rewrite_bytes"] += rewritten
                run.layer_counts["update_bytes"] += b["bytes"]
    return True


def _listing(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _count_lake(run: Run, lake_root: str) -> None:
    files = _listing(lake_root)
    fact = os.path.join(lake_root, "gold", "fact_playlist_tracks")
    c = run.layer_counts
    c["files_written"] += len(files)
    c["bytes_written"] += sum(s for s, _ in files.values())
    c["partition_dirs"] += sum(1 for d in os.listdir(fact) if d.startswith("playlist_id="))
    c["lake_units"] += 1


def _make_lake(run: Run, name: str, n_playlists: int) -> tuple[str, dict, list]:
    raw = os.path.join(run.work, name, "raw")
    lake = gen.make_raw_playlists(
        raw, run.seed, n_playlists, TRACKS_PER_PLAYLIST, PLAYLISTS_PER_FILE
    )
    batches = gen.make_update_batches(
        os.path.join(run.work, name, "updates"),
        run.seed,
        lake,
        UPSERT_BATCHES,
        PLAYLISTS_PER_BATCH,
        updates_per_playlist=5,
        appends_per_playlist=2,
    )
    return raw, lake, batches


def lakehouse_day(run: Run) -> None:
    warm_raw, _, warm_batches = _make_lake(run, "warmup", WARMUP_PLAYLISTS)
    raw, lake, batches = _make_lake(run, "day", N_PLAYLISTS)
    # the gold dims' cardinalities after the rebuild; the batches only
    # modify existing dim keys, so they hold after the upserts too
    rebuilt = {
        "dim_playlists": len(lake["playlists"]),
        "dim_albums": len(lake["albums"]),
        "dim_artists": len(lake["artists"]),
    }
    run.input_bytes = lake["raw_bytes"]

    for i in range(WARMUP_UNITS[run.workload]):
        t0 = time.perf_counter()
        warm_root = os.path.join(run.work, f"lake-warmup-{i}")
        _lake_unit(run, warm_raw, warm_batches, warm_root, False)
        run.warmup_s += time.perf_counter() - t0
        shutil.rmtree(warm_root, ignore_errors=True)

    for i in range(run.n_units):
        lake_root = os.path.join(run.work, f"lake-{i}")
        if not _lake_unit(run, raw, batches, lake_root, True):
            return  # the rebuild failed, so there is no lake to go on with
        if i:
            shutil.rmtree(os.path.join(run.work, f"lake-{i - 1}"), ignore_errors=True)
    _check_lake(run, lake_root, lake, rebuilt, batches)


def _check_lake(run: Run, lake_root: str, lake: dict, rebuilt: dict, batches: list) -> None:
    """The rebuild's dim cardinalities are unchanged by the batches (they
    only modify existing keys), so the final dims must still match the
    generator's counts; every playlist must hold its expected number of
    fact rows (untouched ones exactly their original rows); every
    changed row and dim row must read back with its new values."""
    spark = run.spark
    gold = os.path.join(lake_root, "gold")
    got = {name: spark.read.parquet(os.path.join(gold, name)) for name in rebuilt}
    for name, n in rebuilt.items():
        count = got[name].count()
        if count != n:
            run.fail(f"{name}: {count} rows, expected {n}")
    fact = spark.read.parquet(os.path.join(gold, "fact_playlist_tracks"))
    per_playlist = {
        r["playlist_id"]: r["count"] for r in fact.groupBy("playlist_id").count().collect()
    }
    want = {pid: info["n_items"] for pid, info in lake["playlists"].items()}
    if per_playlist != want:
        bad = sorted(p for p in want if per_playlist.get(p) != want[p])[:3]
        run.fail(f"fact rows per playlist differ for {bad}")
    changed = {key for b in batches for key in b["changed"]}
    rows = {
        (r["playlist_id"], r["track_number"]): r
        for r in fact.select("playlist_id", "track_number", "track_name", "track_popularity")
        .collect()
        if (r["playlist_id"], r["track_number"]) in changed
    }
    for key in sorted(changed):
        exp = lake["fact"][key]
        r = rows.get(key)
        if r is None or (r["track_name"], r["track_popularity"]) != (
            exp["track_name"],
            exp["track_popularity"],
        ):
            run.fail(f"fact row {key} did not take its update")
    renamed = {a for b in batches for a in b["renamed"]}
    names = {
        r["artist_id"]: r["artist_name"]
        for r in got["dim_artists"].collect()
        if r["artist_id"] in renamed
    }
    for a in sorted(renamed):
        if names.get(a) != lake["artists"][a]:
            run.fail(f"dim_artists {a} did not take its rename")
    followers = {
        r["playlist_id"]: r["playlist_followers"] for r in got["dim_playlists"].collect()
    }
    if followers != {p: info["followers"] for p, info in lake["playlists"].items()}:
        run.fail("dim_playlists followers differ from the expected state")


WORKLOADS = {
    "query_mix": query_mix,
    "stream_catchup": stream_catchup,
    "lakehouse_day": lakehouse_day,
}
