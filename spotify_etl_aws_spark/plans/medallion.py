"""Medallion pipeline runner (SURVEY.md §3, §7 step 6).

Replaces the reference's three Airflow DAGs + dbt/Cosmos DAG
(airflow/dags/{raw,bronze,silver,gold}_dag.py) with plain function
composition: each dbt model is a ``DataFrame -> DataFrame`` function and
the runner executes the stages in dependency order inside one Spark
session — no per-stage process boundary, no SQL-string templating, one
Catalyst plan per materialization.

Differences from the reference, on purpose:
- the gold export runs ONCE after the fact build (the reference's dbt
  post-hook re-exports after every core model, 4x —
  dbt_project.yml:41);
- the fact is written partitioned by ``playlist_id`` so downstream
  per-playlist reads prune partitions at scale;
- staging frames are cached: dims and the fact reuse them within the
  run (the reference re-reads parquet per model), and they are
  unpersisted once the gold writes finish;
- a stage's independent table landings run concurrently (four each in
  bronze, silver and gold, and the per-table merges of an incremental
  refresh), where the reference's tasks write one table after another.
  A stage raises, and its retry starts, only after every landing of
  that attempt has finished (``land_concurrently``);
- every re-read of a lake table passes its declared schema
  (``schemas.BRONZE_TABLES`` / ``SILVER_TABLES`` / ``GOLD_TABLES``)
  instead of inferring one from the files it just wrote. That saves a
  Spark job per read and keeps partition values as written: a string
  ``playlist_id`` such as ``"0012"`` would otherwise be inferred back
  as the int 12.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

T = TypeVar("T")

from ..operators.core import gold
from ..operators.quality import (
    check_not_null,
    check_references,
    check_unique,
    expect_all,
)
from ..operators.shred import shred
from ..operators.staging import silver_projection, stage
from ..schemas import (
    BRONZE_TABLES,
    FACT_PARTITION_COL,
    GOLD_TABLES,
    SILVER_TABLES,
)
from ..sources.readers import read_raw_playlists
from ..sources.sinks import write_parquet, write_partitioned


def run_with_retries(
    fn: Callable[[], T],
    name: str,
    retries: int,
    delay_s: float,
    sleeper: Callable[[float], None] = time.sleep,
) -> T:
    """Airflow-task-style retry envelope (the reference carries
    ``retries=1`` on raw/bronze/silver and ``retries=2`` on gold with a
    5-minute delay — airflow/dags/raw_dag.py:34-35, gold_dag.py:9-10).
    A stage that raises is re-run up to ``retries`` times after
    ``delay_s``; stages here are idempotent (mode=overwrite parquet
    writes, dbt-style full rebuilds), so a re-run after a partial
    failure converges exactly like an Airflow task retry. ``sleeper``
    is injectable for tests."""
    import sys

    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as exc:
            if attempt == retries:
                raise
            print(
                f"stage {name}: attempt {attempt + 1}/{retries + 1} failed "
                f"({type(exc).__name__}: {exc}); retrying in {delay_s}s",
                file=sys.stderr,
            )
            sleeper(delay_s)
    raise AssertionError("unreachable")


def land_concurrently(writes: list[Callable[[], None]]) -> None:
    """Run independent table landings as concurrent Spark jobs from a
    small driver pool. Returns, or raises the first failure in
    submission order, only once EVERY landing has finished — a retry
    must never overlap a landing still running from the failed
    attempt."""
    with ThreadPoolExecutor(max_workers=max(1, len(writes))) as pool:
        futures = [pool.submit(w) for w in writes]
    # leaving the block waited for all of them
    for f in futures:
        f.result()


def _read(
    spark: SparkSession, out_root: str, layer: str, name: str, schema: StructType
) -> DataFrame:
    return spark.read.schema(schema).parquet(os.path.join(out_root, layer, name))


def run_medallion(
    spark: SparkSession,
    raw_json_path: str,
    out_root: str,
    validate: bool = True,
    retries: int = 1,
    gold_retries: int = 2,
    retry_delay_s: float = 0.0,
    sleeper: Callable[[float], None] = time.sleep,
) -> dict[str, DataFrame]:
    """raw JSON -> bronze -> silver -> gold, all materialized as parquet
    under ``out_root``. Returns the gold DataFrames (re-read from disk so
    callers see exactly what was written).

    ``validate`` enforces the gold-layer contracts the reference only
    documents (schema.yml PK/FK prose, no dbt ``tests:``): dim primary
    keys unique + not-null, fact FKs resolving to their dims. Checked
    AFTER the write on the re-read frames — what is validated is what
    landed — raising if any contract fails, like a dbt build gated on
    its tests. The CONTRACT GATE IS NOT RETRIED: a failing contract is
    deterministic data, not a transient fault.

    ``retries``/``gold_retries`` mirror the reference's Airflow retry
    policy (1 for ingest stages, 2 for gold; its delay is 300 s —
    ``retry_delay_s`` defaults to 0 so library callers aren't stalled
    by default, pass 300 for strict parity)."""

    def _land(layer: str, frames: dict[str, DataFrame]) -> None:
        def write(name: str, df: DataFrame) -> Callable[[], None]:
            path = os.path.join(out_root, layer, name)
            if name == "fact_playlist_tracks":
                return lambda: write_partitioned(df, path, [FACT_PARTITION_COL])
            return lambda: write_parquet(df, path)

        land_concurrently([write(name, df) for name, df in frames.items()])

    def _bronze() -> None:
        _land("bronze", shred(read_raw_playlists(spark, raw_json_path)))

    run_with_retries(_bronze, "bronze", retries, retry_delay_s, sleeper)

    def _silver() -> None:
        _land(
            "silver",
            {
                name: silver_projection(
                    _read(spark, out_root, "bronze", name, schema), name
                )
                for name, schema in BRONZE_TABLES.items()
            },
        )

    run_with_retries(_silver, "silver", retries, retry_delay_s, sleeper)
    silver = {
        name: _read(spark, out_root, "silver", name, schema)
        for name, schema in SILVER_TABLES.items()
    }

    def _gold() -> None:
        stg = {name: df.cache() for name, df in stage(silver).items()}
        try:
            _land("gold", gold(stg))
        finally:
            for df in stg.values():
                df.unpersist()

    run_with_retries(_gold, "gold", gold_retries, retry_delay_s, sleeper)

    landed = {
        name: _read(spark, out_root, "gold", name, schema)
        for name, schema in GOLD_TABLES.items()
    }
    if validate:
        expect_all(gold_contracts(landed))
    return landed


_DIM_KEYS = {
    "dim_playlists": "playlist_id",
    "dim_albums": "album_id",
    "dim_artists": "artist_id",
}

# the fact's documented grain (see gold_contracts): one row per
# (playlist, position)
_FACT_KEYS = ["playlist_id", "track_number"]


def refresh_gold_incremental(
    spark: SparkSession,
    out_root: str,
    updates: dict[str, DataFrame],
    validate: bool = True,
) -> dict[str, DataFrame]:
    """MERGE-shaped incremental gold refresh: upsert changed rows into
    the landed gold tables instead of rebuilding them — the incremental
    story the reference's CREATE OR REPLACE full rebuild
    (dbt_project.yml:33-41) lacks.

    ``updates`` maps gold table names to gold-shaped update batches
    (changed + new rows only). Dims merge by primary key with a full
    (broadcast-scale) rewrite; the fact merges by its (playlist,
    position) grain and — being partitioned by ``playlist_id`` —
    rewrites ONLY the partitions the batch touches, via dynamic
    partition overwrite. Untouched fact partitions' files are not
    rewritten (pinned by test_medallion's file-mtime check).

    Returns the re-read gold frames; ``validate`` re-runs the same
    contract gate as the full build, so an upsert that would break a
    PK/FK contract fails exactly like a full rebuild would."""
    from ..sources.sinks import upsert_partitioned, upsert_unpartitioned

    unknown = sorted(set(updates) - set(GOLD_TABLES))
    if unknown:
        raise ValueError(f"unknown gold table {unknown[0]!r}")

    def merge(name: str, batch: DataFrame) -> Callable[[], None]:
        path = os.path.join(out_root, "gold", name)
        schema = GOLD_TABLES[name]
        if name == "fact_playlist_tracks":
            return lambda: upsert_partitioned(
                batch, path, _FACT_KEYS, FACT_PARTITION_COL, schema
            )
        return lambda: upsert_unpartitioned(batch, path, [_DIM_KEYS[name]], schema)

    land_concurrently([merge(name, batch) for name, batch in updates.items()])

    landed = {
        name: _read(spark, out_root, "gold", name, schema)
        for name, schema in GOLD_TABLES.items()
    }
    if validate:
        expect_all(gold_contracts(landed))
    return landed


def gold_contracts(gold_frames: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The reference's documented schema contracts as named checks
    (dbt/spotify_etl_aws/models/staging/schema.yml:8,27-40,46,57):
    each dim's PK unique + not-null, each fact FK resolving. The fact
    itself gets NO uniqueness contract — its grain is (playlist,
    position): the same track legitimately repeats across playlists
    (and even within one), and the reference declares no fact PK."""
    fact = gold_frames["fact_playlist_tracks"]
    checks: dict[str, DataFrame] = {}
    for name, pk in _DIM_KEYS.items():
        checks[f"{name}.{pk}_unique"] = check_unique(gold_frames[name], [pk])
        checks[f"{name}.{pk}_not_null"] = check_not_null(gold_frames[name], [pk])
    for name, pk in _DIM_KEYS.items():
        checks[f"fact_playlist_tracks.{pk}_references"] = check_references(
            fact, pk, gold_frames[name], pk
        )
    return checks
