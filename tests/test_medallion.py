"""Spotify-domain medallion golden tests (SURVEY.md §5 item 2).

Fixture raw JSON is generated in the exact shape of the reference's
checked-in sample (/root/reference/data/raw/playlist_*.json, shapes per
FIXTURES.md §A1) with the reference's measured cardinalities baked in:
50 track items, 26 distinct albums (50 album rows), 39 distinct artists
(65 artist rows: 6 tracks with 2 artists + 3 tracks with 4). Running
run_medallion end-to-end must reproduce every invariant verified on the
reference's own data:

- artists 65 -> 39 (dim_artists.sql:4-10 row-wise DISTINCT)
- albums  50 -> 26 (dim_albums.sql:3-9)
- fact rows == stg_tracks rows (fact_playlist_tracks.sql:18-20, 1:1
  after dim dedup)
- 'YYYY' / 'YYYY-MM' partial-date padding, malformed -> NULL
  (airflow/dags/dbt/.../stg_albums.sql:7-12)
- 'true'/'false' string -> boolean round-trip (stg_playlists.sql:10)
- bronze is all-string (bronze.py:202-206 schema-on-write parity)
- tracks keep only the FIRST artist (bronze.py:146) while the artists
  table keeps all (bronze.py:186-192)
- NULL-FK tracks silently drop out of the fact (inner join, not left)
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import types as T

from spotify_etl_aws_spark.plans.medallion import run_medallion

N_TRACKS = 50
N_ALBUMS = 26
N_ARTISTS = 39
# tracks 0-5 carry one extra artist, 6-8 carry three extras: 50 + 6 + 9 = 65
TWO_ARTIST_TRACKS = range(0, 6)
FOUR_ARTIST_TRACKS = range(6, 9)
N_ARTIST_ROWS = 65


def _artist(k: int) -> dict:
    return {"id": f"R{k % N_ARTISTS:02d}", "name": f"Artist {k % N_ARTISTS}"}


def _release_date(j: int) -> str:
    # all three precisions plus one malformed value, cycling over albums
    return [f"{1990 + j}", f"{1990 + j}-03", f"{1990 + j}-05-10", "unknown"][j % 4]


def _album(j: int) -> dict:
    return {
        "id": f"A{j:02d}",
        "name": f"Album {j}",
        "release_date": _release_date(j),
        "release_date_precision": ["year", "month", "day", "day"][j % 4],
        "total_tracks": j + 5,
        "album_type": "album",
        "artists": [_artist(j)],
    }


def _item(i: int, album: dict | None, artists: list[dict]) -> dict:
    return {
        "added_at": f"2024-01-{(i % 28) + 1:02d}T10:00:00Z",
        "is_local": False,
        "track": {
            "id": f"T{i:02d}",
            "name": f"Track {i}",
            "duration_ms": 1000 * i + 500,
            "popularity": i % 100,
            "explicit": i % 2 == 0,
            "track_number": i + 1,
            "disc_number": 1,
            "album": album,
            "artists": artists,
        },
    }


def _playlist_items() -> list[dict]:
    items = []
    for i in range(N_TRACKS):
        artists = [_artist(i)]
        if i in TWO_ARTIST_TRACKS:
            artists.append(_artist(i + 10))
        elif i in FOUR_ARTIST_TRACKS:
            artists += [_artist(i + 10), _artist(i + 20), _artist(i + 30)]
        items.append(_item(i, _album(i % N_ALBUMS), artists))
    return items


def _write_fixture(path: str, items: list[dict], playlist_id: str = "PL1") -> str:
    playlist = {
        "id": playlist_id,
        "name": "Fixture Playlist",
        "description": "golden medallion fixture",
        "owner": {"id": "owner-1"},
        "followers": {"total": 123},
        "public": True,
        "snapshot_id": "snap-1",
        "images": [{"url": "https://img/1", "height": 640, "width": 640}],
        "tracks": {"total": len(items), "limit": 100, "offset": 0, "items": items},
    }
    with open(path, "w") as f:
        json.dump([playlist], f)
    return path


@pytest.fixture(scope="module")
def gold_frames(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("medallion")
    raw = _write_fixture(str(root / "raw.json"), _playlist_items())
    return run_medallion(spark, raw, str(root / "lake")), str(root / "lake")


def test_golden_cardinalities(gold_frames, spark):
    gold, lake = gold_frames
    bronze_albums = spark.read.parquet(os.path.join(lake, "bronze", "albums"))
    bronze_artists = spark.read.parquet(os.path.join(lake, "bronze", "artists"))
    assert bronze_albums.count() == N_TRACKS  # one row per track occurrence
    assert bronze_artists.count() == N_ARTIST_ROWS
    assert gold["dim_albums"].count() == N_ALBUMS  # 50 -> 26
    assert gold["dim_artists"].count() == N_ARTISTS  # 65 -> 39
    assert gold["fact_playlist_tracks"].count() == N_TRACKS  # fact == tracks


def test_bronze_is_all_string(gold_frames, spark):
    _, lake = gold_frames
    for table in ["playlists", "tracks", "albums", "artists"]:
        df = spark.read.parquet(os.path.join(lake, "bronze", table))
        assert all(isinstance(f.dataType, T.StringType) for f in df.schema.fields), table


def test_first_artist_vs_all_artists(gold_frames, spark):
    _, lake = gold_frames
    tracks = spark.read.parquet(os.path.join(lake, "bronze", "tracks"))
    artists = spark.read.parquet(os.path.join(lake, "bronze", "artists"))
    # track 6 has 4 artists; tracks.artist_id keeps only the first
    t6 = tracks.filter("track_id = 'T06'").collect()[0]
    assert t6.artist_id == _artist(6)["id"]
    a6 = sorted(r.artist_id for r in artists.filter("track_id = 'T06'").collect())
    assert a6 == sorted(_artist(6 + d)["id"] for d in (0, 10, 20, 30))


def test_partial_date_padding(gold_frames):
    gold, _ = gold_frames
    dates = {
        r.album_id: r.album_release_date for r in gold["dim_albums"].collect()
    }
    assert dates["A00"] == dt.date(1990, 1, 1)  # 'YYYY'   -> Jan 1
    assert dates["A01"] == dt.date(1991, 3, 1)  # 'YYYY-MM'-> 1st of month
    assert dates["A02"] == dt.date(1992, 5, 10)  # full date
    assert dates["A03"] is None  # malformed -> NULL


def test_boolean_roundtrip(gold_frames):
    gold, _ = gold_frames
    pl = gold["dim_playlists"].collect()[0]
    assert pl.playlist_public is True and pl.playlist_followers == 123
    explicit = {
        r.track_id: r.track_explicit for r in gold["fact_playlist_tracks"].collect()
    }
    assert explicit["T00"] is True and explicit["T01"] is False


def test_retry_envelope_recovers_transient_stage_failure(spark, tmp_path):
    """Reference parity with the Airflow retry policy (retries=1 ingest,
    retries=2 gold, raw_dag.py:34-35 / gold_dag.py:9-10): a stage that
    fails transiently is re-run after the delay and the pipeline
    completes; with retries exhausted the original error surfaces."""
    from spotify_etl_aws_spark.plans.medallion import run_with_retries

    calls = {"n": 0}
    slept: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    assert (
        run_with_retries(flaky, "s", retries=2, delay_s=7.0, sleeper=slept.append)
        == "ok"
    )
    assert calls["n"] == 3 and slept == [7.0, 7.0]

    calls["n"] = 0
    with pytest.raises(OSError, match="transient"):
        run_with_retries(flaky, "s", retries=1, delay_s=0.0, sleeper=slept.append)

    # end-to-end: one transient gold-write failure, pipeline still lands
    import spotify_etl_aws_spark.plans.medallion as M

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    real_write = M.write_partitioned
    boom = {"armed": True}

    def flaky_write(df, path, cols):
        if boom["armed"]:
            boom["armed"] = False
            raise OSError("transient write")
        return real_write(df, path, cols)

    M.write_partitioned = flaky_write
    try:
        gold = run_medallion(spark, raw, str(tmp_path / "lake"))
    finally:
        M.write_partitioned = real_write
    assert gold["fact_playlist_tracks"].count() == N_TRACKS


def test_encoding_sniff_reads_latin1_fixture(spark, tmp_path):
    """Reference parity with bronze.py:48-63: a raw file in ISO-8859-1
    is read correctly WITHOUT an explicit encoding= argument — the
    driver-side sniff detects the non-UTF-8 bytes and falls back, and
    the full medallion run still reproduces the goldens with the
    non-ASCII name intact."""
    items = _playlist_items()
    playlist = {
        "id": "PL1",
        "name": "Playlist Café Müller",  # ISO-8859-1-only bytes
        "description": "aperçu",
        "owner": {"id": "owner-1"},
        "followers": {"total": 123},
        "public": True,
        "snapshot_id": "snap-1",
        "images": [{"url": "https://img/1", "height": 640, "width": 640}],
        "tracks": {"total": len(items), "limit": 100, "offset": 0, "items": items},
    }
    raw = str(tmp_path / "raw_latin1.json")
    with open(raw, "w", encoding="ISO-8859-1") as f:
        json.dump([playlist], f, ensure_ascii=False)

    from spotify_etl_aws_spark.sources.readers import sniff_encoding

    assert sniff_encoding(raw) == "ISO-8859-1"
    gold = run_medallion(spark, raw, str(tmp_path / "lake"))
    assert gold["dim_albums"].count() == N_ALBUMS
    assert gold["dim_artists"].count() == N_ARTISTS
    assert gold["fact_playlist_tracks"].count() == N_TRACKS
    name = gold["dim_playlists"].collect()[0].playlist_name
    assert name == "Playlist Café Müller"


def test_null_fk_drops_from_fact(spark, tmp_path):
    """A track with a NULL album FK survives staging but drops from the
    fact (inner join semantics, fact_playlist_tracks.sql:19-20).

    The same input also lands a NULL-PK row in dim_albums — faithful to
    the reference's dim SQL (SELECT DISTINCT, no null filter,
    dim_albums.sql:3-9) but in breach of the PK contract its schema.yml
    documents and never enforces. The validate gate must CATCH that
    breach; parity semantics are then asserted with the gate off."""
    items = [
        _item(0, _album(0), [_artist(0)]),
        _item(1, None, [_artist(1)]),  # no album -> NULL FK
    ]
    raw = _write_fixture(str(tmp_path / "raw.json"), items)
    with pytest.raises(ValueError, match="dim_albums.album_id_not_null"):
        run_medallion(spark, raw, str(tmp_path / "lake"))
    gold = run_medallion(
        spark, raw, str(tmp_path / "lake2"), validate=False
    )
    fact = gold["fact_playlist_tracks"]
    assert fact.count() == 1
    assert [r.track_id for r in fact.collect()] == ["T00"]


def test_incremental_gold_refresh_upserts_only_touched_partitions(
    spark, tmp_path
):
    """MERGE-shaped incremental refresh (plans/medallion.py:
    refresh_gold_incremental): a second run with changed rows updates
    only the touched fact partitions (untouched partition files are
    bit-identical on disk afterward), keys are upserted not duplicated,
    and the gold contracts still gate the result."""
    import os

    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.plans.medallion import refresh_gold_incremental

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    lake = str(tmp_path / "lake")
    gold = run_medallion(spark, raw, lake)
    fact = gold["fact_playlist_tracks"]
    n0 = fact.count()
    p1 = fact.first().playlist_id

    # wave 1: land a SECOND playlist partition (clone rows under a new
    # id) plus its dim row, in one upsert batch
    p2_fact = fact.withColumn("playlist_id", F.lit("p2"))
    p2_dim = (
        gold["dim_playlists"]
        .filter(F.col("playlist_id") == p1)
        .withColumn("playlist_id", F.lit("p2"))
    )
    landed = refresh_gold_incremental(
        spark,
        lake,
        {"fact_playlist_tracks": p2_fact, "dim_playlists": p2_dim},
    )
    fact2 = landed["fact_playlist_tracks"]
    assert fact2.count() == 2 * n0
    assert fact2.filter(F.col("playlist_id") == p1).count() == n0

    def _listing(pid: str) -> list[tuple[str, float, int]]:
        d = os.path.join(lake, "gold", "fact_playlist_tracks", f"playlist_id={pid}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_p1 = _listing(p1)

    # wave 2: update ONE row in p2 only — p1's partition files must not
    # be rewritten
    tn = p2_fact.first().track_number
    upd = p2_fact.filter(F.col("track_number") == tn).withColumn(
        "track_name", F.lit("UPDATED TITLE")
    )
    landed = refresh_gold_incremental(spark, lake, {"fact_playlist_tracks": upd})
    assert _listing(p1) == before_p1

    fact3 = landed["fact_playlist_tracks"]
    assert fact3.count() == 2 * n0  # upsert, not append
    got = fact3.filter(
        (F.col("playlist_id") == "p2") & (F.col("track_number") == tn)
    ).collect()
    assert [r.track_name for r in got] == ["UPDATED TITLE"]
    # p1 rows untouched
    assert fact3.filter(
        (F.col("playlist_id") == p1) & (F.col("track_name") == "UPDATED TITLE")
    ).count() == 0

    # dim upsert: change an artist's name; key count is unchanged and
    # contracts (PK unique) still pass
    some_artist = gold["dim_artists"].first()
    n_artists = gold["dim_artists"].count()
    dim_upd = spark.createDataFrame(
        [(some_artist.artist_id, "Renamed Artist")], "artist_id string, artist_name string"
    )
    landed = refresh_gold_incremental(spark, lake, {"dim_artists": dim_upd})
    dims = landed["dim_artists"]
    assert dims.filter(F.col("artist_id") == some_artist.artist_id).collect()[
        0
    ].artist_name == "Renamed Artist"
    assert dims.count() == n_artists

    # an upsert that breaks a contract is rejected by the same gate as
    # the full build: a fact row referencing a missing dim
    bad = p2_fact.limit(1).withColumn("playlist_id", F.lit("ghost"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="playlist_id_references"):
        refresh_gold_incremental(spark, lake, {"fact_playlist_tracks": bad})


def test_string_partition_key_survives_rebuild_and_upsert(spark, tmp_path):
    """A playlist id that looks like a number ("0012") lands, re-reads
    and merges as the string it is. Inferring the fact's schema reads
    the partition value back as the int 12, and an upsert of that
    playlist then lands a second ``playlist_id=12`` directory holding a
    duplicate of the updated row."""
    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.plans.medallion import refresh_gold_incremental

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items(), "0012")
    lake = str(tmp_path / "lake")
    fact = run_medallion(spark, raw, lake)["fact_playlist_tracks"]
    assert isinstance(fact.schema["playlist_id"].dataType, T.StringType)
    assert [r.playlist_id for r in fact.select("playlist_id").distinct().collect()] == [
        "0012"
    ]

    upd = (
        fact.filter(F.col("track_number") == 1)
        .withColumn("playlist_id", F.lit("0012"))
        .withColumn("track_name", F.lit("UPDATED TITLE"))
    )
    fact = refresh_gold_incremental(spark, lake, {"fact_playlist_tracks": upd})[
        "fact_playlist_tracks"
    ]
    fact_dir = os.path.join(lake, "gold", "fact_playlist_tracks")
    assert sorted(d for d in os.listdir(fact_dir) if "=" in d) == ["playlist_id=0012"]
    assert fact.count() == N_TRACKS
    updated = fact.filter(F.col("track_name") == "UPDATED TITLE").collect()
    assert [(r.playlist_id, r.track_number) for r in updated] == [("0012", 1)]


def test_run_medallion_releases_staging_cache(spark, tmp_path):
    """The gold stage caches its staging frames for the dims and the
    fact to share, and unpersists them once the gold writes finish.
    Compared by RDD id rather than count: the context cleaner may drop
    RDDs that earlier tests persisted while this one runs."""
    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    gold = run_medallion(spark, raw, str(tmp_path / "lake"))
    assert gold["fact_playlist_tracks"].count() == N_TRACKS
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_failed_landing_retries_only_after_its_attempt_drains(
    spark, tmp_path, monkeypatch
):
    """A stage's landings run concurrently. When one fails, the stage
    raises, and its retry starts, only once every other landing of that
    attempt has finished; the retried run then converges to the
    goldens."""
    import threading
    import time

    import spotify_etl_aws_spark.plans.medallion as M

    real_write = M.write_parquet
    lock = threading.Lock()
    attempt = 0
    in_flight: set[str] = set()
    at_retry: list[set[str]] = []
    done: list[tuple[int, str, float, float]] = []  # (attempt, path, start, end)
    failed_at: list[float] = []

    def tracked_write(df, path, *args):
        with lock:
            mine = attempt
            in_flight.add(path)
        start = time.monotonic()
        try:
            if "/silver/" in path and mine == 0:
                if path.endswith("albums"):
                    failed_at.append(time.monotonic())
                    raise OSError("transient landing")
                # keep the siblings running past the failure
                time.sleep(0.5)
            return real_write(df, path, *args)
        finally:
            with lock:
                in_flight.discard(path)
                done.append((mine, path, start, time.monotonic()))

    def sleeper(_delay: float) -> None:
        nonlocal attempt
        with lock:
            at_retry.append(set(in_flight))
            attempt += 1

    monkeypatch.setattr(M, "write_parquet", tracked_write)
    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    gold = run_medallion(spark, raw, str(tmp_path / "lake"), sleeper=sleeper)

    assert at_retry == [set()]  # one retry, nothing of attempt 0 running
    first = [d for d in done if d[0] == 0 and "/silver/" in d[1]]
    retried = [d for d in done if d[0] == 1]
    # the failure happened while sibling landings were still running ...
    assert any(
        s < failed_at[0] < e for _, p, s, e in first if not p.endswith("albums")
    )
    # ... and the retry's landings all started after they finished
    assert max(e for *_, e in first) <= min(s for _, _, s, _ in retried)
    assert {os.path.basename(p) for _, p, _, _ in retried if "/silver/" in p} == {
        "playlists",
        "tracks",
        "albums",
        "artists",
    }
    assert gold["dim_albums"].count() == N_ALBUMS
    assert gold["dim_artists"].count() == N_ARTISTS
    assert gold["fact_playlist_tracks"].count() == N_TRACKS


def _fixture_bronze(spark, tmp_path) -> dict:
    from spotify_etl_aws_spark.operators.shred import shred
    from spotify_etl_aws_spark.sources.readers import read_raw_playlists

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    return shred(read_raw_playlists(spark, raw))


def _fields(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    return [(f.name, f.dataType) for f in schema.fields]


def test_shred_output_matches_declared_bronze_schemas(spark, tmp_path):
    from spotify_etl_aws_spark.schemas import BRONZE_TABLES

    bronze = _fixture_bronze(spark, tmp_path)
    assert list(bronze) == list(BRONZE_TABLES)
    for name, df in bronze.items():
        assert _fields(df.schema) == _fields(BRONZE_TABLES[name]), name


def test_gold_models_match_declared_gold_schemas(spark, tmp_path):
    """The gold models' output is what ``GOLD_TABLES`` declares for the
    re-reads (names, order, types), with the fact's partition column
    moved last as Spark reads it back; a model change cannot drift
    from the read schema unnoticed."""
    from spotify_etl_aws_spark.operators.core import gold
    from spotify_etl_aws_spark.operators.staging import silver_projection, stage
    from spotify_etl_aws_spark.schemas import (
        FACT_PARTITION_COL,
        GOLD_TABLES,
        SILVER_TABLES,
    )

    bronze = _fixture_bronze(spark, tmp_path)
    silver = {name: silver_projection(df, name) for name, df in bronze.items()}
    for name, df in silver.items():
        assert _fields(df.schema) == _fields(SILVER_TABLES[name]), name
    built = gold(stage(silver))
    assert list(built) == list(GOLD_TABLES)
    for name, df in built.items():
        fields = _fields(df.schema)
        if name == "fact_playlist_tracks":
            fields = [f for f in fields if f[0] != FACT_PARTITION_COL] + [
                f for f in fields if f[0] == FACT_PARTITION_COL
            ]
        assert fields == _fields(GOLD_TABLES[name]), name


def test_session_sizes_partition_discovery_to_cores(spark):
    from spotify_etl_aws_spark.session import default_parallelism

    key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    assert spark.conf.get(key) == str(default_parallelism())
