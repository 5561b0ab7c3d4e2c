"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from a seed; the
same seed gives the same bytes.

- ``make_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``, one parquet file each, in the column
  layout of ``spotify_etl_aws_spark.schemas.TESTDATA_SCHEMAS`` (the
  layout the declared queries read). Sizes follow the TPC-H scale
  factor: ``scale=0.01`` gives 15k orders and ~60k line items.
- ``make_raw_playlists``: Spotify-shaped raw playlist JSON (FIXTURES.md
  A1), several playlists per file and many files, because a multiLine
  JSON scan is one task per file.
- ``make_update_batches``: gold-shaped upsert batches for
  ``refresh_gold_incremental`` (changed and new fact rows for a few
  playlists, plus changed dim rows), written as parquet, together with
  the gold state the batches must leave behind.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# relational + events/documents/embeddings tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the data spark stream batch table row column key value hash join "
    "merge sort group agg filter scan query window order line part "
    "customer vector small big fast slow"
).split()
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05

_US_PER_DAY = 86_400_000_000


def _days_to_ts(base: dt.date, days: np.ndarray) -> pa.Array:
    epoch = (base - dt.date(1970, 1, 1)).days
    return pa.array((epoch + days).astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def table_sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * scale)),
        "supplier": max(5, int(10_000 * scale)),
        "part": max(20, int(200_000 * scale)),
        "orders": max(50, int(1_500_000 * scale)),
        "events": max(100, int(1_000_000 * scale)),
        "users": max(10, int(15_000 * scale)),
        "documents": max(50, int(50_000 * scale)),
        "embeddings": max(50, min(2_000, int(50_000 * scale))),
    }


def make_tables(out_dir: str, scale: float, seed: int) -> dict[str, str]:
    """Write every table the declared queries read as
    ``{out_dir}/{name}.parquet``; return name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(scale)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )

    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )

    npart = n["part"]
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )

    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
            "o_orderdate": _days_to_ts(dt.date(1995, 1, 1), rng.integers(0, 2400, no)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )

    nl = 4 * no
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _days_to_ts(dt.date(1995, 1, 2), rng.integers(0, 2500, nl)),
        }
    )

    ne = n["events"]
    # event times: increasing, ~30 days total, microsecond resolution
    gaps = rng.exponential(30 * _US_PER_DAY / ne, ne).astype(np.int64)
    start = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            # near-duplicate of an earlier document (the dedup lanes' prey)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )

    paths = {}
    for name, table in t.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(table, paths[name])
    return paths


# ---------------------------------------------------------------------------
# raw playlist JSON (FIXTURES.md A1) and gold-shaped update batches
# ---------------------------------------------------------------------------

_B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
# malformed release dates: each normalizes to NULL in staging
MALFORMED_DATES = ["unknown", "n/a", ""]
MULTI_ARTIST_SHARE = 0.2


def _spotify_id(rng: np.random.Generator) -> str:
    # 22 base62 characters, led by a letter so partition-value type
    # inference can never read one as a number
    head = _B62[10 + int(rng.integers(0, 52))]
    return head + "".join(_B62[i] for i in rng.integers(0, 62, 21))


def _zipf_index(rng: np.random.Generator, n: int, a: float = 1.3) -> int:
    return int((rng.zipf(a) - 1) % n)


def _release_date(rng: np.random.Generator) -> tuple[str, str]:
    """(release_date, precision): all three precisions plus malformed."""
    y = int(rng.integers(1960, 2024))
    m = int(rng.integers(1, 13))
    d = int(rng.integers(1, 29))
    r = rng.random()
    if r < 0.25:
        return f"{y}", "year"
    if r < 0.5:
        return f"{y}-{m:02d}", "month"
    if r < 0.93:
        return f"{y}-{m:02d}-{d:02d}", "day"
    return MALFORMED_DATES[int(rng.integers(0, len(MALFORMED_DATES)))], "day"


def normalized_date(s: str) -> dt.date | None:
    """The gold value of a raw release date (staging's partial-date rule:
    'YYYY' -> Jan 1, 'YYYY-MM' -> day 1, 'YYYY-MM-DD' as is, else NULL)."""
    try:
        if len(s) == 4:
            return dt.date(int(s), 1, 1)
        if len(s) == 7:
            return dt.date(int(s[:4]), int(s[5:7]), 1)
        if len(s) == 10:
            return dt.date.fromisoformat(s)
    except ValueError:
        return None
    return None


def _catalog(rng: np.random.Generator, n_playlists: int) -> dict:
    """Artists, albums and tracks the playlists draw from. Albums and
    artists are reused with a skew, so the gold dims really deduplicate."""
    artists = [
        {"id": _spotify_id(rng), "name": f"Artist {i}"}
        for i in range(6 * n_playlists)
    ]
    albums = []
    for i in range(8 * n_playlists):
        date, precision = _release_date(rng)
        albums.append(
            {
                "id": _spotify_id(rng),
                "name": f"Album {i}",
                "release_date": date,
                "release_date_precision": precision,
                "total_tracks": int(rng.integers(1, 30)),
                "album_type": ("album", "single", "compilation")[int(rng.integers(0, 3))],
                "artists": [artists[_zipf_index(rng, len(artists))]],
            }
        )
    tracks = []
    for i in range(20 * n_playlists):
        album = albums[_zipf_index(rng, len(albums))]
        track_artists = list(album["artists"])
        if rng.random() < MULTI_ARTIST_SHARE:
            for _ in range(int(rng.integers(1, 4))):
                extra = artists[_zipf_index(rng, len(artists))]
                if extra not in track_artists:
                    track_artists.append(extra)
        tracks.append(
            {
                "id": _spotify_id(rng),
                "name": f"Track {i}",
                "duration_ms": int(rng.integers(90_000, 420_000)),
                "popularity": int(rng.integers(0, 101)),
                "explicit": bool(rng.random() < 0.2),
                "disc_number": 1,
                "album": album,
                "artists": track_artists,
            }
        )
    return {"artists": artists, "albums": albums, "tracks": tracks}


def _fact_row(playlist_id: str, position: int, track: dict, artists: dict) -> dict:
    """The gold fact row one playlist item lands as."""
    album = track["album"]
    first = track["artists"][0]["id"]
    return {
        "playlist_id": playlist_id,
        "track_id": track["id"],
        "track_name": track["name"],
        "track_number": position,
        "track_duration_ms": track["duration_ms"],
        "track_popularity": track["popularity"],
        "track_explicit": track["explicit"],
        "album_release_date": normalized_date(album["release_date"]),
        "album_name": album["name"],
        "album_id": album["id"],
        "artist_name": artists[first],
        "artist_id": first,
    }


def make_raw_playlists(
    out_dir: str,
    seed: int,
    n_playlists: int,
    tracks_per_playlist: int,
    playlists_per_file: int,
) -> dict:
    """Write the raw JSON files. Returns the raw size and the gold state
    a full rebuild must produce: playlists, albums and artists by id and
    fact rows by (playlist, position). Track numbers are playlist
    positions, the fact's documented (playlist, position) grain."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    cat = _catalog(rng, n_playlists)
    artist_names = {a["id"]: a["name"] for a in cat["artists"]}
    playlists = []
    fact: dict[tuple[str, int], dict] = {}
    for p in range(n_playlists):
        pid = _spotify_id(rng)
        items = []
        for pos in range(1, tracks_per_playlist + 1):
            track = dict(cat["tracks"][_zipf_index(rng, len(cat["tracks"]), 1.1)])
            track["track_number"] = pos
            day = int(rng.integers(1, 29))
            items.append(
                {
                    "added_at": f"2024-02-{day:02d}T{pos % 24:02d}:00:00Z",
                    "is_local": False,
                    "track": track,
                }
            )
            fact[(pid, pos)] = _fact_row(pid, pos, track, artist_names)
        playlists.append(
            {
                "id": pid,
                "name": f"Playlist {p}",
                "description": f"generated playlist {p}",
                "owner": {"id": f"owner-{p % 7}"},
                "followers": {"total": int(rng.integers(0, 1_000_000))},
                "public": bool(p % 3),
                "snapshot_id": _spotify_id(rng),
                "images": [{"url": f"https://img/{pid}", "height": 640, "width": 640}],
                "tracks": {
                    "total": len(items),
                    "limit": 100,
                    "offset": 0,
                    "items": items,
                },
            }
        )
    raw_bytes = 0
    for f in range(0, n_playlists, playlists_per_file):
        path = os.path.join(out_dir, f"playlists_{f // playlists_per_file:04d}.json")
        with open(path, "w") as fh:
            json.dump(playlists[f : f + playlists_per_file], fh)
        raw_bytes += os.path.getsize(path)

    items = [it["track"] for pl in playlists for it in pl["tracks"]["items"]]
    used_tracks = list({t["id"]: t for t in items}.values())
    album_ids = {t["album"]["id"] for t in items}
    artist_ids = {a["id"] for t in items for a in t["artists"]}
    return {
        "raw_bytes": raw_bytes,
        "n_items": len(items),
        "playlists": {
            pl["id"]: {
                "name": pl["name"],
                "description": pl["description"],
                "owner_id": pl["owner"]["id"],
                "followers": pl["followers"]["total"],
                "public": pl["public"],
                "n_items": len(pl["tracks"]["items"]),
            }
            for pl in playlists
        },
        "albums": {
            a["id"]: a for a in cat["albums"] if a["id"] in album_ids
        },
        "artists": {a: artist_names[a] for a in artist_ids},
        "fact": fact,
        "used_tracks": used_tracks,
    }


FACT_SCHEMA = pa.schema(
    [
        ("playlist_id", pa.string()),
        ("track_id", pa.string()),
        ("track_name", pa.string()),
        ("track_number", pa.int32()),
        ("track_duration_ms", pa.int32()),
        ("track_popularity", pa.int32()),
        ("track_explicit", pa.bool_()),
        ("album_release_date", pa.date32()),
        ("album_name", pa.string()),
        ("album_id", pa.string()),
        ("artist_name", pa.string()),
        ("artist_id", pa.string()),
    ]
)
DIM_SCHEMAS = {
    "dim_playlists": pa.schema(
        [
            ("playlist_id", pa.string()),
            ("playlist_name", pa.string()),
            ("playlist_description", pa.string()),
            ("playlist_owner_id", pa.string()),
            ("playlist_followers", pa.int32()),
            ("playlist_public", pa.bool_()),
        ]
    ),
    "dim_albums": pa.schema(
        [
            ("album_id", pa.string()),
            ("album_name", pa.string()),
            ("album_release_date", pa.date32()),
            ("album_total_tracks", pa.int32()),
        ]
    ),
    "dim_artists": pa.schema(
        [("artist_id", pa.string()), ("artist_name", pa.string())]
    ),
}


def make_update_batches(
    out_dir: str,
    seed: int,
    lake: dict,
    n_batches: int,
    playlists_per_batch: int,
    updates_per_playlist: int,
    appends_per_playlist: int,
) -> list[dict]:
    """Write ``n_batches`` upsert batches under ``out_dir/batch_<b>/<table>``.

    Each batch touches a few playlists: it changes the name and
    popularity of some of their rows and appends new positions. It also
    renames two artists, bumps one album's track count and one
    playlist's follower count. ``lake`` (from ``make_raw_playlists``) is
    advanced to the state after every batch, and each returned entry
    names the batch's files and the rows it changed."""
    rng = np.random.default_rng(seed + 1)
    used = lake["used_tracks"]
    fact = lake["fact"]
    artist_names = lake["artists"]
    playlist_ids = sorted(lake["playlists"])
    batches = []
    for b in range(n_batches):
        touched = sorted(
            playlist_ids[i]
            for i in rng.choice(len(playlist_ids), playlists_per_batch, replace=False)
        )
        rows = []
        changed = []
        for pid in touched:
            n = lake["playlists"][pid]["n_items"]
            for pos in sorted(
                int(x) for x in rng.choice(n, updates_per_playlist, replace=False) + 1
            ):
                row = dict(fact[(pid, pos)])
                row["track_name"] = f"{row['track_name']} (rev {b})"
                row["track_popularity"] = int(rng.integers(0, 101))
                rows.append(row)
                changed.append((pid, pos))
            # appended rows reuse tracks already in the lake, so every
            # FK still resolves to a dim row
            for pos in range(n + 1, n + appends_per_playlist + 1):
                track = used[_zipf_index(rng, len(used), 1.1)]
                rows.append(_fact_row(pid, pos, track, artist_names))
            lake["playlists"][pid]["n_items"] = n + appends_per_playlist
        for row in rows:
            fact[(row["playlist_id"], row["track_number"])] = row

        renamed = sorted(artist_names)[b * 2 : b * 2 + 2]
        for a in renamed:
            artist_names[a] = f"{artist_names[a]} [b{b}]"
        album_id = sorted(lake["albums"])[b % len(lake["albums"])]
        album = lake["albums"][album_id]
        album["total_tracks"] += 1
        pl_id = touched[0]
        lake["playlists"][pl_id]["followers"] += 100

        batch_dir = os.path.join(out_dir, f"batch_{b}")
        files = {
            "fact_playlist_tracks": pa.Table.from_pylist(rows, FACT_SCHEMA),
            "dim_artists": pa.Table.from_pylist(
                [{"artist_id": a, "artist_name": artist_names[a]} for a in renamed],
                DIM_SCHEMAS["dim_artists"],
            ),
            "dim_albums": pa.Table.from_pylist(
                [
                    {
                        "album_id": album_id,
                        "album_name": album["name"],
                        "album_release_date": normalized_date(album["release_date"]),
                        "album_total_tracks": album["total_tracks"],
                    }
                ],
                DIM_SCHEMAS["dim_albums"],
            ),
            "dim_playlists": pa.Table.from_pylist(
                [_dim_playlist_row(lake, pl_id)], DIM_SCHEMAS["dim_playlists"]
            ),
        }
        paths = {}
        nbytes = 0
        for name, table in files.items():
            d = os.path.join(batch_dir, name)
            os.makedirs(d, exist_ok=True)
            paths[name] = d
            _write(table, os.path.join(d, "part-0.parquet"))
            nbytes += os.path.getsize(os.path.join(d, "part-0.parquet"))
        batches.append(
            {
                "paths": paths,
                "bytes": nbytes,
                "n_rows": sum(t.num_rows for t in files.values()),
                "touched": touched,
                "changed": changed,
                "renamed": renamed,
            }
        )
    return batches


def _dim_playlist_row(lake: dict, pid: str) -> dict:
    info = lake["playlists"][pid]
    return {
        "playlist_id": pid,
        "playlist_name": info["name"],
        "playlist_description": info["description"],
        "playlist_owner_id": info["owner_id"],
        "playlist_followers": info["followers"],
        "playlist_public": info["public"],
    }
