"""Explicit StructType schemas.

Two families (FIXTURES.md):

A. Spotify-domain schemas mirroring the reference's medallion stages —
   raw nested playlist JSON, all-string bronze/silver tables
   (reference creates every bronze column as TEXT:
   ``ingestion/ingestion/bronze/bronze.py:202-206``), and typed gold —
   the read schemas of every lake table the medallion lands.
B. The driver's TPC-H-ish testdata tables (TESTDATA.md), declared so
   reads never rely on runtime inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# A. Spotify domain
# ---------------------------------------------------------------------------

_artist = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
    ]
)

_album = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("release_date", T.StringType()),
        T.StructField("release_date_precision", T.StringType()),
        T.StructField("total_tracks", T.LongType()),
        T.StructField("album_type", T.StringType()),
        T.StructField("artists", T.ArrayType(_artist)),
    ]
)

_track = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("popularity", T.LongType()),
        T.StructField("explicit", T.BooleanType()),
        T.StructField("track_number", T.LongType()),
        T.StructField("disc_number", T.LongType()),
        T.StructField("album", _album),
        T.StructField("artists", T.ArrayType(_artist)),
    ]
)

_track_item = T.StructType(
    [
        # the reference drops added_at; we keep it — it is the natural
        # event-time column for the streaming layer (SURVEY.md §2.9)
        T.StructField("added_at", T.StringType()),
        T.StructField("is_local", T.BooleanType()),
        T.StructField("track", _track),
    ]
)

# Raw playlist object: the shape of one element of the JSON array the
# reference lands verbatim (reference: ingestion/ingestion/raw/raw.py:200-241,
# sample data/raw/playlist_*.json).
RAW_PLAYLIST = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("owner", T.StructType([T.StructField("id", T.StringType())])),
        T.StructField("followers", T.StructType([T.StructField("total", T.LongType())])),
        T.StructField("public", T.BooleanType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField(
            "images",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("url", T.StringType()),
                        T.StructField("height", T.LongType()),
                        T.StructField("width", T.LongType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "tracks",
            T.StructType(
                [
                    T.StructField("total", T.LongType()),
                    T.StructField("limit", T.LongType()),
                    T.StructField("offset", T.LongType()),
                    T.StructField("items", T.ArrayType(_track_item)),
                ]
            ),
        ),
    ]
)


def _all_string(cols: list[str]) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType()) for c in cols])


# Bronze/silver: every column string, matching the reference's
# schema-on-write TEXT tables (bronze.py:202; verified on checked-in parquet).
BRONZE_PLAYLISTS = _all_string(
    ["id", "name", "description", "owner_id", "followers", "public"]
)
BRONZE_TRACKS = _all_string(
    [
        "track_id",
        "name",
        "playlist_id",
        "album_id",
        "duration_ms",
        "popularity",
        "explicit",
        "track_number",
        "album_release_date",
        "artist_id",
    ]
)
BRONZE_ALBUMS = _all_string(
    ["album_id", "name", "release_date", "total_tracks", "track_id"]
)
BRONZE_ARTISTS = _all_string(["artist_id", "name", "track_id"])

BRONZE_TABLES = {
    "playlists": BRONZE_PLAYLISTS,
    "tracks": BRONZE_TRACKS,
    "albums": BRONZE_ALBUMS,
    "artists": BRONZE_ARTISTS,
}

# Silver is a projection of bronze (reference silver.py:76-81): same columns
# at v0 data; kept as an explicit per-table column list for parity.
SILVER_COLUMNS = {
    "playlists": ["id", "name", "description", "owner_id", "followers", "public"],
    "tracks": [
        "track_id",
        "name",
        "playlist_id",
        "album_id",
        "duration_ms",
        "popularity",
        "explicit",
        "track_number",
        "album_release_date",
        "artist_id",
    ],
    "albums": ["album_id", "name", "release_date", "total_tracks", "track_id"],
    "artists": ["artist_id", "name", "track_id"],
}

SILVER_TABLES = {
    name: T.StructType([BRONZE_TABLES[name][c] for c in cols])
    for name, cols in SILVER_COLUMNS.items()
}

# Gold: the typed dims + fact (operators/core.py over operators/staging.py
# casts), declared so re-reads of the landed lake never infer a schema.
# The fact is written partitioned by ``FACT_PARTITION_COL`` and Spark
# reads a partition column back LAST, so it is declared last here; a
# partition value is then read as written ("0012" stays a string, where
# inference would turn it into the int 12).
FACT_PARTITION_COL = "playlist_id"
GOLD_TABLES = {
    "dim_playlists": T.StructType(
        [
            T.StructField("playlist_id", T.StringType()),
            T.StructField("playlist_name", T.StringType()),
            T.StructField("playlist_description", T.StringType()),
            T.StructField("playlist_owner_id", T.StringType()),
            T.StructField("playlist_followers", T.IntegerType()),
            T.StructField("playlist_public", T.BooleanType()),
        ]
    ),
    "dim_albums": T.StructType(
        [
            T.StructField("album_id", T.StringType()),
            T.StructField("album_name", T.StringType()),
            T.StructField("album_release_date", T.DateType()),
            T.StructField("album_total_tracks", T.IntegerType()),
        ]
    ),
    "dim_artists": T.StructType(
        [
            T.StructField("artist_id", T.StringType()),
            T.StructField("artist_name", T.StringType()),
        ]
    ),
    "fact_playlist_tracks": T.StructType(
        [
            T.StructField("track_id", T.StringType()),
            T.StructField("track_name", T.StringType()),
            T.StructField("track_number", T.IntegerType()),
            T.StructField("track_duration_ms", T.IntegerType()),
            T.StructField("track_popularity", T.IntegerType()),
            T.StructField("track_explicit", T.BooleanType()),
            T.StructField("album_release_date", T.DateType()),
            T.StructField("album_name", T.StringType()),
            T.StructField("album_id", T.StringType()),
            T.StructField("artist_name", T.StringType()),
            T.StructField("artist_id", T.StringType()),
            T.StructField(FACT_PARTITION_COL, T.StringType()),
        ]
    ),
}

# ---------------------------------------------------------------------------
# B. Driver testdata (TESTDATA.md)
# ---------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # Logical schema: ts is an event-time timestamp. Fixture generations
    # have stored ts as either timestamp[us] (read directly with this
    # schema) or timestamp[ns] (which Spark's vectorized reader refuses
    # to load as TimestampType — that read goes through
    # EVENTS_PARQUET_NANOS + spark.sql.legacy.parquet.nanosAsLong and an
    # explicit nanos->micros conversion). Readers sniff the footer and
    # dispatch: sources/readers.py:events_ts_unit.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TESTDATA_TABLES = list(TESTDATA_SCHEMAS)

# Physical read schema for events.parquet generations that store ts as
# INT64 timestamp[ns]: with spark.sql.legacy.parquet.nanosAsLong=true
# Spark maps that physical type to a plain long of epoch-nanoseconds,
# which readers then convert to a microsecond TimestampType (nanos div
# 1000). Unused when the file stores timestamp[us] (read directly).
EVENTS_PARQUET_NANOS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
