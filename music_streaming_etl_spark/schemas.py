"""Explicit schemas for every table the engine touches.

The reference re-infers schemas at every CSV read
(``dags/music_streaming_etl_dags.py:118,152,174-176`` — ``pd.read_csv``
with inference). This engine never infers: schema-on-read with a fixed,
declared StructType, matching the reference's endpoint DDLs
(``sql/create_tables.sql:4-52``, Redshift DDL
``dags/music_streaming_etl_dags.py:260-279``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Music domain (reference) tables — SURVEY.md §1.1
# --------------------------------------------------------------------------

# users: sql/create_tables.sql:4-10
USERS = T.StructType(
    [
        T.StructField("user_id", T.IntegerType(), False),
        T.StructField("user_name", T.StringType(), True),
        T.StructField("user_age", T.IntegerType(), True),
        T.StructField("user_country", T.StringType(), True),
        T.StructField("created_at", T.DateType(), True),
    ]
)

# songs: sql/create_tables.sql:15-52 (CSV column `key` renamed song_key
# at load time — sql/load_data_into_rds.ipynb cell-8)
SONGS = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("track_id", T.StringType(), False),
        T.StructField("artists", T.StringType(), True),
        T.StructField("album_name", T.StringType(), True),
        T.StructField("track_name", T.StringType(), True),
        T.StructField("popularity", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("explicit", T.BooleanType(), True),
        T.StructField("danceability", T.DoubleType(), True),
        T.StructField("energy", T.DoubleType(), True),
        T.StructField("song_key", T.IntegerType(), True),
        T.StructField("loudness", T.DoubleType(), True),
        T.StructField("mode", T.IntegerType(), True),
        T.StructField("speechiness", T.DoubleType(), True),
        T.StructField("acousticness", T.DoubleType(), True),
        T.StructField("instrumentalness", T.DoubleType(), True),
        T.StructField("liveness", T.DoubleType(), True),
        T.StructField("valence", T.DoubleType(), True),
        T.StructField("tempo", T.DoubleType(), True),
        T.StructField("time_signature", T.IntegerType(), True),
        T.StructField("track_genre", T.StringType(), True),
    ]
)

# streams: header data/streams/streams1.csv:1 + parse directive
# dags/music_streaming_etl_dags.py:118
STREAMS = T.StructType(
    [
        T.StructField("user_id", T.IntegerType(), False),
        T.StructField("track_id", T.StringType(), False),
        T.StructField("listen_time", T.TimestampType(), False),
    ]
)

# Derived sink tables — SURVEY.md §1.2
GENRE_KPIS = T.StructType(
    [
        T.StructField("track_genre", T.StringType(), True),
        T.StructField("date", T.DateType(), True),
        T.StructField("listen_count", T.LongType(), True),
        T.StructField("avg_track_duration", T.DoubleType(), True),
        T.StructField("most_popular_track", T.StringType(), True),
    ]
)

HOURLY_KPIS = T.StructType(
    [
        T.StructField("hour", T.IntegerType(), True),
        T.StructField("unique_listeners", T.LongType(), True),
        T.StructField("top_artists", T.ArrayType(T.StringType()), True),
        T.StructField("track_diversity_index", T.DoubleType(), True),
    ]
)
