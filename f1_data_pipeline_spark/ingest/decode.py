"""Silver layer: per-topic decode/flatten of bronze wire rows into the 8
typed entity tables (SURVEY §2.4 F1–F6, §3.1 step 4b).

Plan-shape rules baked in here:

- topic equality filter (P2) ALWAYS precedes the inflate UDF (U1) so the
  Python crossing sees only its topic's rows — Catalyst preserves authored
  filter-before-UDF order (SURVEY §4);
- all JSON decoding is `from_json` with declared schemas (PERMISSIVE:
  schema-mismatched documents go NULL and are filtered, matching the
  reference's log-and-skip, T10);
- all explodes are builtin generators (map/array explode, posexplode) —
  the whole silver build is one Catalyst plan per entity, no shuffles
  except the explicit lap merge / dedup aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from f1_data_pipeline_spark import schemas as sc
from f1_data_pipeline_spark.functions.scalars import (
    bool_parse,
    int_coerce,
    lap_time_seconds,
    numeric_coerce,
    parse_event_time,
    parse_iso_strict,
)
from f1_data_pipeline_spark.functions.udfs import raw_inflate
from f1_data_pipeline_spark.operators.dedup import dedup_first_wins
from f1_data_pipeline_spark.operators.merge import last_non_null_merge


def _topic(bronze: DataFrame, topic: str) -> DataFrame:
    # P2: pre-decode guard — cheap builtin filter ahead of any UDF
    return bronze.where(F.col("topic") == topic).withColumn(
        "event_time", parse_event_time("ts", "parsed_at")
    )


def decode_sessions(bronze: DataFrame) -> DataFrame:
    """SessionInfo → sessions (transformer.py:122-151); first-wins dedup by
    session_key (A1) made deterministic by the bronze ordinal."""
    j = _topic(bronze, "SessionInfo").select(
        "ordinal", F.from_json("payload", sc.SESSION_INFO_SCHEMA).alias("s")
    )
    rows = j.where(F.col("s").isNotNull()).select(
        "ordinal",
        F.coalesce(int_coerce("s.Key"), F.lit(0)).alias("session_key"),
        F.coalesce(int_coerce("s.MeetingKey"), F.lit(0)).alias("meeting_key"),
        F.coalesce("s.Name", F.lit("")).alias("name"),
        F.try_to_timestamp("s.StartDate").alias("date"),
        F.coalesce("s.CircuitShortName", F.lit("")).alias("circuit"),
        F.coalesce("s.Type", F.lit("")).alias("type"),
        F.coalesce("s.Location", F.lit("")).alias("location"),
        F.coalesce("s.CountryName", F.lit("")).alias("country_name"),
    )
    return dedup_first_wins(rows, ["session_key"], "ordinal").drop("ordinal")


def decode_drivers(bronze: DataFrame) -> DataFrame:
    """DriverList → drivers (transformer.py:92-118): explode driver-keyed
    map (F1), '' defaults (C12), first-wins dedup by driver_number."""
    j = _topic(bronze, "DriverList").select(
        "ordinal", F.from_json("payload", sc.DRIVER_LIST_SCHEMA).alias("m")
    )
    rows = (
        j.where(F.col("m").isNotNull())
        .select("ordinal", F.explode("m").alias("k", "v"))
        .withColumn("driver_number", F.col("k").try_cast("int"))
        .where(F.col("driver_number").isNotNull())
        .select(
            "ordinal",
            "driver_number",
            F.coalesce("v.Name", F.lit("")).alias("name"),
            F.coalesce("v.TeamName", F.lit("")).alias("team"),
            F.coalesce("v.Tla", F.lit("")).alias("country_code"),
            F.coalesce("v.TeamColour", F.lit("")).alias("team_color"),
            F.coalesce("v.FirstName", F.lit("")).alias("first_name"),
            F.coalesce("v.LastName", F.lit("")).alias("last_name"),
            F.coalesce("v.Tla", F.lit("")).alias("short_name"),
            F.coalesce("v.RacingNumber", F.lit("")).alias("broadcast_name"),
        )
    )
    return dedup_first_wins(rows, ["driver_number"], "ordinal").drop("ordinal")


def _timing_lines(bronze: DataFrame) -> DataFrame:
    """Driver-keyed timing entries from BOTH wire shapes: the live feed's
    ``{"Lines": {driver: entry}}`` envelope and the transformer path's bare
    ``{driver: entry}`` map (transformer.py:162 reads the map directly).
    Parsing with both schemas and coalescing costs one extra from_json on
    the same (already filtered) rows — no additional scan or shuffle."""
    j = _topic(bronze, "TimingData").select(
        "ordinal",
        "event_time",
        F.from_json(
            "payload", StructType([StructField("Lines", sc.TIMING_MAP_SCHEMA, True)])
        ).alias("p"),
        F.from_json("payload", sc.TIMING_MAP_SCHEMA).alias("root"),
    )
    lines_map = F.coalesce(F.col("p.Lines"), F.col("root"))
    return (
        j.where(lines_map.isNotNull())
        .select("ordinal", "event_time", F.explode(lines_map).alias("k", "v"))
        .withColumn("driver_number", F.col("k").try_cast("int"))
        .where(F.col("driver_number").isNotNull())
    )


def decode_timing_laps(bronze: DataFrame) -> DataFrame:
    """TimingData → per-lap rows where LastLapTime present
    (transformer.py:153-200): existence predicate (P5), lap-time parse (C7)."""
    return _timing_lines(bronze).where(F.col("v.LastLapTime").isNotNull()).select(
        "ordinal",
        "driver_number",
        F.coalesce(int_coerce("v.NumberOfLaps"), F.lit(0)).alias("lap_number"),
        lap_time_seconds("v.LastLapTime.Value").alias("lap_time"),
        lap_time_seconds("v.Sector1Time.Value").alias("sector_1_time"),
        lap_time_seconds("v.Sector2Time.Value").alias("sector_2_time"),
        lap_time_seconds("v.Sector3Time.Value").alias("sector_3_time"),
        int_coerce("v.BestSpeed.Value").alias("speed_trap"),
        F.col("event_time").alias("timestamp"),
    )


def decode_app_laps(bronze: DataFrame) -> DataFrame:
    """TimingAppData → partial lap rows (transformer.py:219-267): nested
    Lines explode (F5), Sector{i}/SpeedTrap fill-ins."""
    j = _topic(bronze, "TimingAppData").select(
        "ordinal",
        "event_time",
        F.from_json(
            "payload", StructType([StructField("Lines", sc.TIMING_APP_MAP_SCHEMA, True)])
        ).alias("p"),
    )
    return (
        j.where(F.col("p.Lines").isNotNull())
        .select("ordinal", "event_time", F.explode("p.Lines").alias("k", "drv"))
        .withColumn("driver_number", F.col("k").try_cast("int"))
        .where(F.col("driver_number").isNotNull() & F.col("drv.Lines").isNotNull())
        .select(
            "ordinal",
            "event_time",
            "driver_number",
            F.explode("drv.Lines").alias("lk", "lap"),
        )
        .select(
            "ordinal",
            "driver_number",
            F.coalesce(int_coerce("lap.NumberOfLaps"), F.lit(0)).alias("lap_number"),
            F.lit(None).cast("double").alias("lap_time"),
            lap_time_seconds("lap.Sector1.Value").alias("sector_1_time"),
            lap_time_seconds("lap.Sector2.Value").alias("sector_2_time"),
            lap_time_seconds("lap.Sector3.Value").alias("sector_3_time"),
            int_coerce("lap.SpeedTrap.Value").alias("speed_trap"),
            F.col("event_time").alias("timestamp"),
        )
    )


def decode_lap_data(bronze: DataFrame) -> DataFrame:
    """Merged lap table: TimingData rows + TimingAppData partials combined
    with last-non-null-wins per (driver_number, lap_number) — the reference's
    in-batch merge (transformer.py:236-249, A3) + COALESCE upsert
    (loader.py:262-278, K5) in one deterministic operator."""
    merged = last_non_null_merge(
        decode_timing_laps(bronze).unionByName(decode_app_laps(bronze)),
        keys=["driver_number", "lap_number"],
        order_col="ordinal",
    )
    return merged.select(
        "driver_number",
        "lap_number",
        "lap_time",
        "sector_1_time",
        "sector_2_time",
        "sector_3_time",
        "speed_trap",
        "timestamp",
    )


def decode_driver_positions(bronze: DataFrame) -> DataFrame:
    """TimingData Position field → classification positions
    (transformer.py:202-213)."""
    return _timing_lines(bronze).where(F.col("v.Position").isNotNull()).select(
        "driver_number",
        int_coerce("v.Position").alias("position"),
        F.col("event_time").alias("timestamp"),
    )


def decode_car_telemetry(bronze: DataFrame) -> DataFrame:
    """CarData.z → telemetry samples: inflate (U1) → double explode
    Entries/Cars (F2) → channel projection 0,2,3,4,5,45
    (monitor_car_telemetry.py:110-160)."""
    inflated = _topic(bronze, "CarData.z").select(
        "ordinal", "event_time", raw_inflate("payload").alias("json")
    )
    # no IS NOT NULL filters on the inflated json or d.Entries: Catalyst
    # copies such a filter's UDF below the projection, so the inflate UDF
    # would cross to Python twice per row; explode(NULL) yields no rows
    j = inflated.select(
        "ordinal", "event_time", F.from_json("json", sc.CAR_DATA_SCHEMA).alias("d")
    )
    return (
        j.select("ordinal", "event_time", F.explode("d.Entries").alias("e"))
        .select(
            "ordinal",
            "event_time",
            parse_iso_strict("e.Utc").alias("utc_timestamp"),
            F.explode("e.Cars").alias("driver_number", "car"),
        )
        .select(
            F.col("driver_number"),
            F.col("event_time").alias("timestamp"),
            "utc_timestamp",
            F.col("car.Channels")["0"].cast("int").alias("rpm"),
            F.col("car.Channels")["2"].cast("int").alias("speed"),
            F.col("car.Channels")["3"].cast("int").alias("gear"),
            F.col("car.Channels")["4"].alias("throttle"),
            F.col("car.Channels")["5"].alias("brake"),
            F.col("car.Channels")["45"].cast("int").alias("drs"),
        )
    )


def decode_car_positions(bronze: DataFrame) -> DataFrame:
    """Position.z → 3D track coords, from BOTH wire shapes:

    - compressed (monitor path): base64+deflate → ``{"Position": [frames]}``
      → explode frames/Entries (F3); z defaults 0 (transformer.py:287);
    - legacy uncompressed (transformer path, transformer.py:280-296): JSON
      ``{driver: [x, y, z]}`` map — positional array access (F6), z
      defaults 0 when the array has only 2 elements.

    Dispatch is a cheap prefix test (JSON payloads start with '{', base64
    never does), authored before the inflate UDF so only compressed rows
    cross to Python."""
    base = _topic(bronze, "Position.z")
    is_json = F.trim("payload").startswith("{")

    legacy = (
        base.where(is_json)
        .select(
            "event_time",
            F.explode(
                F.from_json("payload", "map<string, array<double>>")
            ).alias("driver_number", "xyz"),
        )
        .where(F.size("xyz") >= 2)
        .select(
            "driver_number",
            F.col("event_time").alias("timestamp"),
            F.lit(None).cast("timestamp").alias("utc_time"),
            F.lit(None).cast("string").alias("status"),
            F.element_at("xyz", 1).alias("x_coord"),
            F.element_at("xyz", 2).alias("y_coord"),
            # try_element_at: ANSI element_at throws on a 2-element array
            F.coalesce(F.try_element_at("xyz", F.lit(3)), F.lit(0.0)).alias("z_coord"),
        )
    )

    inflated = base.where(~is_json).select(
        "ordinal", "event_time", raw_inflate("payload").alias("json")
    )
    # unfiltered for the same one-crossing reason as decode_car_telemetry
    j = inflated.select(
        "ordinal", "event_time", F.from_json("json", sc.POSITION_SCHEMA).alias("d")
    )
    compressed = (
        j.select("ordinal", "event_time", F.explode("d.Position").alias("f"))
        .select(
            "ordinal",
            "event_time",
            parse_iso_strict("f.Timestamp").alias("utc_time"),
            F.explode("f.Entries").alias("driver_number", "e"),
        )
        .select(
            "driver_number",
            F.col("event_time").alias("timestamp"),
            "utc_time",
            F.col("e.Status").alias("status"),
            F.col("e.X").alias("x_coord"),
            F.col("e.Y").alias("y_coord"),
            F.coalesce(F.col("e.Z"), F.lit(0.0)).alias("z_coord"),
        )
    )
    return compressed.unionByName(legacy)


def _race_control_rows(bronze: DataFrame) -> DataFrame:
    """Two-shape RaceControlMessages projection shared by the batch and
    streaming decoders: Messages as a list (snapshot) or dict keyed by
    message id (update), dispatched by parsing with both schemas and
    unioning (SURVEY §7.4); dict keys become msg_id, list entries get a
    synthetic ordinal-position id."""
    base = _topic(bronze, "RaceControlMessages")
    as_list = (
        base.select(
            "ordinal", "event_time", F.from_json("payload", sc.RC_LIST_SCHEMA).alias("p")
        )
        .where(F.col("p.Messages").isNotNull())
        .select("ordinal", "event_time", F.posexplode("p.Messages").alias("pos", "m"))
        .withColumn("msg_id", F.concat_ws("-", "ordinal", "pos"))
    )
    as_dict = (
        base.select(
            "ordinal", "event_time", F.from_json("payload", sc.RC_DICT_SCHEMA).alias("p")
        )
        .where(F.col("p.Messages").isNotNull())
        .select("ordinal", "event_time", F.explode("p.Messages").alias("msg_id", "m"))
    )

    def project(df: DataFrame) -> DataFrame:
        return df.select(
            "ordinal",
            F.col("event_time").alias("timestamp"),
            F.col("m.Utc").alias("utc_time"),
            F.coalesce("m.Message", F.lit("")).alias("message"),
            F.coalesce("m.Category", F.lit("")).alias("category"),
            F.coalesce("m.Flag", F.lit("")).alias("flag"),
            F.coalesce("m.Scope", F.lit("")).alias("scope"),
            int_coerce("m.Sector").alias("sector"),
            int_coerce("m.DriverNumber").alias("driver_number"),
            int_coerce("m.Lap").alias("lap_number"),
            "msg_id",
        )

    return project(as_list).unionByName(project(as_dict))


def decode_race_control(bronze: DataFrame) -> DataFrame:
    """Batch race-control decode: cross-batch dedup (A2) keeps the first
    arrival per msg_id (deterministic by ordinal)."""
    rows = _race_control_rows(bronze)
    return dedup_first_wins(rows, ["msg_id"], "ordinal").drop("ordinal")


def decode_race_control_stream(bronze: DataFrame) -> DataFrame:
    """Streaming-safe race-control decode: same projection but NO
    window-based dedup — streaming dedup is the caller's
    ``withWatermark + dropDuplicatesWithinWatermark`` (streaming.py), which
    bounds state (T6 divergence)."""
    return _race_control_rows(bronze).drop("ordinal")


def decode_weather(bronze: DataFrame) -> DataFrame:
    """WeatherData → typed weather rows: numeric coercions (C8/C9), strict
    bool parse for rainfall (C10 — transformer.py:403 treats only the string
    'true' as rain; '0'/'1' wire values become false, a parity quirk kept
    deliberately)."""
    j = _topic(bronze, "WeatherData").select(
        "ordinal", "event_time", F.from_json("payload", sc.WEATHER_SCHEMA).alias("w")
    )
    return j.where(F.col("w").isNotNull()).select(
        F.col("event_time").alias("timestamp"),
        numeric_coerce("w.AirTemp").alias("air_temp"),
        numeric_coerce("w.TrackTemp").alias("track_temp"),
        numeric_coerce("w.Humidity").alias("humidity"),
        numeric_coerce("w.Pressure").alias("pressure"),
        bool_parse("w.Rainfall").alias("rainfall"),
        int_coerce("w.WindDirection").alias("wind_direction"),
        numeric_coerce("w.WindSpeed").alias("wind_speed"),
    )


SILVER_BUILDERS = {
    "sessions": decode_sessions,
    "drivers": decode_drivers,
    "lap_data": decode_lap_data,
    "driver_positions": decode_driver_positions,
    "car_telemetry": decode_car_telemetry,
    "car_positions": decode_car_positions,
    "race_control": decode_race_control,
    "weather": decode_weather,
}


def build_silver(bronze: DataFrame) -> dict[str, DataFrame]:
    """All 8 silver entities from one bronze frame (§3.1's transform stage
    as pure Catalyst plans). Callers typically cache/persist bronze first if
    materializing several entities from one pass."""
    return {name: fn(bronze) for name, fn in SILVER_BUILDERS.items()}
