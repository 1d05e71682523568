"""Declared StructTypes — the schema contract (SURVEY §1.3).

The reference's schema system is two-tier: dynamic at transform time,
fixed DDL at load time (loader.py:46-155). Here the silver StructTypes are
the DDL tier; bronze/decoded-payload schemas are the parse tier and are fed
to ``from_json`` (PERMISSIVE — unknown keys are dropped, bad values go
NULL, bad documents go all-NULL, matching the log-and-skip semantics).

All fields nullable (models.py makes every field Optional).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(*fields: StructField) -> StructType:
    return StructType(list(fields))


def _f(name: str, dtype) -> StructField:
    return StructField(name, dtype, True)


S = StringType()

# --- decoded payload schemas (parse tier) ---------------------------------

# DriverList: map driver_number → attributes (transformer.py:97-113)
DRIVER_ATTRS = _s(
    _f("Name", S),
    _f("TeamName", S),
    _f("Tla", S),
    _f("TeamColour", S),
    _f("FirstName", S),
    _f("LastName", S),
    _f("RacingNumber", S),
    _f("Line", IntegerType()),
)
DRIVER_LIST_SCHEMA = MapType(S, DRIVER_ATTRS)

# SessionInfo payload (transformer.py:122-151)
SESSION_INFO_SCHEMA = _s(
    _f("Key", S),
    _f("MeetingKey", S),
    _f("Name", S),
    _f("StartDate", S),
    _f("CircuitShortName", S),
    _f("Type", S),
    _f("Location", S),
    _f("CountryName", S),
)

# TimingData per-driver entry (transformer.py:153-215); value-bearing fields
# arrive as {"Value": "..."} sub-structs
_VALUE = _s(_f("Value", S))
TIMING_ENTRY = _s(
    _f("LastLapTime", _VALUE),
    _f("NumberOfLaps", S),
    _f("Sector1Time", _VALUE),
    _f("Sector2Time", _VALUE),
    _f("Sector3Time", _VALUE),
    _f("BestSpeed", _VALUE),
    _f("Position", S),
)
TIMING_MAP_SCHEMA = MapType(S, TIMING_ENTRY)

# TimingAppData: driver → Lines → lap entries (transformer.py:219-267)
APP_LAP_ENTRY = _s(
    _f("NumberOfLaps", S),
    _f("Sector1", _VALUE),
    _f("Sector2", _VALUE),
    _f("Sector3", _VALUE),
    _f("SpeedTrap", _VALUE),
)
APP_DRIVER_ENTRY = _s(_f("Lines", MapType(S, APP_LAP_ENTRY)))
TIMING_APP_MAP_SCHEMA = MapType(S, APP_DRIVER_ENTRY)

# CarData.z inflated: {"Entries":[{"Utc":…,"Cars":{"1":{"Channels":{"0":…}}}}]}
# (monitor_car_telemetry.py:122-147)
CAR_DATA_SCHEMA = _s(
    _f(
        "Entries",
        ArrayType(
            _s(_f("Utc", S), _f("Cars", MapType(S, _s(_f("Channels", MapType(S, DoubleType()))))))
        ),
    )
)

# Position.z inflated: {"Position":[{"Timestamp":…,"Entries":{"1":{X,Y,Z}}}]}
# (monitor_car_positions.py:119-137)
POSITION_SCHEMA = _s(
    _f(
        "Position",
        ArrayType(
            _s(
                _f("Timestamp", S),
                _f(
                    "Entries",
                    MapType(
                        S,
                        _s(_f("Status", S), _f("X", DoubleType()), _f("Y", DoubleType()), _f("Z", DoubleType())),
                    ),
                ),
            )
        ),
    )
)

# RaceControlMessages: Messages is a list (snapshot) OR dict keyed by msg id
# (updates) — two schemas, dispatched at decode (transformer.py:354 vs
# monitor_race_control.py:122-124)
RC_MESSAGE = _s(
    _f("Utc", S),
    _f("Category", S),
    _f("Flag", S),
    _f("Scope", S),
    _f("Sector", S),
    _f("Message", S),
    _f("DriverNumber", S),
    _f("Lap", S),
)
RC_LIST_SCHEMA = _s(_f("Messages", ArrayType(RC_MESSAGE)))
RC_DICT_SCHEMA = _s(_f("Messages", MapType(S, RC_MESSAGE)))

# WeatherData payload — all values strings on the wire (FIXTURES.md A0)
WEATHER_SCHEMA = _s(
    _f("AirTemp", S),
    _f("TrackTemp", S),
    _f("Humidity", S),
    _f("Pressure", S),
    _f("Rainfall", S),
    _f("WindDirection", S),
    _f("WindSpeed", S),
)

# --- silver table schemas (DDL tier, FIXTURES.md A1–A8) --------------------

T = TimestampType()
I = IntegerType()
D = DoubleType()

SESSIONS = _s(
    _f("session_key", I),
    _f("meeting_key", I),
    _f("name", S),
    _f("date", T),
    _f("circuit", S),
    _f("type", S),
    _f("location", S),
    _f("country_name", S),
)

DRIVERS = _s(
    _f("driver_number", I),
    _f("name", S),
    _f("team", S),
    _f("country_code", S),
    _f("team_color", S),
    _f("first_name", S),
    _f("last_name", S),
    _f("short_name", S),
    _f("broadcast_name", S),
)

LAP_DATA = _s(
    _f("driver_number", I),
    _f("lap_number", I),
    _f("lap_time", D),
    _f("sector_1_time", D),
    _f("sector_2_time", D),
    _f("sector_3_time", D),
    _f("speed_trap", I),
    _f("timestamp", T),
)

DRIVER_POSITIONS = _s(
    _f("driver_number", I), _f("position", I), _f("timestamp", T)
)

CAR_TELEMETRY = _s(
    _f("driver_number", S),
    _f("timestamp", T),
    _f("utc_timestamp", T),
    _f("rpm", I),
    _f("speed", I),
    _f("gear", I),
    _f("throttle", D),
    _f("brake", D),
    _f("drs", I),
)

CAR_POSITIONS = _s(
    _f("driver_number", S),
    _f("timestamp", T),
    _f("utc_time", T),
    _f("status", S),
    _f("x_coord", D),
    _f("y_coord", D),
    _f("z_coord", D),
)

RACE_CONTROL = _s(
    _f("timestamp", T),
    _f("utc_time", S),
    _f("message", S),
    _f("category", S),
    _f("flag", S),
    _f("scope", S),
    _f("sector", I),
    _f("driver_number", I),
    _f("lap_number", I),
    _f("msg_id", S),
)

WEATHER = _s(
    _f("timestamp", T),
    _f("air_temp", D),
    _f("track_temp", D),
    _f("humidity", D),
    _f("pressure", D),
    _f("rainfall", BooleanType()),
    _f("wind_direction", I),
    _f("wind_speed", D),
)

BRONZE = _s(
    _f("ordinal", LongType()),
    _f("topic", S),
    _f("payload", S),
    _f("ts", S),
    _f("parsed_at", T),
    _f("corrupt_line", S),
)
