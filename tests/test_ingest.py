"""Bronze→silver pipeline tests (SURVEY §5.2 items 2-5): reconciliation
counters (found == inserted), merge semantics, schema contracts."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from f1_data_pipeline_spark import schemas as sc
from f1_data_pipeline_spark.functions import parse_event_time
from f1_data_pipeline_spark.ingest import read_bronze, build_silver
from f1_data_pipeline_spark.ingest.fixture import generate, DRIVER_NUMBERS


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wire") / "wire.txt")
    counts = generate(path, n_lines=400, seed=7)
    bronze = read_bronze(spark, path).cache()
    return counts, bronze, build_silver(bronze)


def test_reconciliation_counts(pipeline):
    """§5.1 counter semantics: every sample found in the wire is inserted."""
    counts, bronze, silver = pipeline
    assert bronze.count() == counts.lines
    assert bronze.where("corrupt_line is not null").count() == counts.corrupt_lines
    assert silver["car_telemetry"].count() == counts.telemetry_samples
    assert silver["car_positions"].count() == counts.position_samples
    assert silver["weather"].count() == counts.weather_rows
    assert silver["race_control"].count() == counts.rc_messages
    assert silver["sessions"].count() == 1
    assert silver["drivers"].count() == len(DRIVER_NUMBERS)


def test_lap_merge_unique_and_filled(pipeline):
    """A3/K5: one row per (driver, lap); TimingAppData sector-3 fill-ins
    land on laps created by TimingData."""
    counts, _, silver = pipeline
    laps = silver["lap_data"].cache()
    n = laps.count()
    assert n == laps.select("driver_number", "lap_number").distinct().count()
    assert n <= counts.lap_rows + 1  # merge only ever collapses rows (+1: lap 0 partials)
    # every TimingData lap carries a lap_time; some laps also got sector_3
    # exclusively from the TimingAppData merge
    assert laps.where("lap_time is not null and sector_3_time is not null").count() > 0


def test_lap_merge_last_non_null_semantics(spark, tmp_path):
    """Handcrafted two-line merge: AppData fills sector_3 without clobbering
    TimingData's lap_time (COALESCE upsert semantics, loader.py:262-278)."""
    lines = [
        repr(
            [
                "TimingData",
                {"Lines": {"7": {"LastLapTime": {"Value": "1:30.500"}, "NumberOfLaps": "5", "Sector1Time": {"Value": "28.1"}}}},
                "2025-05-17T14:00:00.000Z",
            ]
        ),
        repr(
            [
                "TimingAppData",
                {"Lines": {"7": {"Lines": {"1": {"NumberOfLaps": "5", "Sector3": {"Value": "31.250"}}}}}},
                "2025-05-17T14:00:01.000Z",
            ]
        ),
    ]
    p = tmp_path / "mini.txt"
    p.write_text("\n".join(lines) + "\n")
    silver = build_silver(read_bronze(spark, str(p)))
    row = silver["lap_data"].collect()[0].asDict()
    assert row["driver_number"] == 7 and row["lap_number"] == 5
    assert row["lap_time"] == 90.5
    assert row["sector_1_time"] == 28.1
    assert row["sector_3_time"] == 31.25


def test_first_wins_dedup_deterministic(spark, tmp_path):
    """A1: drivers dedup keeps the FIRST arrival (by ordinal), not an
    arbitrary one."""
    lines = [
        repr(["DriverList", {"9": {"Name": "First Arrival"}}, "2025-05-17T14:00:00Z"]),
        repr(["DriverList", {"9": {"Name": "Second Arrival"}}, "2025-05-17T14:00:01Z"]),
    ]
    p = tmp_path / "dup.txt"
    p.write_text("\n".join(lines) + "\n")
    drivers = build_silver(read_bronze(spark, str(p)))["drivers"].collect()
    assert len(drivers) == 1
    assert drivers[0]["name"] == "First Arrival"


def test_race_control_two_wire_shapes(spark, tmp_path):
    """F4: Messages as list AND as dict decode to the same schema; dict keys
    become msg_id; duplicate msg_ids dedup first-wins (A2)."""
    msg = {"Utc": "2025-05-17T14:00:00", "Category": "Flag", "Flag": "GREEN", "Scope": "Track", "Message": "GO"}
    lines = [
        repr(["RaceControlMessages", {"Messages": [msg]}, "2025-05-17T14:00:00Z"]),
        repr(["RaceControlMessages", {"Messages": {"42": dict(msg, Message="DICT SHAPE")}}, "2025-05-17T14:00:01Z"]),
        repr(["RaceControlMessages", {"Messages": {"42": dict(msg, Message="DUPLICATE")}}, "2025-05-17T14:00:02Z"]),
    ]
    p = tmp_path / "rc.txt"
    p.write_text("\n".join(lines) + "\n")
    rc = build_silver(read_bronze(spark, str(p)))["race_control"]
    rows = {r["msg_id"]: r["message"] for r in rc.collect()}
    assert rows["42"] == "DICT SHAPE"  # first arrival wins
    assert any(v == "GO" for v in rows.values())
    assert len(rows) == 2


def test_corrupt_lines_do_not_fail_task(spark, tmp_path):
    """T10: garbage lines surface in corrupt_line; valid lines still decode."""
    lines = [
        "not a python literal [[[",
        repr(["WeatherData", {"AirTemp": "21.5", "Rainfall": "true"}, "2025-05-17T14:00:00Z"]),
        "",
        repr([1, 2]),  # wrong arity
    ]
    p = tmp_path / "bad.txt"
    p.write_text("\n".join(lines) + "\n")
    bronze = read_bronze(spark, str(p))
    assert bronze.where("corrupt_line is not null").count() == 2  # blank dropped
    w = build_silver(bronze)["weather"].collect()
    assert len(w) == 1 and w[0]["air_temp"] == 21.5 and w[0]["rainfall"] is True


def test_unparseable_ts_falls_back_to_parse_time(spark, tmp_path):
    """T5: a ts that does not parse takes the wall clock of its batch's
    parse (bronze ``parsed_at``), inside the load's window; a parseable ts
    is kept as it is."""
    lines = [
        repr(["WeatherData", {"AirTemp": "20.0"}, "not-a-time"]),
        repr(["WeatherData", {"AirTemp": "21.0"}, "2025-05-17T14:00:00.250Z"]),
    ]
    p = tmp_path / "ts.txt"
    p.write_text("\n".join(lines) + "\n")
    bronze = read_bronze(spark, str(p))
    t0 = time.time_ns() // 1000
    rows = bronze.select(
        "ts",
        F.unix_micros(parse_event_time("ts", "parsed_at")).alias("event_us"),
        F.unix_micros("parsed_at").alias("parsed_us"),
    ).collect()
    weather = {
        r["air_temp"]: r["t"]
        for r in build_silver(bronze)["weather"]
        .select("air_temp", F.unix_micros("timestamp").alias("t"))
        .collect()
    }
    t1 = time.time_ns() // 1000 + 1
    given = 1747490400_250000  # 2025-05-17T14:00:00.250Z
    by_ts = {r["ts"]: r for r in rows}
    assert all(t0 <= r["parsed_us"] <= t1 for r in rows)
    assert by_ts["not-a-time"]["event_us"] == by_ts["not-a-time"]["parsed_us"]
    assert by_ts["2025-05-17T14:00:00.250Z"]["event_us"] == given
    assert t0 <= weather[20.0] <= t1
    assert weather[21.0] == given


def test_repeated_session_load_compiles_nothing(spark, tmp_path, compilations):
    """Loading the same session file again reuses every generated class:
    the decode plans carry no per-load literal (the T5 fallback is a
    column, not a folded ``current_timestamp()``)."""
    path = str(tmp_path / "wire.txt")
    generate(path, n_lines=200, seed=11)

    def load():
        bronze = read_bronze(spark, path, partitions=4).persist()
        for df in build_silver(bronze).values():
            df.write.format("noop").mode("overwrite").save()
        bronze.unpersist()

    load()
    before = compilations()
    load()
    assert compilations() - before == 0


def test_silver_schema_contracts(spark, pipeline, tmp_path):
    """§5.2 item 5 (verify_tables.py analog): silver frames match declared
    StructTypes on names and types, and so does bronze from both of its
    readers (``read_bronze`` and the ``f1wire`` source)."""
    from f1_data_pipeline_spark.ingest.wiresource import register

    _, bronze, silver = pipeline
    wire = str(tmp_path / "wire.txt")
    generate(wire, n_lines=20, seed=7)
    register(spark)
    frames = {
        **silver,
        "bronze": bronze,
        "bronze_f1wire": spark.read.format("f1wire").load(wire),
    }
    declared = {
        "bronze": sc.BRONZE,
        "bronze_f1wire": sc.BRONZE,
        "sessions": sc.SESSIONS,
        "drivers": sc.DRIVERS,
        "lap_data": sc.LAP_DATA,
        "driver_positions": sc.DRIVER_POSITIONS,
        "car_telemetry": sc.CAR_TELEMETRY,
        "car_positions": sc.CAR_POSITIONS,
        "race_control": sc.RACE_CONTROL,
        "weather": sc.WEATHER,
    }
    for name, expected in declared.items():
        got = frames[name].schema
        assert [f.name for f in got.fields] == [f.name for f in expected.fields], name
        assert [f.dataType for f in got.fields] == [f.dataType for f in expected.fields], name


def test_telemetry_values_roundtrip(spark, tmp_path):
    """Golden decode: one compressed CarData.z line → exact channel values."""
    from f1_data_pipeline_spark.ingest.fixture import _deflate

    payload = _deflate(
        {
            "Entries": [
                {
                    "Utc": "2025-05-17T14:00:05.123000Z",
                    "Cars": {"16": {"Channels": {"0": 11450, "2": 301, "3": 7, "4": 99, "5": 0, "45": 12}}},
                }
            ]
        }
    )
    p = tmp_path / "car.txt"
    p.write_text(repr(["CarData.z", payload, "2025-05-17T14:00:05.500Z"]) + "\n")
    row = build_silver(read_bronze(spark, str(p)))["car_telemetry"].collect()[0].asDict()
    assert row["driver_number"] == "16"
    assert (row["rpm"], row["speed"], row["gear"], row["drs"]) == (11450, 301, 7, 12)
    assert row["throttle"] == 99.0 and row["brake"] == 0.0
    assert str(row["utc_timestamp"]) == "2025-05-17 14:00:05.123000"


def test_timing_bare_map_shape(spark, tmp_path):
    """Transformer-path TimingData: driver-keyed map with NO Lines envelope
    (transformer.py:162) decodes identically to the enveloped shape."""
    entry = {"LastLapTime": {"Value": "1:28.000"}, "NumberOfLaps": "3"}
    lines = [
        repr(["TimingData", {"5": entry}, "2025-05-17T14:00:00.000Z"]),
        repr(["TimingData", {"Lines": {"6": entry}}, "2025-05-17T14:00:01.000Z"]),
    ]
    p = tmp_path / "t.txt"
    p.write_text("\n".join(lines) + "\n")
    laps = build_silver(read_bronze(spark, str(p)))["lap_data"].collect()
    got = {r["driver_number"]: r["lap_time"] for r in laps}
    assert got == {5: 88.0, 6: 88.0}


def test_position_legacy_xyz_shape(spark, tmp_path):
    """Transformer-path Position.z: uncompressed {driver: [x,y,z]} map (F6
    positional access, z defaults 0 for 2-element arrays)."""
    lines = [
        repr(["Position.z", {"7": [100.0, 200.0, 5.0], "8": [1.0, 2.0]}, "2025-05-17T14:00:00.000Z"]),
    ]
    p = tmp_path / "p.txt"
    p.write_text("\n".join(lines) + "\n")
    pos = build_silver(read_bronze(spark, str(p)))["car_positions"].collect()
    got = {r["driver_number"]: (r["x_coord"], r["y_coord"], r["z_coord"]) for r in pos}
    assert got == {"7": (100.0, 200.0, 5.0), "8": (1.0, 2.0, 0.0)}


def test_analyze_wire(spark, tmp_path):
    """analyze_f1_data.py parity: per-topic counts + first-N samples."""
    from f1_data_pipeline_spark.ingest.analyze import analyze_wire

    path = str(tmp_path / "w.txt")
    counts_fixture = generate(path, n_lines=120, seed=3)
    counts_df, samples_df = analyze_wire(spark, path, samples_per_topic=2)
    got = {r["topic"]: r["n"] for r in counts_df.collect()}
    for topic, n in counts_fixture.per_topic.items():
        assert got[topic] == n, topic
    assert got[None] == counts_fixture.corrupt_lines
    per_topic = {}
    for r in samples_df.collect():
        per_topic.setdefault(r["topic"], []).append(r["sample"])
    assert all(len(v) <= 2 for v in per_topic.values())
    assert set(per_topic) == set(counts_fixture.per_topic)


def test_bronze_directory_of_files(spark, tmp_path):
    """A directory of wire files (the real 100 TB layout) reads as one
    bronze frame; parallelism comes from file splits, no repartition
    needed."""
    d = tmp_path / "many"
    d.mkdir()
    c1 = generate(str(d / "a.txt"), n_lines=60, seed=1)
    c2 = generate(str(d / "b.txt"), n_lines=60, seed=2)
    bronze = read_bronze(spark, str(d))
    assert bronze.count() == c1.lines + c2.lines
    silver = build_silver(bronze)
    assert silver["weather"].count() == c1.weather_rows + c2.weather_rows


def test_weather_10min_values_oracle_rederived():
    """Independence check for the f1_weather_10min literal VALUES oracle
    (the driver's only hash-checked wire-path row): re-derive the pinned
    constant from the committed fixture file with a PURE-PYTHON decode —
    ast.literal_eval line parse, topic dispatch, the C8 bool-aware numeric
    coercion, a 10-minute floor window, HALF_UP rounding — sharing no code
    with the Spark path. If either the fixture or the Spark decode drifts,
    this and the oracle cannot both stay green."""
    import ast
    from collections import defaultdict
    from datetime import datetime, timezone
    from decimal import Decimal, ROUND_HALF_UP

    from f1_data_pipeline_spark.f1_queries import FIXTURE, F1_WEATHER_10MIN_EXPECTED

    def coerce(v) -> float | None:
        s = str(v).strip().lower()
        if s == "true":
            return 1.0
        if s == "false":
            return 0.0
        try:
            return float(s)
        except ValueError:
            return None

    def round_half_up(x: float, nd: int = 2) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))

    wins: dict[datetime, list[tuple[float | None, float | None]]] = defaultdict(list)
    with open(FIXTURE, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                rec = ast.literal_eval(line)
            except (ValueError, SyntaxError):
                continue
            if not (isinstance(rec, list) and len(rec) == 3 and rec[0] == "WeatherData"):
                continue
            topic, payload, ts = rec
            if not isinstance(payload, dict):
                continue
            t = datetime.fromisoformat(ts.replace("Z", "+00:00")).astimezone(timezone.utc)
            floored = t.replace(minute=t.minute - t.minute % 10, second=0, microsecond=0)
            wins[floored].append((coerce(payload.get("AirTemp")), coerce(payload.get("TrackTemp"))))

    derived = []
    for w in sorted(wins):
        rows = wins[w]
        airs = [a for a, _ in rows if a is not None]
        tracks = [tr for _, tr in rows if tr is not None]
        derived.append((
            w.strftime("%Y-%m-%d %H:%M:%S"),
            round_half_up(sum(airs) / len(airs)),
            round_half_up(sum(tracks) / len(tracks)),
            len(rows),
        ))
    assert tuple(derived) == F1_WEATHER_10MIN_EXPECTED


def test_telemetry_by_driver_values_oracle_rederived():
    """Independence check for the f1_telemetry_by_driver literal VALUES
    oracle (the driver's hash-checked row through the INFLATE wire path —
    the reference's hottest, monitor_car_telemetry.py:122-147): re-derive
    the pinned constant from the committed fixture with a pure-Python
    decode — ast.literal_eval line parse, base64 + raw-deflate inflate,
    json parse, Entries/Cars double loop, channel projection (0→rpm,
    2→speed, 4→throttle), HALF_UP rounding — sharing no code with the
    Spark path (U1 pandas UDF + from_json + double explode)."""
    import ast
    import base64
    import json
    import zlib
    from collections import defaultdict
    from decimal import Decimal, ROUND_HALF_UP

    from f1_data_pipeline_spark.f1_queries import (
        FIXTURE,
        F1_TELEMETRY_BY_DRIVER_EXPECTED,
    )

    def rhu(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))

    per: dict[str, dict] = defaultdict(
        lambda: {"n": 0, "speed": [], "rpm": [], "throttle": []}
    )
    with open(FIXTURE, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                rec = ast.literal_eval(line)
            except (ValueError, SyntaxError):
                continue
            if not (isinstance(rec, list) and len(rec) == 3 and rec[0] == "CarData.z"):
                continue
            payload = rec[1]
            if not isinstance(payload, str):
                continue
            try:
                d = json.loads(zlib.decompress(base64.b64decode(payload), -zlib.MAX_WBITS))
            except Exception:
                continue
            for e in d.get("Entries") or []:
                for drv, car in (e.get("Cars") or {}).items():
                    ch = (car or {}).get("Channels") or {}
                    s = per[drv]
                    s["n"] += 1
                    if "2" in ch:
                        s["speed"].append(int(ch["2"]))
                    if "0" in ch:
                        s["rpm"].append(int(ch["0"]))
                    if "4" in ch:
                        s["throttle"].append(ch["4"])

    derived = sorted(
        (
            drv,
            s["n"],
            rhu(sum(s["speed"]) / len(s["speed"])),
            max(s["rpm"]),
            rhu(sum(s["throttle"]) / len(s["throttle"])),
        )
        for drv, s in per.items()
    )
    assert tuple(derived) == F1_TELEMETRY_BY_DRIVER_EXPECTED


def test_f1wire_datasource_matches_bronze_and_survives_splits(spark, tmp_path):
    """The `f1wire` Python Data Source: same parsed rows as read_bronze at
    EVERY partitioning (byte-range split alignment can't drop or double a
    line), byte-offset ordinals unique and ordered, corrupt lines
    surfaced, and the silver decode runs on its output unchanged."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.ingest import read_bronze
    from f1_data_pipeline_spark.ingest.decode import decode_weather
    from f1_data_pipeline_spark.ingest.fixture import generate
    from f1_data_pipeline_spark.ingest.wiresource import register

    p = str(tmp_path / "wire.txt")
    generate(p, n_lines=200, seed=7)
    with open(p, "a") as f:
        f.write("not a python literal at all\n")
    register(spark)

    want = sorted(
        (r.topic, r.payload, r.ts)
        for r in read_bronze(spark, p).where(F.col("topic").isNotNull()).collect()
    )
    base = None
    for n in (1, 3, 8, 64):
        df = spark.read.format("f1wire").option("numPartitions", str(n)).load(p)
        got_rows = df.collect()
        got = sorted(
            (r.topic, r.payload, r.ts) for r in got_rows if r.topic is not None
        )
        assert got == want, f"numPartitions={n}"
        ords = sorted(r.ordinal for r in got_rows)
        assert len(set(ords)) == len(ords)
        if base is None:
            base = got_rows
    corrupt = [r for r in base if r.corrupt_line is not None]
    assert any("not a python literal" in r.corrupt_line for r in corrupt)

    # silver decode accepts the source's bronze rows directly
    src = spark.read.format("f1wire").load(p)
    w_src = decode_weather(src).count()
    w_ref = decode_weather(read_bronze(spark, p)).count()
    assert w_src == w_ref and w_src > 0


# --- round-8 wire-path oracle rederivations ----------------------------------
#
# Independence checks for the four literal VALUES oracles added in round 8
# (the same rule as the weather/telemetry oracles above): each pinned
# constant in f1_queries.py is re-derived from the committed fixture file
# with a PURE-PYTHON decode sharing no code with the Spark path. If either
# the fixture or the Spark decode drifts, the rederivation and the oracle
# cannot both stay green.


def _fixture_records():
    """(ordinal, topic, payload, event_time) for every parseable fixture
    line. Ordinal is the 0-based line index: the single-split batch read
    assigns monotonically_increasing_id in file order, so only the ORDER
    matters and the line index reproduces it."""
    import ast
    from datetime import datetime, timezone

    from f1_data_pipeline_spark.f1_queries import FIXTURE

    out = []
    for i, line in enumerate(open(FIXTURE, encoding="utf-8")):
        s = line.strip()
        if not s:
            continue
        try:
            rec = ast.literal_eval(s)
        except (ValueError, SyntaxError):
            continue
        if not (isinstance(rec, list) and len(rec) == 3):
            continue
        t = (
            datetime.fromisoformat(rec[2].replace("Z", "+00:00"))
            .astimezone(timezone.utc)
            .replace(tzinfo=None)
        )
        out.append((i, rec[0], rec[1], t))
    return out


def _lap_secs(v):
    import re as _re

    if v is None:
        return None
    s = str(v)
    try:
        return float(s)
    except ValueError:
        pass
    m = _re.match(r"(\d+):(\d+\.\d+)", s)
    return float(m.group(1)) * 60 + float(m.group(2)) if m else None


def _int_or_none(v):
    if v is None:
        return None
    try:
        return int(str(v))
    except ValueError:
        return None


def _derive_lap_table():
    from collections import defaultdict

    rows = []
    for ordinal, topic, payload, t in _fixture_records():
        if topic == "TimingData" and isinstance(payload, dict):
            lines = (
                payload["Lines"]
                if isinstance(payload.get("Lines"), dict)
                else payload
            )
            for k, v in lines.items():
                drv = _int_or_none(k)
                if drv is None or not isinstance(v, dict):
                    continue
                if not isinstance(v.get("LastLapTime"), dict):
                    continue

                def val(f):
                    sub = v.get(f)
                    return sub.get("Value") if isinstance(sub, dict) else None

                rows.append(dict(
                    ordinal=ordinal, driver=drv,
                    lap=_int_or_none(v.get("NumberOfLaps")) or 0,
                    lap_time=_lap_secs(val("LastLapTime")),
                    s1=_lap_secs(val("Sector1Time")),
                    s2=_lap_secs(val("Sector2Time")),
                    s3=_lap_secs(val("Sector3Time")),
                    speed_trap=_int_or_none(val("BestSpeed")), ts=t,
                ))
        elif topic == "TimingAppData" and isinstance(payload, dict):
            lines = payload.get("Lines")
            if not isinstance(lines, dict):
                continue
            for k, drvent in lines.items():
                drv = _int_or_none(k)
                if drv is None or not isinstance(drvent, dict):
                    continue
                inner = drvent.get("Lines")
                if not isinstance(inner, dict):
                    continue
                for lap in inner.values():
                    if not isinstance(lap, dict):
                        continue

                    def lval(f):
                        sub = lap.get(f)
                        return sub.get("Value") if isinstance(sub, dict) else None

                    rows.append(dict(
                        ordinal=ordinal, driver=drv,
                        lap=_int_or_none(lap.get("NumberOfLaps")) or 0,
                        lap_time=None,
                        s1=_lap_secs(lval("Sector1")),
                        s2=_lap_secs(lval("Sector2")),
                        s3=_lap_secs(lval("Sector3")),
                        speed_trap=_int_or_none(lval("SpeedTrap")), ts=t,
                    ))

    groups = defaultdict(list)
    for r in rows:
        groups[(r["driver"], r["lap"])].append(r)

    def last_non_null(grp, col):
        best = None
        for r in sorted(grp, key=lambda r: r["ordinal"]):
            if r[col] is not None:
                best = r[col]
        return best

    return tuple(
        (drv, lap) + tuple(last_non_null(g, c) for c in ("lap_time", "s1", "s2", "s3", "speed_trap"))
        + (last_non_null(g, "ts").isoformat(sep=" "),)
        for (drv, lap), g in sorted(groups.items())
    )


def test_lap_table_values_oracle_rederived():
    """f1_lap_table: the F5 nested-lap explode + A3 last-non-null merge —
    the one reference wire path (transformer.py:231-257) never externally
    hash-verified before round 8. Re-derives the pinned constant with an
    independent decode: both wire shapes of TimingData, TimingAppData's
    nested Lines, the C7 lap-time parse, C9 int coercion, and the
    per-COLUMN last-non-null merge ordered by arrival ordinal."""
    from f1_data_pipeline_spark.f1_queries import F1_LAP_TABLE_EXPECTED

    assert _derive_lap_table() == F1_LAP_TABLE_EXPECTED


def test_positions_latest_values_oracle_rederived():
    """f1_positions_latest: inflate + frames/Entries explode + z-default
    (monitor_car_positions.py:119-137) + latest-per-key window (utc desc
    nulls-last, x asc tiebreak), re-derived independently."""
    import base64
    import json
    import zlib
    from collections import defaultdict
    from datetime import datetime, timezone

    from f1_data_pipeline_spark.f1_queries import F1_POSITIONS_LATEST_EXPECTED

    bydrv = defaultdict(list)
    for ordinal, topic, payload, _t in _fixture_records():
        if topic != "Position.z" or not isinstance(payload, str):
            continue
        try:
            d = json.loads(
                zlib.decompress(base64.b64decode(payload), -zlib.MAX_WBITS)
            )
        except Exception:
            continue
        for f in d.get("Position") or []:
            try:
                utc = (
                    datetime.fromisoformat(f["Timestamp"].replace("Z", "+00:00"))
                    .astimezone(timezone.utc)
                    .replace(tzinfo=None)
                    if f.get("Timestamp")
                    else None
                )
            except ValueError:
                utc = None
            for drv, e in (f.get("Entries") or {}).items():
                e = e or {}
                z = e.get("Z")
                bydrv[drv].append((
                    utc,
                    float(e["X"]) if e.get("X") is not None else None,
                    float(e["Y"]) if e.get("Y") is not None else None,
                    float(z) if z is not None else 0.0,
                ))

    derived = []
    for drv in sorted(bydrv):  # string sort == Spark orderBy on string col
        rows = bydrv[drv]
        rows.sort(key=lambda r: (
            r[0] is None, -(r[0].timestamp()) if r[0] else 0,
            r[1] is not None, r[1] if r[1] is not None else 0,
        ))
        utc, x, y, z = rows[0]
        derived.append((drv, utc.isoformat(sep=" ") if utc else None, x, y, z))
    assert tuple(derived) == F1_POSITIONS_LATEST_EXPECTED


def test_session_report_values_oracle_rederived():
    """f1_session_report: DriverList first-wins decode broadcast-joined to
    per-driver aggregates of the independently re-derived lap table
    (count, HALF_UP-rounded best lap), ordered (best_lap, driver)."""
    from decimal import Decimal, ROUND_HALF_UP

    from f1_data_pipeline_spark.f1_queries import F1_SESSION_REPORT_EXPECTED

    drivers = {}
    for _ordinal, topic, payload, _t in _fixture_records():
        if topic != "DriverList" or not isinstance(payload, dict):
            continue
        for k, v in payload.items():
            drv = _int_or_none(k)
            if drv is None or drv in drivers or not isinstance(v, dict):
                continue
            drivers[drv] = (v.get("Name") or "", v.get("TeamName") or "")

    agg = {}
    for drv, _lap, lt, *_rest in _derive_lap_table():
        n, best = agg.get(drv, (0, None))
        agg[drv] = (n + 1, lt if lt is not None and (best is None or lt < best) else best)

    derived = []
    for drv, (n, best) in agg.items():
        if drv not in drivers:
            continue
        name, team = drivers[drv]
        rounded = (
            float(Decimal(repr(best)).quantize(Decimal("0.001"), rounding=ROUND_HALF_UP))
            if best is not None
            else None
        )
        derived.append((drv, name, team, n, rounded))
    derived.sort(key=lambda r: (r[4] is not None, r[4] or 0, r[0]))
    assert tuple(derived) == F1_SESSION_REPORT_EXPECTED


def test_race_control_values_oracle_rederived():
    """f1_race_control: the two-shape Messages dispatch (list → synthetic
    ordinal-position msg_id, dict → key msg_id; transformer.py:354 vs
    monitor_race_control.py:124) + first-wins dedup by msg_id, re-derived
    independently and compared in msg_id order."""
    from f1_data_pipeline_spark.f1_queries import F1_RACE_CONTROL_EXPECTED

    first = {}
    for ordinal, topic, payload, t in _fixture_records():
        if topic != "RaceControlMessages" or not isinstance(payload, dict):
            continue
        msgs = payload.get("Messages")
        if isinstance(msgs, list):
            items = [(f"{ordinal}-{pos}", m) for pos, m in enumerate(msgs)]
        elif isinstance(msgs, dict):
            items = list(msgs.items())
        else:
            continue
        for msg_id, m in items:
            m = m or {}
            first.setdefault(msg_id, (
                t.isoformat(sep=" "), m.get("Utc"), m.get("Message") or "",
                m.get("Category") or "", m.get("Flag") or "",
                m.get("Scope") or "", _int_or_none(m.get("Sector")),
                _int_or_none(m.get("DriverNumber")), _int_or_none(m.get("Lap")),
                msg_id,
            ))
    derived = tuple(first[mid] for mid in sorted(first))
    assert derived == F1_RACE_CONTROL_EXPECTED
