"""Reference-faithful test fixtures (FIXTURES.md §A1/§A2).

Row variety is chosen to exercise every behavioral quirk in SURVEY.md §2A:
JS-falsy id coalesce, whitespace ids, duplicate keys (last wins), the
alt_baro union, every category branch, odd/even/null dbFlags, emergency
states, track ∈ {null, 0, x}, missing gs (sentinel path).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from .schemas import ADSB_SCHEMA, INCLUDES_SCHEMA

BATCH_TIME = dt.datetime(2026, 1, 15, 12, 0, 0)


def _ac(idx, **kw):
    base = dict(
        _idx=idx, hex=f"ae{idx:04x}", type="adsb_icao", group=None, flight=None,
        r=None, t=None, dbFlags=None, alt_baro=None, alt_geom=None, gs=None,
        track=None, baro_rate=None, squawk=None, emergency=None, category=None,
        nav_qnh=None, nav_altitude_mcp=None, nav_heading=None,
        lat=39.0 + idx * 0.01, lon=-104.0 - idx * 0.01, seen_pos=1.0, seen=0.5,
        dst=10.0 + idx,
    )
    base.update(kw)
    return tuple(base[f.name] for f in ADSB_SCHEMA.fields)


AIRCRAFT_ROWS = [
    # plain row: registration id, fixed-wing, civilian, full telemetry
    _ac(0, r="N100AA", flight="UAL1  ", t="B738", category="A3", dbFlags=0.0,
        alt_baro="35000", alt_geom=35500.0, gs=450.0, track=180.5, squawk="1200",
        emergency="none"),
    # null r → falls back to flight (JS || — R5)
    _ac(1, flight="SWA2", category="A2", dbFlags=2.0, gs=400.0, track=90.0),
    # empty-string r → '' is falsy → falls back to flight (quirk #2)
    _ac(2, r="", flight="DAL3", category="A1", gs=300.0, track=45.0),
    # both null → dropped (R6)
    _ac(3, category="A3", gs=100.0),
    # whitespace-only r, null flight → id trims to '' → dropped (R6)
    _ac(4, r="   ", category="A3"),
    # duplicate key N100AA (case/space variant) — later _idx wins (R21)
    _ac(5, r="n100aa ", flight="UAL1", t="B738", category="A3", dbFlags=1.0,
        alt_baro="ground", gs=0.0, track=0.0, emergency="none", lat=39.5, lon=-104.5),
    # rotorcraft A7 → '-H'; odd dbFlags → military
    _ac(6, r="N200HH", category="A7", dbFlags=3.0, gs=120.0, track=270.0),
    # lighter-than-air B2 → '-L'; emergency squawk; own callsign so the
    # empty-string include-callsign no-override quirk is observable
    _ac(7, r="N300LL", flight="BLIMP7", category="B2", emergency="squawk7700",
        gs=20.0, track=10.0),
    # unknown category → no suffix; no alt_geom → 2-element coordinates
    _ac(8, r="N400XX", category="C1", gs=None, track=None),
    # no category at all
    _ac(9, r="N500YY", alt_geom=1000.0, gs=250.0, track=359.0),
    # alt_geom = 0 → JS-falsy → 2-element coordinates / NULL alt_m
    # (task.ts:145 `if (ac.alt_geom)`)
    _ac(10, r="N600ZA", flight="BAL6", category="A1", alt_geom=0.0, gs=150.0,
        track=5.0),
]

INCLUDES_ROWS = [
    # matches N100AA via lower/trim; callsign override + group enrichment
    (0, "EMS", "LIFEFLT1", " N100AA ", "National"),
    # duplicate registration — the reference MUTATES the shared feature per
    # match (task.ts:227-233), so this LAST truthy callsign/group wins; the
    # feature is emitted once, as includes_join keys this side by registration
    (1, "EMS", "DUPE", "N100AA", "International"),
    # matches rotorcraft; no callsign override (falsy ⇒ keep aircraft callsign)
    (2, "FIRE", None, "n200hh", "Fire"),
    # registration matching nothing
    (3, "LAW", "GHOST", "N999ZZ", "Law"),
    # null registration with callsign set → ignored entirely (quirk #6)
    (4, "LAW", "NOREG", None, "Law"),
    # empty-string callsign is JS-falsy → does NOT override (task.ts:227);
    # truthy group still enriches
    (5, "SAR", "", "N300LL", "Marine"),
    # empty-string registration is JS-falsy → skipped (task.ts:219)
    (6, "SAR", "EMPTYREG", "", "Marine"),
]


def aircraft_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(AIRCRAFT_ROWS, ADSB_SCHEMA)


def includes_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(INCLUDES_ROWS, INCLUDES_SCHEMA)
