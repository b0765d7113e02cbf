"""The reference dataflow, Spark-first: `control()` (task.ts:115-258)
re-expressed as one declarative plan.

    ingest (schema-validated)                      R1-R4
      → row transform (one `select`, codegen'd)    R5-R20
      → last-write-wins dedup per id               R21
      → includes broadcast join + enrichment       R22-R24
        (one row per id, R25/R26: both join sides are keyed by id)
      → Feature nesting / FeatureCollection sink   R20/R28

Catalyst fuses R5-R20 into a single narrow stage; the only shuffles are
the id dedup and the includes pre-aggregate (hash aggs, map-side partial);
the includes join is a broadcast (zero shuffle). At 100 TB this plan holds:
dedup keys (aircraft ids) are high-cardinality/low-skew, and the dimension
side is O(10²) rows.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import scalar as S
from .operators.dedup import last_wins
from .operators.joins import includes_join


def transform(aircraft: DataFrame, batch_time: dt.datetime | None = None,
              hostile_enabled: bool = False) -> DataFrame:
    """R5-R20: raw ADS-B rows → flat feature columns.

    ``batch_time`` pins the wall-clock `time`/`start` stamps
    (task.ts:193-194) for reproducible tests; None → current_timestamp()
    (production semantics).
    """
    ts = F.lit(batch_time).cast("timestamp") if batch_time else F.current_timestamp()
    raw_id = S.coalesce_falsy_str("r", "flight")                 # R5 (task.ts:139)
    input_cols = [c for c in aircraft.columns if c != "_idx"]
    metadata = F.struct(
        *[
            # group default 'UNKNOWN' comes from the schema default (task.ts:70)
            F.coalesce(F.col(c), F.lit("UNKNOWN")).alias(c) if c == "group" else F.col(c)
            for c in input_cols
        ]
    )
    return (
        aircraft.withColumn("id", S.normalize_key(raw_id))       # R7 (task.ts:142)
        .filter(F.col("id").isNotNull() & (F.length("id") > 0))  # R6 (task.ts:140,148)
        .select(
            "_idx",
            "id",
            S.cot_type(hostile_enabled=hostile_enabled).alias("cot_type"),  # R10-R13
            S.callsign_col().alias("callsign"),                  # R14 (task.ts:192)
            ts.alias("time"),                                    # R15 (task.ts:193)
            ts.alias("start"),                                   # R15 (task.ts:194)
            S.speed_ms().alias("speed"),                         # R16 (task.ts:195)
            S.course_deg().alias("course"),                      # R17 (task.ts:196)
            metadata.alias("metadata"),                          # R18 (task.ts:197)
            S.remarks_col().alias("remarks"),                    # R19 (task.ts:198-205)
            S.point_coordinates().alias("coordinates"),          # R8/R9 (task.ts:143-146)
        )
    )


def control(
    aircraft: DataFrame,
    includes: DataFrame,
    filtering: bool = True,
    hostile_enabled: bool = False,
    batch_time: dt.datetime | None = None,
) -> DataFrame:
    """Full per-batch pipeline → flat feature rows (nest via
    ``to_features``). Mirrors control() (task.ts:115-258).

    One row per id (Set guard, R25): both join sides are keyed by id.
    Row order, and so feature order in the document, is unspecified; the
    reference's includes-list order (quirk #5) is not reproduced."""
    feats = transform(aircraft, batch_time, hostile_enabled)
    # R21: Map-upsert — last row per id in ingestion order wins (task.ts:136)
    deduped = last_wins(feats, "id", "_idx")
    if filtering:
        return includes_join(deduped, includes)
    # ADSBX_INCLUDES_FILTERING=false branch (task.ts:241-249): the includes
    # list is NOT consulted — every deduped feature passes through unenriched.
    return deduped


def to_features(flat: DataFrame) -> DataFrame:
    """Nest flat feature columns into the GeoJSON Feature shape
    (task.ts:187-211, FEATURE_SCHEMA)."""
    return flat.select(
        F.col("id"),
        F.lit("Feature").alias("type"),
        F.struct(
            F.col("cot_type").alias("type"),
            F.col("callsign"),
            F.col("time"),
            F.col("start"),
            F.col("speed"),
            F.col("course"),
            F.col("metadata"),
            F.col("remarks").alias("remarks"),
        ).alias("properties"),
        F.struct(
            F.lit("Point").alias("type"), F.col("coordinates").alias("coordinates")
        ).alias("geometry"),
    )
