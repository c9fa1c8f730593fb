"""Broadcast params/storage-config dimension — the stream-table join.

≅ the reference's loader/storage resolution chain
(/root/reference/imagor.go:699-760: try storages, then loaders, in
configured order; first non-empty wins) + per-format processor limits
(config/config.go:37-77, processor.go:70-73). Re-expressed Spark-first:
a small static dimension keyed by ``codec`` joined with ``F.broadcast`` —
no shuffle on the 10^12-row stream side, the dimension ships to every
executor once (the north_star's required stream-table join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

CONFIG_SCHEMA = "codec string, decoder string, max_dur_ms int, max_sr_hz int"

# FIXTURES.md §2 defaults; max_* are the resolution-bomb guards
# (≅ VipsMaxWidth/MaxHeight/MaxResolution, processor.go:70-73)
DEFAULT_CONFIG_ROWS = [
    ("wav", "native", 3_600_000, 192_000),
    ("flac", "standin-zlib", 3_600_000, 192_000),
    ("ogg", "standin-q", 1_800_000, 48_000),
    ("mp3", "standin-q", 1_800_000, 48_000),
]


def params_config_df(spark) -> DataFrame:
    """The dimension as a SQL ``VALUES`` relation: it plans a JVM-local
    ``LocalTableScan`` and needs no Spark job, where ``createDataFrame`` of
    a Python list plans ``Scan ExistingRDD`` — a Spark job on every use."""
    names = ", ".join(StructType.fromDDL(CONFIG_SCHEMA).names)
    # repr of the fixture's str/int values is a valid Spark SQL literal
    values = ", ".join(f"({', '.join(map(repr, row))})" for row in DEFAULT_CONFIG_ROWS)
    return spark.sql(f"SELECT * FROM VALUES {values} AS config({names})")


def resolve_with_config(clips_df: DataFrame, config_df: DataFrame) -> DataFrame:
    """Broadcast stream-table join + admission guards: ``clips_df`` plus an
    ``admit_status`` column.

    Rows whose codec has no config entry are ``not_found`` (≅ ErrNotFound
    when no loader resolves, imagor.go:699-760); rows exceeding per-codec
    duration/rate limits are quarantined pre-decode (≅ CheckResolution,
    processor.go:506-516 — reject BEFORE paying the decode).
    """
    joined = clips_df.join(F.broadcast(config_df), on="codec", how="left")
    return joined.select(
        *clips_df.columns,
        F.when(F.col("decoder").isNull(), F.lit("not_found"))
        .when(F.col("dur_ms") > F.col("max_dur_ms"), F.lit("resolution_bomb"))
        .when(F.col("sr_hz") > F.col("max_sr_hz"), F.lit("resolution_bomb"))
        .otherwise(F.lit("ok"))
        .alias("admit_status"),
    )
