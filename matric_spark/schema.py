"""Transcript schema + the reference's convention-based schema split.

The reference identifies annotation (metadata) columns by name prefix
(default ``"Metadata_"``) and treats everything else as numeric features
(``/root/reference/R/utils.R:32-39,68-73``). The graft keeps that prefix
fallback but prefers a declared schema: the transcript table is fixed by
BASELINE.json ``input_hint``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Target table per BASELINE.json input_hint.
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

TRANSCRIPT_KEY = ["conv_id", "turn_idx"]

#: Domain tables for referential-integrity checks (broadcast sides), the
#: analog of matric's predicate-by-example reference tables
#: (tests/testthat/test-sim_collate.R:4-22).
DEFAULT_ROLE_DOMAIN = ["system", "user", "assistant", "tool"]
DEFAULT_TOOL_DOMAIN = ["bash", "search", "browser", "python", "none"]


def annotation_cols(df: DataFrame, prefix: str = "Metadata_") -> list[str]:
    """Columns selected by the reference's prefix convention
    (R/utils.R:36: ``dplyr::select(dplyr::matches(prefix))``)."""
    return [c for c in df.columns if c.startswith(prefix)]


def get_annotation(df: DataFrame, prefix: str = "Metadata_") -> DataFrame:
    """Project metadata columns and attach a stable 1-based ``id``.

    Reference: ``get_annotation`` (R/utils.R:32-39) uses
    ``seq_len(nrow(population))``. ``monotonically_increasing_id`` is NOT
    stable under repartition, so we use a ``row_number`` window over the
    full column order — acceptable for the (small) populations matric
    targets; transcript-scale work keys on the natural key
    ``(conv_id, turn_idx)`` instead and never calls this.
    """
    meta = annotation_cols(df, prefix)
    w = Window.orderBy(*[F.col(c) for c in df.columns])
    return df.withColumn("id", F.row_number().over(w)).select("id", *meta)


def drop_annotation(df: DataFrame, prefix: str = "Metadata_") -> DataFrame:
    """Complement projection → feature columns (R/utils.R:68-73)."""
    return df.drop(*annotation_cols(df, prefix))


def feature_cols(df: DataFrame, prefix: str = "Metadata_") -> list[str]:
    return [c for c in df.columns if not c.startswith(prefix) and c != "id"]


def preprocess_data(
    df: DataFrame, prefix: str = "Metadata_"
) -> tuple[DataFrame, list[str]]:
    """Drop every feature column containing >= 1 NA (R/utils.R:97-120).

    One aggregation pass computes all null counts simultaneously (a single
    job regardless of column count); returns (pruned df, dropped cols).
    This is the seed of the generalized null-rate column-stats check.
    """
    feats = feature_cols(df, prefix)
    if not feats:
        return df, []
    counts = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in feats]
    ).first()
    dropped = [c for c in feats if (counts[c] or 0) > 0]
    return df.drop(*dropped), dropped
