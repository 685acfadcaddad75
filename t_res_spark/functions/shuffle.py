"""Shuffle-shape helpers shared by the Arrow-group operators.

One home for the explicit-N repartition pin so the rationale and the
edge-case handling live in one place instead of four (context /
bio / annotations need it in front of their ``applyInPandas`` group
stages, ranking in front of its pandas-UDF score step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_width(df: DataFrame, fallback: int = 200) -> int:
    """The session's tuned shuffle width as an int.

    ``spark.sql.shuffle.partitions`` is non-numeric on some managed
    platforms ("auto"); fall back to the cluster's default parallelism
    (the same order of magnitude AQE itself starts from), and to
    ``fallback`` where no SparkContext is reachable (Spark Connect)."""
    spark = df.sparkSession
    raw = spark.conf.get("spark.sql.shuffle.partitions", str(fallback))
    try:
        return int(raw)
    except ValueError:
        try:
            return spark.sparkContext.defaultParallelism
        except Exception:
            return fallback


def pinned_repartition(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit-N hash repartition on ``keys`` — the AQE-exempt pin for
    Arrow group stages.

    AQE's bytes-based partition coalescing sees a few MB of shuffle
    input and collapses the stage to ~1 partition, serializing every
    per-group Python call onto one core (measured on
    context_disambiguate at 15k mentions / 1.5k convs: 9.6 s coalesced
    vs 2.5 s pinned — byte counts say nothing about Python-side cost).
    A REPARTITION_BY_NUM exchange is exempt from AQE coalescing and
    already satisfies the downstream groupBy's required distribution,
    so no second exchange is added; at target scale the conf-driven N
    is the tuned shuffle width anyway."""
    return df.repartition(shuffle_width(df), *keys)
