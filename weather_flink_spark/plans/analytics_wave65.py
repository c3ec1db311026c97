"""Wave-65 operator (round 9): streaming conformal anomaly flags —
the model-serving twin of q_stats_conformal_interval.

``s_stream_conformal_flags``: conformal ANOMALY DETECTION on a stream
(Laxhammar & Falkman 2010; the production pattern for
distribution-free alerting): the batch entry's fitted model
(slope, intercept) and calibration quantile q_hat — three doubles,
the bounded model constant — score every arriving record STATELESSLY:
flag iff |y - (intercept + slope*x)| > q_hat. By the conformal
guarantee, flags fire at rate <= alpha on exchangeable data, so the
alert budget is known in advance without any distributional
assumption.

This is the engine's stateless model-serving streaming shape (beside
the stateful applyInPandasWithState family): broadcast-tiny model,
narrow per-record map, no state store, no shuffle — at 100 TB/day the
scoring cost is exactly one projection per record.

Rows-only by design (streaming); the batch twin is bit-equal: the
fixture streams the conformal TEST split in two time-ordered files
and the flagged key set must equal the batch computation row-for-row
(tested), because scoring is a pure function of (model, record).

Reference parity note: the reference's sink-side streaming intent
(``WeatherProcessingJob.java:87-100``) is realized engine-wide; its
transformation plan is empty (``WeatherProcessingJobPlan.java:9-11``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_flink_spark.plans.registry import register


def conformal_model(spark: SparkSession, sf_dir: str) -> tuple[float, float, float]:
    """The (slope, intercept, q_hat) model triple from the batch
    conformal entry — a bounded 3-double collect (the model-constant
    convention, like the k-means centroid collects)."""
    from weather_flink_spark.plans.analytics_wave61 import (
        q_stats_conformal_interval,
    )

    (row,) = q_stats_conformal_interval(spark, sf_dir).collect()
    return float(row.slope), float(row.intercept), float(row.q_hat)


def _score_cols(slope: float, intercept: float, q_hat: float):
    ar = F.abs(
        F.col("y") - (F.lit(intercept) + F.lit(slope) * F.col("x"))
    )
    return [
        "l_orderkey",
        "l_linenumber",
        ar.alias("abs_resid"),
        F.lit(q_hat).alias("q_hat"),
        (ar > F.lit(q_hat)).alias("flagged"),
    ]


def stream_fixture_rows(sf_dir: str, n_rows: int = 200) -> list[dict]:
    """The first ``n_rows`` conformal-test-split lineitems in key
    order — the deterministic stream fixture both the stream and its
    batch twin score."""
    import hashlib

    import pyarrow.parquet as papq

    t = papq.read_table(
        sf_dir + "/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
    ).to_pandas()

    def bucket(ok, ln):
        h = hashlib.md5(f"conf:{ok}:{ln}".encode()).hexdigest()
        return int(h[:7], 16) % 100

    t = t[[bucket(r.l_orderkey, r.l_linenumber) >= 80 for r in t.itertuples()]]
    t = t.sort_values(["l_orderkey", "l_linenumber"]).head(n_rows)
    return [
        {
            "l_orderkey": int(r.l_orderkey),
            "l_linenumber": int(r.l_linenumber),
            "x": float(r.l_quantity),
            "y": float(r.l_extendedprice),
        }
        for r in t.itertuples()
    ]


@register(
    "s_stream_conformal_flags",
    doc=(
        "Streaming conformal anomaly flags (r9) — the stateless "
        "model-serving twin of q_stats_conformal_interval: the batch "
        "entry's (slope, intercept, q_hat) triple (3 doubles, the "
        "bounded model constant) scores every arriving record with "
        "flag = |y - yhat| > q_hat, so alerts fire at a KNOWN rate "
        "<= alpha with no distributional assumption (conformal "
        "anomaly detection). No state store, no shuffle — one "
        "projection per record at any scale. Rows-only by design; "
        "the flagged key set is bit-equal to batch scoring (tested), "
        "since scoring is a pure function of (model, record)."
    ),
    tags=("streaming", "stats", "conformal", "anomaly"),
)
def s_stream_conformal_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os
    import shutil
    import tempfile

    from weather_flink_spark.streaming.jobs import run_to_memory

    slope, intercept, q_hat = conformal_model(spark, sf_dir)
    rows = stream_fixture_rows(sf_dir)
    d = os.path.join(
        tempfile.gettempdir(), f"wfs_stream_conformal_{os.getpid()}"
    )
    # pid reuse (or a prior run at a different n_rows) would leave
    # stale part-*.jsonl behind and corrupt the stream/batch
    # bit-equality contract — start from an empty directory
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    mid = len(rows) // 2
    for i, chunk in enumerate((rows[:mid], rows[mid:])):
        with open(os.path.join(d, f"part-{i}.jsonl"), "w") as f:
            f.write("\n".join(json.dumps(r) for r in chunk) + "\n")

    stream = (
        spark.readStream.schema(
            "l_orderkey long, l_linenumber long, x double, y double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    scored = stream.select(*_score_cols(slope, intercept, q_hat))
    return run_to_memory(scored, output_mode="append")
