"""Wave-28 operators (round 6, continued): PCA whitening, a Kalman
local-level filter, the DSIR hash-collision audit, and the streaming
DSIR scorer.

- ``q_emb_whitening`` — PCA whitening: the oracle-exact power-iteration
  components AND eigenvalues (operators/pca.py) whiten the projected
  coordinates (w_c = pc_c / sqrt(lambda_c)), producing the
  decorrelated unit-variance representation contrastive-training and
  semantic-dedup pipelines standardize embeddings with. Composes
  pca_power_cte_parts so the DuckDB oracle replays the identical
  eigensolve — the whitened coordinates are hash-exact.
- ``q_events_kalman_filter`` — 1-D local-level Kalman filter per user
  value series (predict/update recursion with dyadic Q=0.5, R=2.0):
  the probabilistic sibling of q_events_holt_forecast, same
  distributed-sequential contract (applyInPandas per series) and the
  same recursive-CTE bit-exact replay.
- ``q_text_hash_collisions`` — the DSIR feature-space audit: per-bucket
  gram occupancy (occurrences, DISTINCT grams, load ratio vs uniform).
  Hashed-feature methods are only as good as their collision profile;
  this is the table you read before trusting q_text_dsir_weights' B.
- ``s_stream_dsir_scores`` — streaming DSIR scoring: the trained B-row
  log-ratio model (analytics_wave27.dsir_lr_table) collapses to a
  64-element SCALED-BIGINT literal array; arriving documents score
  with one stateless expression (tokenize → bigrams → md5 bucket →
  array lookup → integer fold) — no shuffle, no state store. The
  scaled-integer fold makes the streamed score EQUAL the batch
  decimal sum bit-for-bit (tested), not merely close.

Parity discipline as plans/registry.py; reference parity note: the
reference's transformation plan is empty
(``WeatherProcessingJobPlan.java:9-11``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_flink_spark.io import load
from weather_flink_spark.plans.registry import register

# ---------------------------------------------------------------------------
# PCA whitening
# ---------------------------------------------------------------------------

_WH_K = 4
_WH_DIM = 64


def _whitening_oracle() -> str:
    from weather_flink_spark.operators.pca import (
        PCA_POWER_ITERS,
        pca_power_cte_parts,
    )

    rng = f"range(1, {_WH_DIM + 1})"
    parts = pca_power_cte_parts(_WH_DIM, _WH_K, PCA_POWER_ITERS)
    projs = ", ".join(
        f"""ROUND(ROUND(list_reduce(list_prepend(0.0, list_transform({rng},
            i -> (CAST(xq.e[i] AS DOUBLE) - mu.mu[i]) * vc{c}.v[i])), (a, b) -> a + b), 9)
            / SQRT(lam{c}.lam), 6) AS w{c + 1}"""
        for c in range(_WH_K)
    )
    crosses = " ".join(
        f"CROSS JOIN vc{c} CROSS JOIN lam{c}" for c in range(_WH_K)
    )
    return (
        "WITH RECURSIVE "
        + ", ".join(parts)
        + f" SELECT xq.vec_id, xq.label, {projs} FROM xq CROSS JOIN mu {crosses}"
    )


@register(
    "q_emb_whitening",
    oracle=_whitening_oracle(),
    doc=(
        "PCA whitening (w_c = pc_c / sqrt(lambda_c)) over the oracle-"
        "exact power-iteration model: the projection fold is the "
        "q_emb_pca_project JVM path (sequential ascending-i fold, "
        "9dp grid), then one deterministic double division by the "
        "sqrt of the REPLAYABLE eigenvalue (lam{c} is a materialized "
        "CTE on the oracle side and a bit-identical Py4J literal on "
        "the Spark side — the decimal-grid eigensolve guarantees the "
        "same bits). Whitened embeddings are the decorrelated unit-"
        "variance representation semantic-dedup / contrastive "
        "pipelines standardize on. Scale: model fit is the one-pass "
        "exact Gramian (d²+d+1 numbers to the driver); the n-scaled "
        "scoring pass is pure whole-stage-codegen arithmetic."
    ),
    tags=("embedding", "pca", "whitening"),
)
def q_emb_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.operators import pca
    from weather_flink_spark.plans.llm_wave5 import pca_power_model

    model = pca_power_model(spark, sf_dir)
    e = pca.quantize_embeddings(
        load(spark, sf_dir, "embeddings"), "embedding", dim=_WH_DIM
    )
    out = pca.project_power(e, "embedding", model, dim=_WH_DIM)
    cols = [
        F.round(
            F.col(f"pc{c + 1}") / F.sqrt(F.lit(float(model["lambdas"][c]))), 6
        ).alias(f"w{c + 1}")
        for c in range(_WH_K)
    ]
    return out.select("vec_id", "label", *cols)


# ---------------------------------------------------------------------------
# Kalman local-level filter per user series
# ---------------------------------------------------------------------------

_KAL_Q = 0.5  # process noise (dyadic — exact binary double)
_KAL_R = 2.0  # observation noise (dyadic)


@register(
    "q_events_kalman_filter",
    oracle=f"""
        WITH RECURSIVE ser AS MATERIALIZED (
            SELECT user_id, CAST(value AS DOUBLE) AS y,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ),
        eligible AS MATERIALIZED (SELECT * FROM ser WHERE n >= 2),
        rec(user_id, t, n, l, p) AS (
            SELECT user_id, 1, n, y, CAST(1.0 AS DOUBLE)
            FROM eligible WHERE rn = 1
            UNION ALL
            SELECT r.user_id, r.t + 1, r.n,
                   -- predict: pp = p + Q; update: K = pp/(pp+R),
                   -- l += K*(y-l), p = (1-K)*pp  — op order mirrored
                   r.l + ((r.p + {_KAL_Q}) / ((r.p + {_KAL_Q}) + {_KAL_R}))
                       * (e.y - r.l),
                   (CAST(1.0 AS DOUBLE)
                    - ((r.p + {_KAL_Q}) / ((r.p + {_KAL_Q}) + {_KAL_R})))
                       * (r.p + {_KAL_Q})
            FROM rec r
            JOIN eligible e ON e.user_id = r.user_id AND e.rn = r.t + 1
            WHERE r.t < r.n
        )
        SELECT user_id, n AS n_obs, l AS level, p AS p_var,
               (p + {_KAL_Q}) + {_KAL_R} AS pred_var
        FROM rec WHERE t = n
    """,
    doc=(
        "1-D local-level Kalman filter per user value series "
        f"(Q={_KAL_Q}, R={_KAL_R} — dyadic constants, exact binary "
        "doubles): predict/update recursion, final filtered level, "
        "posterior variance, and one-step predictive variance. The "
        "q_events_holt_forecast distribution contract (wave-46 "
        "collapse, r8 verdict #2): each series folds to ONE row of "
        "sorted values, the sequential kernel runs in mapInPandas "
        "over 32 hash partitions — 32 Python crossings instead of "
        "one per user; recursive-CTE oracle replays the identical "
        "IEEE op order — bit-exact, no quantization. The gain "
        "K = pp/(pp+R) is written with one shared pp subexpression "
        "on both sides so neither engine can reassociate it."
    ),
    tags=("timeseries", "filter", "pandas-udf"),
)
def q_events_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # ONE row per user before the Python crossing (wave-46 rule):
    # sort_array on (t_us, event_id, value) structs == the kernel's
    # old sort_values(["ts", "event_id"])
    ser = (
        e.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("t_us"),
                F.col("event_id").alias("eid"),
                F.col("value").alias("v"),
            ).alias("p"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("p")).alias("seq"))
        .select("user_id", F.col("seq.v").alias("vals"))
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out: list[tuple] = []
        for _, row in pdf.iterrows():
            y = np.asarray(row["vals"], dtype="float64")
            if len(y) < 2:
                continue
            l, p = float(y[0]), 1.0
            for x in y[1:]:
                pp = p + _KAL_Q
                k = pp / (pp + _KAL_R)
                l = l + k * (float(x) - l)
                p = (1.0 - k) * pp
            out.append(
                (int(row["user_id"]), len(y), l, p, (p + _KAL_Q) + _KAL_R)
            )
        return pd.DataFrame(
            out, columns=["user_id", "n_obs", "level", "p_var", "pred_var"]
        )

    return ser.repartition(32, "user_id").mapInPandas(
        lambda it: (kernel(pdf) for pdf in it),
        schema="user_id long, n_obs long, level double,"
        " p_var double, pred_var double",
    )


# ---------------------------------------------------------------------------
# DSIR hash-collision audit
# ---------------------------------------------------------------------------


def _collision_oracle() -> str:
    from weather_flink_spark.plans.analytics_wave27 import (
        _DSIR_B,
        _DSIR_BUCKET_DUCK,
    )

    return f"""
        WITH tok AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tok
            FROM documents
        ),
        grams AS (
            SELECT g, {_DSIR_BUCKET_DUCK} AS bucket
            FROM (
                SELECT tok[i] || ' ' || tok[i + 1] AS g
                FROM tok, UNNEST(range(1, len(tok))) AS r(i)
                WHERE len(tok) >= 2
            )
        ),
        per_bucket AS (
            SELECT bucket, COUNT(*) AS n_occurrences,
                   COUNT(DISTINCT g) AS n_distinct_grams
            FROM grams GROUP BY bucket
        ),
        tot AS (
            -- bucket is a function of the gram, so the per-bucket
            -- distinct counts sum to the global distinct-gram count
            SELECT CAST(SUM(n_distinct_grams) AS BIGINT) AS g_total
            FROM per_bucket
        )
        SELECT bucket, n_occurrences, n_distinct_grams,
               ROUND(n_distinct_grams * {_DSIR_B}.0 / g_total, 6)
                   AS load_ratio
        FROM per_bucket CROSS JOIN tot
    """


@register(
    "q_text_hash_collisions",
    oracle=_collision_oracle(),
    doc=(
        "Hashed-feature collision audit for the DSIR bucket space: per "
        "md5 bucket, gram occurrences, DISTINCT colliding grams, and "
        "the load ratio vs a uniform hash (1.0 = perfectly balanced). "
        "Hashed importance weights are only as faithful as their "
        "collision profile — this is the table you read before "
        "trusting q_text_dsir_weights' B=64. Scale: the gram stream "
        "is map-side md5 arithmetic; DISTINCT-per-bucket partial-"
        "aggregates on the (bucket, gram-digest) pair; output is B "
        "rows."
    ),
    tags=("text", "llm-pipeline", "diagnostics"),
)
def q_text_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.plans.analytics_wave27 import _DSIR_B, dsir_grams

    grams = dsir_grams(load(spark, sf_dir, "documents"))
    per_bucket = grams.groupBy("bucket").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("g").alias("n_distinct_grams"),
    )
    tot = per_bucket.agg(
        F.sum("n_distinct_grams").cast("bigint").alias("g_total")
    )
    return per_bucket.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_occurrences",
        "n_distinct_grams",
        F.round(
            F.col("n_distinct_grams") * float(_DSIR_B) / F.col("g_total"), 6
        ).alias("load_ratio"),
    )


# ---------------------------------------------------------------------------
# streaming DSIR scorer
# ---------------------------------------------------------------------------


def dsir_lr_scaled_array(spark: SparkSession, sf_dir: str) -> list[int]:
    """The trained log-ratio model as B scaled integers (lr9 * 1e9 is
    exact — lr9 has scale 9). Bounded collect: exactly B=64 rows, the
    same sanctioned class as the k-means model. Buckets absent from
    the training corpus default to 0; a scored gram can only reach
    such a bucket if it never occurred in the corpus the model was
    fit on (impossible when replaying corpus docs, rare and
    prior-weighted in production)."""
    from weather_flink_spark.plans.analytics_wave27 import (
        _DSIR_B,
        dsir_lr_table,
    )

    rows = dsir_lr_table(spark, sf_dir).collect()  # bounded: B=64 rows
    arr = [0] * _DSIR_B
    for r in rows:
        # Decimal(18,9) -> exact scaled int
        arr[int(r["bucket"])] = int(r["lr9"].scaleb(9))
    return arr


@register(
    "s_stream_dsir_scores",
    doc=(
        "Streaming DSIR scoring — 'score documents for target-likeness "
        "as they arrive': the trained B-row log-ratio model collapses "
        "to a 64-element SCALED-BIGINT literal array, and each "
        "arriving document scores with ONE stateless expression "
        "(tokenize → bigrams → md5 bucket → array lookup → integer "
        "fold). No shuffle, no state store, no stream-static join — "
        "the model ships inside the plan like the IVF assignment "
        "expressions. The integer fold makes the streamed score equal "
        "the batch decimal sum BIT-FOR-BIT (tested in "
        "tests/test_analytics_wave28.py), not merely close: the "
        "scaled-int sum is associative, so batch grouping order and "
        "stream arrival order cannot diverge."
    ),
    tags=("streaming", "text", "llm-pipeline", "importance"),
)
def s_stream_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    import pyarrow.parquet as papq

    from weather_flink_spark.plans.analytics_wave20 import _write_jsonl_fixture
    from weather_flink_spark.plans.analytics_wave27 import _DSIR_B
    from weather_flink_spark.streaming.jobs import run_to_memory

    arr = dsir_lr_scaled_array(spark, sf_dir)

    t = papq.read_table(sf_dir + "/documents.parquet", columns=["doc_id", "text"])
    rows = [
        json.dumps({"doc_id": int(i), "text": s})
        for i, s in zip(
            t.column("doc_id").to_pylist()[:20],
            t.column("text").to_pylist()[:20],
        )
    ]
    d = _write_jsonl_fixture(spark, "dsir", rows)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )

    lr_arr = "array(" + ", ".join(f"{v}L" for v in arr) + ")"
    out = (
        stream.select(
            "doc_id",
            F.expr("filter(split(text, ' '), t -> t <> '')").alias("tok"),
        )
        .where(F.expr("size(tok) >= 2"))
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(tok) - 1),"
                " i -> concat(element_at(tok, cast(i as int)), ' ',"
                " element_at(tok, cast(i + 1 as int))))"
            ).alias("grams"),
        )
        .select(
            "doc_id",
            F.expr("size(grams)").cast("bigint").alias("n_grams"),
            F.expr(
                f"aggregate(grams, 0L, (acc, g) -> acc + element_at({lr_arr},"
                f" cast(pmod(cast(conv(substring(md5(g), 1, 15), 16, 10)"
                f" as bigint), {_DSIR_B}) as int) + 1))"
            ).alias("logw_scaled"),
        )
    )
    return run_to_memory(out, output_mode="append")
