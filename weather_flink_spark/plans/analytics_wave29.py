"""Wave-29 operators (round 6, continued): coreset selection and the
stateful streaming Kalman twin.

- ``q_sample_kcenter_coreset`` — k-center greedy coreset selection
  (Gonzalez 1985; Sener & Savarese 2018 for data-efficient training):
  starting from the min-id seed, each of the k-1 rounds picks the
  point FARTHEST from the chosen set (max of the running min-distance,
  min-id tie-break) — the classic 2-approximation whose selected rows
  are the diversity-maximizing subsample LLM pipelines use when the
  labeling / training budget is fixed. Completes the data-selection
  family: DSIR (match a target), DoReMi (reweight domains),
  temperature (flatten sources), SemDeDup (drop redundancy), coreset
  (cover the space). EVERYTHING is exact integer arithmetic: distances
  are squared L2 over the 6dp-quantized embeddings scaled to BIGINT
  (|n| <= ~1e7, 64-term sums << 2^63), so the argmax and the oracle
  replay are deterministic with no float anywhere.
- ``s_stream_kalman_filter`` — stateful streaming twin of
  q_events_kalman_filter via ``applyInPandasWithState``: the (level,
  variance, count) state carries across micro-batches per user, each
  batch folds its (ts, event_id)-sorted values through the identical
  predict/update recursion, and the final emitted state equals the
  batch filter BIT-FOR-BIT when the stream replays the same events in
  order (tested) — the custom-stateful-operator pattern (§2-B B3)
  applied to a numeric filter instead of presence transitions.

Parity discipline as plans/registry.py; reference parity note: the
reference's transformation plan is empty
(``WeatherProcessingJobPlan.java:9-11``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_flink_spark.io import load
from weather_flink_spark.plans.registry import register
from weather_flink_spark.operators.snapshot import snapshot

# ---------------------------------------------------------------------------
# k-center greedy coreset
# ---------------------------------------------------------------------------

_KC_K = 6  # coreset size (seed + 5 greedy rounds)
_KC_DIM = 64

_KC_N_SPARK = (
    "transform(embedding, x -> cast(cast(round(cast(x as double), 6)"
    " as decimal(12,6)) * 1000000 as bigint))"
)
_KC_N_DUCK = (
    "list_transform(embedding, x -> CAST(CAST(ROUND(CAST(x AS DOUBLE), 6)"
    " AS DECIMAL(12,6)) * 1000000 AS BIGINT))"
)
# exact integer squared L2 between two scaled-int arrays
_KC_D2_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, "
    f"{_KC_DIM + 1}), i -> ({{a}}[i] - {{b}}[i]) * ({{a}}[i] - {{b}}[i]))), "
    "(x, y) -> x + y)"
)


def _kc_oracle() -> str:
    parts = [
        f"""pts AS MATERIALIZED (
            SELECT vec_id, {_KC_N_DUCK} AS n FROM embeddings
        )""",
        """seed AS MATERIALIZED (
            SELECT vec_id, n FROM pts ORDER BY vec_id ASC LIMIT 1
        )""",
        f"""md0 AS MATERIALIZED (
            SELECT p.vec_id, p.n,
                   {_KC_D2_DUCK.format(a='p.n', b='s.n')} AS md
            FROM pts p CROSS JOIN seed s
        )""",
    ]
    sels = [
        "SELECT 0 AS sel_order, vec_id, CAST(0 AS BIGINT) AS max_min_d2"
        " FROM seed"
    ]
    prev = "md0"
    for r in range(1, _KC_K):
        parts.append(
            f"""c{r} AS MATERIALIZED (
                SELECT vec_id, n, md FROM {prev}
                ORDER BY md DESC, vec_id ASC LIMIT 1
            )"""
        )
        sels.append(f"SELECT {r}, vec_id, md FROM c{r}")
        if r < _KC_K - 1:
            parts.append(
                f"""md{r} AS MATERIALIZED (
                    SELECT p.vec_id, p.n,
                           CASE WHEN {_KC_D2_DUCK.format(a='p.n', b='c.n')} < p.md
                                THEN {_KC_D2_DUCK.format(a='p.n', b='c.n')}
                                ELSE p.md END AS md
                    FROM {prev} p CROSS JOIN c{r} c
                )"""
            )
            prev = f"md{r}"
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(sels)


@register(
    "q_sample_kcenter_coreset",
    oracle=_kc_oracle(),
    doc=(
        f"k-center greedy coreset selection (k={_KC_K}; Gonzalez 1985 "
        "2-approximation, the Sener-Savarese data-efficient-training "
        "selector): min-id seed, then each round picks the point "
        "FARTHEST from the chosen set (max running min-distance, "
        "min-id tie-break) and folds it into every point's running "
        "min. Completes the data-selection family (DSIR match / "
        "DoReMi reweight / temperature flatten / SemDeDup dedup / "
        "coreset cover). Exactness: distances are squared L2 over "
        "6dp-quantized embeddings scaled to BIGINT — pure integer "
        "arithmetic end to end, so argmax ties and the oracle replay "
        "are deterministic with no float anywhere. Scale: each round "
        "is ONE aggregate (lexicographic struct MAX — partial-"
        "aggregated, no sort) + ONE broadcast-1-row distance map; "
        "k bounded rounds, eager per-round checkpoints keep lineage "
        "flat; the selected-center 'collect' is the sanctioned "
        "k-row-model class."
    ),
    tags=("sampling", "embedding", "coreset", "llm-pipeline"),
)
def q_sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_KC_N_SPARK).alias("n")
    )
    d2 = lambda a, b: F.aggregate(  # noqa: E731 — exact integer fold
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    # seed = min vec_id (deterministic); 1-row frames ride broadcast
    seed = e.orderBy(F.col("vec_id").asc()).limit(1)
    md = (
        e.crossJoin(
            F.broadcast(seed.select(F.col("n").alias("cn")))
        )
        .select("vec_id", "n", d2(F.col("n"), F.col("cn")).alias("md"))
        .transform(snapshot())
    )
    out = [
        seed.select(
            F.lit(0).alias("sel_order"),
            "vec_id",
            F.lit(0).cast("bigint").alias("max_min_d2"),
        )
    ]
    for r in range(1, _KC_K):
        # argmax(md, tie min vec_id) as one lexicographic struct MAX
        best = md.agg(
            F.max(F.struct(F.col("md"), (-F.col("vec_id")).alias("nv"))).alias(
                "b"
            )
        ).select(
            (-F.col("b.nv")).alias("vec_id"), F.col("b.md").alias("md")
        )
        center = md.join(
            F.broadcast(best.select("vec_id")), "vec_id"
        ).select(F.col("vec_id").alias("cid"), F.col("n").alias("cn"), "md")
        out.append(
            center.select(
                F.lit(r).alias("sel_order"),
                F.col("cid").alias("vec_id"),
                F.col("md").alias("max_min_d2"),
            )
        )
        if r < _KC_K - 1:
            md = (
                md.crossJoin(F.broadcast(center.select("cn")))
                .select(
                    "vec_id",
                    "n",
                    F.least(F.col("md"), d2(F.col("n"), F.col("cn"))).alias(
                        "md"
                    ),
                )
                .transform(snapshot())
            )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# stateful streaming Kalman filter
# ---------------------------------------------------------------------------


@register(
    "s_stream_kalman_filter",
    doc=(
        "Stateful streaming Kalman filter — the applyInPandasWithState "
        "twin of q_events_kalman_filter: per-user (level, variance, "
        "count) state carries across micro-batches, each batch folds "
        "its (ts, event_id)-sorted values through the IDENTICAL "
        "predict/update recursion (same dyadic Q/R, same op order), "
        "and the per-batch emitted state is the running filter. "
        "Because the recursion is a left fold and batches arrive in "
        "time order on this fixture, the LAST emitted state per user "
        "equals the batch filter bit-for-bit (tested) — the §2-B B3 "
        "custom-stateful-operator pattern applied to a numeric "
        "filter. At scale: state is 3 doubles per user key, the "
        "stream shuffles once on user_id per micro-batch, and history "
        "never reprocesses — exactly how a production metrics "
        "smoother runs."
    ),
    tags=("streaming", "timeseries", "stateful", "filter"),
)
def s_stream_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kalman_stream_run(spark, sf_dir)


def _kalman_stream_run(
    spark: SparkSession, sf_dir: str, progress_sink: list | None = None
) -> DataFrame:
    import json
    import os
    import tempfile

    import pandas as pd
    import pyarrow.parquet as papq
    from pyspark.sql.streaming.state import GroupStateTimeout

    from weather_flink_spark.plans.analytics_wave28 import _KAL_Q, _KAL_R
    from weather_flink_spark.streaming.jobs import run_to_memory


    # fixture: first 200 events of the 8 lowest user_ids, split into two
    # time-ordered files so state must carry across micro-batches
    t = papq.read_table(
        sf_dir + "/events.parquet",
        columns=["user_id", "event_id", "ts", "value"],
    )
    pdf = t.to_pandas()
    users = sorted(pdf.user_id.unique())[:8]
    pdf = (
        pdf[pdf.user_id.isin(users)]
        .sort_values(["ts", "event_id"])
        .head(200)
    )
    rows = [
        json.dumps(
            {
                "user_id": int(r.user_id),
                "event_id": int(r.event_id),
                "t_us": int(r.ts.value // 1000),
                "value": float(r.value),
            }
        )
        for r in pdf.itertuples()
    ]
    d = os.path.join(
        tempfile.gettempdir(), f"wfs_stream_kalman_{os.getpid()}"
    )
    os.makedirs(d, exist_ok=True)
    mid = len(rows) // 2
    for i, chunk in enumerate((rows[:mid], rows[mid:])):
        with open(os.path.join(d, f"part-{i}.jsonl"), "w") as f:
            f.write("\n".join(chunk) + "\n")

    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, t_us long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )

    def fold(key, pdfs, state):
        if state.exists:
            l, p, n = state.get
        else:
            l, p, n = 0.0, 1.0, 0
        for pdf_b in pdfs:
            pdf_b = pdf_b.sort_values(["t_us", "event_id"])
            for x in pdf_b["value"].to_numpy(dtype="float64"):
                if n == 0:
                    l = float(x)  # seed: level = first observation
                else:
                    pp = p + _KAL_Q
                    k = pp / (pp + _KAL_R)
                    l = l + k * (float(x) - l)
                    p = (1.0 - k) * pp
                n += 1
        state.update((l, p, n))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_obs": [n],
                "level": [l],
                "p_var": [p],
            }
        )

    out = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType="user_id long, n_obs long, level double,"
            " p_var double",
            stateStructType="l double, p double, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(
        out, output_mode="append", progress_sink=progress_sink
    )
