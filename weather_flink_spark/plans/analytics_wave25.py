"""Wave-25 operators (round 6): OPQ rotation for product quantization.

- ``q_emb_opq_rotate`` — learn the 4-reflection Householder OPQ
  rotation (operators/opq.py; eigenvalue-allocation core of Ge et al.
  2013 on the oracle-exact top-4 power-iteration components), rotate
  the corpus, re-run the PQ code assignment in the rotated basis, and
  report the per-subspace quantization error against the natural-basis
  PQ (analytics_wave13.pq_codes_table). The hashed gate is the OPQ
  OBJECTIVE: total rotated quantization error strictly below the
  natural-basis total — measured true at every SF on this corpus
  (sf0.001 -1.8%, sf0.01 -0.7%, sf0.1 -0.1%).
- ``q_emb_opq_adc_recall`` — the honest recall comparison row: exact
  brute-force ADC top-k recall of the natural-basis PQ codes vs the
  OPQ-rotated codes against the shared exact ground truth
  (llm_extra.exact_topk_table). On the near-isotropic synthetic corpus
  (eigenvalue ratio ~2-4) the 5-query recall@5 is noise-dominated
  (doubles at sf0.1, dips at sf0.01) — both numbers are surfaced so
  the relationship is data, not a claim.

Reference parity note: the reference's transformation plan is empty
(``WeatherProcessingJobPlan.java:9-11``); these extend the north-star
LLM-pipeline surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_flink_spark.io import load
from weather_flink_spark.operators.opq import OPQ_M, OPQ_SUB
from weather_flink_spark.plans.registry import register
from weather_flink_spark.operators.snapshot import snapshot

_Q6_SPARK = "cast(round(cast(element_at({v}, {d}) as double), 6) as decimal(12,6))"
_Q6_DUCK = "CAST(ROUND(CAST({v}[{d}] AS DOUBLE), 6) AS DECIMAL(12,6))"
_PQ_KC = 16  # codebook = first 16 vectors (the wave-13 discipline)
_N_ADC_Q = 5  # query set (= llm_extra.IVF_N_QUERIES)
_ADC_K = 5  # top-k (= llm_extra.IVF_TOP_K)


def _dist_cols_spark(a: str, b: str, m: int) -> str:
    """Exact decimal squared L2 between subspace m of two DECIMAL(12,6)
    array columns (already quantized — no re-round)."""
    terms = []
    for i in range(1, OPQ_SUB + 1):
        d = m * OPQ_SUB + i
        terms.append(
            f"cast(((element_at({a}, {d})) - (element_at({b}, {d})))"
            f" * ((element_at({a}, {d})) - (element_at({b}, {d}))) as decimal(20,12))"
        )
    return " + ".join(terms)


def _dist_cols_duck(a: str, b: str, m: int) -> str:
    terms = []
    for i in range(1, OPQ_SUB + 1):
        d = m * OPQ_SUB + i
        terms.append(
            f"CAST((({a}[{d}]) - ({b}[{d}])) * (({a}[{d}]) - ({b}[{d}])) AS DECIMAL(20,12))"
        )
    return " + ".join(terms)


def _dist_q6_duck(a: str, b: str, m: int) -> str:
    """Natural-basis twin: quantize both sides inline (wave-13 form)."""
    terms = []
    for i in range(1, OPQ_SUB + 1):
        d = m * OPQ_SUB + i
        x = _Q6_DUCK.format(v=a, d=d)
        c = _Q6_DUCK.format(v=b, d=d)
        terms.append(f"CAST((({x}) - ({c})) * (({x}) - ({c})) AS DECIMAL(20,12))")
    return " + ".join(terms)


def opq_rotated_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached rotated + 6dp-quantized corpus: (vec_id, rq
    DECIMAL(12,6)[]). One Arrow rotation pass per session, persisted —
    the rotated index artifact every OPQ consumer reads."""
    from weather_flink_spark.operators import opq, pca
    from weather_flink_spark.plans.llm_pipeline import _cached
    from weather_flink_spark.plans.llm_wave5 import pca_power_model

    def build() -> DataFrame:
        us = opq.fit_opq_householder(pca_power_model(spark, sf_dir))
        e = pca.quantize_embeddings(
            load(spark, sf_dir, "embeddings"), "embedding", dim=64
        )
        rot = opq.rotate_embeddings(e, "embedding", us)
        res = rot.select(
            "vec_id",
            F.transform(
                F.col("rot"), lambda x: F.round(x, 6).cast("decimal(12,6)")
            ).alias("rq"),
        ).persist()
        res.count()
        return res

    return _cached("opq_rotated", spark, sf_dir, build)


def opq_codes_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached OPQ code index: (vec_id, code_0..3, d2_0..3) over
    the ROTATED basis — the rotated twin of wave-13's pq_codes_table
    (same codebook rule: first 16 vectors, rotated with the corpus)."""
    from weather_flink_spark.plans.llm_pipeline import _cached

    def build() -> DataFrame:
        rq = opq_rotated_table(spark, sf_dir)
        code = rq.filter(F.col("vec_id") < _PQ_KC).select(
            F.col("vec_id").alias("code"), F.col("rq").alias("c_rq")
        )
        joined = rq.join(F.broadcast(code))
        out = None
        for m in range(OPQ_M):
            d2 = F.expr(_dist_cols_spark("rq", "c_rq", m))
            w = Window.partitionBy("vec_id").orderBy(
                F.col("d2").asc(), F.col("code").asc()
            )
            a = (
                joined.select("vec_id", "code", d2.alias("d2"))
                .withColumn("rn", F.row_number().over(w))
                .where("rn = 1")
                .select(
                    "vec_id",
                    F.col("code").alias(f"code_{m}"),
                    F.col("d2").alias(f"d2_{m}"),
                )
            )
            out = a if out is None else out.join(a, "vec_id")
        res = out.persist()
        res.count()
        return res

    return _cached("opq_codes", spark, sf_dir, build)


def _opq_replay_parts() -> list[str]:
    """The full shared oracle prefix: PCA component replay + Householder
    chain + corpus rotation + rotated-basis PQ codes (oc0..oc3) +
    natural-basis PQ codes (nc0..nc3)."""
    from weather_flink_spark.operators.opq import (
        householder_cte_parts,
        rotation_cte_parts,
    )
    from weather_flink_spark.operators.pca import pca_power_cte_parts

    parts = pca_power_cte_parts(dim=64, k=4)
    parts += householder_cte_parts()
    parts += rotation_cte_parts()
    for m in range(OPQ_M):
        # rank by the d2 ALIAS in a nested subquery, never by repeating
        # the 64-term decimal expression in the window ORDER BY — DuckDB
        # re-evaluates window sort keys, so the repeated-expression form
        # measured ~2.3x slower with identical results (r10)
        parts.append(
            f"""oc{m} AS MATERIALIZED (
                SELECT vec_id, code, d2 FROM (
                    SELECT vec_id, code, d2,
                           ROW_NUMBER() OVER (
                               PARTITION BY vec_id
                               ORDER BY d2 ASC, code ASC) AS rn
                    FROM (
                        SELECT v.vec_id, c.vec_id AS code,
                               {_dist_cols_duck('v.rq', 'c.rq', m)} AS d2
                        FROM rotq v JOIN rotq c ON c.vec_id < {_PQ_KC}
                    )
                ) WHERE rn = 1
            )"""
        )
        parts.append(
            f"""nc{m} AS MATERIALIZED (
                SELECT vec_id, code, d2 FROM (
                    SELECT vec_id, code, d2,
                           ROW_NUMBER() OVER (
                               PARTITION BY vec_id
                               ORDER BY d2 ASC, code ASC) AS rn
                    FROM (
                        SELECT v.vec_id, c.vec_id AS code,
                               {_dist_q6_duck('v.embedding', 'c.embedding', m)} AS d2
                        FROM embeddings v JOIN embeddings c ON c.vec_id < {_PQ_KC}
                    )
                ) WHERE rn = 1
            )"""
        )
    return parts


def _opq_rotate_oracle() -> str:
    per_m = " UNION ALL ".join(
        f"""SELECT {m} AS subspace,
               CAST(SUM(n.d2) AS DOUBLE) AS err_nat,
               CAST(SUM(o.d2) AS DOUBLE) AS err_opq
        FROM nc{m} n JOIN oc{m} o USING (vec_id)"""
        for m in range(OPQ_M)
    )
    tot_nat = " + ".join(f"(SELECT SUM(d2) FROM nc{m})" for m in range(OPQ_M))
    tot_opq = " + ".join(f"(SELECT SUM(d2) FROM oc{m})" for m in range(OPQ_M))
    return (
        "WITH RECURSIVE "
        + ", ".join(_opq_replay_parts())
        + f""", per_m AS ({per_m})
        SELECT CAST(subspace AS BIGINT) AS subspace, err_nat, err_opq,
               ({tot_opq}) < ({tot_nat}) AS opq_improves_total
        FROM per_m
        """
    )


@register(
    "q_emb_opq_rotate",
    oracle=_opq_rotate_oracle(),
    doc=(
        "OPQ rotation for product quantization (Ge et al. 2013, "
        "parametric core re-scoped to a 4-reflection Householder "
        "chain): the oracle-exact top-4 power-iteration components "
        "(shared with q_emb_pca_project via pca_power_cte_parts) are "
        "mapped one-per-PQ-subspace onto coordinate axes — eigenvalue "
        "allocation with a bounded, fully-replayable model — the "
        "corpus is rotated in one Arrow pass (4 dot+axpy per vector, "
        "never a 64x64 GEMM), and PQ codes are re-assigned in the "
        "rotated basis. Hashed output: per-subspace natural vs rotated "
        "quantization error (exact decimals) plus the Spark-computed "
        "opq_improves_total flag — the OPQ OBJECTIVE, which drops at "
        "every SF on this corpus; the oracle replays the entire "
        "pipeline (power iteration, reflections, rotation, code "
        "argmin) with recursive CTEs and emits the same comparison. "
        "Scale: rotation is a narrow Arrow map; code assignment is "
        "corpus x 16 broadcast; errors are map-side decimal sums."
    ),
    tags=("embedding", "pq", "opq", "pandas-udf"),
)
def q_emb_opq_rotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.plans.analytics_wave13 import pq_codes_table

    # ONE join + ONE 8-column sum agg (r10 verdict task #2): the prior
    # shape launched OPQ_M separate join+agg subtrees and unioned them —
    # 4x the jobs (and 4x the contention surface) for the same 8 exact
    # decimal sums. The per-subspace rows come from exploding the single
    # 1-row aggregate; totals are decimal adds over the same row, so the
    # opq_improves_total comparison stays exact.
    nat = pq_codes_table(spark, sf_dir).select(
        "vec_id", *[F.col(f"d2_{m}").alias(f"n2_{m}") for m in range(OPQ_M)]
    )
    opq = opq_codes_table(spark, sf_dir).select(
        "vec_id", *[F.col(f"d2_{m}").alias(f"o2_{m}") for m in range(OPQ_M)]
    )
    sums = nat.join(opq, "vec_id").agg(
        *[F.sum(f"n2_{m}").alias(f"sn_{m}") for m in range(OPQ_M)],
        *[F.sum(f"o2_{m}").alias(f"so_{m}") for m in range(OPQ_M)],
    )
    tot_nat = sum((F.col(f"sn_{m}") for m in range(1, OPQ_M)), F.col("sn_0"))
    tot_opq = sum((F.col(f"so_{m}") for m in range(1, OPQ_M)), F.col("so_0"))
    return sums.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("bigint").alias("subspace"),
                        F.col(f"sn_{m}").cast("double").alias("err_nat"),
                        F.col(f"so_{m}").cast("double").alias("err_opq"),
                    )
                    for m in range(OPQ_M)
                ]
            )
        ).alias("r"),
        (tot_opq < tot_nat).alias("opq_improves_total"),
    ).select("r.subspace", "r.err_nat", "r.err_opq", "opq_improves_total")


def _adc_recall_oracle() -> str:
    from weather_flink_spark.plans.llm_extra import _cos_duck

    # query-side LUTs: exact decimal d2 between each query subvector and
    # each codeword subvector, per subspace; ADC = sum over subspaces of
    # lut[query, code_m(vec)] — 4 integer lookups per candidate
    nat_lut = " UNION ALL ".join(
        f"""SELECT q.vec_id AS query_id, {m} AS m, c.vec_id AS code,
                   {_dist_q6_duck('q.embedding', 'c.embedding', m)} AS d2q
            FROM embeddings q JOIN embeddings c ON c.vec_id < {_PQ_KC}
            WHERE q.vec_id < {_N_ADC_Q}"""
        for m in range(OPQ_M)
    )
    opq_lut = " UNION ALL ".join(
        f"""SELECT q.vec_id AS query_id, {m} AS m, c.vec_id AS code,
                   {_dist_cols_duck('q.rq', 'c.rq', m)} AS d2q
            FROM rotq q JOIN rotq c ON c.vec_id < {_PQ_KC}
            WHERE q.vec_id < {_N_ADC_Q}"""
        for m in range(OPQ_M)
    )
    nat_codes = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, code FROM nc{m}" for m in range(OPQ_M)
    )
    opq_codes = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, code FROM oc{m}" for m in range(OPQ_M)
    )
    return (
        "WITH RECURSIVE "
        + ", ".join(_opq_replay_parts())
        + f""",
        exact AS MATERIALIZED (
            SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_cos_duck('q.embedding', 'v.embedding')} DESC,
                                    v.vec_id ASC
                       ) AS k_rank
                FROM embeddings q JOIN embeddings v ON q.vec_id <> v.vec_id
                WHERE q.vec_id < {_N_ADC_Q}
            ) WHERE k_rank <= {_ADC_K}
        ),
        nat_lut AS MATERIALIZED ({nat_lut}),
        opq_lut AS MATERIALIZED ({opq_lut}),
        nat_adc AS (
            SELECT query_id, vec_id FROM (
                SELECT s.query_id, s.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.query_id
                           ORDER BY s.adc ASC, s.vec_id ASC) AS rk
                FROM (
                    SELECT l.query_id, cd.vec_id, SUM(l.d2q) AS adc
                    FROM ({nat_codes}) cd
                    JOIN nat_lut l ON l.m = cd.m AND l.code = cd.code
                    WHERE cd.vec_id <> l.query_id
                    GROUP BY l.query_id, cd.vec_id
                ) s
            ) WHERE rk <= {_ADC_K}
        ),
        opq_adc AS (
            SELECT query_id, vec_id FROM (
                SELECT s.query_id, s.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.query_id
                           ORDER BY s.adc ASC, s.vec_id ASC) AS rk
                FROM (
                    SELECT l.query_id, cd.vec_id, SUM(l.d2q) AS adc
                    FROM ({opq_codes}) cd
                    JOIN opq_lut l ON l.m = cd.m AND l.code = cd.code
                    WHERE cd.vec_id <> l.query_id
                    GROUP BY l.query_id, cd.vec_id
                ) s
            ) WHERE rk <= {_ADC_K}
        )
        SELECT e.query_id,
               COUNT(*) AS k,
               COUNT(na.vec_id) AS n_hit_nat,
               CAST(COUNT(na.vec_id) AS DOUBLE) / COUNT(*) AS recall_nat,
               COUNT(oa.vec_id) AS n_hit_opq,
               CAST(COUNT(oa.vec_id) AS DOUBLE) / COUNT(*) AS recall_opq
        FROM exact e
        LEFT JOIN nat_adc na ON na.query_id = e.query_id AND na.vec_id = e.vec_id
        LEFT JOIN opq_adc oa ON oa.query_id = e.query_id AND oa.vec_id = e.vec_id
        GROUP BY e.query_id
        """
    )


def _adc_topk(codes_long: DataFrame, lut: DataFrame) -> DataFrame:
    """Brute-force ADC top-k: per (query, vector) sum the 4 LUT
    lookups, rank per query (adc ASC, vec_id ASC), keep k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    return (
        codes_long.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2q").alias("adc"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _ADC_K)
        .select("query_id", "vec_id")
    )


def adc_lut(q: DataFrame, c: DataFrame) -> DataFrame:
    """Long-format ADC lookup table (query_id, m, code, d2q): exact
    decimal subspace distance between each query subvector (``qv``)
    and each codeword subvector (``cv``), one row per subspace."""
    # one crossJoin, all OPQ_M subspace distances exploded per row: the
    # prior per-m unionByName re-planned the query/codeword subtrees
    # once per subspace (r11 — part of adc_recall's 135-scan before-
    # plan); per-element arithmetic is unchanged
    md = [
        F.struct(
            F.lit(m).alias("m"),
            F.expr(_dist_cols_spark("qv", "cv", m)).alias("d2q"),
        )
        for m in range(OPQ_M)
    ]
    return (
        q.crossJoin(F.broadcast(c))
        .select("query_id", "code", F.explode(F.array(*md)).alias("md"))
        .select("query_id", F.col("md.m").alias("m"), "code", F.col("md.d2q").alias("d2q"))
    )


def pq_codes_long(tbl: DataFrame) -> DataFrame:
    """Unpivot a wide code table (vec_id, code_0..3) to long
    (vec_id, m, code) — single-subtree explode, not a per-m union."""
    mc = [
        F.struct(F.lit(m).alias("m"), F.col(f"code_{m}").alias("code"))
        for m in range(OPQ_M)
    ]
    return tbl.select("vec_id", F.explode(F.array(*mc)).alias("mc")).select(
        "vec_id", F.col("mc.m").alias("m"), F.col("mc.code").alias("code")
    )


def adc_topk_tables(
    spark: SparkSession, sf_dir: str, n_queries: int = _N_ADC_Q
) -> tuple[DataFrame, DataFrame]:
    """(nat_top, opq_top): brute-force ADC top-5 per query over the
    natural-basis PQ codes and the OPQ-rotated codes, query set =
    ``vec_id < n_queries`` (default the 5 gate queries; the wave-70
    panel runs all 100 panel queries through this same code path)."""
    from weather_flink_spark.operators import pca
    from weather_flink_spark.plans.analytics_wave13 import pq_codes_table

    # snapshot the quantized corpus once: it feeds both sides of each
    # LUT crossJoin (queries + codewords, natural basis)
    e_q = (
        pca.quantize_embeddings(
            load(spark, sf_dir, "embeddings"), "embedding", dim=64
        )
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("decimal(12,6)")).alias("q6"),
        )
        .transform(snapshot(eager=False))
    )
    nat_q = e_q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q6").alias("qv")
    )
    nat_c = e_q.filter(F.col("vec_id") < _PQ_KC).select(
        F.col("vec_id").alias("code"), F.col("q6").alias("cv")
    )
    rq = opq_rotated_table(spark, sf_dir)
    opq_q = rq.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("rq").alias("qv")
    )
    opq_c = rq.filter(F.col("vec_id") < _PQ_KC).select(
        F.col("vec_id").alias("code"), F.col("rq").alias("cv")
    )
    nat_top = _adc_topk(
        pq_codes_long(pq_codes_table(spark, sf_dir)), adc_lut(nat_q, nat_c)
    )
    opq_top = _adc_topk(
        pq_codes_long(opq_codes_table(spark, sf_dir)), adc_lut(opq_q, opq_c)
    )
    return nat_top, opq_top


@register(
    "q_emb_opq_adc_recall",
    oracle=_adc_recall_oracle(),
    doc=(
        "The OPQ recall comparison row: brute-force ADC top-5 recall "
        "of the natural-basis PQ codes vs the OPQ-rotated codes, per "
        "query, against the shared exact ground truth "
        "(exact_topk_table). ADC is the real serving arithmetic — 4 "
        "LUT lookups per candidate, LUT = queries x 16 exact-decimal "
        "subspace distances — so the two recall columns measure "
        "exactly what the codes would serve. On this near-isotropic "
        "synthetic corpus the 5-query recall is noise-dominated "
        "(rotated recall doubles at sf0.1, dips at sf0.01) while the "
        "quantization objective improves at every SF (q_emb_opq_rotate "
        "is the gate); both columns are surfaced so the relationship "
        "is data, not a claim. Fully oracle-replayed end to end. "
        "Retained as the 5-query smoke/parity gate; the representative "
        "read is the 100-query panel (q_sim_recall_panel_pq, r10), "
        "where OPQ's recall gain at scale is no longer noise: 0.050 "
        "nat vs 0.092 opq at sf0.1."
    ),
    tags=("embedding", "pq", "opq", "ann", "evaluation"),
)
def q_emb_opq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.plans.llm_extra import exact_topk_table

    exact = exact_topk_table(spark, sf_dir)
    nat_top, opq_top = adc_topk_tables(spark, sf_dir)

    hit = (
        exact.join(
            nat_top.withColumnRenamed("vec_id", "n_vec").withColumnRenamed(
                "query_id", "n_query"
            ),
            (F.col("query_id") == F.col("n_query")) & (F.col("vec_id") == F.col("n_vec")),
            "left",
        )
        .join(
            opq_top.withColumnRenamed("vec_id", "o_vec").withColumnRenamed(
                "query_id", "o_query"
            ),
            (F.col("query_id") == F.col("o_query")) & (F.col("vec_id") == F.col("o_vec")),
            "left",
        )
    )
    return hit.groupBy("query_id").agg(
        F.count("*").alias("k"),
        F.count("n_vec").alias("n_hit_nat"),
        (F.count("n_vec").cast("double") / F.count("*")).alias("recall_nat"),
        F.count("o_vec").alias("n_hit_opq"),
        (F.count("o_vec").cast("double") / F.count("*")).alias("recall_opq"),
    )


# ---------------------------------------------------------------------------
# Streaming ANN search (round-6 verdict #7): the query path as a stream
# ---------------------------------------------------------------------------


def ivf_search_frame(batch_df: DataFrame, assigned: DataFrame, model) -> DataFrame:
    """One micro-batch of query vectors -> top-k ANN answers.

    The incoming vector is assigned to its nearest trained cell with
    the SHARED ivf_cell_exprs rule (analytics_wave20 — the same
    expressions the streaming write path uses), then searches ONLY
    that cell of the static session-cached index: broadcast the
    bounded query batch, cell-equi-join, cosine with the established
    float fold, per-query top-k window. Batch-sized work against a
    persisted index — never batch x corpus."""
    from weather_flink_spark.plans.analytics_wave20 import ivf_cell_exprs
    from weather_flink_spark.plans.llm_extra import IVF_TOP_K
    from weather_flink_spark.plans.llm_pipeline import dot_col, norm_col

    cell, _ = ivf_cell_exprs(model)
    q = batch_df.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm_col(F.col("embedding")).alias("q_nrm"),
        cell.alias("q_cell"),
    )
    cos_qv = dot_col(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_nrm") * F.col("nrm")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        assigned.join(
            F.broadcast(q),
            (F.col("cell") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", "cell", cos_qv.alias("cosine"))
        .withColumn("k_rank", F.row_number().over(w_rank))
        .filter(F.col("k_rank") <= IVF_TOP_K)
    )


def run_ann_search_stream(
    spark: SparkSession, sf_dir: str, n_queries: int | None = None
) -> DataFrame:
    """Stream the bounded query set (2 jsonl files, deterministic
    mtimes => 2 micro-batches), answer each micro-batch inside
    foreachBatch via ivf_search_frame against the static cached index,
    and return the accumulated answers. Results carry no batch_id —
    an answer depends only on (index, query vector), so batch
    composition cannot change it (the curation-verdict monotonicity
    property applied to the read path). ``n_queries`` widens the
    streamed query set (default IVF_N_QUERIES; the wave-56 panel
    parity test streams all 100 panel queries)."""
    import json
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as papq

    from weather_flink_spark.plans.analytics_wave4 import kmeans_final_assignment
    from weather_flink_spark.plans.llm_extra import IVF_N_QUERIES, ivf_assigned_table
    from weather_flink_spark.streaming.jobs import run_bounded

    assigned = ivf_assigned_table(spark, sf_dir)
    cent, _ = kmeans_final_assignment(spark, sf_dir)
    # bounded collect: the trained model is k=8 rows by construction
    model = sorted(((r["cid"], list(r["c"])) for r in cent.collect()), key=lambda x: x[0])

    n_queries = n_queries or IVF_N_QUERIES
    t = papq.read_table(sf_dir + "/embeddings.parquet", columns=["vec_id", "embedding"])
    rows = [
        json.dumps({"vec_id": int(v), "embedding": [float(x) for x in e]})
        for v, e in zip(
            t.column("vec_id").to_pylist()[:n_queries],
            t.column("embedding").to_pylist()[:n_queries],
        )
    ]
    d = os.path.join(
        tempfile.gettempdir(), f"wfs_stream_annsearch_{os.getpid()}_{n_queries}"
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    mid = len(rows) // 2
    for i, chunk in enumerate((rows[:mid], rows[mid:])):
        p = os.path.join(d, f"part-{i:04d}.jsonl")
        with open(p, "w") as f:
            f.write("\n".join(chunk) + "\n")
        # file sources order by mtime; pin it so file i == batch i
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    acc: list = []

    def answer_batch(batch_df: DataFrame, batch_id: int) -> None:
        # bounded collect: <= |batch queries| x IVF_TOP_K rows
        acc.extend(ivf_search_frame(batch_df, assigned, model).collect())

    ckpt = os.path.join(d, "_ckpt")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    run_bounded(
        spark,
        stream.writeStream.foreachBatch(answer_batch).option("checkpointLocation", ckpt),
    )

    out = spark.createDataFrame(
        acc, schema="query_id bigint, vec_id bigint, cell bigint, cosine double, k_rank int"
    )
    return out.select(
        "query_id", "vec_id", "cell", F.round("cosine", 6).alias("cosine"), "k_rank"
    ).orderBy("query_id", "k_rank")


@register(
    "s_stream_ann_search",
    doc=(
        "Streaming ANN QUERY path (the round-6 composition closing the "
        "write-path-only gap of s_stream_ann_assign): a file stream of "
        "query vectors is, per micro-batch inside foreachBatch, "
        "assigned to its nearest trained IVF cell (the SHARED "
        "ivf_cell_exprs rule) and answered with cell-local cosine "
        "top-k against the static session-cached index — stream-static "
        "join against a persisted index, batch-sized work, never "
        "batch x corpus. Answers depend only on (index, query vector), "
        "so batch composition cannot change them; tests prove the "
        "streamed answers equal q_sim_ann_ivf's batch answers on the "
        "same vectors row for row AND (r10) that streaming all 100 "
        "wave-56 panel queries matches an independently composed "
        "batch search row-for-row — the streaming twin reads off the "
        "same panel quality surface as every batch tier."
    ),
    tags=("streaming", "similarity", "ann", "ivf"),
)
def s_stream_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ann_search_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# Sessionized funnel attribution (round-6 verdict #8)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 1_800_000_000  # 30 min — the q_session_batch gap rule


@register(
    "q_events_funnel_attribution",
    oracle=f"""
        WITH staged AS (
            SELECT user_id, event_id, ts,  event_type,
                   CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS kindr,
                   epoch_us(ts) AS t_us
            FROM events WHERE event_type IN ('view', 'click', 'purchase')
        ),
        lagd AS (
            SELECT *, LAG(t_us) OVER (
                PARTITION BY user_id ORDER BY ts ASC, kindr ASC, event_id ASC
            ) AS prev_us
            FROM staged
        ),
        sess AS (
            SELECT *, SUM(CASE WHEN prev_us IS NULL
                                 OR t_us - prev_us > {SESSION_GAP_US}
                               THEN 1 ELSE 0 END) OVER (
                PARTITION BY user_id ORDER BY ts ASC, kindr ASC, event_id ASC
                ROWS UNBOUNDED PRECEDING
            ) AS session_id
            FROM lagd
        ),
        runs AS (
            SELECT *, MAX(CASE WHEN event_type = 'view' THEN t_us END) OVER ws AS view_run
            FROM sess
            WINDOW ws AS (PARTITION BY user_id, session_id
                          ORDER BY ts ASC, kindr ASC, event_id ASC
                          ROWS UNBOUNDED PRECEDING)
        ),
        q AS (
            SELECT *, MAX(CASE WHEN event_type = 'click' AND view_run IS NOT NULL
                               THEN [t_us, event_id] END) OVER ws AS qclick
            FROM runs
            WINDOW ws AS (PARTITION BY user_id, session_id
                          ORDER BY ts ASC, kindr ASC, event_id ASC
                          ROWS UNBOUNDED PRECEDING)
        ),
        conv AS (
            SELECT user_id, session_id, t_us, event_id,
                   qclick[2] AS credit_click_id,
                   t_us - qclick[1] AS lag_us
            FROM q WHERE event_type = 'purchase' AND qclick IS NOT NULL
        ),
        sess_roll AS (
            SELECT user_id, session_id,
                   MIN(ts) AS session_start,
                   COUNT(*) AS session_events,
                   BOOL_OR(event_type = 'view') AS has_view,
                   COUNT(CASE WHEN event_type = 'click'
                               AND view_run IS NOT NULL THEN 1 END) AS n_qualified_clicks
            FROM q GROUP BY user_id, session_id
        ),
        conv_roll AS (
            SELECT user_id, session_id,
                   COUNT(*) AS n_conversions,
                   MAX([t_us, event_id, credit_click_id, lag_us])[3] AS credit_click_id,
                   ROUND(CAST(MAX([t_us, event_id, credit_click_id, lag_us])[4] AS DOUBLE)
                         / 1000000.0, 6) AS credit_lag_s
            FROM conv GROUP BY user_id, session_id
        )
        SELECT s.user_id, CAST(s.session_id AS BIGINT) AS session_id, s.session_start, s.session_events,
               s.has_view, s.n_qualified_clicks,
               COALESCE(c.n_conversions, 0) AS n_conversions,
               c.credit_click_id, c.credit_lag_s
        FROM sess_roll s
        LEFT JOIN conv_roll c
          ON c.user_id = s.user_id AND c.session_id = s.session_id
    """,
    doc=(
        "Sessionized funnel attribution (round-6 verdict #8): "
        "q_session_batch's 30-minute gaps-and-islands sessionization, "
        "q_events_funnel_windowed's chained running-frame funnel, and "
        "q_events_attribution's last-touch credit composed over ONE "
        "user_id sort. Sessions form from the lag-gap running sum; "
        "within each (user, session) window a running MAX carries the "
        "latest view, a running MAX over [t_us, event_id] pairs "
        "carries the latest view-qualified click (the struct max IS "
        "the last-touch argmax — no self-join), and every purchase "
        "with a qualified click converts, crediting that click. "
        "Per-session rollup: funnel depth counters plus the LAST "
        "conversion's credited click and lag (max_by/ARG_MAX on the "
        "unique [t_us, event_id] purchase key — deterministic). "
        "Scale: one shuffle on user_id for the windows, one "
        "session-keyed groupBy; no joins over the event stream."
    ),
    tags=("window", "timeseries", "funnel", "session", "attribution"),
)
def q_events_funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    kindr = (
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "click", 1)
        .otherwise(2)
    )
    w_user = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("kindr").asc(), F.col("event_id").asc()
    )
    w_user_run = w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = e.select(
        "user_id", "event_id", "ts", "event_type",
        kindr.alias("kindr"), F.unix_micros("ts").alias("t_us"),
    )
    sess = (
        staged.withColumn("prev_us", F.lag("t_us").over(w_user))
        .withColumn(
            "session_id",
            F.sum(
                F.when(
                    F.col("prev_us").isNull()
                    | (F.col("t_us") - F.col("prev_us") > SESSION_GAP_US),
                    1,
                ).otherwise(0)
            ).over(w_user_run),
        )
    )
    w_sess = (
        Window.partitionBy("user_id", "session_id")
        .orderBy(F.col("ts").asc(), F.col("kindr").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = sess.withColumn(
        "view_run",
        F.max(F.when(F.col("event_type") == "view", F.col("t_us"))).over(w_sess),
    )
    q = runs.withColumn(
        "qclick",
        F.max(
            F.when(
                (F.col("event_type") == "click") & F.col("view_run").isNotNull(),
                F.struct(F.col("t_us").alias("t"), F.col("event_id").alias("id")),
            )
        ).over(w_sess),
    )
    conv = q.filter(
        (F.col("event_type") == "purchase") & F.col("qclick").isNotNull()
    ).select(
        "user_id", "session_id", "t_us", "event_id",
        F.col("qclick.id").alias("credit_click_id"),
        (F.col("t_us") - F.col("qclick.t")).alias("lag_us"),
    )
    # last conversion's credit via one lexicographic MAX over the
    # composite (t_us, event_id, payload...) — event_id is unique, so
    # the payload positions never decide the ordering (the arg_max
    # shape DuckDB's ARG_MAX cannot take for a LIST key)
    lastc = F.max(
        F.struct(
            F.col("t_us").alias("t"),
            F.col("event_id").alias("id"),
            F.col("credit_click_id").alias("cc"),
            F.col("lag_us").alias("lg"),
        )
    )
    sess_roll = q.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("session_events"),
        F.max(F.col("event_type") == "view").alias("has_view"),
        F.count(
            F.when(
                (F.col("event_type") == "click") & F.col("view_run").isNotNull(), 1
            )
        ).alias("n_qualified_clicks"),
    )
    conv_roll = conv.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_conversions"),
        lastc.getField("cc").alias("credit_click_id"),
        F.round(lastc.getField("lg").cast("double") / 1_000_000.0, 6).alias(
            "credit_lag_s"
        ),
    )
    return (
        sess_roll.alias("s")
        .join(conv_roll.alias("c"), ["user_id", "session_id"], "left")
        .select(
            "user_id",
            "session_id",
            "session_start",
            "session_events",
            "has_view",
            "n_qualified_clicks",
            F.coalesce(F.col("c.n_conversions"), F.lit(0)).alias("n_conversions"),
            F.col("c.credit_click_id").alias("credit_click_id"),
            F.col("c.credit_lag_s").alias("credit_lag_s"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-based source mixing (the multi-source LLM sampling rule)
# ---------------------------------------------------------------------------

MIX_ALPHA_SQRT = True  # alpha = 0.5 (temperature 2): w_s ∝ sqrt(n_s)
MIX_FRAC = 0.2  # total sample budget = 20% of the corpus


@register(
    "q_sample_temperature",
    oracle=f"""
        WITH counts AS (
            SELECT source, COUNT(*) AS n_source FROM documents GROUP BY source
        ),
        tot AS (
            SELECT SUM(n_source) AS n_total,
                   list_reduce(list_prepend(0.0,
                       LIST(sqrt(CAST(n_source AS DOUBLE)) ORDER BY source ASC)),
                       (a, b) -> a + b) AS z
            FROM counts
        ),
        targets AS (
            SELECT c.source, c.n_source,
                   CAST(FLOOR(({MIX_FRAC} * CAST(t.n_total AS DOUBLE))
                        * (sqrt(CAST(c.n_source AS DOUBLE)) / t.z)) AS BIGINT)
                       AS k_target
            FROM counts c CROSS JOIN tot t
        ),
        ranked AS (
            SELECT d.doc_id, d.source,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.source
                       ORDER BY md5('temp_mix:' || CAST(d.doc_id AS VARCHAR)) ASC,
                                d.doc_id ASC
                   ) AS sel_rank
            FROM documents d
        )
        SELECT r.doc_id, r.source, t.n_source, t.k_target,
               CAST(r.sel_rank AS BIGINT) AS sel_rank
        FROM ranked r JOIN targets t ON t.source = r.source
        WHERE r.sel_rank <= t.k_target
    """,
    doc=(
        "Temperature-based multi-source sampling — the mixing rule LLM "
        "data pipelines use to up-weight small sources (alpha=0.5, "
        "'temperature 2'): per-source weights w_s = sqrt(n_s) / Z, "
        "per-source budgets k_s = floor(frac * N * w_s), and a "
        "DETERMINISTIC within-source selection by seeded md5 rank (the "
        "never-rand() discipline, same as q_sample_stratified) so the "
        "sample is reproducible and oracle-checkable. The weight "
        "normalizer Z folds sqrt terms in source-ASC order on BOTH "
        "engines (the array_sort-collect-fold idiom), so every double "
        "op is order-pinned. Scale: one groupBy for counts, a bounded "
        "broadcast of per-source targets, one md5 rank window per "
        "source partition — no global sort, no rand()."
    ),
    tags=("sampling", "llm-pipeline", "text"),
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_source"))
    tot = counts.agg(
        F.sum("n_source").alias("n_total"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("source", F.sqrt(F.col("n_source").cast("double")).alias("sq")))
                ),
                lambda x: x["sq"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z"),
    )
    targets = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_source",
        F.floor(
            (F.lit(MIX_FRAC) * F.col("n_total").cast("double"))
            * (F.sqrt(F.col("n_source").cast("double")) / F.col("z"))
        )
        .cast("bigint")
        .alias("k_target"),
    )
    w_src = Window.partitionBy("source").orderBy(
        F.expr("md5(concat('temp_mix:', cast(doc_id as string)))").asc(),
        F.col("doc_id").asc(),
    )
    ranked = d.select(
        "doc_id", "source", F.row_number().over(w_src).cast("bigint").alias("sel_rank")
    )
    return ranked.join(F.broadcast(targets), "source").where(
        F.col("sel_rank") <= F.col("k_target")
    ).select("doc_id", "source", "n_source", "k_target", "sel_rank")
