"""Wave-26 operators (round 6): hierarchical (HNSW-style) graph ANN.

- ``q_sim_ann_hnsw`` — the 2-layer navigable-small-world search
  (Malkov & Yashunin 2018, re-scoped to the engine's oracle-exact
  discipline): a deterministic ~25% node subsample forms the COARSE
  layer whose edge set is the union of (a) in-cell kNN among coarse
  nodes, (b) one edge from every coarse node to its cell's coarse
  MEDOID, and (c) the medoid-to-medoid "highway" clique (<= k^2
  bounded rows — the cross-cell long-range links real HNSW gets from
  its global upper-layer kNN, built here without any all-pairs pass;
  the same shard-stitching shape sharded DiskANN-class systems use;
  coarse kNN candidate pairs come from multi-probe top-2-cell
  blocking so edges span adjacent cell boundaries). Search enters at
  each query's TOP-M (m=3) coarse medoids by cosine — the bounded
  medoid set (<= KMEANS_K rows, broadcast) IS the hierarchy's apex
  layer, and scoring the query against all of it is exactly the work
  real HNSW's top layer performs hop-by-hop; the round-6 single
  global apex (medoid nearest the corpus mean) routed every query
  through one node and paid a 0.64-vs-0.84 recall tax at the 500-row
  fixture when a query's true cell lost the beam tie-break (the r6
  verdict's task #3). From the seeds, 3 beam-8 hops route on the
  coarse graph, then DESCEND: the top-ef of everything VISITED on
  the coarse layer (not just the final frontier) seeds beam search
  over the full base-layer graph (analytics_wave20.knn_edges_table).
  The hierarchy is what makes graph ANN log-ish at scale: the coarse
  layer routes a search into the right region in few hops over a
  4x-smaller graph before any base-layer edges are touched.
- ``q_sim_ann_hnsw_recall`` — recall@k of the hierarchical searcher
  against the shared exact ground truth (llm_extra.exact_topk_table),
  mirroring the other three searcher gates; with the multi-medoid
  entry the gate asserts >= the IVFPQ searcher AND >= the multi-entry
  flat graph at this fixture.

Determinism discipline as everywhere: seeded-md5 layer assignment
(never rand()), exact-decimal entry selection, cosine-desc/node-asc
tie-breaks, unrolled-CTE oracle replaying the exact frontier
evolution of BOTH layers.

Reference parity note: the reference implements no similarity search
(empty plan body, ``WeatherProcessingJobPlan.java:9-11``); this
extends the north-star LLM-pipeline surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_flink_spark.plans.registry import register
from weather_flink_spark.operators.snapshot import snapshot

_L1_MOD = 4  # coarse layer = md5 bucket 0 of 4 (~25% of nodes)
_L1_KNN = 3  # coarse in-cell out-degree
_L1_HOPS = 3  # coarse hops: reach own medoid -> cross highway -> fan into cell
_L0_HOPS = 3  # base-layer hops after the descent (matches q_sim_ann_graph)


# Search widths are DIGIT-SCALED (r8, closing the r7 verdict's #1):
# d = decimal digits of the corpus size (wave20.corpus_digits — the
# exact-integer log10 proxy both engines compute identically). Fixed
# literals were the repo's one measured quality regression — HNSW
# recall 0.84 -> 0.68 from sf0.001 to sf0.1 while the corpus grew 100x
# (SURVEY §14); real HNSW scales ef with ln n. Each formula reproduces
# the round-6/7 literal at the d=3 fixture (hashes there unchanged)
# and grows by sf0.1 (d=4 on the current 2000-vector corpus),
# tracking ln-growth with margin.
#
# Coarse beam = HNSW's ef: with m=3 entry cells a narrow global beam
# leaves ~1 slot per cell and starves the query's own region (the r6
# 0.64-recall failure replayed exactly this); 5d-7 keeps every
# seeded cell's best lines alive through the 3 routing hops (8 at the
# d=3 fixture, 13 at sf0.1 (d=4) — a steeper slope than the 4(d-1)
# first draft, kept because the fixture hash pins d=3 at 8 either way).


def _l1_beam(d: int) -> int:
    return 5 * d - 7  # 8 at the d=3 fixture, 13 at sf0.1 (d=4)


def _l0_beam(d: int) -> int:
    return 3 * d - 5  # base-layer beam: 4 at the fixture, 7 at sf0.1 (d=4)


def _descent_ef(d: int) -> int:
    return 5 * d - 9  # descent ef: 6 at the fixture, 16 at sf0.1


_L1_BEAM_SQL = "(5 * (SELECT d FROM sz) - 7)"
_L0_BEAM_SQL = "(3 * (SELECT d FROM sz) - 5)"
_DESCENT_EF_SQL = "(5 * (SELECT d FROM sz) - 9)"


def _entry_m(d: int) -> int:
    return 2 * d - 3  # per-query entry seeds: 3 at fixture, 7 at sf0.1


_ENTRY_M_SQL = "(2 * (SELECT d FROM sz) - 3)"


_L1_PRED_SPARK = (
    "cast(conv(substring(md5(concat('hnsw:', cast(vec_id as string))), 1, 7),"
    f" 16, 10) as bigint) % {_L1_MOD} = 0"
)
_L1_PRED_DUCK = (
    "CAST(('0x' || substring(md5('hnsw:' || CAST(vec_id AS VARCHAR)), 1, 7))"
    f"::UBIGINT AS BIGINT) % {_L1_MOD} = 0"
)

def l1_nodes_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached coarse-layer membership: the deterministic
    seeded-md5 ~25% subsample of the IVF-assigned corpus."""
    from weather_flink_spark.plans.llm_extra import ivf_assigned_table
    from weather_flink_spark.plans.llm_pipeline import _cached

    def build() -> DataFrame:
        res = (
            ivf_assigned_table(spark, sf_dir)
            .filter(F.expr(_L1_PRED_SPARK))
            .persist()
        )
        res.count()
        return res

    return _cached("hnsw_l1_nodes", spark, sf_dir, build)


def l1_medoids_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached per-cell coarse medoids: among the coarse nodes
    of each trained IVF cell, the one nearest its cell centroid
    (min d2, deterministic vec_id tie-break) — <= KMEANS_K bounded
    rows, the coarse layer's highway vertices."""
    from weather_flink_spark.plans.analytics_wave4 import kmeans_final_assignment
    from weather_flink_spark.plans.llm_pipeline import _cached

    def build() -> DataFrame:
        _, final = kmeans_final_assignment(spark, sf_dir)
        w = Window.partitionBy("cid").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        res = (
            final.filter(F.expr(_L1_PRED_SPARK))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("cid").alias("cell"), F.col("vec_id").alias("node"))
            .persist()
        )
        res.count()
        return res

    return _cached("hnsw_l1_medoids", spark, sf_dir, build)


def l1_edges_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached coarse-layer edge set, the union of three
    bounded families (deduped like the oracle's SQL UNION):
    (a) top-3 in-cell kNN among coarse nodes — the same blocked build
    as the base layer on a 4x-smaller vertex set (16x fewer pairs);
    (b) every coarse node -> its cell's coarse medoid (n_coarse rows);
    (c) the medoid-to-medoid highway clique (<= KMEANS_K^2 rows).
    (b)+(c) are the cross-cell long-range links that make the coarse
    layer navigable — a search can leave its entry cell, which
    in-cell kNN alone can never do."""
    from weather_flink_spark.plans.llm_pipeline import _cached

    def build() -> DataFrame:
        return _l1_edges_from(
            spark, sf_dir, l1_medoids_table(spark, sf_dir)
        )

    return _cached("hnsw_l1_edges", spark, sf_dir, build)


def _l1_edges_from(
    spark: SparkSession, sf_dir: str, med: DataFrame
) -> DataFrame:
    """Coarse edge set for a GIVEN medoid table — factored out so the
    refresh job (wave-50) can rebuild topology from stale vs refreshed
    medoids; the session-cached default passes l1_medoids_table."""
    from weather_flink_spark.plans.llm_pipeline import dot_col

    from weather_flink_spark.plans.analytics_wave4 import (
        _kmeans_dist_col,
        kmeans_final_assignment,
    )

    l1 = l1_nodes_table(spark, sf_dir)
    cent, _ = kmeans_final_assignment(spark, sf_dir)
    # multi-probe blocking: each coarse node joins the blocks of its
    # TOP-2 nearest trained cells, so kNN candidate pairs span
    # adjacent cell boundaries (the navigability real HNSW gets from
    # global upper-layer kNN) while staying block-bounded — each
    # node appears in exactly 2 blocks, never all-pairs.
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("cid").asc()
    )
    probe = (
        l1.select("vec_id", "embedding", "nrm")
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            "cid",
            _kmeans_dist_col("embedding", "c").alias("d2"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("vec_id", "embedding", "nrm", F.col("cid").alias("bcell"))
    )
    a, n = probe.alias("a"), probe.alias("n")
    cos_an = dot_col(F.col("a.embedding"), F.col("n.embedding")) / (
        F.col("a.nrm") * F.col("n.nrm")
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst").asc())
    knn = (
        a.join(
            n,
            (F.col("n.bcell") == F.col("a.bcell"))
            & (F.col("n.vec_id") != F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("n.vec_id").alias("dst"),
            cos_an.alias("cosine"),
        )
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _L1_KNN)
        .select("src", "dst")
    )
    to_med = (
        l1.join(F.broadcast(med), "cell")
        .filter(F.col("vec_id") != F.col("node"))
        .select(F.col("vec_id").alias("src"), F.col("node").alias("dst"))
    )
    m1, m2 = med.alias("m1"), med.alias("m2")
    highway = m1.join(
        F.broadcast(m2), F.col("m1.node") != F.col("m2.node")
    ).select(F.col("m1.node").alias("src"), F.col("m2.node").alias("dst"))
    res = knn.unionByName(to_med).unionByName(highway).distinct().persist()
    res.count()
    return res


def l0_xcell_edges_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached CROSS-CELL base-layer edges (r8 verdict task #1):
    for every corpus vector, its top-1 cosine neighbor inside its
    SECOND-nearest trained cell (rn=2 under the same d2-asc/cid-asc
    order the IVF assignment itself uses, so the adjacent cell is the
    multi-probe cell). The shared knn_edges_table is in-cell-only, so
    base-layer descent recall was capped by which cells the coarse
    seeds reached (measured: HNSW 0.80 vs flat graph 0.84 at sf0.1);
    one bounded cross-cell edge per node lets the base beam ESCAPE its
    entry cells mid-descent. Scale shape: each vector joins exactly ONE
    adjacent cell's members (cell is the shuffle key — the same blocked
    pass as one extra in-cell kNN round, never all-pairs) and the
    artifact is <= n rows (out-degree 1), built once per (session, sf)
    like the in-cell index."""
    from weather_flink_spark.plans.analytics_wave4 import (
        _kmeans_dist_col,
        kmeans_final_assignment,
    )
    from weather_flink_spark.plans.llm_extra import ivf_assigned_table
    from weather_flink_spark.plans.llm_pipeline import _cached, dot_col

    def build() -> DataFrame:
        assigned = ivf_assigned_table(spark, sf_dir)
        cent, _ = kmeans_final_assignment(spark, sf_dir)
        w_probe = Window.partitionBy("vec_id").orderBy(
            F.col("d2").asc(), F.col("cid").asc()
        )
        probe2 = (
            assigned.select("vec_id", "embedding", "nrm")
            .crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                "embedding",
                "nrm",
                "cid",
                _kmeans_dist_col("embedding", "c").alias("d2"),
            )
            .withColumn("rn", F.row_number().over(w_probe))
            .filter(F.col("rn") == 2)
            .select("vec_id", "embedding", "nrm", F.col("cid").alias("bcell"))
        )
        a, n = probe2.alias("a"), assigned.alias("n")
        cos_an = dot_col(F.col("a.embedding"), F.col("n.embedding")) / (
            F.col("a.nrm") * F.col("n.nrm")
        )
        w = Window.partitionBy("src").orderBy(
            F.col("cosine").desc(), F.col("dst").asc()
        )
        res = (
            a.join(
                n,
                (F.col("n.cell") == F.col("a.bcell"))
                & (F.col("n.vec_id") != F.col("a.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("src"),
                F.col("n.vec_id").alias("dst"),
                cos_an.alias("cosine"),
            )
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 1)
            .select("src", "dst")
            .persist()
        )
        res.count()
        return res

    return _cached("hnsw_l0_xcell", spark, sf_dir, build)


def hnsw_entry_seeds(
    spark: SparkSession,
    sf_dir: str,
    medoids: DataFrame | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """Per-query entry seeds: the top-m (m=3) coarse-cell MEDOIDS by
    cosine to the query (node-asc tie-break) — the multi-medoid
    descent the round-6 verdict prescribed. The medoid set is the
    hierarchy's apex layer (<= KMEANS_K rows, broadcast both here and
    at 100 TB), so scoring a query against ALL of it is the same
    bounded work real HNSW's top layer performs hop-by-hop; entering
    at m medoids instead of one global apex means a query whose true
    cell would lose the single-entry beam tie-break still seeds its
    own region — the 0.64-vs-0.84 recall tax this replaces."""
    from weather_flink_spark.plans.analytics_wave20 import corpus_digits
    from weather_flink_spark.plans.llm_extra import (
        IVF_N_QUERIES,
        ivf_assigned_table,
    )
    from weather_flink_spark.plans.llm_pipeline import dot_col

    assigned = ivf_assigned_table(spark, sf_dir)
    q = assigned.filter(
        F.col("vec_id") < (n_queries or IVF_N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    if medoids is None:
        medoids = l1_medoids_table(spark, sf_dir)
    med_vec = assigned.join(
        F.broadcast(medoids.select("node")),
        F.col("vec_id") == F.col("node"),
    ).select(
        "node",
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    cos_qn = dot_col(F.col("q_emb"), F.col("n_emb")) / (
        F.col("q_nrm") * F.col("n_nrm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("node").asc()
    )
    return (
        q.crossJoin(F.broadcast(med_vec))
        .select("query_id", "node", cos_qn.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _entry_m(corpus_digits(spark, sf_dir)))
        .select("query_id", "node", "cosine")
    )


def _hops_sql(prefix: str, edges: str, start: str, hops: int, beam: int | str) -> tuple[str, str]:
    """Unrolled beam-search CTE chain (the wave-20 pattern) returning
    (sql_fragment, final_visited_name)."""
    from weather_flink_spark.plans.llm_extra import _cos_duck

    parts = []
    prev = start
    vis_prev = None
    for h in range(1, hops + 1):
        vis = f"{prefix}vis{h}"
        parts.append(
            f"""{prefix}exp{h} AS MATERIALIZED (
                SELECT query_id, node, cosine FROM {prev}
                UNION
                SELECT f.query_id, e.dst AS node,
                       {_cos_duck('q.embedding', 'v.embedding')} AS cosine
                FROM {prev} f
                JOIN {edges} e ON e.src = f.node
                JOIN embeddings q ON q.vec_id = f.query_id
                JOIN embeddings v ON v.vec_id = e.dst
            ),
            {prefix}f{h} AS MATERIALIZED (
                SELECT query_id, node, cosine FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine DESC, node ASC) AS rk
                    FROM {prefix}exp{h}
                ) WHERE rk <= {beam}
            ),
            {vis} AS MATERIALIZED (
                SELECT query_id, node, cosine FROM {prefix}exp{h}
                {f"UNION SELECT query_id, node, cosine FROM {vis_prev}" if vis_prev else ""}
            )"""
        )
        prev = f"{prefix}f{h}"
        vis_prev = vis
    return ",".join(parts), vis_prev


def _hnsw_oracle(n_queries: int | None = None) -> str:
    from weather_flink_spark.plans.analytics_wave4 import (
        KMEANS_ITERS,
        _kmeans_dist_duck,
    )
    from weather_flink_spark.plans.llm_extra import (
        IVF_N_QUERIES,
        IVF_TOP_K,
        _cos_duck,
        ivf_assigned_cte,
    )

    n_queries = n_queries or IVF_N_QUERIES

    from weather_flink_spark.plans.analytics_wave20 import knn_edges_cte

    l1_hops, l1_vis = _hops_sql("u", "l1_edges", "uf0", _L1_HOPS, _L1_BEAM_SQL)
    l0_hops, l0_vis = _hops_sql("b", "edges", "bf0", _L0_HOPS, _L0_BEAM_SQL)
    from weather_flink_spark.plans.analytics_wave20 import SZ_CTE

    return f"""
        WITH {ivf_assigned_cte()},
        {SZ_CTE},
        l1 AS MATERIALIZED (
            SELECT * FROM assigned WHERE {_L1_PRED_DUCK}
        ),
        l1m AS MATERIALIZED (
            SELECT cell, node FROM (
                SELECT a.cid AS cell, a.vec_id AS node,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.cid
                           ORDER BY a.d2 ASC, a.vec_id ASC) AS rk
                FROM a{KMEANS_ITERS} a
                WHERE {_L1_PRED_DUCK.replace('vec_id', 'a.vec_id')}
            ) WHERE rk = 1
        ),
        l1probe AS MATERIALIZED (
            SELECT vec_id, embedding, bcell FROM (
                SELECT l.vec_id, l.embedding, c.cid AS bcell,
                       ROW_NUMBER() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_kmeans_dist_duck('l.embedding', 'c.c')} ASC,
                                    c.cid ASC) AS rn
                FROM l1 l CROSS JOIN cent{KMEANS_ITERS} c
            ) WHERE rn <= 2
        ),
        l1_edges AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (
                           PARTITION BY src
                           ORDER BY cosine DESC, dst ASC) AS rk
                FROM (
                    SELECT DISTINCT a.vec_id AS src, n.vec_id AS dst,
                           {_cos_duck('a.embedding', 'n.embedding')} AS cosine
                    FROM l1probe a JOIN l1probe n
                      ON n.bcell = a.bcell AND n.vec_id <> a.vec_id
                )
            ) WHERE rk <= {_L1_KNN}
            UNION
            SELECT l.vec_id AS src, m.node AS dst
            FROM l1 l JOIN l1m m ON m.cell = l.cell
            WHERE m.node <> l.vec_id
            UNION
            SELECT m1.node AS src, m2.node AS dst
            FROM l1m m1 JOIN l1m m2 ON m1.node <> m2.node
        ),
        xprobe AS MATERIALIZED (
            -- each corpus vector's SECOND-nearest trained cell, under
            -- the exact ordering the IVF assignment uses (d2 asc,
            -- cid asc) — the multi-probe-adjacent cell
            SELECT vec_id, embedding, bcell FROM (
                SELECT a.vec_id, a.embedding, c.cid AS bcell,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_kmeans_dist_duck('a.embedding', 'c.c')} ASC,
                                    c.cid ASC) AS rn
                FROM assigned a CROSS JOIN cent{KMEANS_ITERS} c
            ) WHERE rn = 2
        ),
        {knn_edges_cte(name="gedges")},
        edges AS MATERIALIZED (
            SELECT src, dst FROM gedges
            UNION
            -- cross-cell family (r8 task #1, kept beside the r9
            -- multi-probe base index): each vector's top-1 neighbor
            -- inside its SECOND-nearest trained cell (rn=2 under the
            -- assignment's own d2-asc/cid-asc order) — guarantees one
            -- out-of-cell edge even when a node's global top-8 are
            -- all in-cell
            SELECT src, dst FROM (
                SELECT a.vec_id AS src, n.vec_id AS dst,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_duck('a.embedding', 'n.embedding')} DESC,
                                    n.vec_id ASC) AS rk
                FROM xprobe a JOIN assigned n
                  ON n.cell = a.bcell AND n.vec_id <> a.vec_id
            ) WHERE rk <= 1
        ),
        uf0 AS (
            -- per-query top-m coarse-medoid entry seeds (the
            -- multi-medoid descent): score every query against the
            -- whole bounded apex layer, keep m by cosine desc /
            -- node asc
            SELECT query_id, node, cosine FROM (
                SELECT q.vec_id AS query_id, m.node AS node,
                       {_cos_duck('q.embedding', 'n.embedding')} AS cosine,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_cos_duck('q.embedding', 'n.embedding')} DESC,
                                    m.node ASC) AS rk
                FROM embeddings q
                CROSS JOIN l1m m
                JOIN embeddings n ON n.vec_id = m.node
                WHERE q.vec_id < {n_queries}
            ) WHERE rk <= {_ENTRY_M_SQL}
        ),
        {l1_hops},
        bf0 AS (
            -- descend: the base-layer entry beams are the top-ef of
            -- EVERYTHING visited on the coarse layer (HNSW seeds the
            -- lower layer from the upper layer's ef results, not just
            -- the final frontier — a routing line evicted mid-search
            -- still seeds the descent if it stayed globally top-ef)
            -- UNION the entry seeds themselves: every probed cell
            -- keeps a base-layer start even when wrong-cell visited
            -- nodes out-rank its whole coarse sample (the multi-
            -- medoid descent, r6 verdict #3)
            SELECT query_id, node, cosine FROM (
                SELECT query_id, node, cosine,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, node ASC) AS rk
                FROM (SELECT DISTINCT query_id, node, cosine FROM {l1_vis})
            ) WHERE rk <= {_DESCENT_EF_SQL}
            UNION
            SELECT query_id, node, cosine FROM uf0
        ),
        {l0_hops}
        SELECT query_id, node AS vec_id, cosine, k_rank FROM (
            SELECT query_id, node, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, node ASC) AS k_rank
            FROM (SELECT query_id, node, cosine FROM {l0_vis}
                  UNION SELECT query_id, node, cosine FROM {l1_vis})
            WHERE node <> query_id
        ) WHERE k_rank <= {IVF_TOP_K}
    """


def _beam_hops(frontier: DataFrame, edges: DataFrame, q: DataFrame, node_vec: DataFrame, hops: int, beam: int):
    """Unrolled Spark beam search (the wave-20 pattern): returns
    (final_frontier, visited_union)."""
    from weather_flink_spark.plans.llm_pipeline import dot_col

    cos_qn = dot_col(F.col("q_emb"), F.col("n_emb")) / (
        F.col("q_nrm") * F.col("n_nrm")
    )
    w_beam = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("node").asc()
    )
    visited = frontier
    for _ in range(hops):
        expanded = (
            frontier.join(edges, frontier.node == edges.src)
            .select("query_id", F.col("dst").alias("node"))
            .join(q, "query_id")
            .join(node_vec, "node")
            .select("query_id", "node", cos_qn.alias("cosine"))
            .unionByName(frontier.select("query_id", "node", "cosine"))
            .distinct()
            # per-hop eager lineage truncation: without it every later
            # hop re-optimizes the whole unrolled tree (measured: the
            # every-2nd-hop variant nearly doubled the cold build)
            .transform(snapshot())
        )
        frontier = (
            expanded.withColumn("rk", F.row_number().over(w_beam))
            .filter(F.col("rk") <= beam)
            .select("query_id", "node", "cosine")
        )
        visited = visited.unionByName(expanded)
    return frontier, visited


@register(
    "q_sim_ann_hnsw",
    oracle=_hnsw_oracle(),
    doc=(
        "Hierarchical graph ANN (HNSW, Malkov & Yashunin 2018 — the "
        "2-layer deterministic variant): a seeded-md5 ~25% subsample "
        "forms the coarse layer whose edges are multi-probe top-3 kNN "
        "(candidate pairs from each node's TOP-2 nearest cells, so "
        "edges span adjacent cell boundaries) UNION node->cell-medoid "
        "UNION the medoid highway clique (<= k^2 rows — the "
        "cross-cell long-range links real HNSW gets from global "
        "upper-layer kNN, built with zero all-pairs work); search "
        "enters at each query's TOP-3 medoids by cosine (the bounded "
        "broadcast apex layer — multi-medoid descent, r6 verdict #3), "
        "routes 3 beam-8 hops on the coarse graph (beam = HNSW's ef; "
        "a narrow global beam starves the query's own cell when m "
        "cells are seeded), then DESCENDS — the top-6 of everything "
        "VISITED on the coarse layer, UNIONED with the entry seeds so "
        "every probed cell keeps a base-layer start, seeds "
        "3 beam-4 hops on the full base graph — the shared "
        "MULTI-PROBE knn_edges_table (r10: DIGIT-SCALED degree 4(d-1) "
        "over top-(d-1)-cell candidates — the r9 constants 8/2 at the "
        "d=3 fixture, 12/3 at sf0.1, where the scale-blind index was "
        "the measured panel-recall ceiling) UNION one guaranteed "
        "CROSS-CELL edge per vector "
        "(top-1 neighbor in its 2nd-nearest cell, r8 verdict #1). "
        "Top-5 of "
        "everything visited on either layer. The hierarchy is the "
        "log-scale path: at 100 TB the coarse layer routes in hops "
        "over a 4x-smaller graph (16x fewer index pairs) before any "
        "base-layer work, and every hop stays a bounded "
        "frontier x degree edge join. Unrolled-CTE oracle replays "
        "both layers' exact frontier evolution; recall gated by "
        "q_sim_ann_hnsw_recall."
    ),
    tags=("similarity", "ann", "graph", "hnsw"),
)
def q_sim_ann_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.plans.llm_pipeline import _cached

    # the searcher result is tiny (queries x k rows) and consumed by
    # both this entry and the recall gate — session-cache it like
    # exact_topk_table so the gate never re-runs the 6-hop search
    return _cached(
        "hnsw_result", spark, sf_dir, lambda: _hnsw_search(spark, sf_dir)
    )


def _hnsw_search(
    spark: SparkSession,
    sf_dir: str,
    medoids: DataFrame | None = None,
    l1_edges: DataFrame | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """The 2-layer search; ``medoids``/``l1_edges`` override the
    refreshed coarse structures so wave-50 can run the SAME searcher
    against a stale index state (default = session-cached tables)."""
    from weather_flink_spark.plans.analytics_wave20 import knn_edges_table
    from weather_flink_spark.plans.llm_extra import (
        IVF_N_QUERIES,
        IVF_TOP_K,
        ivf_assigned_table,
    )

    assigned = ivf_assigned_table(spark, sf_dir)
    q = assigned.filter(
        F.col("vec_id") < (n_queries or IVF_N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    node_vec = assigned.select(
        F.col("vec_id").alias("node"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    f0 = hnsw_entry_seeds(spark, sf_dir, medoids=medoids, n_queries=n_queries)
    from weather_flink_spark.plans.analytics_wave20 import corpus_digits

    d = corpus_digits(spark, sf_dir)
    if l1_edges is None:
        l1_edges = l1_edges_table(spark, sf_dir)
    coarse_f, coarse_vis = _beam_hops(
        f0, l1_edges, q, node_vec, _L1_HOPS, _l1_beam(d)
    )
    w_desc = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("node").asc()
    )
    descent = (
        coarse_vis.distinct()
        .withColumn("rk", F.row_number().over(w_desc))
        .filter(F.col("rk") <= _descent_ef(d))
        .select("query_id", "node", "cosine")
        # union the entry seeds past the ef cut: every probed cell
        # keeps a base-layer start even when wrong-cell visited nodes
        # out-rank its whole coarse sample (multi-medoid descent)
        .unionByName(f0)
        .distinct()
    )
    # base graph = shared multi-probe kNN index UNION the degree-1
    # cross-cell edges, so the beam can leave the cells its seeds
    # landed in (r8 verdict task #1); the flat searcher (wave-20)
    # keeps the pure in-cell index — its 8 entry medoids already
    # cover every cell by construction
    base_edges = (
        knn_edges_table(spark, sf_dir)
        .unionByName(l0_xcell_edges_table(spark, sf_dir))
        .distinct()
    )
    base_f, base_vis = _beam_hops(
        descent, base_edges, q, node_vec, _L0_HOPS, _l0_beam(d)
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("node").asc()
    )
    # eager localCheckpoint (not persist): persist caches the data but
    # every action still re-analyzes the full unrolled logical plan
    # (~2 s of pure Catalyst at 6 hops); checkpoint truncates it, so
    # the cached queries x k result re-reads in milliseconds
    return (
        base_vis.unionByName(coarse_vis)
        .distinct()
        .filter(F.col("node") != F.col("query_id"))
        .withColumn("k_rank", F.row_number().over(w_rank))
        .filter(F.col("k_rank") <= IVF_TOP_K)
        .select("query_id", F.col("node").alias("vec_id"), "cosine", "k_rank")
        .transform(snapshot())
    )


def _hnsw_recall_oracle() -> str:
    from weather_flink_spark.plans.llm_extra import (
        IVF_N_QUERIES,
        IVF_TOP_K,
        _cos_duck,
    )

    return f"""
        WITH hnsw AS MATERIALIZED ({_hnsw_oracle()}),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_cos_duck('q.embedding', 'v.embedding')} DESC,
                                    v.vec_id ASC
                       ) AS k_rank
                FROM embeddings q JOIN embeddings v ON q.vec_id <> v.vec_id
                WHERE q.vec_id < {IVF_N_QUERIES}
            ) WHERE k_rank <= {IVF_TOP_K}
        )
        SELECT e.query_id,
               COUNT(*) AS k,
               COUNT(h.vec_id) AS n_hit,
               CAST(COUNT(h.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
        FROM exact e
        LEFT JOIN hnsw h ON h.query_id = e.query_id AND h.vec_id = e.vec_id
        GROUP BY e.query_id
    """


@register(
    "q_sim_ann_hnsw_recall",
    oracle=_hnsw_recall_oracle(),
    doc=(
        "Recall@k of the hierarchical (HNSW) searcher against exact "
        "brute-force cosine top-k, per query — the fourth searcher "
        "gate (after IVF, IVF+PQ and flat-graph), consuming the shared "
        "session-cached exact ground truth so all gates measure "
        "against the same table."
    ),
    tags=("similarity", "ann", "graph", "hnsw", "evaluation"),
)
def q_sim_ann_hnsw_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.plans.llm_extra import exact_topk_table

    approx = q_sim_ann_hnsw(spark, sf_dir).select("query_id", "vec_id")
    exact = exact_topk_table(spark, sf_dir)
    hit = exact.join(
        approx.withColumnRenamed("vec_id", "h_vec").withColumnRenamed(
            "query_id", "h_query"
        ),
        (F.col("query_id") == F.col("h_query")) & (F.col("vec_id") == F.col("h_vec")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.count("*").alias("k"),
        F.count("h_vec").alias("n_hit"),
        (F.count("h_vec").cast("double") / F.count("*")).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical (BM25) + dense (cosine) fused by RRF
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard reciprocal-rank-fusion constant
_HYBRID_TOPK = 10
_HYBRID_QVEC = 0  # dense query = corpus vector 0 (ids parallel doc_id)


def _dense_topk_cte() -> str:
    from weather_flink_spark.plans.llm_extra import _cos_duck

    return f"""
        dense AS MATERIALIZED (
            SELECT vec_id, cosine,
                   ROW_NUMBER() OVER (
                       ORDER BY cosine DESC, vec_id ASC) AS rank_dense
            FROM (
                SELECT v.vec_id,
                       {_cos_duck('q.embedding', 'v.embedding')} AS cosine
                FROM embeddings v
                CROSS JOIN (SELECT embedding FROM embeddings
                            WHERE vec_id = {_HYBRID_QVEC}) q
                WHERE v.vec_id <> {_HYBRID_QVEC}
            )
            ORDER BY cosine DESC, vec_id ASC
            LIMIT {_HYBRID_TOPK}
        )"""


def _hybrid_rrf_oracle() -> str:
    from weather_flink_spark.plans.analytics_wave16 import _bm25_topk_oracle

    return f"""
        WITH lex AS MATERIALIZED ({_bm25_topk_oracle()}),
        {_dense_topk_cte()},
        fused AS (
            SELECT COALESCE(l.doc_id, d.vec_id) AS id,
                   l.rank AS rank_lex,
                   d.rank_dense AS rank_dense,
                   COALESCE(1.0 / ({_RRF_K} + l.rank), 0.0)
                   + COALESCE(1.0 / ({_RRF_K} + d.rank_dense), 0.0) AS rrf
            FROM lex l FULL OUTER JOIN dense d ON d.vec_id = l.doc_id
        )
        SELECT id, rank_lex, rank_dense, rrf, rank_hybrid FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY rrf DESC, id ASC) AS rank_hybrid
            FROM fused
        ) WHERE rank_hybrid <= {_HYBRID_TOPK}
    """


@register(
    "q_sim_hybrid_rrf",
    oracle=_hybrid_rrf_oracle(),
    doc=(
        "Hybrid retrieval — the modern RAG-serving shape: the lexical "
        "BM25 top-10 (composes q_text_bm25_topk verbatim, so the "
        "scorer cannot drift) and the dense cosine top-10 for a fixed "
        "query vector are fused by reciprocal-rank fusion "
        "(rrf = sum 1/(60+rank), the Cormack et al. 2009 constant), "
        "full-outer-joined on the shared id space so a document "
        "ranked by only one retriever still scores. Every ranking is "
        "rank-based (no score-scale calibration between BM25 and "
        "cosine — RRF's whole point), and all rank derivations run as "
        "bounded better-than self-joins over <= 2k fused rows, never "
        "a partitionless window. Scale: each retriever is the "
        "already-audited top-k shape (TakeOrderedAndProject over a "
        "corpus-linear scan); fusion touches <= 2k rows."
    ),
    tags=("similarity", "text", "search", "ranking", "hybrid"),
)
def q_sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.io import load
    from weather_flink_spark.plans.analytics_wave16 import q_text_bm25_topk
    from weather_flink_spark.plans.llm_pipeline import dot_col, norm_col

    lex = q_text_bm25_topk(spark, sf_dir).select(
        F.col("doc_id").alias("l_id"), F.col("rank").alias("rank_lex")
    )

    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == _HYBRID_QVEC).select(
        F.col("embedding").alias("q_emb"), norm_col(F.col("embedding")).alias("q_nrm")
    )
    cos = dot_col(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_nrm") * norm_col(F.col("embedding"))
    )
    dtop = (
        e.filter(F.col("vec_id") != _HYBRID_QVEC)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(_HYBRID_TOPK)
        # snapshot the 40-row dense shortlist: the rank self-join below
        # otherwise re-runs the full-corpus cosine scan per side (r11)
        .transform(snapshot(eager=False))
    )
    da, db = dtop.alias("da"), dtop.alias("db")
    d_better = (F.col("db.cosine") > F.col("da.cosine")) | (
        (F.col("db.cosine") == F.col("da.cosine"))
        & (F.col("db.vec_id") < F.col("da.vec_id"))
    )
    dense = (
        da.join(db, d_better, "left")
        .groupBy(F.col("da.vec_id"))
        .agg((F.count(F.col("db.vec_id")) + 1).alias("rank_dense"))
        .select(F.col("vec_id").alias("d_id"), F.col("rank_dense").cast("bigint"))
    )

    fused = (
        lex.join(dense, F.col("l_id") == F.col("d_id"), "full_outer")
        .select(
            F.coalesce(F.col("l_id"), F.col("d_id")).alias("id"),
            "rank_lex",
            "rank_dense",
            (
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_dense")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    ftop = fused.orderBy(F.col("rrf").desc(), F.col("id").asc()).limit(_HYBRID_TOPK)
    fa, fb = ftop.alias("fa"), ftop.alias("fb")
    f_better = (F.col("fb.rrf") > F.col("fa.rrf")) | (
        (F.col("fb.rrf") == F.col("fa.rrf")) & (F.col("fb.id") < F.col("fa.id"))
    )
    return (
        fa.join(fb, f_better, "left")
        .groupBy(
            F.col("fa.id"),
            F.col("fa.rank_lex"),
            F.col("fa.rank_dense"),
            F.col("fa.rrf"),
        )
        .agg((F.count(F.col("fb.id")) + 1).alias("rank_hybrid"))
        .select(
            F.col("fa.id").alias("id"),
            F.col("fa.rank_lex").alias("rank_lex"),
            F.col("fa.rank_dense").alias("rank_dense"),
            F.col("fa.rrf").alias("rrf"),
            F.col("rank_hybrid").cast("bigint").alias("rank_hybrid"),
        )
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (multiplicative weights, linearized)
# ---------------------------------------------------------------------------

_DRM_ETA = 0.5  # multiplicative-weights step size
_DRM_ITERS = 4  # unrolled fixed-point iterations
_DRM_FRAC = 0.2  # sampling budget as a fraction of the corpus
_DRM_DENOM = 268435456.0  # 16^7: md5 7-hex-digit prefix -> uniform [0,1)

_DRM_LOSS_SPARK = (
    "cast(round(cast(conv(substring(md5(concat('drm:', cast(doc_id as string))), 1, 7),"
    f" 16, 10) as double) / {_DRM_DENOM}, 9) as decimal(12,9))"
)
_DRM_LOSS_DUCK = (
    "CAST(ROUND(CAST(('0x' || substring(md5('drm:' || CAST(doc_id AS VARCHAR)), 1, 7))"
    f"::UBIGINT AS DOUBLE) / {_DRM_DENOM}, 9) AS DECIMAL(12,9))"
)


def _doremi_oracle() -> str:
    parts = [
        f"""
        dom0 AS MATERIALIZED (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(ROUND(CAST(SUM({_DRM_LOSS_DUCK}) AS DOUBLE)
                        / COUNT(*), 9) AS DECIMAL(12,9)) AS loss_mean
            FROM documents GROUP BY source
        ),
        init AS (
            SELECT d.*, CAST(ROUND(1.0 / s.ns, 9) AS DECIMAL(12,9)) AS w
            FROM dom0 d CROSS JOIN (SELECT COUNT(*) AS ns FROM dom0) s
        )"""
    ]
    prev = "init"
    for t in range(_DRM_ITERS):
        parts.append(
            f"""
        mu{t} AS (SELECT SUM(w * loss_mean) AS mu FROM {prev}),
        raw{t} AS (
            SELECT p.source, p.n_docs, p.loss_mean,
                   CAST(ROUND(CAST(p.w AS DOUBLE)
                        * (1.0 + {_DRM_ETA} * ROUND(GREATEST(
                              CAST(p.loss_mean AS DOUBLE) - CAST(m.mu AS DOUBLE),
                              0.0), 9)), 9) AS DECIMAL(12,9)) AS raw
            FROM {prev} p CROSS JOIN mu{t} m
        ),
        it{t} AS (
            SELECT r.source, r.n_docs, r.loss_mean,
                   CAST(ROUND(CAST(r.raw AS DOUBLE) / CAST(z.z AS DOUBLE), 9)
                        AS DECIMAL(12,9)) AS w
            FROM raw{t} r CROSS JOIN (SELECT SUM(raw) AS z FROM raw{t}) z
        )"""
        )
        prev = f"it{t}"
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT f.source, f.n_docs,
               CAST(f.loss_mean AS DOUBLE) AS loss_mean,
               CAST(i.w AS DOUBLE) AS w_init,
               CAST(f.w AS DOUBLE) AS w_final,
               CAST(FLOOR({_DRM_FRAC} * CAST(n.nt AS DOUBLE)
                    * CAST(f.w AS DOUBLE)) AS BIGINT) AS k_budget
        FROM {prev} f
        JOIN init i ON i.source = f.source
        CROSS JOIN (SELECT SUM(n_docs) AS nt FROM dom0) n
    """
    )


@register(
    "q_sample_doremi",
    oracle=_doremi_oracle(),
    doc=(
        "DoReMi-style domain reweighting (Xie et al. 2023, the "
        "multiplicative-weights core with a LINEARIZED update so the "
        "whole iteration replays exactly): per-domain proxy loss = "
        "seeded-md5 uniform per doc (never rand()), domain mean on "
        "the 9dp decimal grid; then 4 unrolled mirror-descent steps "
        "where the baseline is the CURRENT mixture's expected loss "
        "(mu_t = sum w_s * m_s, exact decimal sum), each domain's "
        "weight multiplies by (1 + eta * excess_t) and renormalizes — "
        "domains above the mixture average get upweighted, shifting "
        "the average, a genuine interacting fixed point (not a static "
        "rank). exp() is deliberately replaced by its first-order "
        "form: both engines' libm exp can differ in the last ulp, the "
        "linear update stays IEEE-identical; every step re-grids to "
        "9dp via double ROUND (the quantize_embeddings discipline). "
        "Output: per-domain mean loss, initial and final mixture "
        "weights, and the floor(frac*N*w) token budget. Scale: the "
        "domain table is |sources| rows (bounded); the only "
        "corpus-sized work is one groupBy for the loss means — the "
        "per-iteration cost is independent of corpus size."
    ),
    tags=("sampling", "llm-pipeline", "iterative"),
)
def q_sample_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.io import load

    d = load(spark, sf_dir, "documents")
    # the ONLY corpus-sized stage; eager-checkpoint the bounded
    # |sources|-row result so the unrolled iteration chain (which
    # references it many times) never re-scans the corpus
    dom0 = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr(
            f"cast(round(cast(sum({_DRM_LOSS_SPARK}) as double) / count(*), 9)"
            " as decimal(12,9))"
        ).alias("loss_mean"),
    ).transform(snapshot())
    ns = dom0.agg(F.count("*").alias("ns"))
    cur = dom0.crossJoin(F.broadcast(ns)).select(
        "source",
        "n_docs",
        "loss_mean",
        F.expr("cast(round(1.0 / ns, 9) as decimal(12,9))").alias("w"),
    )
    init = cur.select("source", F.col("w").alias("w_init"))
    for _ in range(_DRM_ITERS):
        mu = cur.agg(F.sum(F.col("w") * F.col("loss_mean")).alias("mu"))
        raw = cur.crossJoin(F.broadcast(mu)).select(
            "source",
            "n_docs",
            "loss_mean",
            F.expr(
                "cast(round(cast(w as double) * (1.0 + "
                f"{_DRM_ETA} * round(greatest("
                "cast(loss_mean as double) - cast(mu as double), 0.0d), 9)), 9)"
                " as decimal(12,9))"
            ).alias("raw"),
        )
        z = raw.agg(F.sum("raw").alias("z"))
        # per-step truncation keeps each micro-job's plan flat (the
        # table is |sources| rows; without it the nested agg+crossJoin
        # chain re-evaluates every prior step per reference)
        cur = raw.crossJoin(F.broadcast(z)).select(
            "source",
            "n_docs",
            "loss_mean",
            F.expr(
                "cast(round(cast(raw as double) / cast(z as double), 9)"
                " as decimal(12,9))"
            ).alias("w"),
        ).transform(snapshot())
    nt = dom0.agg(F.sum("n_docs").alias("nt"))
    return (
        cur.join(F.broadcast(init), "source")
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            "n_docs",
            F.col("loss_mean").cast("double").alias("loss_mean"),
            F.col("w_init").cast("double").alias("w_init"),
            F.col("w").cast("double").alias("w_final"),
            F.expr(
                f"cast(floor({_DRM_FRAC} * cast(nt as double)"
                " * cast(w as double)) as bigint)"
            ).alias("k_budget"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming index maintenance: per-batch HNSW insert
# ---------------------------------------------------------------------------


def _probe_cells(
    model: list[tuple[int, list[float]]],
    n_probe: int = 2,
    col: str = "embedding",
):
    """List of ``n_probe`` cell expressions: the nearest trained
    centroids (d2 ASC, cid ASC tie-break — the multi-probe rule the
    batch kNN builds use), computed by sorting the bounded k-row
    (d2, cid) struct array."""

    def dist2(c_vals: list[float]):
        arr = F.array(*[F.lit(float(x)) for x in c_vals])
        prod = F.zip_with(F.col(col), arr, lambda a, b: (a - b) * (a - b))
        return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)

    pairs = F.array_sort(
        F.array(
            *[
                F.struct(dist2(c).alias("d2"), F.lit(cid).alias("cid"))
                for cid, c in model
            ]
        )
    )
    return [pairs[i]["cid"] for i in range(n_probe)]


def hnsw_insert_frame(
    batch_df: DataFrame,
    assigned: DataFrame,
    model: list[tuple[int, list[float]]],
    digits: int = 3,
) -> DataFrame:
    """The edges a new vector receives on insert into the 2-layer
    graph, computed against the STATIC index restricted to the node's
    strict vec_id-prefix (so the result depends only on (node, prefix)
    — batch composition can never change it, the curation-verdict
    monotonicity property applied to index writes):
    - base layer: top-g_degree(digits) cosine among prefix vectors in
      the node's top-g_probe(digits) probe cells (the r10 digit-scaled
      knn_edges_table rule — 8 over top-2 at the d=3 fixture, exactly
      the r9 constants; was own-cell/degree-4 before r9);
    - coarse layer (only if the node passes the seeded-md5 layer
      predicate): top-_L1_KNN among prefix COARSE vectors in the
      node's top-2 probe cells (the coarse build rule, probe fixed
      at 2 like _l1_edges_from).
    ``digits`` is the static index corpus' digit count (wave-20
    corpus_digits) so insert edges follow the same scale-adaptive
    build rule as the batch index.
    Medoid/highway refresh is deliberately out of scope — like
    production graph-ANN services, structural rebalance runs as
    periodic compaction (the batch build), not per insert."""
    from weather_flink_spark.plans.analytics_wave20 import g_degree, g_probe
    from weather_flink_spark.plans.llm_pipeline import dot_col, norm_col

    base_cells = _probe_cells(model, n_probe=g_probe(digits))
    coarse_cells = base_cells[:2]
    new = batch_df.select(
        F.col("vec_id").alias("node"),
        F.col("embedding").alias("n_emb"),
        norm_col(F.col("embedding")).alias("n_nrm"),
        F.expr(_L1_PRED_SPARK).alias("is_coarse"),
        F.array(*base_cells).alias("bcells"),
        F.array(*coarse_cells).alias("ccells"),
    )
    cos = dot_col(F.col("n_emb"), F.col("embedding")) / (F.col("n_nrm") * F.col("nrm"))
    w_edge = Window.partitionBy("node", "layer").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    base = (
        assigned.join(
            F.broadcast(new),
            F.array_contains(F.col("bcells"), F.col("cell"))
            & (F.col("vec_id") < F.col("node")),
        )
        .select(
            "node",
            F.lit("base").alias("layer"),
            F.col("vec_id").alias("dst"),
            cos.alias("cosine"),
        )
    )
    coarse = (
        assigned.filter(F.expr(_L1_PRED_SPARK))
        .join(
            F.broadcast(new.filter(F.col("is_coarse"))),
            F.array_contains(F.col("ccells"), F.col("cell"))
            & (F.col("vec_id") < F.col("node")),
        )
        .select(
            "node",
            F.lit("coarse").alias("layer"),
            F.col("vec_id").alias("dst"),
            cos.alias("cosine"),
        )
    )
    # base cap = the static index's out-DEGREE (digit-scaled g_degree,
    # the build rule), not the digit-scaled search beam — pre-r8 the
    # two happened to share the literal 4
    lim = (
        F.when(F.col("layer") == "base", F.lit(g_degree(digits)))
        .otherwise(F.lit(_L1_KNN))
    )
    return (
        base.unionByName(coarse)
        .withColumn("edge_rank", F.row_number().over(w_edge))
        .filter(F.col("edge_rank") <= lim)
        .select(
            "node", "layer", "dst", F.round("cosine", 6).alias("cosine"), "edge_rank"
        )
    )


def run_hnsw_insert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the 10 highest-vec_id vectors (2 jsonl files, pinned
    mtimes => 2 deterministic micro-batches) and compute each one's
    insert edges inside foreachBatch against the static session-cached
    index — batch x (cell prefix) work, never batch x corpus."""
    import json
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as papq

    from weather_flink_spark.plans.analytics_wave4 import kmeans_final_assignment
    from weather_flink_spark.plans.llm_extra import ivf_assigned_table
    from weather_flink_spark.streaming.jobs import run_bounded

    assigned = ivf_assigned_table(spark, sf_dir)
    cent, _ = kmeans_final_assignment(spark, sf_dir)
    # bounded collect: the trained model is k=8 rows by construction
    model = sorted(((r["cid"], list(r["c"])) for r in cent.collect()), key=lambda x: x[0])

    t = papq.read_table(sf_dir + "/embeddings.parquet", columns=["vec_id", "embedding"])
    pairs = sorted(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )[-10:]
    rows = [
        json.dumps({"vec_id": int(v), "embedding": [float(x) for x in e]})
        for v, e in pairs
    ]
    d = os.path.join(tempfile.gettempdir(), f"wfs_stream_hnswins_{os.getpid()}")
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

    from weather_flink_spark.plans.analytics_wave20 import corpus_digits

    dig = corpus_digits(spark, sf_dir)

    def insert_batch(batch_df: DataFrame, batch_id: int) -> None:
        # bounded collect: <= |batch| x (g_degree + _L1_KNN) rows
        acc.extend(
            hnsw_insert_frame(batch_df, assigned, model, digits=dig).collect()
        )

    ckpt = os.path.join(d, "_ckpt")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    run_bounded(
        spark,
        stream.writeStream.foreachBatch(insert_batch).option("checkpointLocation", ckpt),
    )

    out = spark.createDataFrame(
        acc,
        schema="node bigint, layer string, dst bigint, cosine double, edge_rank int",
    )
    return out.orderBy("node", "layer", "edge_rank")


@register(
    "s_stream_hnsw_insert",
    doc=(
        "Streaming index MAINTENANCE for the hierarchical graph ANN "
        "(closes the write-path gap of the wave-26 searcher the way "
        "s_stream_ann_search closed the IVF read path): a file stream "
        "of new vectors is, per micro-batch inside foreachBatch, given "
        "the edges it would receive on insert — base-layer top-8 "
        "multi-probe kNN and (for seeded-md5 coarse members) top-3 "
        "multi-probe coarse kNN, both against the node's strict "
        "vec_id-prefix of the static session-cached index, so results "
        "depend only on (node, prefix) and batch composition can never "
        "change them. Medoid/highway refresh runs as periodic "
        "compaction (the batch build), mirroring production graph-ANN "
        "services. Per-batch work is batch x (prefix cell), never "
        "batch x corpus."
    ),
    tags=("streaming", "similarity", "ann", "graph", "hnsw"),
)
def s_stream_hnsw_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_hnsw_insert_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# Filtered ANN search (metadata predicate pushed into the probed cells)
# ---------------------------------------------------------------------------


def _filtered_ann_oracle() -> str:
    from weather_flink_spark.plans.analytics_wave4 import (
        KMEANS_ITERS,
        _kmeans_dist_duck,
    )
    from weather_flink_spark.plans.llm_extra import (
        IVF_N_QUERIES,
        IVF_TOP_K,
        _cos_duck,
        ivf_assigned_cte,
    )
    from weather_flink_spark.plans.analytics_wave20 import SZ_CTE
    from weather_flink_spark.plans.similarity_extra import IVF_NPROBE_SQL

    dist = _kmeans_dist_duck("e.embedding", "c.c")
    return f"""
        WITH {SZ_CTE},
        {ivf_assigned_cte()},
        lab AS (SELECT vec_id, label FROM embeddings),
        qs AS MATERIALIZED (
            SELECT e.vec_id AS query_id, e.embedding AS q_emb, l.label AS q_label
            FROM embeddings e JOIN lab l ON l.vec_id = e.vec_id
            WHERE e.vec_id < {IVF_N_QUERIES}
        ),
        probes AS MATERIALIZED (
            SELECT query_id, q_emb, q_label, probe_cell FROM (
                SELECT q.query_id, q.q_emb, q.q_label, c.cid AS probe_cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {dist.replace('e.embedding', 'q.q_emb')} ASC,
                                    c.cid ASC
                       ) AS rn
                FROM qs q CROSS JOIN cent{KMEANS_ITERS} c
            ) WHERE rn <= {IVF_NPROBE_SQL}
        ),
        cand AS MATERIALIZED (
            SELECT p.query_id, v.vec_id,
                   {_cos_duck('p.q_emb', 'v.embedding')} AS cosine
            FROM probes p
            JOIN assigned v ON v.cell = p.probe_cell
            JOIN lab vl ON vl.vec_id = v.vec_id
            WHERE vl.label = p.q_label AND v.vec_id <> p.query_id
        ),
        ivf_top AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, vec_id ASC) AS k_rank
                FROM cand
            ) WHERE k_rank <= {IVF_TOP_K}
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT q.query_id, v.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_cos_duck('q.q_emb', 'v.embedding')} DESC,
                                    v.vec_id ASC) AS k_rank
                FROM qs q
                JOIN embeddings v ON v.vec_id <> q.query_id
                JOIN lab vl ON vl.vec_id = v.vec_id
                WHERE vl.label = q.q_label
            ) WHERE k_rank <= {IVF_TOP_K}
        ),
        ncand AS (
            SELECT query_id, COUNT(*) AS n_probe_candidates FROM cand GROUP BY query_id
        )
        SELECT e.query_id, q.q_label,
               COUNT(*) AS k,
               COALESCE(MIN(n.n_probe_candidates), 0) AS n_probe_candidates,
               COUNT(i.vec_id) AS n_hit,
               CAST(COUNT(i.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
        FROM exact e
        JOIN qs q ON q.query_id = e.query_id
        LEFT JOIN ncand n ON n.query_id = e.query_id
        LEFT JOIN ivf_top i
          ON i.query_id = e.query_id AND i.vec_id = e.vec_id
        GROUP BY e.query_id, q.q_label
    """


@register(
    "q_sim_ann_filtered",
    oracle=_filtered_ann_oracle(),
    doc=(
        "Filtered ANN search — the vector-DB hot path: top-k cosine "
        "among vectors satisfying a metadata predicate (here: the "
        "query's own label class, ~1/10 selectivity). PRE-FILTER "
        "semantics: the label predicate is pushed INTO the probed "
        "digit-scaled nprobe = d-1 cells' candidate scan (2 at the "
        "d=3 fixture, r10 verdict task #5 convention; "
        "filter-then-rank), so the "
        "search always returns k results from the allowed set — the "
        "post-filter alternative (rank-then-filter the unfiltered "
        "top-k) would return < k and lose recall at selective "
        "predicates. Per-query recall measured against the exact "
        "filtered brute-force top-k, plus the surviving candidate "
        "count (the selectivity x nprobe cost the planner would see). "
        "Scale: probe selection is |queries| x k against the 8-row "
        "broadcast model; the filtered cell scan is "
        "selectivity x nprobe/cells of the corpus per query."
    ),
    tags=("similarity", "ann", "ivf", "filtered", "evaluation"),
)
def q_sim_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.io import load
    from weather_flink_spark.plans.analytics_wave4 import (
        _kmeans_dist_col,
        kmeans_final_assignment,
    )
    from weather_flink_spark.plans.llm_extra import (
        IVF_N_QUERIES,
        IVF_TOP_K,
        ivf_assigned_table,
    )
    from weather_flink_spark.plans.analytics_wave20 import corpus_digits
    from weather_flink_spark.plans.llm_pipeline import dot_col
    from weather_flink_spark.plans.similarity_extra import ivf_nprobe

    assigned = ivf_assigned_table(spark, sf_dir)
    lab = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    av = assigned.join(lab, "vec_id")
    q = av.filter(F.col("vec_id") < IVF_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("label").alias("q_label"),
    )
    cent, _ = kmeans_final_assignment(spark, sf_dir)
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("cd2").asc(), F.col("cid").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id", "q_emb", "q_nrm", "q_label", "cid",
            _kmeans_dist_col("q_emb", "c").alias("cd2"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= ivf_nprobe(corpus_digits(spark, sf_dir)))
        .select("query_id", "q_emb", "q_nrm", "q_label", F.col("cid").alias("probe_cell"))
    )
    cos_qv = dot_col(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_nrm") * F.col("nrm")
    )
    cand = (
        av.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("probe_cell"))
            & (F.col("label") == F.col("q_label"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", cos_qv.alias("cosine"))
        .transform(snapshot())
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    ivf_top = (
        cand.withColumn("k_rank", F.row_number().over(w_rank))
        .filter(F.col("k_rank") <= IVF_TOP_K)
        .select("query_id", F.col("vec_id").alias("i_vec"))
    )
    exact = (
        av.join(
            F.broadcast(q),
            (F.col("label") == F.col("q_label"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", cos_qv.alias("cosine"))
        .withColumn("k_rank", F.row_number().over(w_rank))
        .filter(F.col("k_rank") <= IVF_TOP_K)
        .select("query_id", "vec_id")
    )
    ncand = cand.groupBy("query_id").agg(F.count("*").alias("n_probe_candidates"))
    hit = (
        exact.join(
            ivf_top,
            (exact.query_id == ivf_top.query_id) & (exact.vec_id == ivf_top.i_vec),
            "left",
        )
        .select(exact.query_id, "vec_id", "i_vec")
    )
    return (
        hit.groupBy("query_id")
        .agg(
            F.count("*").alias("k"),
            F.count("i_vec").alias("n_hit"),
            (F.count("i_vec").cast("double") / F.count("*")).alias("recall_at_k"),
        )
        .join(q.select("query_id", "q_label"), "query_id")
        .join(ncand, "query_id", "left")
        .select(
            "query_id",
            "q_label",
            "k",
            F.coalesce(F.col("n_probe_candidates"), F.lit(0)).alias(
                "n_probe_candidates"
            ),
            "n_hit",
            "recall_at_k",
        )
    )
