"""Wave-20 operators (round 4): incremental delta-batch dedup, graph
ANN (NSW-style beam search), and their streaming twins.

- ``q_dedup_incremental`` — the daily-ingest shape of near-dedup: the
  newest 20% of documents (the "delta batch") are checked against the
  historical corpus AND against each other via the shared LSH band
  index, and every new document gets a verdict (dup_of_history /
  dup_in_batch / novel) with its best match. This is what a production
  pipeline runs per ingest: history's signature table is the reusable
  index; only the delta hashes fresh.
- ``q_sim_ann_graph`` — graph-based ANN (the navigable-small-world
  family, the third major ANN architecture after IVF and hashing):
  a k-NN edge list (top-8 multi-probe neighbors per vector, riding the
  session-cached IVF assignment) is greedily beam-searched from a
  IVF-medoid entry set — digit-scaled hops (2d-3: 3 at the d=3
  fixture, 5 at sf0.1) with a digit-scaled beam (2(d-1): 4 at the
  fixture, 6 at sf0.1), final top-5 of the visited set. Hops are pure
  join+window rounds, replayed by CTEs structurally unrolled to the
  7-hop ceiling with each hop gated by ``h <= hops(d)`` (an inactive
  hop is an exact identity), so ONE oracle text adapts per sf.
- ``s_stream_ann_assign`` — streaming vector ingestion: a file stream
  of JSON vectors is assigned to its trained IVF cell by a
  stream-static broadcast of the k-means model — the "index new
  embeddings as they arrive" path.
- ``s_dedup_incremental`` — streaming near-dup candidates: a stream of
  new documents is minhash-banded on the fly and stream-static-joined
  against the static corpus band index, emitting candidate pairs as
  they arrive.

Reference parity note: the reference's transformation plan is empty
(``WeatherProcessingJobPlan.java:9-11``); these extend the north-star
surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_flink_spark.io import load
from weather_flink_spark.plans.registry import register
from weather_flink_spark.operators.snapshot import snapshot

# ---------------------------------------------------------------------------
# Incremental (delta-batch) near-dedup
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.5


def _incr_oracle() -> str:
    from weather_flink_spark.plans.llm_pipeline import (
        _BANDS_SQL,
        H28_SHINGLE_SQL,
    )

    jac = (
        "CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)"
        " / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))"
    )
    return f"""
        WITH split AS (
            SELECT (MAX(doc_id) * 4) // 5 AS h FROM documents
        ),
        bands AS MATERIALIZED ({_BANDS_SQL}),
        sh AS MATERIALIZED (
            SELECT doc_id, {H28_SHINGLE_SQL} AS hs
            FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM documents)
        ),
        cand AS (
            -- new docs probe the full band index; pair each new doc
            -- with any OTHER doc sharing a band bucket
            SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS other_id
            FROM bands n
            JOIN bands o
              ON o.band_id = n.band_id AND o.band_key = n.band_key
             AND o.doc_id <> n.doc_id
            WHERE n.doc_id >= (SELECT h FROM split)
        ),
        verified AS (
            SELECT c.new_id, c.other_id,
                   c.other_id >= (SELECT h FROM split) AS other_is_new,
                   {jac} AS jaccard
            FROM cand c
            JOIN sh x ON x.doc_id = c.new_id
            JOIN sh y ON y.doc_id = c.other_id
            WHERE {jac} >= {JACCARD_THRESHOLD}
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY new_id
                ORDER BY jaccard DESC, other_id ASC) AS rk
            FROM verified
        ),
        rolled AS (
            SELECT new_id,
                   CAST(SUM(CASE WHEN other_is_new THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_history_matches,
                   CAST(SUM(CASE WHEN other_is_new THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_batch_matches,
                   MAX(CASE WHEN rk = 1 THEN other_id END) AS best_match_id,
                   MAX(jaccard) AS best_jaccard
            FROM ranked GROUP BY new_id
        )
        SELECT d.doc_id,
               COALESCE(r.n_history_matches, 0) AS n_history_matches,
               COALESCE(r.n_batch_matches, 0) AS n_batch_matches,
               r.best_match_id, r.best_jaccard,
               CASE WHEN r.n_history_matches > 0 THEN 'dup_of_history'
                    WHEN r.n_batch_matches > 0 THEN 'dup_in_batch'
                    ELSE 'novel' END AS verdict
        FROM documents d
        LEFT JOIN rolled r ON r.new_id = d.doc_id
        WHERE d.doc_id >= (SELECT h FROM split)
    """


@register(
    "q_dedup_incremental",
    oracle=_incr_oracle(),
    doc=(
        "Incremental (delta-batch) near-dedup — the daily-ingest shape "
        "of the MinHash pipeline: the newest 20% of documents probe the "
        "shared LSH band index against history AND each other, verified "
        "pairs (hashed-shingle Jaccard >= 0.5) roll up to a per-new-doc "
        "verdict: dup_of_history (drop — it already exists), "
        "dup_in_batch (intra-delta cluster, keep one) or novel, with "
        "the best match attached. At 100 TB the history band/signature "
        "tables are the PERSISTED index (here the session-cached "
        "tables); only the delta is hashed per ingest, and the probe "
        "is a band-bucket equi-join — never delta x corpus."
    ),
    tags=("dedup", "lsh", "llm-pipeline", "incremental"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.plans.llm_pipeline import (
        minhash_bands,
        shingle_table,
    )

    d = load(spark, sf_dir, "documents")
    split = d.agg(F.expr("max(doc_id) * 4 div 5").alias("h"))
    bands = minhash_bands(spark, sf_dir)
    sh = shingle_table(spark, sf_dir)

    new_bands = bands.join(F.broadcast(split)).filter(
        F.col("doc_id") >= F.col("h")
    )
    cand = (
        new_bands.alias("n")
        .join(
            bands.alias("o"),
            (F.col("o.band_id") == F.col("n.band_id"))
            & (F.col("o.band_key") == F.col("n.band_key"))
            & (F.col("o.doc_id") != F.col("n.doc_id")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("o.doc_id").alias("other_id"),
            F.col("n.h").alias("h"),
        )
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("x.shingle_h28"), F.col("y.shingle_h28")))
    union = (
        F.size(F.col("x.shingle_h28"))
        + F.size(F.col("y.shingle_h28"))
        - inter
    )
    jac = inter.cast("double") / union
    verified = (
        cand.join(sh.alias("x"), F.col("x.doc_id") == F.col("new_id"))
        .join(sh.alias("y"), F.col("y.doc_id") == F.col("other_id"))
        .select(
            "new_id",
            "other_id",
            (F.col("other_id") >= F.col("h")).alias("other_is_new"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    w_best = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("other_id").asc()
    )
    rolled = (
        verified.withColumn("rk", F.row_number().over(w_best))
        .groupBy("new_id")
        .agg(
            F.sum(F.when(F.col("other_is_new"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_history_matches"),
            F.sum(F.when(F.col("other_is_new"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_batch_matches"),
            F.max(F.when(F.col("rk") == 1, F.col("other_id"))).alias(
                "best_match_id"
            ),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
    return (
        d.join(F.broadcast(split))
        .filter(F.col("doc_id") >= F.col("h"))
        .select("doc_id")
        .join(rolled, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.coalesce("n_history_matches", F.lit(0)).alias(
                "n_history_matches"
            ),
            F.coalesce("n_batch_matches", F.lit(0)).alias("n_batch_matches"),
            "best_match_id",
            "best_jaccard",
            F.when(F.col("n_history_matches") > 0, "dup_of_history")
            .when(F.col("n_batch_matches") > 0, "dup_in_batch")
            .otherwise("novel")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# Graph ANN: NSW-style beam search over a k-NN edge list
# ---------------------------------------------------------------------------

# out-degree of the k-NN graph (index-build constant). r9: 8 with
# MULTI-PROBE top-2-cell candidate blocking, up from 4 in-cell-only —
# the 100-query panel (wave-56 harness) exposed that on the
# near-isotropic corpus only ~35% of true neighbors share the query's
# cell, capping degree-4 in-cell navigability at panel recall 0.24
# (flat) / 0.45 (hnsw); multi-probe degree 8 measured 0.66 / 0.77 at
# the same search widths. Candidate pairs still come from bounded
# cell blocks (each vector appears in exactly its top-g_probe cells'
# blocks — never all-pairs), the same build rule the coarse layer has
# used since r6.
#
# r10 (closing the r9 verdict's #1): the INDEX is digit-scaled like
# the search widths — the r9 panels proved beam/hop scaling alone
# left both graph tiers as the lowest-recall ANN options at sf0.1
# (flat 0.616 / hnsw 0.626 vs the exhaustive binary256 scan's 0.736)
# because degree 8 / top-2-cell were scale-blind: on a fixed-degree
# graph the reachable set per hop is degree-bounded while the true
# top-5's cell spread grows with n. Degree 4(d-1) and probe d-1
# reproduce the r9 constants exactly at the d=3 fixture (every
# committed hash below sf0.1 unchanged) and give degree 12 over
# top-3-cell candidates at sf0.1 (d=4).
_G_KNN = 8  # r9 constant == g_degree(3); kept for the fixture-pinned notes
_G_MAX_HOPS = 7  # structural unroll ceiling (hop h is a no-op when h > g_hops(d))

# --- scale-adaptive search widths (r8, closing the r7 verdict's #1) ---
# Fixed search beams were the one MEASURED quality regression in the
# repo: HNSW recall decayed 0.84 -> 0.68 as the corpus grew 100x while
# every beam/ef stayed a literal (SURVEY §14). Real NSW/HNSW scales ef
# with ln n. The engine's exact-integer proxy for log n is the DECIMAL
# DIGIT COUNT of the corpus size: d = len(str(n)) in Python ==
# length(CAST(COUNT(*) AS VARCHAR)) in DuckDB — bit-identical on both
# engines (no float log/ceil boundary risk), monotone in log10 n. All
# width formulas are affine in (d - 1) and reproduce the round-6/7
# constants exactly at the 500-row sf0.001 fixture (d = 3), so every
# committed hash and recall number at the fixture is unchanged; at
# sf0.1 (n = 50k, d = 5) each width doubles, tracking the ~1.74x ln
# growth with margin. The oracle computes the SAME widths from a
# scalar-subquery ``sz`` CTE, so one fixed SQL string adapts per sf.

SZ_CTE = "sz AS (SELECT length(CAST(COUNT(*) AS VARCHAR)) AS d FROM embeddings)"

_DIGITS_CACHE: dict[str, int] = {}


def corpus_digits(spark: SparkSession, sf_dir: str) -> int:
    """Decimal digit count of the embedding corpus size (exact log10
    proxy, cached per sf — one cheap count on the shared parquet)."""
    if sf_dir not in _DIGITS_CACHE:
        from weather_flink_spark.io import load

        _DIGITS_CACHE[sf_dir] = len(str(load(spark, sf_dir, "embeddings").count()))
    return _DIGITS_CACHE[sf_dir]


def g_beam(d: int) -> int:
    """Base/flat-graph beam width: 2(d-1) — 4 at the d=3 fixture."""
    return 2 * (d - 1)


G_BEAM_SQL = "(2 * ((SELECT d FROM sz) - 1))"


def g_degree(d: int) -> int:
    """kNN index out-degree: 4(d-1) — 8 at the d=3 fixture (the r9
    constant, every committed hash at sf0.001/0.01 unchanged), 12 at
    sf0.1 (d=4). Rationale: greedy-graph recall needs degree to grow
    ~log n (real NSW/HNSW sizes M with corpus); the r9 panel measured
    scale-blind degree 8 as the sf0.1 recall ceiling — flat 0.616 /
    hnsw 0.626 vs binary256's 0.736 — while beams/hops were already
    digit-scaled. Index cost stays linear-per-node: n * degree edges."""
    return 4 * (d - 1)


G_DEGREE_SQL = "(4 * ((SELECT d FROM sz) - 1))"


def g_probe(d: int) -> int:
    """Multi-probe cell count for kNN-index CANDIDATE blocking: d-1 —
    2 at the d=3 fixture (the r9 constant), 3 at sf0.1 (d=4). Each
    vector ranks candidates from its top-(d-1) nearest trained cells;
    pair work per cell block scales with (n*probe/k)^2 but stays
    cell-blocked (never all-pairs), and probe growth is what makes the
    extra degree slots actually diverse — on the near-isotropic corpus
    only ~35% of true neighbors share the query's top cell."""
    return d - 1


G_PROBE_SQL = "((SELECT d FROM sz) - 1)"


def g_hops(d: int) -> int:
    """Flat-graph hop budget: 2d-3 — 3 at the d=3 fixture (every
    committed hash/recall at sf0.001/0.01 unchanged), 5 at sf0.1
    (d=4), capped at the structural unroll ceiling. Why hops scale
    ~2/decade: on a fixed-degree-8 graph the greedy path length grows
    with log(n)/log(degree); r9 measured the 3-hop budget as THE
    flat-tier recall ceiling at sf0.1 (panel 0.332 with 3 hops, 0.616
    with 5, 0.644 at 7 — diminishing; beam widening alone read only
    0.364 at 3x9). The oracle computes the same count from the sz CTE
    and gates each structurally-unrolled hop with ``h <= hops`` —
    an inactive hop is an exact identity (its expansion is empty, so
    exp{h} = f{h-1} and re-taking the top-beam of an already-beam-
    sized frontier reproduces it row-for-row)."""
    return min(2 * d - 3, _G_MAX_HOPS)


G_HOPS_SQL = f"LEAST(2 * (SELECT d FROM sz) - 3, {_G_MAX_HOPS})"


def _graph_oracle(n_queries: int | None = None) -> str:
    from weather_flink_spark.plans.analytics_wave4 import KMEANS_ITERS
    from weather_flink_spark.plans.llm_extra import (
        IVF_N_QUERIES,
        IVF_TOP_K,
        _cos_duck,
        ivf_assigned_cte,
    )

    n_queries = n_queries or IVF_N_QUERIES

    cos_qn = _cos_duck("q.embedding", "n.embedding")
    hops = []
    prev = "f0"
    for h in range(1, _G_MAX_HOPS + 1):
        hops.append(
            f"""exp{h} AS MATERIALIZED (
                -- expand: the frontier's out-edges, scored vs the query;
                -- hop {h} is gated by the digit-scaled hop budget — when
                -- inactive the expansion is empty and this hop is an
                -- exact identity (see g_hops)
                SELECT query_id, node, cosine FROM {prev}
                UNION
                SELECT f.query_id, e.dst AS node,
                       {_cos_duck('q.embedding', 'v.embedding')} AS cosine
                FROM {prev} f
                JOIN edges e ON e.src = f.node
                JOIN embeddings q ON q.vec_id = f.query_id
                JOIN embeddings v ON v.vec_id = e.dst
                WHERE {h} <= {G_HOPS_SQL}
            ),
            f{h} AS MATERIALIZED (
                SELECT query_id, node, cosine FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine DESC, node ASC) AS rk
                    FROM exp{h}
                ) WHERE rk <= {G_BEAM_SQL}
            ),
            vis{h} AS MATERIALIZED (
                SELECT query_id, node, cosine FROM exp{h}
                {f"UNION SELECT query_id, node, cosine FROM vis{h - 1}" if h > 1 else ""}
            )"""
        )
        prev = f"f{h}"
    return f"""
        WITH {ivf_assigned_cte()},
        {SZ_CTE},
        {knn_edges_cte()},
        entries AS MATERIALIZED (
            -- one entry per trained IVF cell: the medoid (closest to
            -- its centroid, vec_id tie-break) — multi-entry beams so
            -- no single entry node's neighborhood biases every search
            SELECT vec_id AS node FROM (
                SELECT vec_id, ROW_NUMBER() OVER (
                    PARTITION BY cid ORDER BY d2 ASC, vec_id ASC) AS rk
                FROM a{KMEANS_ITERS}
            ) WHERE rk = 1
        ),
        f0 AS (
            SELECT q.vec_id AS query_id, en.node AS node,
                   {_cos_duck('q.embedding', 'n.embedding')} AS cosine
            FROM embeddings q
            CROSS JOIN entries en
            JOIN embeddings n ON n.vec_id = en.node
            WHERE q.vec_id < {n_queries}
        ),
        {",".join(hops)}
        SELECT query_id, node AS vec_id, cosine, k_rank FROM (
            SELECT query_id, node, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, node ASC) AS k_rank
            FROM vis{_G_MAX_HOPS}
            WHERE node <> query_id
        ) WHERE k_rank <= {IVF_TOP_K}
    """


def knn_edges_cte(name: str = "edges") -> str:
    """DuckDB CTE fragment ending in ``{name}`` (src, dst): the oracle
    twin of :func:`knn_edges_table` — DIGIT-SCALED multi-probe
    top-g_probe-cell candidate blocking, global top-g_degree by cosine
    (r10: both were scale-blind literals 2/8). Composes after
    ``ivf_assigned_cte()`` AND ``SZ_CTE`` (needs ``assigned``,
    ``cent{K}`` and ``sz``); every consumer oracle (wave-20 flat
    search, wave-26 HNSW base layer, wave-27 undirected graph family,
    wave-37 kNN label vote, wave-64 hubness) uses this ONE text so the
    index rule can never drift between them."""
    from weather_flink_spark.plans.analytics_wave4 import (
        KMEANS_ITERS,
        _kmeans_dist_duck,
    )
    from weather_flink_spark.plans.llm_extra import _cos_duck

    return f"""gprobe AS MATERIALIZED (
            SELECT vec_id, embedding, bcell FROM (
                SELECT a.vec_id, a.embedding, c.cid AS bcell,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_kmeans_dist_duck('a.embedding', 'c.c')} ASC,
                                    c.cid ASC) AS rn
                FROM assigned a CROSS JOIN cent{KMEANS_ITERS} c
            ) WHERE rn <= {G_PROBE_SQL}
        ),
        {name} AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (
                           PARTITION BY src
                           ORDER BY cosine DESC, dst ASC) AS rk
                FROM (
                    SELECT DISTINCT a.vec_id AS src, n.vec_id AS dst,
                           {_cos_duck('a.embedding', 'n.embedding')} AS cosine
                    FROM gprobe a JOIN gprobe n
                      ON n.bcell = a.bcell AND n.vec_id <> a.vec_id
                )
            ) WHERE rk <= {G_DEGREE_SQL}
        )"""


def knn_edges_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached k-NN edge list (src, dst): each vector's global
    top-_G_KNN cosine neighbors among MULTI-PROBE candidates (members
    of its top-2 nearest trained cells) — the graph-ANN INDEX
    artifact, built once per (session, sf) like the IVF assignment
    and PQ code tables (a production store materializes it at
    index-build time, not per query). r9: multi-probe degree 8, up
    from in-cell degree 4; r10: degree and probe count digit-scaled
    (g_degree/g_probe — 8/2 at the fixture unchanged, 12/3 at sf0.1;
    see the _G_KNN note)."""
    from weather_flink_spark.plans.analytics_wave4 import (
        _kmeans_dist_col,
        kmeans_final_assignment,
    )
    from weather_flink_spark.plans.llm_extra import ivf_assigned_table
    from weather_flink_spark.plans.llm_pipeline import _cached, dot_col

    def build() -> DataFrame:
        d = corpus_digits(spark, sf_dir)
        assigned = ivf_assigned_table(spark, sf_dir)
        cent, _ = kmeans_final_assignment(spark, sf_dir)
        w_probe = Window.partitionBy("vec_id").orderBy(
            F.col("d2").asc(), F.col("cid").asc()
        )
        probe = (
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
            .filter(F.col("rn") <= g_probe(d))
            .select("vec_id", "embedding", "nrm", F.col("cid").alias("bcell"))
        )
        a, n = probe.alias("a"), probe.alias("n")
        cos_an = dot_col(F.col("a.embedding"), F.col("n.embedding")) / (
            F.col("a.nrm") * F.col("n.nrm")
        )
        w_knn = Window.partitionBy("src").orderBy(
            F.col("cosine").desc(), F.col("dst").asc()
        )
        return (
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
            .withColumn("rk", F.row_number().over(w_knn))
            .filter(F.col("rk") <= g_degree(d))
            .select("src", "dst")
            .persist()
        )

    return _cached("knn_edges", spark, sf_dir, build)


def graph_entry_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached multi-entry set for the graph ANN: one medoid per
    trained IVF cell (the in-cell vector nearest its centroid,
    deterministic vec_id tie-break) — k rows, bounded by the k-means k,
    independent of corpus size."""
    from weather_flink_spark.plans.analytics_wave4 import kmeans_final_assignment
    from weather_flink_spark.plans.llm_pipeline import _cached

    def build() -> DataFrame:
        _, final = kmeans_final_assignment(spark, sf_dir)
        w = Window.partitionBy("cid").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        return (
            final.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("vec_id").alias("node"))
            .persist()
        )

    return _cached("graph_entries", spark, sf_dir, build)



@register(
    "q_sim_ann_graph",
    oracle=_graph_oracle(),
    doc=(
        "Graph-based ANN — the navigable-small-world family (HNSW's "
        "base layer), the third major ANN architecture in the engine "
        "after IVF (q_sim_ann_ivf*/ivfpq) and hashing "
        "(q_sim_hamming_topk): a k-NN edge list (top-8 MULTI-PROBE "
        "neighbors per vector — candidates from each node's top-2 "
        "nearest cells, cell-blocked ranking over the session-cached "
        "IVF assignment, never all-pairs; r9: was in-cell degree 4, "
        "which capped 100-query panel recall at 0.24 on the "
        "near-isotropic corpus) is beam-"
        "searched from MULTI-ENTRY beams — one medoid per trained IVF "
        "cell (k bounded rows), so no single entry's neighborhood "
        "biases every search — with DIGIT-SCALED hops (2d-3, d = "
        "decimal digits of corpus size: 3 at the 500-row fixture, 5 "
        "at sf0.1 — the fixed 3-hop budget was the measured flat-tier "
        "recall ceiling at sf0.1, panel 0.332 -> 0.616; see g_hops) "
        "of a DIGIT-SCALED beam (2(d-1): 4 at the fixture, 6 at "
        "sf0.1 — fixed beams were the measured "
        "recall decay of r7, SURVEY §14); the "
        "answer is the top-5 of everything VISITED. Each hop is one "
        "edge join + one per-query window over <= beam*(1+degree) rows "
        "— bounded work per query per hop at any corpus size, and the "
        "unrolled-CTE oracle replays the exact frontier evolution "
        "(deterministic cosine-desc/node tie-break). Recall gated by "
        "q_sim_ann_graph_recall."
    ),
    tags=("similarity", "ann", "graph"),
)
def q_sim_ann_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.plans.llm_pipeline import _cached

    # the searcher result is queries x k rows and the recall gate
    # consumes it verbatim — session-cache it with TRUNCATED lineage
    # (the wave-26 lesson: persist alone re-pays the full unrolled
    # plan's Catalyst analysis on every action; localCheckpoint does
    # not)
    return _cached(
        "graph_ann_result",
        spark,
        sf_dir,
        lambda: _graph_search(spark, sf_dir).transform(snapshot()),
    )


def _graph_search(
    spark: SparkSession, sf_dir: str, n_queries: int | None = None
) -> DataFrame:
    from weather_flink_spark.plans.llm_extra import (
        IVF_N_QUERIES,
        IVF_TOP_K,
        ivf_assigned_table,
    )
    from weather_flink_spark.plans.llm_pipeline import dot_col

    assigned = ivf_assigned_table(spark, sf_dir)
    edges = knn_edges_table(spark, sf_dir)

    q = assigned.filter(F.col("vec_id") < (n_queries or IVF_N_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    node_vec = assigned.select(
        F.col("vec_id").alias("node"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    cos_qn = dot_col(F.col("q_emb"), F.col("n_emb")) / (
        F.col("q_nrm") * F.col("n_nrm")
    )

    # --- entry frontier: one medoid per trained IVF cell (k rows,
    # broadcast-bounded) — multi-entry beams reach every region of the
    # graph regardless of where any single entry's neighborhood sits
    entries = graph_entry_nodes(spark, sf_dir)
    frontier = (
        q.crossJoin(F.broadcast(node_vec.join(entries, "node")))
        .select("query_id", "node", cos_qn.alias("cosine"))
    )
    visited = frontier
    beam = g_beam(corpus_digits(spark, sf_dir))
    w_beam = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("node").asc()
    )
    for _ in range(g_hops(corpus_digits(spark, sf_dir))):
        # eager localCheckpoint per hop (the star-contraction lesson):
        # each hop references its frontier several times, so
        # un-truncated lineage re-plans every earlier hop 2^k times —
        # checkpointing the <= queries x beam*(1+degree) row frontier
        # keeps every hop's plan flat
        expanded = (
            frontier.join(edges, frontier.node == edges.src)
            .select("query_id", F.col("dst").alias("node"))
            .join(q, "query_id")
            .join(node_vec, "node")
            .select("query_id", "node", cos_qn.alias("cosine"))
            .unionByName(frontier.select("query_id", "node", "cosine"))
            .distinct()
            .transform(snapshot())
        )
        frontier = (
            expanded.withColumn("rk", F.row_number().over(w_beam))
            .filter(F.col("rk") <= beam)
            .select("query_id", "node", "cosine")
        )
        # defer the visited-set dedup: per-hop rows are identical
        # duplicates (same cosine for the same node), so one distinct
        # at the end is equivalent and saves a shuffle per hop
        visited = visited.unionByName(expanded)

    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("node").asc()
    )
    return (
        visited.distinct()
        .filter(F.col("node") != F.col("query_id"))
        .withColumn("k_rank", F.row_number().over(w_rank))
        .filter(F.col("k_rank") <= IVF_TOP_K)
        .select(
            "query_id", F.col("node").alias("vec_id"), "cosine", "k_rank"
        )
    )


def _graph_recall_oracle() -> str:
    from weather_flink_spark.plans.llm_extra import (
        IVF_N_QUERIES,
        IVF_TOP_K,
        _cos_duck,
    )

    return f"""
        WITH g AS MATERIALIZED ({_graph_oracle()}),
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
               COUNT(i.vec_id) AS n_hit,
               CAST(COUNT(i.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
        FROM exact e
        LEFT JOIN g i ON i.query_id = e.query_id AND i.vec_id = e.vec_id
        GROUP BY e.query_id
    """


@register(
    "q_sim_ann_graph_recall",
    oracle=_graph_recall_oracle(),
    doc=(
        "Recall@k of the multi-entry graph-ANN beam search against "
        "exact brute-force cosine top-k, per query — the production "
        "gate for the NSW path, mirroring q_sim_ann_ivfpq_recall (the "
        "round-4 verdict's missing gate for this searcher). The exact "
        "side broadcasts the bounded query set; the approximate side "
        "is q_sim_ann_graph verbatim, so the measured recall is "
        "exactly what that query serves."
    ),
    tags=("similarity", "ann", "graph", "evaluation"),
)
def q_sim_ann_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_flink_spark.plans.llm_extra import exact_topk_table

    approx = q_sim_ann_graph(spark, sf_dir).select("query_id", "vec_id")
    # shared session-cached ground truth — one build serves all three
    # recall gates (see exact_topk_table)
    exact = exact_topk_table(spark, sf_dir)
    hit = exact.join(
        approx.withColumnRenamed("vec_id", "g_vec").withColumnRenamed(
            "query_id", "g_query"
        ),
        (F.col("query_id") == F.col("g_query"))
        & (F.col("vec_id") == F.col("g_vec")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.count("*").alias("k"),
        F.count("g_vec").alias("n_hit"),
        (F.count("g_vec").cast("double") / F.count("*")).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Streaming twins: vector-to-cell assignment and incremental dedup
# ---------------------------------------------------------------------------


def _write_jsonl_fixture(spark: SparkSession, kind: str, rows: list[str]) -> str:
    """Two jsonl files in a per-process temp dir (the file-stream shape
    every other s_* fixture uses)."""
    import os
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(), f"wfs_stream_{kind}_{os.getpid()}"
    )
    os.makedirs(d, exist_ok=True)
    mid = len(rows) // 2
    for i, chunk in enumerate((rows[:mid], rows[mid:])):
        with open(os.path.join(d, f"part-{i}.jsonl"), "w") as f:
            f.write("\n".join(chunk) + "\n")
    return d


def ivf_cell_exprs(model: list[tuple[int, list[float]]], col: str = "embedding"):
    """(cell, best_d2) expressions assigning a vector column to its
    nearest trained centroid — the SAME L2 argmin + first-match
    tie-break as the batch ivf_assigned_table. Shared by
    s_stream_ann_assign and the round-6 s_stream_ann_search so the
    streaming write path and the streaming query path can never use
    different assignment rules."""

    def dist2(c_vals: list[float]):
        arr = F.array(*[F.lit(float(x)) for x in c_vals])
        prod = F.zip_with(F.col(col), arr, lambda a, b: (a - b) * (a - b))
        return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)

    d2s = [(cid, dist2(c)) for cid, c in model]
    best = F.least(*[d for _, d in d2s])
    cell = F.when(d2s[0][1] == best, F.lit(d2s[0][0]))
    for cid, d2 in d2s[1:]:
        cell = cell.when(d2 == best, F.lit(cid))
    return cell, best


@register(
    "s_stream_ann_assign",
    doc=(
        "Streaming vector ingestion — 'index new embeddings as they "
        "arrive': a file stream of JSON vectors is assigned to its "
        "nearest TRAINED IVF cell by a pure expression over the "
        "bounded collected k-means model (k=8 rows — the sanctioned "
        "bounded-collect class), so the assignment is a stateless "
        "streaming map: no windows, no state stores, the same L2 "
        "argmin rule as the batch ivf_assigned_table. At scale this "
        "is the write path that keeps the ANN index current between "
        "full retrains."
    ),
    tags=("streaming", "similarity", "ann", "ivf"),
)
def s_stream_ann_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    import pyarrow.parquet as papq

    from weather_flink_spark.plans.analytics_wave4 import (
        kmeans_final_assignment,
    )
    from weather_flink_spark.streaming.jobs import run_to_memory

    cent, _ = kmeans_final_assignment(spark, sf_dir)
    model = sorted(
        ((r["cid"], list(r["c"])) for r in cent.collect()),
        key=lambda x: x[0],
    )

    t = papq.read_table(
        sf_dir + "/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    rows = [
        json.dumps(
            {
                "vec_id": int(v),
                "embedding": [float(x) for x in e],
            }
        )
        for v, e in zip(
            t.column("vec_id").to_pylist()[:20],
            t.column("embedding").to_pylist()[:20],
        )
    ]
    d = _write_jsonl_fixture(spark, "annassign", rows)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )

    cell, best = ivf_cell_exprs(model)
    out = stream.select(
        "vec_id", cell.alias("cell"), best.alias("d2")
    )
    return run_to_memory(out, output_mode="append")


@register(
    "s_dedup_incremental",
    doc=(
        "Streaming incremental near-dedup candidates: a file stream of "
        "new documents is minhash-banded ON THE FLY (the shared shingle "
        "and band expressions run unchanged on the streaming frame — "
        "pure expressions, no state) and stream-static joined against "
        "the session-cached corpus band index; every emitted row is a "
        "(new_doc, corpus_doc) candidate pair for the verifier. This "
        "is q_dedup_incremental's probe phase as a continuous "
        "pipeline: history's index is the static broadcast side, only "
        "arriving documents hash."
    ),
    tags=("streaming", "dedup", "lsh", "llm-pipeline"),
)
def s_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    import pyarrow.parquet as papq

    from weather_flink_spark.plans.llm_pipeline import (
        _minhash_bands,
        minhash_bands,
        shingle_hash_col,
        tokens_col,
    )
    from weather_flink_spark.streaming.jobs import run_to_memory

    static_bands = minhash_bands(spark, sf_dir).select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("band_id").alias("s_band_id"),
        F.col("band_key").alias("s_band_key"),
    )

    t = papq.read_table(
        sf_dir + "/documents.parquet", columns=["doc_id", "text"]
    )
    docs = list(
        zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    )[-10:]
    rows = [json.dumps({"doc_id": int(i), "text": s}) for i, s in docs]
    d = _write_jsonl_fixture(spark, "dedupincr", rows)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    sh = stream.select(
        "doc_id", shingle_hash_col(tokens_col()).alias("shingle_h28")
    )
    new_bands = _minhash_bands_stream(sh)
    pairs = new_bands.join(
        static_bands,
        (F.col("band_id") == F.col("s_band_id"))
        & (F.col("band_key") == F.col("s_band_key"))
        & (F.col("doc_id") != F.col("corpus_doc")),
    ).select(
        F.col("doc_id").alias("new_doc"), "corpus_doc", "band_id"
    )
    return run_to_memory(pairs, output_mode="append")


def _minhash_bands_stream(sh: DataFrame) -> DataFrame:
    """The band projection of llm_pipeline._minhash_bands without its
    persist (persist is illegal on a streaming DataFrame); expression
    code is shared via the same helpers so the band keys join the
    static index exactly."""
    from weather_flink_spark.plans.llm_pipeline import (
        N_BANDS,
        N_MINHASH,
        _perm_value,
    )

    def perm_min(i: int):
        return F.array_min(
            F.transform(F.col("shingle_h28"), lambda h: _perm_value(h, i))
        )

    sig = [perm_min(i) for i in range(N_MINHASH)]
    rows_per_band = N_MINHASH // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            s.cast("string")
                            for s in sig[
                                b * rows_per_band : (b + 1) * rows_per_band
                            ]
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sh.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_id", "band.band_key"
    )
