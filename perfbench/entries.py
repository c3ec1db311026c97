"""Batch workloads: a panel of registry entries, each run cold.

An entry is timed as a caller pays for it: the session cache
(``llm_pipeline._SIG_CACHE``), the CacheManager and every persisted RDD
are emptied first and checked empty; the entry is built by calling its
``QuerySpec.fn``; its full result is materialised with a ``noop``
write (never ``count()``, which lets Catalyst prune unused columns).
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

from perfbench import stats

# Each batch workload runs a fixed panel of registry entries, one per
# mechanism it stands for, in a fixed order, cheapest first. Seeded
# choices were tried and dropped: entries of equal warm cost differ 2-3x
# when run cold in a fresh JVM, and whichever entry runs first pays the
# JIT and shared-helper start-up (q_dedup_clusters: 7.8 s third, 14.2 s
# first), so seed-drawn samples or orders moved the panel median by
# 40-80% from seed to seed, far beyond any useful regression bound.
PANELS = {
    # JVM-only and oracle-checked: io, Catalyst and shuffle execution;
    # Python workers and the session cache stay idle
    "relational": (
        "q_scan_project",  # scan + projection
        "q_join_semi_anti",  # semi/anti joins
        "q_win_rank",  # window ranking
        "q_union_except_intersect",  # set operations
        "q_sql_tpch_q3",  # three-way join + aggregate
        "q_agg_grouping_sets",  # multi-level aggregation
        "q_sql_tpch_q21",  # TPC-H's join-heaviest query
        "q_sql_tpch_q1",  # decimal-exact pricing summary
    ),
    # dedup, text and multimodal: eager snapshots, the session cache and
    # Arrow Python workers; Catalyst work is small
    "llm_corpus": (
        "q_text_normalize",  # string expressions only
        "q_multimodal_image_dedup_ahash",  # pandas UDF over image bytes
        "q_dedup_near_minhash",  # shingle/band tables via the session cache
        "q_dedup_clusters",  # iterative eager snapshots + session cache
    ),
}


@dataclass
class EntryRun:
    name: str
    ok: bool
    wall_s: float = 0.0
    exec_s: float = 0.0  # the noop write: planning (untraced) and execution
    error: str = ""
    problem: str = ""  # what the correctness check found wrong
    leaks: dict[str, int] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


class ColdRunner:
    """Runs registry entries cold in one session, optionally traced."""

    def __init__(self, spark, specs: dict, sf_dir: str, probe=None, event_log=None) -> None:
        from weather_flink_spark.plans import llm_pipeline

        self.spark = spark
        self.specs = specs
        self.sf_dir = sf_dir
        self.sig_cache = llm_pipeline._SIG_CACHE
        self.probe = probe
        self.event_log = event_log
        self.trace_s = 0.0  # time spent reading trace sources

    # -- cache state -------------------------------------------------------
    def _persisted(self):
        return self.spark.sparkContext._jsc.getPersistentRDDs()

    def _cache_manager_empty(self) -> bool:
        return bool(self.spark._jsparkSession.sharedState().cacheManager().isEmpty())

    def cache_state(self) -> dict[str, int]:
        return {
            "sig_cache": len(self.sig_cache),
            "persisted_rdds": int(self._persisted().size()),
            "cached_plans": int(not self._cache_manager_empty()),
        }

    def leftovers(self) -> dict[str, int]:
        return {k: v for k, v in self.cache_state().items() if v}

    def make_cold(self) -> None:
        """Empty every cache an entry could reuse."""
        self.sig_cache.clear()
        self.spark.catalog.clearCache()
        for rdd in list(self._persisted().values()):
            rdd.unpersist(True)

    # -- one entry ----------------------------------------------------------
    def run(self, name: str, warm_rerun: bool = False, check=None) -> EntryRun:
        """Time one entry cold. A session that cannot be made cold fails
        the entry rather than timing it warm. What the entry leaves in
        the caches is reported in ``EntryRun.leaks``.

        ``check(name, df)`` runs after the timed region on the same
        DataFrame, while its snapshots are still in place, and returns
        what is wrong with the result ('' when it is right)."""
        self.make_cold()
        if self.leftovers():
            return EntryRun(name, False, error=f"caches not empty: {self.leftovers()}")
        if self.event_log is not None:
            self._read_trace()  # discard what came before this entry
        self.spark.sparkContext.setJobDescription(f"perfbench:{name}")
        layers: dict[str, float] = {}
        try:
            t0 = time.perf_counter()
            df = self.specs[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if self.event_log is not None:
                # plan explicitly so Catalyst's phases can be read apart
                # from execution; the write below re-plans its command
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                t_plan = time.perf_counter()
                phases = qe.tracker().phases()  # a Scala Map of PhaseSummary
                for phase in ("analysis", "optimization", "planning"):
                    summary = phases.get(phase)
                    if summary.isDefined():
                        layers[f"catalyst.{phase}_ms"] = float(summary.get().durationMs())
                layers["catalyst.plan_s"] = t_plan - t1
            else:
                t_plan = t1
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:
            return EntryRun(name, False, error=traceback.format_exc(limit=3))
        run = EntryRun(name, True, wall_s=t2 - t0, exec_s=t2 - t_plan, leaks=self.leftovers())
        if self.event_log is not None:
            layers["plans.build_s"] = t1 - t0
            layers["exec.s"] = t2 - t_plan
            layers["cache.sig_builds"] = len(self.sig_cache)
            layers.update(self._read_trace())
            if warm_rerun:  # an immediate re-run in the same session
                t0 = time.perf_counter()
                self.specs[name].fn(self.spark, self.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                layers["cache.warm_s"] = time.perf_counter() - t0
                layers["cache.cold_s"] = run.wall_s
                self._read_trace()
        run.layers = layers
        if check is not None:
            try:
                run.problem = check(name, df)
            except Exception as e:  # a crash here is a wrong result, not a stop
                run.problem = f"check raised {e!r}"[:500]
        return run

    def _read_trace(self) -> dict[str, float]:
        t0 = time.perf_counter()
        self.event_log.drain(self.spark)
        out = {**self.probe.take(), **self.event_log.window()}
        self.trace_s += time.perf_counter() - t0
        return out


def result_problem(spec, df, oracle, compare) -> str:
    """'' when an entry's result is right, else what is wrong.

    Oracle entries must equal DuckDB's result on the same tables
    (``oracle(sql)`` returns it); rows-only entries must be non-empty
    and keep their schema."""
    got = df.toPandas()
    if spec.oracle is None:
        if not len(got):
            return "no rows"
        if list(got.columns) != df.columns:
            return f"schema changed: {list(got.columns)} != {df.columns}"
        return ""
    return "; ".join(compare(spec.name, got, oracle(spec.oracle)))


class OracleAnswers:
    """DuckDB answers to oracle SQL, kept on disk between runs.

    The tables never change for a given generator stamp, so an answer is
    keyed by that stamp and the SQL text and computed once per checkout.
    The pickles are written and read only by this class.
    """

    def __init__(self, duck, cache_dir: str, stamp: str) -> None:
        self.duck = duck
        self.cache_dir = cache_dir
        self.stamp = stamp
        os.makedirs(cache_dir, exist_ok=True)

    def __call__(self, sql: str):
        import hashlib

        import pandas as pd

        key = hashlib.sha1(f"{self.stamp}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        answer = self.duck.execute(sql).df()
        answer.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return answer


def summarise(runs: list[EntryRun], passes: list[float]) -> tuple[dict, dict]:
    """End-to-end metrics of a batch workload, and how its tail was taken."""
    walls = [r.wall_s for r in runs if r.ok]
    tail, pct, n = stats.tail(walls)
    metrics = {
        "cold_wall_s": (stats.median(passes), "s"),
        "entry_p50_s": (stats.median(walls), "s"),
        "entry_tail_s": (tail, "s"),
    }
    return metrics, {"entry_tail_s": {"percentile": pct, "samples": n}}
