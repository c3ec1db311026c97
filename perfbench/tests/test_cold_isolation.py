"""Every entry is timed cold; whatever an entry leaves behind is reported."""

from weather_flink_spark.plans import llm_pipeline
from weather_flink_spark.plans.registry import QuerySpec

from perfbench.entries import ColdRunner, result_problem


def _plain(spark, sf_dir):
    return spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count()


def _leaky(spark, sf_dir):
    df = spark.range(50).toDF("x").persist()
    df.count()
    llm_pipeline._SIG_CACHE[("bench-test", spark.sparkContext.applicationId, sf_dir)] = df
    spark.range(10).rdd.map(lambda x: x).persist().count()
    return df


SPECS = {
    "plain": QuerySpec("plain", _plain),
    "leaky": QuerySpec("leaky", _leaky),
}


def test_leftovers_are_reported_and_cleared_before_the_next_entry(spark):
    runner = ColdRunner(spark, SPECS, "unused")
    leaky = runner.run("leaky")
    assert leaky.ok
    assert leaky.leaks["sig_cache"] == 1
    assert leaky.leaks["cached_plans"] == 1
    assert leaky.leaks["persisted_rdds"] >= 1
    plain = runner.run("plain")
    assert plain.ok and plain.leaks == {}
    assert runner.leftovers() == {}


def test_an_entry_that_cannot_start_cold_fails_instead_of_running_warm(spark, monkeypatch):
    runner = ColdRunner(spark, SPECS, "unused")
    runner.run("leaky")
    monkeypatch.setattr(runner, "make_cold", lambda: None)
    blocked = runner.run("plain")
    assert not blocked.ok
    assert "caches not empty" in blocked.error
    monkeypatch.undo()
    runner.make_cold()
    assert runner.leftovers() == {}


def test_rows_only_check_needs_rows_and_the_same_schema(spark):
    empty = QuerySpec("empty", lambda s, d: s.range(0).toDF("x"))
    assert result_problem(SPECS["plain"], _plain(spark, ""), None, None) == ""
    assert result_problem(empty, empty.fn(spark, ""), None, None) == "no rows"


def test_the_check_sees_the_timed_result_and_a_crash_is_a_wrong_result(spark):
    runner = ColdRunner(spark, SPECS, "unused")
    seen = []
    ok = runner.run("leaky", check=lambda name, df: seen.append(df.count()) or "")
    assert ok.ok and ok.problem == "" and seen == [50]
    bad = runner.run("plain", check=lambda name, df: 1 / 0)
    assert bad.ok and "ZeroDivisionError" in bad.problem
