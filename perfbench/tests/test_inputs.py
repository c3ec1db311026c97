"""Seeded inputs and the order statistics the benchmark reports."""

import os

import pytest

from perfbench import entries, events, stats, tables


def test_event_backlog_is_deterministic_per_seed():
    a = events.generate(3, n_batches=4, events_per_batch=200, n_devices=20)
    b = events.generate(3, n_batches=4, events_per_batch=200, n_devices=20)
    c = events.generate(4, n_batches=4, events_per_batch=200, n_devices=20)
    assert a.avro == b.avro and a.json == b.json and a.shares == b.shares
    assert a.avro != c.avro
    assert a.good == 4 * 200
    assert a.frames == a.good + round(a.shares["poison"] * a.frames)


def test_event_shares_are_near_the_requested_ones():
    b = events.generate(1, n_batches=6, events_per_batch=2000, n_devices=50)
    assert b.shares["devices"] == 50
    assert 0.07 < b.shares["out_of_order"] < 0.13
    assert 0.003 < b.shares["late"] < 0.02
    assert 0.25 < b.shares["v0"] < 0.35
    assert 0.003 < b.shares["poison"] < 0.02


def test_batch_files_have_strictly_increasing_mtimes(tmp_path):
    b = events.generate(2, n_batches=5, events_per_batch=50, n_devices=5)
    d = events.write_batches(str(tmp_path / "src"), b.avro)
    files = sorted(os.listdir(d))
    mtimes = [os.path.getmtime(os.path.join(d, f)) for f in files]
    assert len(files) == 5
    assert all(x < y for x, y in zip(mtimes, mtimes[1:]))


def test_avro_encoding_matches_the_engine_decoder():
    from weather_flink_spark.sources.avro_codec import RecordSchema, decode_record

    rec = {"deviceId": "dev-1", "timestamp": -5, "temperature": None, "humidity": 0.25, "station": "st"}
    body = events.avro_body(events.V1_SCHEMA, rec)
    reader = RecordSchema.parse(events.V1_SCHEMA)
    assert decode_record(reader, reader, body) == rec


def test_tables_are_deterministic():
    a = tables.build_tables(scale=0.001)
    b = tables.build_tables(scale=0.001)
    assert set(a) == set(__import__("weather_flink_spark.io").io.TABLES)
    assert all(a[k].equals(b[k]) for k in a)
    assert a["lineitem"].num_rows == 6000


@pytest.mark.parametrize(
    "n, p",
    [(1, 50), (19, 50), (20, 50), (30, 66), (100, 90), (1000, 99)],
)
def test_tail_leaves_at_least_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    values = list(range(n))
    value, pct, count = stats.tail(values)
    assert (pct, count) == (p, n)
    assert n < 20 or sum(v > value for v in values) >= stats.TAIL_BEYOND
    assert value >= stats.median(values)


def test_median_and_percentile():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    assert stats.percentile([5, 1, 4, 2, 3], 50) == 3
    assert stats.percentile([5, 1, 4, 2, 3], 100) == 5


def test_every_panel_entry_is_registered_and_checkable():
    from weather_flink_spark.plans.registry import all_specs

    specs = all_specs()
    for workload, names in entries.PANELS.items():
        assert set(names) <= set(specs), workload
        assert len(set(names)) == len(names)
        # an oracle per entry: each run's results are compared with DuckDB
        assert all(specs[n].oracle for n in names), workload
