"""Tests for the benchmark's own logic (not the program under test).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.trace import Span, percentile, reportable, self_times  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = ROOT
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.ansi.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


def _fast(df):
    from perfbench import checksum

    return checksum.as_pair(df.agg(*checksum.fast_exprs(df.columns)).first())


def test_checksum_is_order_insensitive(spark):
    rows = [(i, f"s{i % 7}", float(i) / 3, None if i % 5 else "n") for i in range(500)]
    schema = "a long, b string, c double, d string"
    df1 = spark.createDataFrame(rows, schema).repartition(1)
    df2 = spark.createDataFrame(list(reversed(rows)), schema).repartition(3, "b")
    assert _fast(df1) == _fast(df2)
    assert _fast(df1)[0] == 500
    # one changed cell changes the sum
    df3 = spark.createDataFrame([(0, "x", 0.0, None)] + rows[1:], schema)
    assert _fast(df3) != _fast(df1)


def test_checksum_sum_cannot_overflow_under_ansi(spark):
    # 4000 hashes of ~2^63 magnitude would overflow a BIGINT sum
    df = spark.range(4000).selectExpr("id", "cast(id * 7919 as string) s")
    n, h = _fast(df)
    assert n == 4000 and isinstance(h, int)


def test_canonical_checksum_matches_duckdb(spark):
    import duckdb

    from perfbench import checksum

    rows = [(i, None if i % 4 == 0 else f"t{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "a long, b string")
    got = checksum.as_pair(df.agg(*checksum.canonical_exprs(
        [df["a"].cast("string"), df["b"]])).first())
    con = duckdb.connect()
    values = ", ".join(f"({a}, {'NULL' if b is None else repr(b)})" for a, b in rows)
    want = con.execute(checksum.duck_canonical(
        f"SELECT * FROM (VALUES {values}) v(a, b)", ["CAST(a AS VARCHAR)", "b"])).fetchone()
    assert got == checksum.as_pair(want)


def test_same_seed_same_inputs_different_seed_different_inputs():
    p1, l1 = inputs.star_tables(3, 200, 50)
    p2, l2 = inputs.star_tables(3, 200, 50)
    p3, l3 = inputs.star_tables(4, 200, 50)
    assert p1.equals(p2) and l1.equals(l2)
    assert not (p1.equals(p3) and l1.equals(l3))
    d1, d2, d3 = inputs.documents(3, 100), inputs.documents(3, 100), inputs.documents(4, 100)
    assert d1.equals(d2)
    assert not d1.text.equals(d3.text)


def test_same_seed_same_checksums(spark, tmp_path):
    def docs_checksum(seed):
        path = str(tmp_path / f"docs{seed}.parquet")
        inputs.write_parquet(inputs.documents(seed, 200), path)
        return _fast(spark.read.parquet(path))

    assert docs_checksum(11) == docs_checksum(11)
    assert docs_checksum(11) != docs_checksum(12)


def test_oracle_tables_drop_rejected_instances():
    vocab = ("chair", "table")
    part, li = inputs.star_tables(5, 300, 70)
    o_part, o_li, counts = inputs.oracle_tables(part, li, vocab)
    planted = part.p_name.str.contains("object_")
    assert planted.any()
    assert not o_part.p_name.str.contains("object_").any()
    assert set(o_li.l_partkey) <= set(o_part.p_partkey)
    assert counts["unlabeled_boxes"] == int(li.l_partkey.isin(part.p_partkey[planted]).sum())


def test_percentile_rule():
    values = [float(i) for i in range(1, 101)]  # 1..100
    assert percentile(values, 50) == 50.0
    assert percentile(values, 90) == 90.0
    r = reportable(values)
    assert r["p50"] == 50.0 and r["p90"] == 90.0  # 10 samples above 90
    assert "p99" not in r  # only 1 sample above 99
    r = reportable(values[:99])  # 1..99: p90 = 90, only 9 above it
    assert "p90" not in r and r["p50"] == 50.0
    assert reportable([5.0]) == {"p50": 5.0}


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: union covers 1..5
        _span(3, 0, 7.0, 12.0),  # clipped to the parent's end: 7..10
        _span(4, 2, 2.5, 3.5),  # grandchild: only span 2's self time
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 3.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(5.0)
    assert st[4] == pytest.approx(1.0)


def test_staged_calls_become_spans_with_their_stage_counters(spark):
    from perfbench.trace import Tracer

    def make(n):
        return spark.range(n).repartition(2)

    ns = {"make": make}
    before = []
    tr = Tracer(spark, True, 2)
    with tr.span("run"):
        with tr.staged([(ns, "make", "layer.make")], before=lambda: before.append(1)):
            ns["make"](100)
            ns["make"](50)
    tr.finish()
    assert ns["make"] is make  # restored on exit
    assert before == [1]
    root, first, second = tr.spans
    assert [s.name for s in tr.spans] == ["run", "layer.make", "layer.make"]
    assert (first.parent, second.parent) == (root.id, root.id)
    assert (first.attrs["rows"], second.attrs["rows"]) == (100, 50)
    assert tr.open_stages == 0
    # each span holds its own shuffle; the root holds both
    assert first.counters["shuffle_write_b"] > 0 and second.counters["shuffle_write_b"] > 0
    assert root.counters["shuffle_write_b"] == (
        first.counters["shuffle_write_b"] + second.counters["shuffle_write_b"]
    )

    untraced = Tracer(spark, False, 2)
    with untraced.staged([(ns, "make", "layer.make")]):
        assert ns["make"] is make
    assert untraced.spans == []
