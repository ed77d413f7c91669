"""Environment contract: pin what the engine assumes about the
*installed* Spark + the driver corpus, so an environment drift (a new
Spark minor, a regenerated corpus) surfaces as one named test failure
instead of dozens of opaque downstream errors.

Round-2 postmortem: the driver moved from Spark 3.x to 4.1.2, where
``spark.sql.legacy.parquet.nanosAsLong`` is gone and TIMESTAMP(NANOS)
parquet loads natively as TIMESTAMP_NTZ — the old unconditional
``ts DIV 1000`` rewrite then crashed ~33 queries, the bench, and the
suite.  These tests would have caught that as a single failure here.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql.types import LongType, TimestampNTZType

from pandas_redshift_spark.session import TABLE_NAMES, Tables, configure_session


def test_all_corpus_tables_load(spark, sf_dir):
    """Every driver corpus table must load and yield rows under the
    installed Spark — the first thing a user (and the driver) does."""
    t = Tables(spark, sf_dir)
    for name in TABLE_NAMES:
        df = t.load(name)
        assert df.limit(1).count() == 1, f"{name} is empty or unreadable"


def test_events_ts_is_ntz_micros(spark, sf_dir):
    """``events.ts`` must come out as TIMESTAMP_NTZ regardless of how
    the installed Spark reads TIMESTAMP(NANOS) parquet (3.x needs the
    nanosAsLong conf + explicit DIV-1000 rewrite; 4.x reads it natively
    as NTZ), and values must be microsecond-truncated wall-clock
    datetimes matching DuckDB's naive reading."""
    t = Tables(spark, sf_dir)
    e = t.events
    assert isinstance(e.schema["ts"].dataType, TimestampNTZType), e.schema["ts"]
    first = e.orderBy("event_id").limit(1).collect()[0].ts
    assert isinstance(first, datetime.datetime)
    assert first.tzinfo is None  # NTZ => naive
    # corpus generator writes 2024+ wall-clock timestamps
    assert first.year >= 2024, first


def test_events_ts_matches_duckdb_naive_read(spark, sf_dir):
    """Cross-check the loaded ts values against DuckDB reading the same
    parquet — the driver's oracle does exactly this comparison."""
    duckdb = pytest.importorskip("duckdb")
    t = Tables(spark, sf_dir)
    got = [
        (r.event_id, r.ts)
        for r in t.events.orderBy("event_id").limit(20).collect()
    ]
    want = duckdb.sql(
        f"SELECT event_id, CAST(ts AS TIMESTAMP) AS ts "
        f"FROM read_parquet('{sf_dir}/events.parquet') "
        f"ORDER BY event_id LIMIT 20"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_nanos_conf_is_conditional(spark):
    """configure_session must not raise when the legacy nanos conf is
    absent (Spark 4.x) and must leave the session usable either way."""
    configure_session(spark)  # idempotent; raises = contract broken
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_register_views_is_fault_isolated(spark, sf_dir, tmp_path):
    """One unreadable table must not take down registration of the
    others (round-2 failure mode: events crashed -> all spark.sql
    queries, incl. pure-TPC-H ones, errored)."""
    t = Tables(spark, str(tmp_path))  # empty dir: every load fails
    with pytest.warns(RuntimeWarning):
        t.register_views(names=("region",))
    ok = Tables(spark, sf_dir)
    ok.register_views()
    assert spark.sql("SELECT count(*) AS n FROM region").collect()[0].n > 0


def test_core_ops_survive_both_ansi_modes(spark, sf_dir):
    """The driver's Spark may default ANSI on (4.x) or off (3.x).  The
    engine's arithmetic is written to be mode-independent (every mod /
    multiply stays inside long range; no lossy casts in hot paths) —
    prove it by running the hash-family ops under the flipped mode."""
    from pandas_redshift_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_simhash,
    )

    orig = spark.conf.get("spark.sql.ansi.enabled")
    flipped = "false" if orig == "true" else "true"
    baseline_sim = sorted(map(tuple, dedup_simhash(spark, sf_dir).collect()))
    baseline_lsh = sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect()))
    spark.conf.set("spark.sql.ansi.enabled", flipped)
    try:
        assert sorted(map(tuple, dedup_simhash(spark, sf_dir).collect())) == baseline_sim
        assert sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect())) == baseline_lsh
    finally:
        spark.conf.set("spark.sql.ansi.enabled", orig)


def test_session_memo_contract():
    """SessionMemo, the package's one app-scoped memo: a repeat lookup
    returns the SAME object without rebuilding, entries built under
    another applicationId are dropped, hits are counted per family,
    builds may nest lookups, and a build that raises stores nothing."""
    from types import SimpleNamespace

    from pandas_redshift_spark.session import MEMO_HITS, SessionMemo

    def fake_spark(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    memo = SessionMemo()
    app1, app2 = fake_spark("app-1"), fake_spark("app-2")
    hits0 = dict(MEMO_HITS)
    calls = []

    def build():
        calls.append(1)
        return object()

    a = memo.get(app1, "t_memo_a", ("k",), build)
    assert memo.get(app1, "t_memo_a", ("k",), build) is a and len(calls) == 1
    # same key, other family: a separate entry
    b = memo.get(app1, "t_memo_b", ("k",), build)
    assert b is not a and len(calls) == 2
    assert MEMO_HITS["t_memo_a"] - hits0.get("t_memo_a", 0) == 1
    assert MEMO_HITS.get("t_memo_b", 0) == hits0.get("t_memo_b", 0)

    # a new applicationId drops every entry of the old one
    c = memo.get(app2, "t_memo_a", ("k",), build)
    assert c is not a and len(calls) == 3
    assert memo.get(app1, "t_memo_b", ("k",), build) is not b

    # nested lookups inside a build
    outer = memo.get(
        app1,
        "t_memo_outer",
        (),
        lambda: ("outer", memo.get(app1, "t_memo_inner", (), lambda: "inner")),
    )
    assert outer == ("outer", "inner")
    assert memo.get(app1, "t_memo_inner", (), build) == "inner"
    assert memo.get(app1, "t_memo_outer", (), build) is outer

    # a raising build stores nothing: the next lookup builds again
    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo.get(app1, "t_memo_a", ("bad",), boom)
    assert memo.get(app1, "t_memo_a", ("bad",), lambda: "ok") == "ok"

    # clear(family) drops only that family; clear() drops everything
    memo.clear("t_memo_outer")
    assert memo.get(app1, "t_memo_outer", (), lambda: "new") == "new"
    assert memo.get(app1, "t_memo_inner", (), build) == "inner"
    memo.clear()
    assert memo.get(app1, "t_memo_inner", (), lambda: "rebuilt") == "rebuilt"
