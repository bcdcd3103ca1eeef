"""As-of join semantics the unique-ts driver corpus cannot exercise:
prior-OR-EQUAL tie inclusion, strictly-later clicks excluded, and
no-prior-click purchases surviving with nulls (left semantics)."""

from __future__ import annotations

import datetime as dt

import pandas as pd


def _run(spark, rows):
    # route the query's events read at the planted frame (relational.py
    # binds `read` at module level)
    import webr.queries.relational as rel
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    df = spark.createDataFrame(pdf)
    orig = rel.read
    rel.read = lambda s, sf, t: df
    try:
        return {r["event_id"]: (r["click_ts_us"], r["click_value"])
                for r in rel.q_asof_join_events(spark, "unused").collect()}
    finally:
        rel.read = orig


def test_cli_stats_reads_manifests_without_spark(tmp_path, capsys):
    """`python -m webr stats` audits a warehouse from the manifests
    alone — no SparkSession. Craft stage manifests and assert rows,
    build wall, per-file counters, observe counters, and lineage all
    surface, and that a torn manifest is reported, not raised."""
    import json

    from webr.__main__ import main

    for t, man in {
        "mentions": {"rows": 10, "snapshot": "abc123def456789",
                     "build_s": 1.25, "lineage": {"input": "x"},
                     "partitions": [{"path": "a.parquet", "rows": 6},
                                    {"path": "b.parquet", "rows": 4}],
                     "counters": {"parse_ok": 9, "parse_fail": 1}},
        "idf": {"rows": 3, "snapshot": "ffff00001111",
                "lineage": {"mentions": "y"}},
    }.items():
        d = tmp_path / t
        d.mkdir()
        (d / "_manifest.json").write_text(json.dumps(man))
    (tmp_path / "pairs").mkdir()
    (tmp_path / "pairs" / "_manifest.json").write_text('{"rows": 1')
    assert main(["stats", "--warehouse", str(tmp_path)]) == 0
    out = capsys.readouterr().out
    assert "mentions: rows=10 snapshot=abc123def456 build_s=1.25" in out
    assert "pairs: unreadable manifest" in out
    assert "files=2 rows/file min=4 max=6" in out
    assert "counters=parse_fail=1,parse_ok=9" in out
    assert "lineage<-mentions" in out
    # empty / non-warehouse dir: graceful non-zero
    assert main(["stats", "--warehouse", str(tmp_path / "nope")]) == 1


def test_asof_tie_and_left_semantics(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    us = lambda sec: int((t0 + dt.timedelta(seconds=sec)
                          - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    rows = [
        # user 1: click at t=10, purchase at t=10 (EQUAL ts -> included),
        # purchase at t=5 (click is later -> null)
        (1, s(10), 1, "click", 1.5, "{}"),
        (2, s(10), 1, "purchase", 9.0, "{}"),
        (3, s(5), 1, "purchase", 9.0, "{}"),
        # user 2: two clicks; purchase picks the LATEST prior one
        (4, s(1), 2, "click", 1.0, "{}"),
        (5, s(2), 2, "click", 2.0, "{}"),
        (6, s(3), 2, "purchase", 9.0, "{}"),
        # user 3: purchase with no click at all -> left row with nulls
        (7, s(4), 3, "purchase", 9.0, "{}"),
        # other event types never act as the click side
        (8, s(2), 3, "view", 7.0, "{}"),
        # user 4: TWO clicks at the SAME ts — the defined winner is the
        # max-event_id one (the oracle pre-dedupes to the same row)
        (9, s(1), 4, "click", 4.1, "{}"),
        (10, s(1), 4, "click", 4.2, "{}"),
        (11, s(2), 4, "purchase", 9.0, "{}"),
    ]
    got = _run(spark, rows)
    assert got[2] == (us(10), 1.5)      # equal-ts click included
    assert got[3] == (None, None)       # only later clicks -> null
    assert got[6] == (us(2), 2.0)       # latest prior click wins
    assert got[7] == (None, None)       # no click for user -> left row
    assert got[11] == (us(1), 4.2)      # duplicate-ts: max event_id wins
    assert set(got) == {2, 3, 6, 7, 11}  # purchases only
