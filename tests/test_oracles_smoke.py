"""Driver-contract smoke: a representative subset of queries() vs
oracle_sql() at sf0.001, with the bit-exact comparison of the full sweep
(scripts/check_oracles.py)."""

from __future__ import annotations

import pytest

from scripts.check_oracles import mismatch, oracle_db

SF = "/root/testdata/sf0.001"

SUBSET = [
    "tokenize_posinc",
    "match_ordered_2",
    "extract_best_path",
    "dedup_exact",
    "minhash_lsh_pairs",
    "ann_bruteforce",
    "media_features",
    "pricing_summary",
]


@pytest.fixture(scope="module")
def con():
    return oracle_db(SF)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, con, name):
    import __spark_entry__ as entrymod

    got = entrymod.queries()[name](spark, SF).toPandas()
    assert mismatch(got, con.sql(entrymod.oracle_sql()[name]).df()) is None


EVENT_ENTRIES = ["events_tumbling", "events_sessionize"]
TZ_KEY = "spark.sql.session.timeZone"


def _collect_in_zone(spark, zone, name, sf_dir):
    """Build and collect entry ``name`` with the session zone set to
    ``zone``; checks the entry leaves that zone as it found it."""
    import __spark_entry__ as entrymod

    before = spark.conf.get(TZ_KEY)
    spark.conf.set(TZ_KEY, zone)
    try:
        got = entrymod.queries()[name](spark, sf_dir).toPandas()
        assert spark.conf.get(TZ_KEY) == zone
    finally:
        spark.conf.set(TZ_KEY, before)
    return got


@pytest.mark.parametrize("zone", ["Asia/Kolkata", "America/Los_Angeles"])
@pytest.mark.parametrize("name", EVENT_ENTRIES)
def test_event_entries_ignore_the_session_time_zone(spark, con, name, zone):
    """The event entries take epoch offsets of the TIMESTAMP_NTZ column
    without a zone cast: under a half-hour-offset zone and a DST zone they
    still equal the oracle, and they leave the caller's zone as it was."""
    import __spark_entry__ as entrymod

    got = _collect_in_zone(spark, zone, name, SF)
    assert mismatch(got, con.sql(entrymod.oracle_sql()[name]).df()) is None


@pytest.fixture(scope="module")
def dst_gap_dir(tmp_path_factory):
    """An events table whose wall times sit in and around
    America/Los_Angeles's spring-forward gap (2024-03-10 02:00-03:00),
    where a cast to TIMESTAMP under that zone moves them an hour on."""
    import pandas as pd

    ts = pd.to_datetime([
        "2024-03-10 01:50:00", "2024-03-10 02:15:00.25",
        "2024-03-10 02:40:00", "2024-03-10 03:05:00",
        "2024-03-10 02:30:00", "2024-03-10 03:20:00.5",
    ], format="ISO8601").astype("datetime64[us]")
    ev = pd.DataFrame({
        "event_id": range(len(ts)),
        "ts": ts,
        "user_id": [1, 1, 1, 1, 2, 2],
        "event_type": ["click", "click", "view", "click", "view", "view"],
        "value": [1.5, 2.25, 3.0, 4.75, 5.5, 6.0],
        "props": ['{"k": 0}'] * len(ts),
    })
    d = tmp_path_factory.mktemp("dst_gap")
    ev.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", EVENT_ENTRIES)
def test_event_entries_keep_dst_gap_wall_times(spark, dst_gap_dir, name):
    """Wall times inside a DST gap of the session zone keep their epoch
    offsets: sessions split and buckets fall as in the zone-free oracle."""
    import duckdb

    import __spark_entry__ as entrymod

    got = _collect_in_zone(spark, "America/Los_Angeles", name, dst_gap_dir)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{dst_gap_dir}/events.parquet'")
    assert mismatch(got, con.sql(entrymod.oracle_sql()[name]).df()) is None


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "spans", "n_spans", "n_text_chars"}


def test_every_query_has_oracle():
    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20
