"""LogDB facade tests — the user-facing surface composes operator
kernels correctly and stays lazy/distributed."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from logdb_spark.api import LogDB
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def db(spark):
    db = LogDB(spark)
    db.ingest_parquet(f"{SF_SMALL}/events.parquet", "ev")
    return db


def test_ingest_normalizes_ns_timestamps(db):
    assert dict(db.table("ev").dtypes)["ts"].startswith("timestamp")


def test_search_with_time_range(db):
    hits = db.search("ev", "^err", since="2024-01-02", until="2024-01-05")
    rows = hits.collect()
    assert rows and all(r["event_type"] == "error" for r in rows)
    assert all("2024-01-02" <= str(r["ts"])[:10] < "2024-01-05" for r in rows)


def test_search_time_range_starts_no_job_before_action(db):
    """Validating since/until is part of building the search, so it
    must not cost a Spark job; a bad bound still fails eagerly."""
    from logdb_spark.api import LogDBError

    sc = db.spark.sparkContext
    group = "test-search-time-range"
    sc.setJobGroup(group, group)
    try:
        hits = db.search("ev", "^err", since="2024-01-02", until="2024-01-05")
        for bound in ("2024", "2024-01-03", "2024-01-02 03:04:05"):
            db.search("ev", "err", since=bound)
        with pytest.raises(LogDBError, match="until='nope'"):
            db.search("ev", "err", since="2024-01-02", until="nope")
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert hits.count() > 0
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_search_requires_string_columns(db):
    db.register("nums", db.table("ev").select("value", "ts"))
    with pytest.raises(ValueError):
        db.search("nums", "x")


def test_tail_returns_latest(db):
    rows = db.tail("ev", n=5).collect()
    assert len(rows) == 5
    ts = [r["ts"] for r in rows]
    assert ts == sorted(ts, reverse=True)
    max_ts = db.table("ev").agg(F.max("ts")).first()[0]
    assert ts[0] == max_ts


def test_histogram_buckets_sum_to_total(db):
    h = db.histogram("ev", bucket="1 day", by="event_type")
    assert h.agg(F.sum("n")).first()[0] == db.table("ev").count()


def test_sessionize_counts_all_events(db):
    s = db.sessionize("ev", gap="30 minutes")
    assert s.agg(F.sum("n_events")).first()[0] == db.table("ev").count()


def test_top_matches_manual_group(db):
    top = db.top("ev", by="event_type", n=3).collect()
    manual = (
        db.table("ev")
        .groupBy("event_type")
        .count()
        .orderBy(F.col("count").desc(), "event_type")
        .limit(3)
        .collect()
    )
    assert [(r["event_type"], r["value"]) for r in top] == [
        (r["event_type"], r["count"]) for r in manual
    ]


def test_sql_over_registered_table(db):
    n = db.sql("SELECT count(*) AS n FROM ev").first()["n"]
    assert n == db.table("ev").count()


def test_ingest_loglines_grok(db, tmp_path):
    raw = tmp_path / "app.log"
    raw.write_text(
        "2024-01-01 00:00:01|7|error|12.5\n2024-01-01 00:00:02|8|view|3.25\n"
    )
    df = db.ingest_loglines(
        str(raw),
        "applog",
        r"^([^|]+)\|([^|]+)\|([^|]+)\|([^|]+)$",
        {"ts": "string", "user_id": "bigint", "event_type": "string", "value": "double"},
        ts_field="ts",
    )
    rows = df.orderBy("user_id").collect()
    assert [r["user_id"] for r in rows] == [7, 8]
    assert rows[0]["event_type"] == "error" and rows[0]["value"] == 12.5
    assert str(rows[0]["ts"]).startswith("2024-01-01 00:00:01")


# ---------------------------------------------------------- error surface


def test_bad_regex_raises_eagerly(db):
    from logdb_spark.api import LogDBError

    with pytest.raises(LogDBError, match="invalid regex"):
        db.search("ev", "[unclosed")


def test_unknown_table_lists_known(db):
    from logdb_spark.api import LogDBError

    with pytest.raises(LogDBError, match="unknown table 'nope'"):
        db.table("nope")


def test_bad_timestamp_raises_eagerly(db):
    from logdb_spark.api import LogDBError

    with pytest.raises(LogDBError, match="since="):
        db.search("ev", "err", since="not-a-date")


def test_missing_column_names_table_columns(db):
    from logdb_spark.api import LogDBError

    with pytest.raises(LogDBError, match="no_such_col"):
        db.top("ev", by="no_such_col")
    with pytest.raises(LogDBError, match="no_such_col"):
        db.search("ev", "x", columns=["no_such_col"])
    with pytest.raises(LogDBError, match="no_such_col"):
        db.tail("ev", ts_col="no_such_col")


def test_java_only_regex_still_accepted(db):
    # possessive quantifiers are Java-regex-only (Python re rejects
    # them) — validation must use the JVM dialect rlike executes
    assert db.search("ev", "err\\w*+").count() > 0


@pytest.fixture(scope="module")
def db_docs(spark):
    db = LogDB(spark)
    db.ingest_parquet(f"{SF_SMALL}/documents.parquet", "docs")
    db.ingest_parquet(f"{SF_SMALL}/events.parquet", "ev2")
    return db


def test_search_ranked_bm25_matches_operator(db_docs, spark):
    """The facade's BM25 must rank exactly like text_search_bm25's
    kernel: same top-10 doc ids for the same terms."""
    from logdb_spark.registry import all_operators

    hits = db_docs.search_ranked(
        "docs", ["hash", "join"], k=10, id_col="doc_id"
    ).select("doc_id").collect()
    op = all_operators()["text_search_bm25"].fn(spark, SF_SMALL)
    want = [
        r["doc_id"]
        for r in op.filter(F.col("query") == "hash join")
        .orderBy("rank")
        .collect()
    ]
    assert [r["doc_id"] for r in hits] == want


def test_search_ranked_validates(db_docs):
    with pytest.raises(ValueError):
        db_docs.search_ranked("docs", [])
    with pytest.raises(ValueError):
        db_docs.search_ranked("docs", ["x"], scorer="cosine")


def test_lifecycle_stage_identity(db_docs):
    """new + retained + resurrected == active on every day."""
    rows = db_docs.lifecycle("ev2").collect()
    assert rows
    for r in rows:
        assert (
            r["new_users"] + r["retained_users"] + r["resurrected_users"]
            == r["active_users"]
        )


def test_catalog_stats_shape(db_docs):
    rows = db_docs.catalog_stats({"docs": "doc_id", "ev2": "event_id"}).collect()
    by = {r["table_name"]: r for r in rows}
    assert by["docs"]["n_rows"] == by["docs"]["n_distinct_key"]
    assert by["ev2"]["n_null_key"] == 0
