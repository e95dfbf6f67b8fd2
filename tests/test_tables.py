"""Table loaders: each table file's schema is inferred once per session, and
a rewrite at the same path is a new file."""

from __future__ import annotations

import os

from drive_health_etl_spark.sources.tables import TABLES, load_table


def _jobs_fired(spark, group: str, fn):
    """(fn(), number of Spark jobs fn fired), counted by job group after the
    listener bus has drained, so a late job event cannot be missed."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_docs(spark, tmp_path, rows, ddl):
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )


def test_warm_load_table_fires_no_job(spark, tmp_path):
    _write_docs(spark, tmp_path, [(1, "a"), (2, "b")], "doc_id long, text string")
    load_table(spark, str(tmp_path), "documents")  # cold: infers the schema
    df, jobs = _jobs_fired(
        spark, f"warm-load-{tmp_path.name}",
        lambda: load_table(spark, str(tmp_path), "documents"),
    )
    assert jobs == 0
    assert df.columns == ["doc_id", "text"]


def test_rewritten_table_reads_its_new_schema(spark, tmp_path):
    _write_docs(spark, tmp_path, [(1, "a"), (2, "b")], "doc_id long, text string")
    first = load_table(spark, str(tmp_path), "documents")
    assert first.columns == ["doc_id", "text"]
    # same path, same session, a different column set: a stale cached
    # schema would drop `lang` and read the file as the old two columns
    _write_docs(spark, tmp_path, [(3, "c", "en")], "doc_id long, text string, lang string")
    again = load_table(spark, str(tmp_path), "documents")
    assert again.columns == ["doc_id", "text", "lang"]
    assert [tuple(r) for r in again.collect()] == [(3, "c", "en")]


def test_two_loads_self_join_keeps_both_sides(spark, tmp_path):
    _write_docs(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string")
    a = load_table(spark, str(tmp_path), "documents")
    b = load_table(spark, str(tmp_path), "documents")
    pairs = a.join(b, a["doc_id"] < b["doc_id"]).select(a["doc_id"], b["doc_id"])
    assert sorted(tuple(r) for r in pairs.collect()) == [(1, 2), (1, 3), (2, 3)]


def test_declared_schema_matches_inferred_for_every_table(spark, sf_dir):
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = spark.read.parquet(path).schema
        assert spark.read.schema(inferred).parquet(path).schema == inferred, name
