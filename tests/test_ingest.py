"""S1/S7 ingest contracts: batch backfill, quarantine routing, and
streaming ingest ≡ batch ingest over identical input."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdataindexing_spark.documents.schema import parsed_plans, raw_plan_json
from bigdataindexing_spark.documents.shred import STORE_SCHEMAS, read_tables, write_tables
from bigdataindexing_spark.sources.json_ingest import (
    TABLE_NAMES,
    ingest_batch,
    ingest_stream,
    read_store,
)


def _write_input(spark, tmp_path, n=20, include_invalid=True):
    in_dir = str(tmp_path / "in")
    raw_plan_json(spark, n=n, include_invalid=include_invalid).coalesce(
        2
    ).write.mode("overwrite").text(in_dir)
    return in_dir


def test_batch_ingest_shreds_and_quarantines(spark, tmp_path):
    in_dir = _write_input(spark, tmp_path, n=20)
    out_dir = str(tmp_path / "store")
    tables, quarantine = ingest_batch(spark, in_dir, out_dir)

    assert tables.plans.count() == 20
    # plan #i carries i % 4 linkedPlanServices (documents/schema.make_plan),
    # each with a service + a cost share, plus one planCostShares per plan
    n_services = sum(i % 4 for i in range(20))
    assert tables.plan_services.count() == n_services
    assert tables.services.count() == n_services
    assert tables.member_cost_shares.count() == 20 + n_services
    bad = quarantine.collect()
    assert len(bad) > 0
    assert all(len(r["reason"]) > 0 for r in bad)
    # the store is on disk and re-readable
    store = read_store(spark, out_dir)
    assert store.edges.count() == tables.edges.count() > 0


def test_stream_ingest_equals_batch(spark, tmp_path):
    in_dir = _write_input(spark, tmp_path, n=15)
    batch_dir = str(tmp_path / "batch_store")
    stream_dir = str(tmp_path / "stream_store")
    ingest_batch(spark, in_dir, batch_dir)
    ingest_stream(spark, in_dir, stream_dir)

    batch_store = read_store(spark, batch_dir)
    stream_store = read_store(spark, stream_dir, streaming=True)
    for name in TABLE_NAMES:
        b = sorted(map(tuple, getattr(batch_store, name).collect()))
        s = sorted(map(tuple, getattr(stream_store, name).collect()))
        assert b == s, name


def test_stream_ingest_replay_is_idempotent(spark, tmp_path):
    from bigdataindexing_spark.sources.json_ingest import _append_partials

    in_dir = _write_input(spark, tmp_path, n=5, include_invalid=False)
    out_dir = str(tmp_path / "store")
    raw = spark.read.text(in_dir)
    fn = _append_partials(out_dir)
    fn(raw, 0)
    once = sorted(map(tuple, read_store(spark, out_dir, streaming=True).plans.collect()))
    fn(raw, 0)  # replayed micro-batch
    twice = sorted(map(tuple, read_store(spark, out_dir, streaming=True).plans.collect()))
    assert once == twice


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_store_writes_run_in_callers_job_group(spark, tmp_path):
    """Every job of the concurrent store writes (ingest, shredded store,
    inverted index) carries the caller's job group, so it can be
    attributed and cancelled with ``cancelJobGroup``."""
    from bigdataindexing_spark.index.build import write_index

    in_dir = _write_input(spark, tmp_path, n=10)
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("a"), (F.col("id") % 7).cast("string")).alias("text"),
    )
    sc = spark.sparkContext
    lo = _next_job_id(spark)
    sc.setJobGroup("store-writes", "concurrent store writes")
    try:
        tables, _ = ingest_batch(spark, in_dir, str(tmp_path / "store"))
        write_tables(tables, str(tmp_path / "copy"))
        write_index(docs, str(tmp_path / "index"))
    finally:
        sc.setJobGroup(None, None)
    hi = _next_job_id(spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    grouped = set(sc.statusTracker().getJobIdsForGroup("store-writes"))
    assert hi - lo >= 6 + 5 + 2
    assert set(range(lo, hi)) <= grouped


def test_store_schemas_pin_written_layouts_and_open_launches_no_job(spark, tmp_path):
    """STORE_SCHEMAS must equal what Spark infers from every written
    layout — otherwise the declared-schema readers would silently read
    NULLs after a shred column change — and opening a store must not
    launch a single Spark job."""
    from bigdataindexing_spark.documents.merge import merge

    in_dir = _write_input(spark, tmp_path, n=10)
    batch_dir = str(tmp_path / "batch")
    stream_dir = str(tmp_path / "stream")
    merged_dir = str(tmp_path / "merged")
    ingest_batch(spark, in_dir, batch_dir)
    ingest_stream(spark, in_dir, stream_dir)
    write_tables(merge(read_tables(spark, batch_dir), parsed_plans(spark, 3)), merged_dir)

    for out_dir, streaming in ((batch_dir, False), (stream_dir, True), (merged_dir, False)):
        for name, ddl in STORE_SCHEMAS.items():
            path = f"{out_dir}/{name}" if streaming else f"{out_dir}/{name}.parquet"
            read = spark.read.option("recursiveFileLookup", "true")
            inferred = read.parquet(path).schema
            declared = read.schema(ddl).parquet(path).schema
            assert [(f.name, f.dataType) for f in inferred] == [
                (f.name, f.dataType) for f in declared
            ], (out_dir, name)

    lo = _next_job_id(spark)
    read_store(spark, batch_dir)
    read_store(spark, stream_dir, streaming=True)
    read_tables(spark, merged_dir)
    assert _next_job_id(spark) == lo


def test_failed_store_write_raises_and_releases_parse_cache(spark, tmp_path, monkeypatch):
    """One failing relation write surfaces in the caller, and the
    ingest's persisted parse is released all the same."""
    from bigdataindexing_spark.sources import json_ingest

    real_shred = json_ingest.shred

    def shred_with_failing_edges(valid):
        tables = real_shred(valid)
        tables.edges = tables.edges.withColumn(
            "child_id", F.raise_error(F.lit("injected write failure")).cast("string")
        )
        return tables

    monkeypatch.setattr(json_ingest, "shred", shred_with_failing_edges)
    in_dir = _write_input(spark, tmp_path, n=10)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(Exception, match="injected write failure"):
        ingest_batch(spark, in_dir, str(tmp_path / "store"))
    assert set(jsc.getPersistentRDDs().keySet()) == before


def test_schema_evolution_merge_schema(spark, tmp_path):
    """Schema evolution across parquet files: a column added later merges
    into a unified schema, old rows read NULL for it — the contract a
    long-lived 100 TB table depends on."""
    from pyspark.sql import Row

    base = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [Row(doc_id=1, text="alpha")], "doc_id BIGINT, text STRING"
    )
    v2 = spark.createDataFrame(
        [Row(doc_id=2, text="beta", lang="en")],
        "doc_id BIGINT, text STRING, lang STRING",
    )
    v1.write.parquet(f"{base}/v1")
    v2.write.parquet(f"{base}/v2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/v1", f"{base}/v2"
    )
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r for r in merged.collect()}
    assert rows[1]["lang"] is None
    assert rows[2]["lang"] == "en"
