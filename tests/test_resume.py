"""Checkpoint/resume: a killed run resumes from the last committed snapshot
without reprocessing; lineage rows exist per stage (north rule)."""

import json
import os
import shutil

import pytest

from kgraphmemory_spark import datagen
from kgraphmemory_spark.io.snapshots import SnapshotCatalog, lineage_by_url
from kgraphmemory_spark.pipeline import run_pipeline


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "kg_snapshots")


def _rel_set(kg):
    return {(r.subj, r.pred, r.obj, r.weight, r.ndocs)
            for r in kg.relations.collect()}


def test_full_resume_identical(spark, workdir):
    pages = datagen.generate_pages(spark, 30, seed=31)
    kg1 = run_pipeline(spark, pages, workdir=workdir)
    first = _rel_set(kg1)
    assert kg1.stages_resumed == []

    kg2 = run_pipeline(spark, pages, workdir=workdir)
    assert "docs_clean" in kg2.stages_resumed
    assert "relations" in kg2.stages_resumed
    assert _rel_set(kg2) == first


def test_partial_resume_after_kill(spark, workdir):
    """Simulate a kill after stage 3: later-stage snapshots missing →
    earlier stages must be reused, later recomputed, results identical."""
    pages = datagen.generate_pages(spark, 30, seed=31)
    kg1 = run_pipeline(spark, pages, workdir=workdir)
    want = _rel_set(kg1)

    # "kill" after linked: wipe everything downstream of linking
    for stage in ("canonical_map", "entities", "relations", "frames",
                  "slots", "triples", "provenance"):
        shutil.rmtree(os.path.join(workdir, stage))

    kg2 = run_pipeline(spark, pages, workdir=workdir)
    assert set(kg2.stages_resumed) == {"docs_clean", "mentions",
                                       "raw_triples", "alias_table", "linked"}
    assert _rel_set(kg2) == want


def test_uncommitted_stage_not_trusted(spark, workdir):
    """Data dir without a manifest (crash mid-write) is rebuilt."""
    pages = datagen.generate_pages(spark, 10, seed=7)
    run_pipeline(spark, pages, workdir=workdir)
    # remove just the manifest of 'mentions' — simulates torn write
    os.remove(os.path.join(workdir, "mentions", "_MANIFEST.json"))
    kg2 = run_pipeline(spark, pages, workdir=workdir)
    assert "mentions" not in kg2.stages_resumed
    assert "docs_clean" in kg2.stages_resumed
    cat = SnapshotCatalog(workdir)
    assert cat.committed("mentions")  # recommitted


URL_KEYED = ("docs_clean", "mentions", "raw_triples", "linked", "provenance")
STAGES = URL_KEYED + ("alias_table", "canonical_map", "entities",
                      "relations", "frames", "slots", "triples")


def test_lineage_rows_written(spark, workdir):
    pages = datagen.generate_pages(spark, 25, seed=13)
    run_pipeline(spark, pages, workdir=workdir)
    cat = SnapshotCatalog(workdir)
    lin = cat.read_lineage(spark, "linked")
    assert {c for c in lin.columns} >= {"bucket", "out_count", "stage"}
    # link-score histogram metric present on the linked stage
    assert "score_histogram" in lin.columns
    man = json.load(open(os.path.join(workdir, "linked", "_MANIFEST.json")))
    assert man["rows"] > 0 and man["schema"]
    # the observed counts agree with the committed data: lineage buckets
    # sum to the manifest rows, which equal the rows on disk
    for stage in URL_KEYED:
        man = cat.manifest(stage)
        rows = cat.read_lineage(spark, stage).collect()
        assert sum(r.out_count for r in rows) == man["rows"], stage
        assert len(rows) == man["lineage_rows"], stage
    for stage in STAGES:
        on_disk = spark.read.parquet(
            os.path.join(workdir, stage, "data")).count()
        assert cat.manifest(stage)["rows"] == on_disk, stage


def test_commit_runs_build_once(spark, tmp_path):
    """One pass per commit: a Python UDF in the build is called once per
    committed row — the lineage and the manifest's row count come from
    the write and the committed read-back, not from re-running the
    build."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    calls = spark.sparkContext.accumulator(0)

    def to_url(i):
        calls.add(1)
        return f"http://example.org/{i}"

    # the UDF computes the url the lineage buckets by, so no rebuild of
    # the lineage's input could prune it away
    url = F.udf(to_url, StringType())
    cat = SnapshotCatalog(str(tmp_path / "snap"))
    out = cat.stage(
        spark, "s1",
        lambda: spark.range(0, 200, numPartitions=4).select(
            url("id").alias("url"), "id"),
        lineage_of=lambda df: lineage_by_url(df, "s1"))
    man = cat.manifest("s1")
    assert man["rows"] == 200
    assert calls.value == man["rows"]
    lin = cat.read_lineage(spark, "s1").collect()
    assert sum(r.out_count for r in lin) == 200
    assert man["lineage_rows"] == len(lin)
    assert out.where(F.col("url") == "http://example.org/7").count() == 1
    # the committed read-back and the resume read carry the written schema
    assert out.schema.json() == man["schema"]
    assert cat.read(spark, "s1").schema.json() == man["schema"]


@pytest.mark.parametrize("shape", ["zero_rows", "zero_partitions"])
def test_empty_commit(spark, tmp_path, shape):
    """A commit with no rows — or no partitions at all — still commits,
    with zero counts, and never waits on an observation that no task
    reports."""
    import threading

    schema = "url string, v long"
    if shape == "zero_rows":
        df = spark.createDataFrame([("u", 1)], schema).where("v < 0")
    else:
        df = spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    cat = SnapshotCatalog(str(tmp_path / "snap"))
    done = {}

    def _commit():
        done["out"] = cat.commit(
            "empty", df, lineage_of=lambda out: lineage_by_url(out, "empty"))

    t = threading.Thread(target=_commit, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "commit blocked on its row observation"
    man = cat.manifest("empty")
    assert man["rows"] == 0 and man["lineage_rows"] == 0
    assert done["out"].count() == 0
    assert cat.read(spark, "empty").count() == 0


def test_commit_job_budget(spark, workdir, monkeypatch):
    """Spark jobs per stage commit, counted by job group: the data write
    plus, for url-keyed stages, the lineage write (an aggregation: two
    jobs under adaptive execution) — no count, rebuild or schema-inference
    jobs.  A resumed stage read runs no job at all."""
    sc = spark.sparkContext
    orig_commit, orig_read = SnapshotCatalog.commit, SnapshotCatalog.read

    def grouped(group, fn):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def commit(cat, name, *a, **kw):
        return grouped(f"commit-{workdir}-{name}",
                       lambda: orig_commit(cat, name, *a, **kw))

    def read(cat, spark_, name):
        return grouped(f"read-{workdir}-{name}",
                       lambda: orig_read(cat, spark_, name))

    monkeypatch.setattr(SnapshotCatalog, "commit", commit)
    monkeypatch.setattr(SnapshotCatalog, "read", read)
    pages = datagen.generate_pages(spark, 30, seed=31)
    run_pipeline(spark, pages, workdir=workdir)
    kg = run_pipeline(spark, pages, workdir=workdir)
    assert sorted(kg.stages_resumed) == sorted(STAGES)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = {s: len(tracker.getJobIdsForGroup(f"commit-{workdir}-{s}"))
            for s in STAGES}
    reads = {s: len(tracker.getJobIdsForGroup(f"read-{workdir}-{s}"))
             for s in STAGES}
    assert not any(reads.values()), f"resumed reads ran jobs: {reads}"
    # linked's data write also collects the ranked alias table for its
    # broadcast join: one job more than the other url-keyed stages
    budget = {s: 3 for s in URL_KEYED}
    budget["linked"] = 4
    over = {s: n for s, n in jobs.items() if n > budget.get(s, 2)}
    assert not over, f"stage commits over their job budget: {over}"


def test_snapshot_backend_recorded(spark, tmp_path):
    """Round 4 (SURVEY §7.1): the manifest records which backend holds
    the stage data.  This sandbox ships no Iceberg jars, so detection
    must return False and commits must take (and record) the
    parquet+manifest path; with jars + a configured catalog the same
    interface commits Iceberg snapshots (skip-gated below)."""
    from kgraphmemory_spark.io.snapshots import (
        SnapshotCatalog,
        _iceberg_catalog,
        iceberg_available,
    )
    assert iceberg_available(spark) is False
    assert _iceberg_catalog(spark) is None
    cat = SnapshotCatalog(str(tmp_path / "snap"))
    out = cat.stage(spark, "s1",
                    lambda: spark.range(3).selectExpr("id", "id*2 AS v"))
    assert out.count() == 3
    man = cat.manifest("s1")
    assert man["backend"] == "parquet+manifest"
    assert "table" not in man
    # catalog configured but no jars → still the parquet fallback (the
    # opt-in alone must not redirect data the cluster cannot read)
    spark.conf.set("spark.kgm.iceberg.catalog", "icecat")
    try:
        assert _iceberg_catalog(spark) is None
    finally:
        spark.conf.unset("spark.kgm.iceberg.catalog")


def test_snapshot_iceberg_commit(spark, tmp_path):
    """Real Iceberg snapshot commit — runs only on a cluster whose
    classpath carries the Iceberg Spark runtime AND a configured
    catalog."""
    import pytest as _pytest

    from kgraphmemory_spark.io.snapshots import (
        SnapshotCatalog,
        _iceberg_catalog,
    )
    spark.conf.set("spark.kgm.iceberg.catalog", "icecat")
    try:
        if _iceberg_catalog(spark) is None:
            _pytest.skip("no Iceberg runtime on the classpath")
        cat = SnapshotCatalog(str(tmp_path / "snap_ice"))
        out = cat.stage(spark, "s1", lambda: spark.range(3))
        assert out.count() == 3
        assert cat.manifest("s1")["backend"] == "iceberg"
        # resume path reads the table back through the manifest
        assert cat.read(spark, "s1").count() == 3
    finally:
        spark.conf.unset("spark.kgm.iceberg.catalog")
