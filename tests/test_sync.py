"""Incremental release-sync tests (releases_scraper.py:69-126 parity):
insert/update/skip classification and the cascade on update.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from dbm_nca_ph_etl_spark.nca.sync import classify_releases, sync_releases
from dbm_nca_ph_etl_spark.sinks import NCAStore


def rel(id, created="c1", modified="m1", **kw):
    return Row(
        id=id,
        title=kw.get("title", "t"),
        url=kw.get("url", "u"),
        filename=kw.get("filename", f"{id}.pdf"),
        year=kw.get("year", 2024),
        page_count=kw.get("page_count", 1),
        file_meta_created_at=created,
        file_meta_modified_at=modified,
    )


def test_classify(spark):
    scraped = spark.createDataFrame(
        [rel("a"), rel("b", modified="m2"), rel("c")]
    )
    existing = spark.createDataFrame([rel("a"), rel("b")])
    got = {
        r.id: r.action
        for r in classify_releases(scraped, existing).collect()
    }
    assert got == {"a": "skip", "b": "update", "c": "insert"}


REL_SCHEMA = (
    "id string, title string, url string, filename string, year int, "
    "page_count int, file_meta_created_at string, file_meta_modified_at string"
)


def test_classify_null_meta(spark):
    scraped = spark.createDataFrame([rel("a", created=None)], REL_SCHEMA)
    existing = spark.createDataFrame([rel("a", created=None)], REL_SCHEMA)
    got = classify_releases(scraped, existing).collect()[0]
    assert got.action == "skip"  # null == null must not read as drift


def test_sync_cascades_update(spark, tmp_path):
    store = NCAStore(spark, str(tmp_path / "lake"))
    # initial load: release a with one record+allocation
    sync_releases(spark, spark.createDataFrame([rel("a")]), store)
    store.load_batch(
        spark.createDataFrame([Row(nca_number="N1", release_id="a")]),
        spark.createDataFrame([Row(nca_number="N1", amount=1.0, release_id="a")]),
    )
    # re-scrape: a changed, b is new
    out = sync_releases(
        spark,
        spark.createDataFrame([rel("a", modified="m9"), rel("b")]),
        store,
    )
    acts = {r.id: r.action for r in out.collect()}
    assert acts == {"a": "update", "b": "insert"}
    # cascade wiped a's children; release table holds both, a updated
    assert store.read("record").count() == 0
    assert store.read("allocation").count() == 0
    rels = {r.id: r.file_meta_modified_at for r in store.read("release").collect()}
    assert rels == {"a": "m9", "b": "m1"}


def test_sync_fresh_store_all_insert(spark, tmp_path):
    store = NCAStore(spark, str(tmp_path / "lake"))
    out = sync_releases(spark, spark.createDataFrame([rel("x"), rel("y")]), store)
    assert {r.action for r in out.collect()} == {"insert"}
    assert store.read("release").count() == 2


def _last_job(spark) -> int:
    """Id of the newest job in the status store (streaming and
    job-group jobs included)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return max(jobs.head().jobId(), jobs.last().jobId()) if jobs.nonEmpty() else -1


def _seeded(spark, tmp_path):
    store = NCAStore(spark, str(tmp_path / "lake"))
    sync_releases(spark, spark.createDataFrame([rel("a")]), store).unpersist()
    store.load_batch(
        spark.createDataFrame([Row(nca_number="N1", release_id="a")]),
        spark.createDataFrame([Row(nca_number="N1", amount=1.0, release_id="a")]),
    )
    return store


def test_update_leaves_no_cache_once_unpersisted(spark, tmp_path):
    store = _seeded(spark, tmp_path)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = sync_releases(spark, spark.createDataFrame([rel("a", modified="m9")]), store)
    out.unpersist()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


#: Status-store jobs of one update (sync plus reload) on a one-release
#: store: the count the one-pass sync and one-publish store steps run,
#: so a step that grows back fails.
UPDATE_JOB_BUDGET = 22


@pytest.mark.parametrize("cores", [2, 32])
def test_update_job_budget(spark, tmp_path, monkeypatch, cores):
    """Holds on any host: the default parallelism is faked to ``cores``
    on both the Python and the JVM side, so the inputs' slicing and
    the reads' splits follow the parameter, not the host's core count
    (a probe such as ``isEmpty`` may run one job per batch of
    partitions it scans)."""
    from pyspark import SparkContext

    store = _seeded(spark, tmp_path)
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda _: cores))
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", str(cores))
    try:
        before = _last_job(spark)
        sync_releases(
            spark, spark.createDataFrame([rel("a", modified="m9")]), store
        ).unpersist()
        store.load_batch(
            spark.createDataFrame([Row(nca_number="N2", release_id="a")]),
            spark.createDataFrame([Row(nca_number="N2", amount=2.0, release_id="a")]),
        )
        jobs = _last_job(spark) - before
    finally:
        spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
    assert jobs <= UPDATE_JOB_BUDGET
    assert [(r.nca_number, r.amount) for r in store.read("allocation").collect()] == [
        ("N2", 2.0)
    ]
