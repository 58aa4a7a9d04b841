"""Incremental release sync — the reference's change-detection
use-case as one declarative job (releases_scraper.py:69-126).

The reference loops releases and point-looks-up the DB and blob store
per release (decision ladder :101-124): new → ingest; metadata
changed → delete old (FK cascade) then re-ingest; unchanged → skip.
Here the whole ladder is ONE left join + a classification column —
per-row lookups become a broadcast hash join, and the same job
handles a million releases without a driver loop.

Classification parity:
- ``insert``  — id absent from the store (db lookup miss :101-106)
- ``update``  — present but ``file_meta_created_at`` or
  ``file_meta_modified_at`` drifted (:108-119); the old release's
  records and allocations are deleted (cascade) and its row is
  replaced by the upsert before re-ingest — the reference's
  ``delete_release`` + re-save, with the ``release`` table published
  once.
- ``skip``    — present and metadata equal (:121-124)

Scale: the store's release table (one row per release, thousands) is
the broadcast side and the scraped manifest streams past it, so no
side of the classification shuffles. No shuffle of record/allocation
data happens until a release actually changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.sinks.merge import NCAStore

META_COLS = ("file_meta_created_at", "file_meta_modified_at")


def classify_releases(scraped: DataFrame, existing: DataFrame) -> DataFrame:
    """scraped (id, ..., meta cols) × existing store releases →
    scraped columns + ``action`` ∈ insert/update/skip."""
    ex = existing.select(
        F.col("id").alias("_ex_id"),
        *[F.col(c).alias(f"_ex_{c}") for c in META_COLS],
    )
    joined = scraped.join(
        F.broadcast(ex), scraped["id"] == ex["_ex_id"], "left"
    )
    changed = F.lit(False)
    for c in META_COLS:
        changed = changed | ~(
            F.col(c).eqNullSafe(F.col(f"_ex_{c}"))
        )
    action = (
        F.when(F.col("_ex_id").isNull(), "insert")
        .when(changed, "update")
        .otherwise("skip")
    )
    return joined.select(*scraped.columns, action.alias("action"))


def sync_releases(
    spark: SparkSession,
    scraped: DataFrame,
    store: NCAStore,
) -> DataFrame:
    """Apply the ladder against ``store``: cascade-delete the children
    of updated releases, upsert new+updated release rows (the
    ``release`` table is published once), and return the classified
    frame (callers ingest PDFs for action != 'skip'). The returned
    frame is cached; the caller unpersists it. The ``release`` table is
    read once: the classification's read is the upsert's base.
    """
    existing = store.read("release") if store.exists("release") else None
    if existing is not None:
        classified = classify_releases(scraped, existing)
    else:
        classified = scraped.withColumn("action", F.lit("insert"))
    classified = classified.cache()
    actions = {r.action for r in classified.select("action").distinct().collect()}
    action = F.col("action")
    if "update" in actions:
        store.delete_children(classified.where(action == "update").select("id"))
    if actions - {"skip"}:
        store.upsert_releases(
            classified.where(action != "skip").drop("action"), existing
        )
    return classified
