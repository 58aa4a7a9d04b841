"""Streaming incremental inverted-index maintenance.

A retrieval index over a living corpus can't be rebuilt per arrival —
at 100 TB the posting build is a full-corpus explode+shuffle. But the
index IS a decomposable aggregate: ``tf(token, doc) = count`` and
``doc_len(doc) = count`` both fold by summation, so each micro-batch
of new documents contributes exactly its own postings and the lake
tables converge to what a batch build over the full corpus would
produce (the test asserts that equality, and BM25 over the maintained
index equals BM25 over the batch index).

Composition — nothing new is invented here:

- tokenization is the same one-explode pass the batch index uses
  (operators/inverted.build_postings's shape);
- persistence is :class:`~dbm_nca_ph_etl_spark.sinks.matview.
  MaterializedAgg` — versioned snapshots, replay-idempotent on the
  epoch id, so the at-least-once checkpoint feed yields exactly-once
  index state (the same T6 contract as the NCA store);
- the two views (postings, doc lengths) are refreshed independently
  with the SAME epoch id: a crash between the two refreshes replays
  the epoch, the already-applied view no-ops, the other catches up.

Per epoch the work is O(batch postings) + O(view) merge — the corpus
is never re-scanned. On a real deployment each ``MaterializedAgg``
maps to a MERGE INTO on a token-clustered table, keeping the
footer-pruned probe property of the batch index
(sinks/maintenance.write_sorted_parquet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dbm_nca_ph_etl_spark.operators.dedup import tokens
from dbm_nca_ph_etl_spark.sinks.matview import MaterializedAgg, Measure
from dbm_nca_ph_etl_spark.streaming.nca_stream import _start


def postings_view(spark: SparkSession, path: str) -> MaterializedAgg:
    """(token, doc_id) → tf, maintained as a summable count."""
    return MaterializedAgg(
        spark, path, keys=["token", "doc_id"],
        measures=[Measure("tf", "token", "count")],
    )


def doc_lens_view(spark: SparkSession, path: str) -> MaterializedAgg:
    """doc_id → doc_len (token count), the BM25 length-norm side."""
    return MaterializedAgg(
        spark, path, keys=["doc_id"],
        measures=[Measure("doc_len", "token", "count")],
    )


def _exploded(batch_df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return batch_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )


def stream_into_index(
    docs_stream: DataFrame,
    postings: MaterializedAgg,
    doc_lens: MaterializedAgg,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery | None:
    """Maintain the inverted index from a stream of new documents.

    Assumes append-only document arrivals (each doc_id arrives once —
    re-ingesting a revised document would double its postings; route
    revisions through a retraction of the old version via
    ``refresh(..., retract=True)`` first). Drains and returns None
    under ``available_now``; otherwise returns the started query.
    """

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # one tokenize pass feeds both views; localCheckpoint so the
        # second refresh doesn't re-run the explode lineage
        toks = _exploded(batch_df, id_col, text_col).localCheckpoint()
        postings.refresh(toks, f"epoch{epoch_id}")
        doc_lens.refresh(toks, f"epoch{epoch_id}")

    return _start(docs_stream, fold, checkpoint_dir, available_now)


def index_postings(view: MaterializedAgg) -> DataFrame:
    """Current postings snapshot in the exact shape
    ``operators/inverted`` consumes (token, doc_id, tf)."""
    return view.read_partials().select("token", "doc_id", "tf")


def index_doc_lens(view: MaterializedAgg) -> DataFrame:
    """Current (doc_id, doc_len) snapshot for BM25 length norms."""
    return view.read_partials().select("doc_id", "doc_len")
