"""Streaming incremental near-dup dedup against a growing band index.

The streaming leg of the incremental-dedup story: documents arrive
as a stream; each micro-batch (1) PROBES the persisted MinHash band
index (``operators/dedup.lsh_probe_new`` with ``index=`` — cost
scales with the batch, the corpus is never re-signed), (2) records
one verdict row per arriving doc, and (3) folds only the NOVEL
documents' band rows and text back into the index/corpus tables, so
later batches dedup against everything that came before — the
standard dedup-at-ingest topology.

Exactly-once over the at-least-once checkpoint feed: every write is
a DYNAMIC PARTITION OVERWRITE of the epoch's own partition
(``epoch=<id>`` directory), so a replayed epoch rewrites its
partition byte-identically instead of appending duplicates — the
same replay-idempotence contract as MaterializedAgg.refresh /
NCAStore.load_batch (T6), expressed through Spark's native
``partitionOverwriteMode=dynamic`` instead of a version log.

Scope: batch-vs-corpus AND batch-vs-batch dedup. A burst of
identical documents arriving in ONE micro-batch admits exactly one
copy: before the fold, the batch runs through the same LSH band +
exact-Jaccard verify pipeline against itself
(``minhash_lsh_pairs`` → ``ngram_jaccard_pairs``), and the
lower-id survivor of each verified pair is the only one that can
reach the index. Batch-sized work on a batch-sized relation.

Replay safety: the probe reads ONLY partitions with
``epoch < epoch_id``. Without that filter, a crash after
``_write_epoch(index/corpus)`` but before the checkpoint commit
would replay the micro-batch against an index already containing
its own rows — every previously-novel doc would collide with
itself and the rewritten verdicts partition would silently flip the
whole epoch to ``is_dup``. The epoch partition column makes the
exclusion a partition-pruned predicate, not a scan.

The signature-parameter sidecar (``_band_meta.json``) is written on
first use and validated on every later run via ``load_band_index``
— a parameter drift between runs fails loudly instead of silently
missing every collision.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dbm_nca_ph_etl_spark.sources.lakefs import get_fs
from dbm_nca_ph_etl_spark.sources.lakefs import join as _pjoin

from dbm_nca_ph_etl_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    band_buckets,
    load_band_index,
    lsh_probe_new,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from dbm_nca_ph_etl_spark.streaming.nca_stream import _start

VERDICT_SCHEMA = "doc_id long, matched_doc long, is_dup boolean, epoch long"


def _write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Idempotent epoch write: dynamic overwrite of epoch=<id> only."""
    (
        df.withColumn("epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(path)
    )


def stream_probe_dedup(
    docs_stream: DataFrame,
    index_path: str,
    corpus_path: str,
    verdicts_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    verify_threshold: float | None = 0.5,
    available_now: bool = True,
) -> StreamingQuery | None:
    """Run the dedup-at-ingest stream. ``index_path`` /
    ``corpus_path`` / ``verdicts_path`` are epoch-partitioned
    parquet tables this function owns; they may start empty.
    Drains and returns None under ``available_now``; otherwise
    returns the started query."""
    meta_path = _pjoin(index_path, "_band_meta.json")
    fs = get_fs(index_path)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ).localCheckpoint()
        # probe only when index DATA exists — the meta sidecar alone
        # (a crash between meta and first epoch write) must not send
        # us to an unreadable empty table. A band=-partitioned dir is
        # a build_band_index artifact, NOT this stream's layout:
        # falling through to the "first epoch" branch would silently
        # treat the whole corpus as empty and then corrupt the dir
        # with conflicting epoch= partitions — fail fast instead.
        entries = [
            os.path.basename(d.rstrip("/")) for d in fs.ls_dirs(index_path)
        ]
        if any(d.startswith("band=") for d in entries):
            raise ValueError(
                f"{index_path} is a band=-partitioned build_band_index "
                "artifact; stream_probe_dedup owns an epoch=-partitioned "
                "index — point it at its own directory (or probe the "
                "batch against the band index with lsh_probe_new)"
            )
        has_index = any(d.startswith("epoch=") for d in entries)
        # replay guard: exclude this epoch's own (and any later) rows
        # — a crash between _write_epoch and the checkpoint commit
        # replays the batch against an index that already contains it
        before = F.col("epoch") < F.lit(int(epoch_id))
        if has_index:
            idx = load_band_index(
                spark, index_path, num_hashes, bands, shingle_n,
                expected_layout="epoch",
            ).where(before)
            corpus = (
                spark.read.parquet(corpus_path)
                .where(before)
                .select("doc_id", "text")
            )
            verdicts = lsh_probe_new(
                corpus,
                batch,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
                index=idx,
                verify_threshold=verify_threshold,
            )
        else:
            # first epoch: empty corpus, everything is novel
            fs.mkdirs(index_path)
            fs.put_if_absent(
                meta_path,
                json.dumps(
                    {
                        "id_col": "doc_id",
                        "num_hashes": num_hashes,
                        "bands": bands,
                        "shingle_n": shingle_n,
                        "layout": "epoch",
                    }
                ).encode("utf-8"),
            )
            verdicts = batch.select(
                "doc_id",
                F.lit(None).cast("long").alias("matched_doc"),
                F.lit(False).alias("is_dup"),
            )
        # intra-batch dedup: a burst of identical docs in ONE batch
        # must admit exactly one copy. Same bands + exact-Jaccard
        # verify as the corpus probe; the lower id of each verified
        # pair survives, the higher id is a dup of the lowest partner.
        inb = minhash_lsh_pairs(batch, "text", "doc_id", num_hashes, bands, shingle_n)
        if verify_threshold is not None:
            inb = ngram_jaccard_pairs(inb, batch, "text", "doc_id", shingle_n).where(
                F.col("jaccard") >= F.lit(verify_threshold)
            )
        inb_hits = inb.groupBy(F.col("b").alias("doc_id")).agg(
            F.min("a").alias("_inb_match")
        )
        verdicts = (
            verdicts.join(inb_hits, "doc_id", "left")
            .select(
                "doc_id",
                # least() skips nulls: lowest colliding doc across the
                # corpus match and the in-batch survivor candidate
                F.least("matched_doc", "_inb_match").alias("matched_doc"),
                (
                    F.col("matched_doc").isNotNull()
                    | F.col("_inb_match").isNotNull()
                ).alias("is_dup"),
            )
        )
        verdicts = verdicts.localCheckpoint()  # probe once, fan to 3 writes
        _write_epoch(verdicts, verdicts_path, epoch_id)
        novel = batch.join(
            verdicts.where(~F.col("is_dup")).select("doc_id"), "doc_id"
        ).localCheckpoint()
        _write_epoch(
            band_buckets(novel, "text", "doc_id", num_hashes, bands, shingle_n),
            index_path,
            epoch_id,
        )
        _write_epoch(novel, corpus_path, epoch_id)

    return _start(docs_stream, fold, checkpoint_dir, available_now)


def read_verdicts(spark, verdicts_path: str) -> DataFrame:
    """All verdict rows so far, ordered columns per VERDICT_SCHEMA."""
    return spark.read.parquet(verdicts_path).select(
        "doc_id", "matched_doc", "is_dup", "epoch"
    )
