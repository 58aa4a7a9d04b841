"""session_memo: memoized artifacts follow the input files.

Each test reads a directory-layout parquet table through
``load_table``, so the schema memo, the scale-guard memo and the
table's part files are the production ones.
"""

import pytest

from dbm_nca_ph_etl_spark.operators import similarity as S
from dbm_nca_ph_etl_spark.sources.catalog import load_table

SCHEMA = "vec_id long, embedding array<double>"


def _rows(lo, hi):
    return [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(lo, hi)]


def _write(spark, sf_dir, rows, mode="overwrite", schema=SCHEMA):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(
        str(sf_dir / "embeddings.parquet")
    )


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_appended_part_file_reruns_scale_guard(spark, tmp_path):
    _write(spark, tmp_path, _rows(0, 5))
    S.scale_guard(load_table(spark, str(tmp_path), "embeddings"), 5, "memo_test")
    _write(spark, tmp_path, _rows(5, 8), mode="append")
    with pytest.raises(ValueError, match="refuses >5 input rows"):
        S.scale_guard(
            load_table(spark, str(tmp_path), "embeddings"), 5, "memo_test"
        )


def test_rewritten_table_serves_new_schema(spark, tmp_path):
    _write(spark, tmp_path, _rows(0, 4))
    assert "extra" not in load_table(spark, str(tmp_path), "embeddings").columns
    _write(
        spark,
        tmp_path,
        [r + ("x",) for r in _rows(0, 4)],
        schema=SCHEMA + ", extra string",
    )
    df = load_table(spark, str(tmp_path), "embeddings")
    assert df.columns == ["vec_id", "embedding", "extra"]
    assert df.where("extra = 'x'").count() == 4


def test_warm_cosine_topk_skips_guard_count(spark, tmp_path):
    _write(spark, tmp_path, _rows(0, 20))
    emb = load_table(spark, str(tmp_path), "embeddings")
    q = emb.where("vec_id < 3")
    # the jobs of one bare guard count (AQE may split it into stages)
    one_count = _jobs(spark, "memo-count", lambda: q.limit(1001).count())
    assert one_count >= 1
    cold = _jobs(spark, "memo-cold", lambda: S.cosine_topk(emb, q, k=2))
    warm = _jobs(spark, "memo-warm", lambda: S.cosine_topk(emb, q, k=2))
    assert (cold, warm) == (one_count, 0)
