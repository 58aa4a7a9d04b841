"""NCA cleaner parity queries (the correctness showpiece).

A deterministic synthetic NCA release document is generated from
``orders``/``lineitem`` — identically in Spark and in the DuckDB
oracle SQL — then the engine's cleaner (nca/cleaner.py) runs on the
Spark side while the oracle replicates the full reference semantics
(pd_data_cleaner.py:22-60) in pure SQL: spacer insertion,
repeated-header removal, ffill, leading-run joins, segment
reassembly, coerce casts. A value-hash match here means the whole
cleaner pipeline — not just its pieces — matches an independent
implementation.

The synthetic document exercises every FIXTURES.md pattern: repeated
headers (orderkey % 310), multi-line continuation + leading-run break
with stray text (orderkey % 3), wrapped allocation text
(linenumber 2), comma amounts (linenumber 1), junk amounts
(linenumber 7), spacer-delimited allocations, multiple releases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.nca.cleaner import clean_allocations, clean_records
from dbm_nca_ph_etl_spark.nca.schemas import VALID_COLUMNS
from dbm_nca_ph_etl_spark.session import session_memo
from dbm_nca_ph_etl_spark.sources.catalog import load_table, table_path

HEADER_CELLS = [
    "NCA Number",
    "NCA Type",
    "Released Date",
    "Department",
    "Agency",
    "Operating Unit",
    "Amount",
    "Purpose",
]

def _cells(row_idx, nca="", typ="", date="", dept="", ag="", ou="", am="", pu=""):
    def c(x):
        return F.lit(x) if isinstance(x, str) else x

    return F.struct(
        row_idx.cast("long").alias("row_idx"),
        c(nca).alias("nca_number"),
        c(typ).alias("nca_type"),
        c(date).alias("released_date"),
        c(dept).alias("department"),
        c(ag).alias("agency"),
        c(ou).alias("operating_unit"),
        c(am).alias("amount"),
        c(pu).alias("purpose"),
    )


def _explode_variants(df: DataFrame, release_id, variants: list) -> DataFrame:
    """One scan → all synthetic rows: each source row carries an array
    of row-variant structs (conditional variants are null-struct via
    otherwise-less ``when``), filtered and exploded. Replaces an
    8-branch ``unionByName`` that re-scanned orders 5× and ran the
    lineitem⋈orders join 3× — same rows, one pass per table, and a
    plan the analyzer walks once instead of per branch."""
    rows = F.filter(F.array(*variants), lambda x: x.isNotNull())
    return df.select(
        release_id.alias("release_id"), F.explode_outer(rows).alias("_c")
    ).select("release_id", F.lit(0).alias("page_num"), "_c.*")


def synthesize_nca_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic raw-rows document from orders+lineitem."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 31 == 0)
    # l_orderkey % 31 == 0 is implied by the equi-join against the
    # filtered orders side, but Catalyst cannot derive modulo
    # membership through a join — stating it explicitly drops ~97% of
    # lineitem before the broadcast probe (measured ~25% off the
    # synthesis stage at sf0.1).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 31 == 0)
        .join(
            F.broadcast(o.select("o_orderkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data
    # (378 collisions at sf0.01 inside this %31 subset) — a row_idx
    # derived from l_linenumber alone would tie, leaving the document
    # order engine-dependent. ln_idx densifies over the full unique
    # key so every synthesized row gets a distinct index.
    from pyspark.sql import Window as _W

    li = li.withColumn(
        "ln_idx",
        F.row_number().over(
            _W.partitionBy("l_orderkey").orderBy(
                "l_linenumber", "l_partkey", "l_suppkey"
            )
        ),
    )

    rel = F.concat(F.lit("id_"), ((F.col("o_orderkey") % 97) + 1000).cast("string"))
    rel_li = F.concat(F.lit("id_"), ((F.col("l_orderkey") % 97) + 1000).cast("string"))
    nca = F.concat(F.lit("NCA-"), F.col("o_orderkey").cast("string"))
    base_o = F.col("o_orderkey") * 1000

    o_part = _explode_variants(
        o,
        rel,
        [
            F.when(F.col("o_orderkey") % 310 == 0, _cells(base_o + 0, *HEADER_CELLS)),
            _cells(
                base_o + 1,
                nca=nca,
                typ=F.col("o_orderpriority"),
                date=F.date_format("o_orderdate", "MM/dd/yyyy"),
                dept=F.concat(F.lit("DEPT-"), (F.col("o_custkey") % 10).cast("string")),
                pu=F.concat(F.lit("To cover "), F.col("o_orderstatus")),
            ),
            _cells(base_o + 2, pu="order requirements"),
            F.when(F.col("o_orderkey") % 3 == 0, _cells(base_o + 3)),
            F.when(F.col("o_orderkey") % 3 == 0, _cells(base_o + 4, pu="stray text")),
        ],
    )

    base_l = F.col("l_orderkey") * 1000 + 10 + F.col("ln_idx") * 3
    amount_expr = (
        F.when(F.col("l_linenumber") == 1, F.lit("1,234.50"))
        .when(F.col("l_linenumber") == 7, F.lit("N/A"))
        .otherwise(F.round("l_extendedprice", 2).cast("string"))
    )
    li_part = _explode_variants(
        li,
        rel_li,
        [
            _cells(
                base_l,
                ag=F.concat(F.lit("AG-"), F.col("l_suppkey").cast("string")),
                ou=F.concat(F.lit("OU-"), (F.col("l_partkey") % 50).cast("string")),
                am=F.when(F.col("l_linenumber") == 2, F.lit("")).otherwise(amount_expr),
            ),
            F.when(
                F.col("l_linenumber") == 2,
                _cells(base_l + 1, ag="wrapped", am=amount_expr),
            ),
            _cells(base_l + 2),
        ],
    )

    return o_part.unionByName(li_part)


def _memoized(kind: str, build, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prepared-plan memo: analyzing the synthesis + cleaner tree costs
    ~1.1 s per construction at any SF. Keyed on the table paths, so a
    hit builds no DataFrame."""

    def analyzed() -> DataFrame:
        df = build(synthesize_nca_raw(spark, sf_dir))
        df.schema  # force analysis inside the memo fill
        return df

    tables = [table_path(sf_dir, t) for t in ("orders", "lineitem")]
    return session_memo(spark, ("nca_plan", kind, sf_dir), tables, analyzed)


def nca_clean_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("records", clean_records, spark, sf_dir)


def nca_clean_allocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("allocations", clean_allocations, spark, sf_dir)


# ---------------------------------------------------------------------------
# DuckDB oracle: the same synthesis + a full SQL replication of the
# cleaner semantics.
# ---------------------------------------------------------------------------

_SQL_SYNTH = """
  o AS (SELECT * FROM orders WHERE o_orderkey % 31 = 0),
  li AS (
    SELECT l.*,
           row_number() OVER (PARTITION BY l.l_orderkey
                              ORDER BY l.l_linenumber, l.l_partkey,
                                       l.l_suppkey) AS ln_idx
    FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
  ),
  raw0 AS (
    -- header repeats
    SELECT 'id_' || (o_orderkey % 97 + 1000)::VARCHAR AS release_id,
           o_orderkey * 1000 + 0 AS row_idx,
           'NCA Number' AS nca_number, 'NCA Type' AS nca_type,
           'Released Date' AS released_date, 'Department' AS department,
           'Agency' AS agency, 'Operating Unit' AS operating_unit,
           'Amount' AS amount, 'Purpose' AS purpose
    FROM o WHERE o_orderkey % 310 = 0
    UNION ALL
    -- record row
    SELECT 'id_' || (o_orderkey % 97 + 1000)::VARCHAR,
           o_orderkey * 1000 + 1,
           'NCA-' || o_orderkey::VARCHAR, o_orderpriority,
           strftime(o_orderdate, '%m/%d/%Y'),
           'DEPT-' || (o_custkey % 10)::VARCHAR,
           '', '', '', 'To cover ' || o_orderstatus
    FROM o
    UNION ALL
    -- continuation
    SELECT 'id_' || (o_orderkey % 97 + 1000)::VARCHAR,
           o_orderkey * 1000 + 2, '', '', '', '', '', '', '', 'order requirements'
    FROM o
    UNION ALL
    -- blank + stray (leading-run break)
    SELECT 'id_' || (o_orderkey % 97 + 1000)::VARCHAR,
           o_orderkey * 1000 + 3, '', '', '', '', '', '', '', ''
    FROM o WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'id_' || (o_orderkey % 97 + 1000)::VARCHAR,
           o_orderkey * 1000 + 4, '', '', '', '', '', '', '', 'stray text'
    FROM o WHERE o_orderkey % 3 = 0
    UNION ALL
    -- allocation main rows
    SELECT 'id_' || (l_orderkey % 97 + 1000)::VARCHAR,
           l_orderkey * 1000 + 10 + ln_idx * 3,
           '', '', '', '',
           'AG-' || l_suppkey::VARCHAR,
           'OU-' || (l_partkey % 50)::VARCHAR,
           CASE WHEN l_linenumber = 2 THEN ''
                WHEN l_linenumber = 1 THEN '1,234.50'
                WHEN l_linenumber = 7 THEN 'N/A'
                ELSE round(l_extendedprice, 2)::VARCHAR END,
           ''
    FROM li
    UNION ALL
    -- wrapped allocation text
    SELECT 'id_' || (l_orderkey % 97 + 1000)::VARCHAR,
           l_orderkey * 1000 + 10 + ln_idx * 3 + 1,
           '', '', '', '', 'wrapped', '',
           CASE WHEN l_linenumber = 1 THEN '1,234.50'
                WHEN l_linenumber = 7 THEN 'N/A'
                ELSE round(l_extendedprice, 2)::VARCHAR END,
           ''
    FROM li WHERE l_linenumber = 2
    UNION ALL
    -- spacer after every allocation
    SELECT 'id_' || (l_orderkey % 97 + 1000)::VARCHAR,
           l_orderkey * 1000 + 10 + ln_idx * 3 + 2,
           '', '', '', '', '', '', '', ''
    FROM li
  )
"""

_COLS = ", ".join(VALID_COLUMNS)
_NORM = (
    "replace(regexp_replace(trim(lower(coalesce({c}, ''))), '\\s+', ' ', 'g'), ' ', '_')"
)
_EMPTY = "(({c}) IS NULL OR trim({c}) = '')"

_SQL_CLEAN_COMMON = (
    _SQL_SYNTH
    + f"""
  ,
  -- reference :28/:70-97 — spacer before a row whose raw nca is
  -- non-empty, differs from the previous row's, and previous is
  -- non-empty too
  flagged AS (
    SELECT *,
           CASE WHEN NOT {_EMPTY.format(c='nca_number')}
                 AND NOT {_EMPTY.format(c="lag(nca_number) OVER w")}
                 AND nca_number <> lag(nca_number) OVER w
                THEN 1 ELSE 0 END AS boundary
    FROM raw0
    WINDOW w AS (PARTITION BY release_id ORDER BY row_idx)
  ),
  spaced AS (
    SELECT release_id, row_idx, 2 AS seq, {_COLS} FROM flagged
    UNION ALL
    SELECT release_id, row_idx, 1 AS seq,
           '', '', '', '', '', '', '', ''
    FROM flagged WHERE boundary = 1
  ),
  -- reference :29/:99-118 — drop normalized header repeats
  noheader AS (
    SELECT * FROM spaced
    WHERE NOT ("""
    + " AND ".join(_NORM.format(c=c) + f" = '{c}'" for c in VALID_COLUMNS)
    + f""")
  ),
  -- reference :31-32 — ''→NULL + forward-fill the key
  filled AS (
    SELECT *,
           last_value(nullif(trim(nca_number), '') IGNORE NULLS) OVER (
             PARTITION BY release_id ORDER BY row_idx, seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nca
    FROM noheader
  ),
  keyed AS (
    SELECT *, row_number() OVER (
             PARTITION BY release_id, nca ORDER BY row_idx, seq) AS rn
    FROM filled WHERE nca IS NOT NULL
  )
"""
)


def _leading_run_sql(field: str) -> str:
    e = _EMPTY.format(c=field)
    return f"""
      trim(coalesce(string_agg({field}, ' ' ORDER BY rn)
        FILTER (WHERE rn < coalesce(fe_{field}, 9223372036854775807)), ''))"""


_SQL_RECORDS = (
    _SQL_CLEAN_COMMON
    + f"""
  ,
  fe AS (
    SELECT *,
           min(CASE WHEN {_EMPTY.format(c='nca_type')} THEN rn END)
             OVER (PARTITION BY release_id, nca) AS fe_nca_type,
           min(CASE WHEN {_EMPTY.format(c='released_date')} THEN rn END)
             OVER (PARTITION BY release_id, nca) AS fe_released_date,
           min(CASE WHEN {_EMPTY.format(c='department')} THEN rn END)
             OVER (PARTITION BY release_id, nca) AS fe_department,
           min(CASE WHEN {_EMPTY.format(c='purpose')} THEN rn END)
             OVER (PARTITION BY release_id, nca) AS fe_purpose
    FROM keyed
  ),
  joined AS (
    SELECT release_id, nca AS nca_number,
           {_leading_run_sql('nca_type')} AS nca_type,
           {_leading_run_sql('released_date')} AS released_date_raw,
           {_leading_run_sql('department')} AS department,
           {_leading_run_sql('purpose')} AS purpose
    FROM fe
    GROUP BY release_id, nca
  )
  SELECT nca_number, nca_type,
         strftime(coalesce(
           try_strptime(released_date_raw, '%B %d, %Y'),
           try_strptime(released_date_raw, '%m/%d/%Y'),
           try_strptime(released_date_raw, '%Y-%m-%d')
         ), '%Y-%m-%dT%H:%M:%S') AS released_date,
         department, purpose, release_id
  FROM joined
"""
)

_SQL_ALLOCATIONS = (
    _SQL_CLEAN_COMMON
    + f"""
  ,
  -- reference :149-163 — segment on all-empty allocation cells
  -- (cumulative including current row), string-append per segment
  seg AS (
    SELECT release_id, nca, rn,
           coalesce(agency, '') AS agency,
           coalesce(operating_unit, '') AS operating_unit,
           coalesce(amount, '') AS amount,
           sum(CASE WHEN {_EMPTY.format(c='agency')}
                     AND {_EMPTY.format(c='operating_unit')}
                     AND {_EMPTY.format(c='amount')}
                    THEN 1 ELSE 0 END) OVER (
             PARTITION BY release_id, nca ORDER BY rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segment_id
    FROM keyed
  ),
  assembled AS (
    SELECT release_id, nca AS nca_number,
           trim(string_agg(agency, ' ' ORDER BY rn)) AS agency,
           trim(string_agg(operating_unit, ' ' ORDER BY rn)) AS operating_unit,
           trim(string_agg(amount, ' ' ORDER BY rn)) AS amount_raw
    FROM seg
    GROUP BY release_id, nca, segment_id
  )
  SELECT nca_number, agency, operating_unit,
         TRY_CAST(replace(amount_raw, ',', '') AS DOUBLE) AS amount,
         release_id
  FROM assembled
  WHERE NOT (trim(agency) = '' AND trim(operating_unit) = '' AND trim(amount_raw) = '')
    AND TRY_CAST(replace(amount_raw, ',', '') AS DOUBLE) IS NOT NULL
"""
)

NCA_RECORDS_ORACLE = "WITH " + _SQL_RECORDS
NCA_ALLOCATIONS_ORACLE = "WITH " + _SQL_ALLOCATIONS
