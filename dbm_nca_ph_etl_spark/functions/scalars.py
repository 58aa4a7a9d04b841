"""Column-expression building blocks (reference parity: SURVEY §2.8).

Parity notes (reference file:line cited per function):
- ``coerce_double`` ⇔ pd.to_numeric(errors="coerce") after comma
  strip (pd_data_cleaner.py:169-171).
- ``coerce_timestamp_iso`` ⇔ pd.to_datetime(errors="coerce")
  .strftime("%Y-%m-%dT%H:%M:%S") (pd_data_cleaner.py:135-137).
- ``norm_header`` ⇔ lower().replace(" ", "_") header normalization
  (pd_data_cleaner.py:63-65) plus the whitespace-collapsing variant
  used for repeated-header detection (pd_data_cleaner.py:108-114).
- ``filename_from_url`` / ``year_from_filename`` /
  ``release_id_for_year`` ⇔ release derivation (bs4_scraper.py:44-63).

All expressions are ANSI-safe: parses use ``try_*`` forms so bad
input coerces to null (the reference's errors="coerce" semantics)
instead of failing the job under spark.sql.ansi.enabled=true.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round6(c: Column) -> Column:
    """Tie-proof 6-dp rounding: ``floor(x·10⁶ + 0.5)/10⁶``.

    ``round(x, 6)`` delegates .5-tie breaking to the engine (Spark/
    Python half-even vs SQL half-up), and ratios of integers land on
    EXACT ties whenever the reduced denominator is 2⁷. ``floor`` has
    no tie to break — identical input doubles give identical bits on
    every engine. Use for rounded integer ratios; money decimals
    can't hit dyadic ties and keep plain round()."""
    return F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0


def coerce_double(c: Column) -> Column:
    """Parse ``"1,234,567.89"``-style strings to double, null on fail."""
    return F.regexp_replace(c, ",", "").try_cast("double")


def coerce_timestamp_iso(c: Column) -> Column:
    """Parse free-form date strings; re-serialize as ISO-8601 seconds
    (``yyyy-MM-dd'T'HH:mm:ss``), null when unparseable.

    The reference lets pandas sniff the format; Spark needs explicit
    candidates, so we try the formats that occur in NCA releases
    ("January 5, 2024", "01/05/2024", ISO) in order.
    """
    parsed = F.coalesce(
        F.try_to_timestamp(c, F.lit("MMMM d, yyyy")),
        F.try_to_timestamp(c, F.lit("MM/dd/yyyy")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(c),
    )
    return F.date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss")


def collapse_ws(c: Column) -> Column:
    """Trim + collapse internal whitespace runs to single spaces."""
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def norm_header(c: Column) -> Column:
    """Normalize a header cell: lower, trim, collapse ws, space→_."""
    return F.regexp_replace(F.lower(collapse_ws(c)), " ", "_")


def filename_from_url(url: Column) -> Column:
    """``url.split("/")[-1]`` (bs4_scraper.py:47)."""
    return F.element_at(F.split(url, "/"), -1)


def year_from_filename(filename: Column) -> Column:
    """First 4-digit run in the filename; ``UPDATED`` files stamped
    with the current year (bs4_scraper.py:49-55). Null when absent —
    callers drop null-year rows (anti-filter, bs4_scraper.py:57-59).
    """
    extracted = F.regexp_extract(filename, r"(\d{4})", 1)
    year = F.when(extracted == "", None).otherwise(extracted).try_cast("int")
    return F.when(
        F.upper(filename).contains("UPDATED"), F.year(F.current_date())
    ).otherwise(year)


def release_id_for_year(year: Column) -> Column:
    """``f"id_{year}"`` (bs4_scraper.py:61)."""
    return F.concat(F.lit("id_"), year.cast("string"))


def hash64(c: Column) -> Column:
    """Deterministic 60-bit integer hash of a string, reproducible in
    any engine with md5: first 15 hex chars of md5 as a bigint.

    Used by MinHash/SimHash so oracle SQL (DuckDB) can replay the
    exact signature; xxhash64/murmur would be Spark-private.
    """
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("bigint")


def hash_bucket(c: Column, seed: int) -> Column:
    """Seeded variant of :func:`hash64` for hash families."""
    return hash64(F.concat(c, F.lit(f"#{seed}")))


def floor_div_sql(num_sql: str, den_sql: str) -> Column:
    """Exact int64 FLOOR division (``den > 0``), from SQL fragment
    strings. ``(num − pmod(num, den)) div den`` is floor for den > 0
    (the numerator becomes an exact multiple of den, so truncation ==
    floor), and stays in int64 end-to-end — no double round-trip,
    exact above 2^53 where ``floor(num/den)`` on doubles is off ±1.
    ``num_sql`` is inlined twice; pass a deterministic expression.

    Cross-engine pairing caveat (measured r11): DuckDB's integer
    ``//`` TRUNCATES toward zero exactly like Spark's ``div``
    (−7 // 2 = −3), so an oracle twin written with ``//`` matches
    this helper only on NON-NEGATIVE numerators. On a signed domain
    either mirror the pmod floor spelling in the SQL twin, or use
    plain ``div`` on the Spark side (nation_monthly_trend does the
    latter for its signed slope).
    """
    return F.expr(floor_div_text(num_sql, den_sql))


def floor_div_text(num_sql: str, den_sql: str) -> str:
    """SQL text of :func:`floor_div_sql`, for splicing into a larger
    parsed expression."""
    return f"((({num_sql}) - pmod(({num_sql}), ({den_sql}))) div ({den_sql}))"


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for splicing into a parsed SQL
    fragment, doubling embedded backticks (Spark's identifier escape)
    — so the F.expr fast paths (similarity._scored_cells,
    asof.range_join, windows' refinement sub-range)
    resolve exactly the column the caller named even when the name
    itself contains a backtick."""
    return "`" + name.replace("`", "``") + "`"


def let(value: Column, body) -> Column:
    """Bind ``value`` once and reference it many times in ``body``.

    Catalyst does not common-subexpression-eliminate across lambda
    boundaries, so an expression used N times inside a HOF is
    evaluated N times. ``transform`` over a single-element array turns
    the value into a lambda variable — evaluated exactly once —
    making O(tokens²) shingle expressions O(tokens).
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def hash48(c: Column) -> Column:
    """48-bit md5-derived hash (first 12 hex chars). Small enough that
    an affine universal-hash step ``(a*x + b) mod p`` with 15-bit
    ``a`` stays inside signed-64 arithmetic in any engine."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 12), 16, 10).cast("bigint")
