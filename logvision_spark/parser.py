"""Apache combined-log parsing as pure built-in column expressions (T1-T8).

Re-expresses the reference's per-record Scala regex parse
(reference: spark/src/main/scala/streaming.scala:75-89, 11-group pattern at
line 76) as a ``regexp_extract``-per-group composition. Staying on
built-ins keeps the whole parse inside WholeStageCodegen — no Python
round-trip. Each group extract IS a separate regex evaluation (~12 per
row; Catalyst CSE does NOT unify them — distinct group indexes are
distinct expressions), and that is fine because it is measurably not
the bottleneck: an A/B against a true single-pass form
(regexp_replace into a \\x01-joined string + one split) timed
IDENTICAL at 400k and 4M rows (2.19M vs 2.16M rows/s) — timestamp
parsing, scan IO, and the downstream aggregate dominate; the simpler
per-group form is kept deliberately.

Differences from the reference, by design (SURVEY.md §1.3):
- typed columns (TIMESTAMP / INT / LONG) instead of strings;
- malformed lines become NULL columns + ``parsed=false`` instead of the
  ``"foo"`` sentinel record (streaming.scala:85-88);
- referrer / user_agent are kept (the reference matches then drops them,
  streaming.scala:81-83).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The reference's 11-group combined-log pattern (streaming.scala:76),
# with Java/Scala-compatible escaping. Group indexes:
# 1 host, 2 rfc931, 3 username, 4 datetime, 5 method, 6 url, 7 protocol,
# 8 status, 9 bytes, 10 referrer, 11 user_agent.
COMBINED_LOG_PATTERN = (
    r'^(\S+) (\S+) (\S+) \[([\w:/]+\s[+\-]\d{4})\] '
    r'"(\S+)\s?(\S+)?\s?(\S+)?" (\d{3}|-) (\d+|-)\s?'
    r'"?([^"]*)"?\s?"?([^"]*)?"?$'
)

# Timestamp format in the log: 10/Oct/2020:13:55:36 +0800 (English month
# abbreviations; streaming.scala:73 uses SimpleDateFormat + Locale.ENGLISH).
TS_FORMAT = "dd/MMM/yyyy:HH:mm:ss Z"


def _grp(line: Column, i: int) -> Column:
    return F.regexp_extract(line, COMBINED_LOG_PATTERN, i)


def parse_access_log(df: DataFrame) -> DataFrame:
    """Parse a DataFrame of raw log lines (column ``value``) into the
    typed ACCESS_LOG_SCHEMA, keeping the line itself as ``raw``.

    Works identically on batch and streaming DataFrames (the point of
    Structured Streaming — one lineage, two execution modes).

    ``regexp_extract`` returns '' (not NULL) for a non-matching line or an
    unmatched optional group, so empties are normalized to NULL via
    ``nullif``-style ``when`` and ``-`` placeholders become NULL through the
    numeric casts (``'-'`` fails the \\d pattern so group extract gives '').
    """
    line = F.col("value")
    matched = line.rlike(COMBINED_LOG_PATTERN)

    def s(i: int) -> Column:  # string group, '' → NULL
        g = _grp(line, i)
        return F.when(matched & (g != F.lit("")), g)

    parsed = df.select(
        s(1).alias("host"),
        s(2).alias("rfc931"),
        s(3).alias("username"),
        # try_to_timestamp: the regex admits datetimes the format can't
        # parse (single-digit day, non-English month); under ANSI a plain
        # to_timestamp would abort the whole job instead of honoring the
        # malformed-line contract (ts=NULL, parsed row preserved)
        F.try_to_timestamp(s(4), F.lit(TS_FORMAT)).alias("ts"),
        s(5).alias("req_method"),
        s(6).alias("url"),
        s(7).alias("protocol"),
        # try_cast: the regex alternation admits '-' placeholders, which must
        # become NULL, not an ANSI cast error (Spark 4 is ANSI by default).
        s(8).try_cast("int").alias("status_code"),
        s(9).try_cast("long").alias("bytes"),
        s(10).alias("referrer"),
        s(11).alias("user_agent"),
        matched.alias("parsed"),
        line.alias("raw"),
    )
    return parsed


def split_lines(df: DataFrame, value_col: str = "value") -> DataFrame:
    """T1: explode multi-line message payloads into one row per log line.

    The reference flatMaps each Kafka record value on '\\n'
    (streaming.scala:68-70); here: ``explode(split(...))`` — stays JVM-side.
    """
    return df.select(
        F.explode(F.split(F.col(value_col), "\n")).alias(value_col)
    ).where(F.col(value_col) != "")


def read_access_log(spark, path: str) -> DataFrame:
    """Batch source → typed log records. To tail a growing log
    directory, parse ``sources.readers.read_file_stream`` instead."""
    return parse_access_log(spark.read.format("text").load(path))
