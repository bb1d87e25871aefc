"""N-Triples source (SURVEY.md §2.1 S1-S3).

N-Triples is line-oriented — one triple per line — so the scan is a plain
``spark.read.text`` (splittable, parallel per file chunk: the Spark-native
replacement for the reference's one-OS-process-per-file scheme, reference
lib/ingest.js:58,68-69,194-198) and the parse is a set of regexp Column
expressions that stay inside whole-stage codegen. No Python runs per row.

Term representation matches the reference's N3 parser output
(reference lib/fast_parse.js:17-55 consumes it):
  * URIs are stripped of their angle brackets,
  * literals keep their quotes and any @lang / ^^<type> suffix (the literal
    value is extracted later by ``functions.scalars.nt_literal``).
Lines that do not parse yield no row — the Spark equivalent of the
reference's ``''`` + ``.compact()`` idiom (reference lib/ingest.js:215,239).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# <s> <p> (<o> | "lit"...) .   — NT line; object captured raw.
_NT_LINE = r'^\s*<([^>]*)>\s+<([^>]*)>\s+(<[^>]*>|"(?:[^"\\]|\\.)*"\S*)\s*\.\s*$'


def _strip_uri(term: Column) -> Column:
    """Angle-bracketed URI → bare URI; literals pass through unchanged."""
    return F.when(
        term.startswith("<"), F.regexp_extract(term, r"^<([^>]*)>$", 1)
    ).otherwise(term)


def parse_nt_lines(
    lines: DataFrame, value_col: str = "value", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Parse raw NT lines into (subject, predicate, object) string columns.

    Malformed lines (anything the grammar above rejects) are dropped,
    mirroring the reference's empty-string sentinel for unparseable input
    (reference lib/fast_parse.js:63-76, test 'empty triple text').
    ``keep`` passes extra columns through (e.g. a file-type tag).
    """
    src = F.col(value_col)
    subject, object_raw = F.col("subject"), F.col("object_raw")
    parsed = lines.select(
        F.regexp_extract(src, _NT_LINE, 1).alias("subject"),
        F.regexp_extract(src, _NT_LINE, 2).alias("predicate"),
        F.regexp_extract(src, _NT_LINE, 3).alias("object_raw"),
        *[F.col(k) for k in keep],
    )
    # Each line yields its triple through a generator (one row, or none
    # for a malformed line) rather than a Filter: Catalyst pushes a Filter,
    # and every filter of the callers, below this projection and inlines
    # the line regex into it once per column reference (5+ evaluations a
    # line instead of 3). Nothing is pushed below a generator's output.
    triple = F.struct(subject, "predicate", _strip_uri(object_raw).alias("object"))
    return parsed.select(
        F.inline(F.when((subject != "") & (object_raw != ""), F.array(triple))),
        *keep,
    )


def read_nt(spark: SparkSession, path: str) -> DataFrame:
    """S1+S2 — scan NT file(s) and parse to a triples DataFrame.

    Accepts a file, directory, or glob; Spark splits large files into
    line-aligned chunks so a single 1 TB NT file parallelizes across the
    cluster (unlike the reference's single reader stream per file).
    """
    return parse_nt_lines(spark.read.text(path))


# ---------------------------------------------------------------------------
# S3 — single-triple parse API (pure Python twin for unit tests; mirrors the
# reference's tripleToObj string API, reference lib/fast_parse.js:63-76).
# ---------------------------------------------------------------------------

import re as _re

_NT_LINE_RE = _re.compile(_NT_LINE)


def parse_nt_line_py(line: str) -> dict | str:
    m = _NT_LINE_RE.match(line)
    if not m:
        return ""
    subject, predicate, obj = m.group(1), m.group(2), m.group(3)
    if obj.startswith("<") and obj.endswith(">"):
        obj = obj[1:-1]
    return {"subject": subject, "predicate": predicate, "object": obj}


def triple_to_obj_py(line: str) -> dict | str:
    """Parse one NT line and run the FAST filter — the reference's
    ``tripleToObj`` (reference lib/fast_parse.js:63-76) as a pure function.
    Used by the golden parity tests; the distributed path is
    ``operators.fast_pipeline.filter_triples`` (Column expressions).
    """
    from ..operators.fast_pipeline import filter_triple_obj_py

    triple = parse_nt_line_py(line)
    if triple == "":
        return ""
    return filter_triple_obj_py(triple)
