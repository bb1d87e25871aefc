"""Reference-semantics queries (the FAST ingest pipeline, SURVEY.md §3).

The input is a fixed fixture corpus of N-Triples lines (the reference's 9
test goldens plus synthetic lines exercising every branch: multi-label ids,
duplicate ids across files, sameAs chains, /fast/NaN rows, <2-char labels,
VIAF-linked Event terms). The Spark side runs the real pipeline operators;
the DuckDB oracle re-implements the identical semantics in pure SQL over a
VALUES clause — a full independent re-derivation, which is a far stronger
check than row counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import fast_pipeline as fp
from ..sources.nt import parse_nt_lines
from . import register

PREF = "http://www.w3.org/2004/02/skos/core#prefLabel"
ALT = "http://www.w3.org/2004/02/skos/core#altLabel"
LBL = "http://www.w3.org/2000/01/rdf-schema#label"
SAME = "http://schema.org/sameAs"
FAST = "http://id.worldcat.org/fast"
LC = "http://id.loc.gov/authorities/names"
VIAF = "http://viaf.org/viaf"


def _nt(s: str, p: str, o: str) -> str:
    obj = f"<{o}>" if o.startswith("http") else f'"{o}"'
    return f"<{s}> <{p}> {obj} ."


# --- fixture corpus ---------------------------------------------------------

GOLDEN_LINES = [
    "Not a triple text",
    f"<{FAST}/799409> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Intangible> .",
    f'<{FAST}/799409> <http://purl.org/dc/terms/identifier> "799409" .',
    f"<{FAST}/1408092> <{SAME}> <{VIAF}/143214773> .",
    f"<{FAST}/1794112> <{SAME}> <{LC}/no2008059410> .",
    f"<{FAST}/825323> <{SAME}> <http://id.loc.gov/authorities/subjects/sh85010894> .",
    f'<{FAST}/1407208> <{PREF}> "Regional Farm Policy Conference" .',
    f'<{FAST}/1410700> <{ALT}> "Fiesta San Antonio (San Antonio, Tex.)" .',
    f'<{FAST}/1410700> <{LBL}> "Carlsbad International Chess Tournament" .',
    f'<{LC}/fst01715782> <{LBL}> "Aviation insurance--War risks--Law and legislation" .',
]

TOPICAL_LINES = GOLDEN_LINES + [
    _nt(f"{FAST}/10", PREF, "Apples"),
    _nt(f"{FAST}/10", PREF, "Zapples"),  # multiple prefLabels -> MAX wins
    _nt(f"{FAST}/10", ALT, "Pommes (Fruit)"),
    _nt(f"{FAST}/10", ALT, "Éples Niños"),  # diacritics fold
    _nt(f"{FAST}/10", SAME, f"{LC}/n10"),
    _nt(f"{FAST}/11", LBL, "Only Label Eleven"),  # rdfs:label fills prefLabel
    _nt(f"{FAST}/12", LBL, "x"),  # too short -> id-only shell
    _nt(f"{FAST}/NaN", PREF, "Bad Row"),  # dropped (P3)
    _nt(f"{FAST}/13", SAME, f"{FAST}/NaN"),  # dropped (P3, object side)
    _nt(f"{LC}/n10", LBL, "Apple Alias"),  # sameAs label -> enrichment hit
    _nt(f"{LC}/n99", LBL, "Unmatched Alias"),  # no FAST doc links here
]

GEOGRAPHIC_LINES = [
    _nt(f"{FAST}/10", PREF, "Apples Geo"),  # duplicate id across files
    _nt(f"{FAST}/10", ALT, "Gapples"),
    _nt(f"{FAST}/10", SAME, f"{VIAF}/30"),
    _nt(f"{FAST}/20", PREF, "Geo Twenty Cities"),
]

EVENT_LINES = [
    _nt(f"{FAST}/14", PREF, "Event With Viaf"),
    _nt(f"{FAST}/14", SAME, f"{VIAF}/77"),  # -> excluded from fast table (P9)
    _nt(f"{FAST}/15", PREF, "Event Clean"),
]

PERSONAL_LINES = [
    _nt(f"{FAST}/16", PREF, "A Person"),
    _nt(f"{FAST}/16", SAME, f"{LC}/p0001"),
    _nt(f"{FAST}/17", PREF, "Viaf Person"),
    _nt(f"{FAST}/17", SAME, f"{VIAF}/88"),
]

# (_id, viaf, lcId, fast[]) — implied schema of the pre-existing viaf table
# (reference lib/ingest.js:108-128)
VIAF_ROWS = [
    ("v1", "77", None, [400]),
    ("v2", "88", "p9999", []),
    ("v3", "no-match", "p0001", [16]),  # 16 already present -> unchanged
    ("v4", "none", None, None),
]


def _lines_df(spark, lines):
    # One partition AT CREATION (parallelize numSlices=1): createDataFrame
    # defaults to defaultParallelism (32) partitions, so the fused 3-branch
    # union would run 96-task stages for ~35 fixture rows — pure scheduling
    # overhead. repartition(1) fixed that but left one round-robin exchange
    # per branch in every fastq plan (r9-opt interleaved A/B: end-to-end
    # 1.97 → 1.44 s min-of-4); coalesce(1) is still wrong — a coalesced
    # LocalRelation task inherits 32 preferred locations and stalls on
    # spark.locality.wait (~3-4s) EVERY stage.
    rdd = spark.sparkContext.parallelize([(l,) for l in lines], 1)
    return spark.createDataFrame(rdd, "value string")


# The fixture TRIPLES are static module constants, so their parsed frames
# are immutable plans reusable across constructions (the catalog._DF_CACHE
# argument; r10): rebuilding parallelize+createDataFrame+parse_nt_lines x4
# was ~0.5 s of py4j traffic per fast_table_end_to_end build. Keyed by
# session id — the engine holds sessions for the process lifetime.
_TRIPLES_CACHE: dict = {}


def _triples_by_type(spark):
    key = id(spark)
    cached = _TRIPLES_CACHE.get(key)
    if cached is None:
        cached = {
            "Topical": parse_nt_lines(_lines_df(spark, TOPICAL_LINES)),
            "Geographic": parse_nt_lines(_lines_df(spark, GEOGRAPHIC_LINES)),
            "Event": parse_nt_lines(_lines_df(spark, EVENT_LINES)),
            "Personal": parse_nt_lines(_lines_df(spark, PERSONAL_LINES)),
        }
        _TRIPLES_CACHE[key] = cached
    return cached


# --- DuckDB SQL fragments re-implementing the pipeline ----------------------

_NT_RX = r'^\s*<([^>]*)>\s+<([^>]*)>\s+(<[^>]*>|"(?:[^"\\]|\\.)*"\S*)\s*\.\s*$'


def _values(lines) -> str:
    rows = ", ".join("('" + l.replace("'", "''") + "')" for l in lines)
    return f"(VALUES {rows})"


def _sql_norm(expr: str) -> str:
    """normalize+singularize (F4+F5) in DuckDB SQL — same rule set as
    functions/scalars.py (regexps are engine-portable by construction)."""
    norm = (
        f"trim(regexp_replace(strip_accents(lower({expr})), '[^a-z0-9]+', ' ', 'g'))"
    )
    sing1 = rf"regexp_replace({norm}, '\b([a-z0-9]{{2,}})ies\b', '\1y', 'g')"
    return rf"regexp_replace({sing1}, '\b([a-z0-9]{{2,}}[a-rt-z0-9])s\b', '\1', 'g')"


def _sql_parsed(lines, sfx: str = "") -> str:
    """CTE chain: raw lines → triples → parsed records (filter_triples).
    ``sfx`` suffixes every CTE name so several chains can share one WITH."""
    return f"""
lines{sfx}(value) AS {_values(lines)},
tr{sfx} AS (
  SELECT regexp_extract(value, '{_NT_RX}', 1) AS subject,
         regexp_extract(value, '{_NT_RX}', 2) AS predicate,
         regexp_extract(value, '{_NT_RX}', 3) AS object_raw
  FROM lines{sfx}
),
triples{sfx} AS (
  SELECT subject, predicate,
         CASE WHEN object_raw LIKE '<%'
              THEN regexp_extract(object_raw, '^<([^>]*)>$', 1)
              ELSE object_raw END AS object
  FROM tr{sfx} WHERE subject <> '' AND object_raw <> ''
),
t0{sfx} AS (
  SELECT *,
         subject LIKE '%/fast/%' AS is_fast,
         (subject LIKE '%/fast/NaN%' OR object LIKE '%/fast/NaN%') AS bad_nan,
         CAST(NULLIF(regexp_extract(subject, '/fast/([0-9]+)', 1), '') AS BIGINT) AS fid,
         regexp_extract(object, '^"(.*)"', 1) AS lit
  FROM triples{sfx}
),
parsed{sfx} AS (
  SELECT
    CASE WHEN is_fast AND NOT bad_nan THEN 'fast'
         WHEN NOT is_fast AND predicate = '{LBL}' THEN 'sameAsLabel' END AS rec_type,
    CASE WHEN is_fast AND NOT bad_nan THEN fid END AS id,
    CASE WHEN is_fast AND NOT bad_nan AND predicate = '{PREF}' AND length(lit) >= 2 THEN lit END AS prefLabel,
    CASE WHEN is_fast AND NOT bad_nan AND predicate = '{ALT}'  AND length(lit) >= 2 THEN lit END AS altLabel,
    CASE WHEN is_fast AND NOT bad_nan AND predicate = '{LBL}'  AND length(lit) >= 2 THEN lit
         WHEN NOT is_fast AND predicate = '{LBL}' THEN lit END AS label,
    CASE WHEN is_fast AND NOT bad_nan AND predicate = '{SAME}' AND object LIKE '%id.loc.gov%' THEN object END AS sameAsLc,
    CASE WHEN is_fast AND NOT bad_nan AND predicate = '{SAME}' AND object LIKE '%viaf.org%' THEN object END AS sameAsViaf,
    CASE WHEN is_fast AND NOT bad_nan AND predicate IN ('{PREF}', '{ALT}', '{LBL}') AND length(lit) >= 2 THEN {_sql_norm('lit')}
         WHEN NOT is_fast AND predicate = '{LBL}' THEN {_sql_norm('lit')} END AS normalized,
    CASE WHEN NOT is_fast AND predicate = '{LBL}' THEN subject END AS subject
  FROM t0{sfx}
  WHERE (is_fast AND NOT bad_nan) OR (NOT is_fast AND predicate = '{LBL}')
)"""


_EMPTY_VARCHAR_LIST = "CAST([] AS VARCHAR[])"


def _sql_sorted_set(expr: str, cond: str) -> str:
    return (
        f"COALESCE(list_sort(list_distinct(list({expr}) FILTER (WHERE {cond}))), "
        f"{_EMPTY_VARCHAR_LIST})"
    )


def _sql_fast_docs(type_name: str, parsed: str = "parsed") -> str:
    """CTE body: aggregate_fast over a parsed CTE (A1-A5)."""
    pairs_lc = "[sameAsLc, string_split(sameAsLc, '/')[-1]]"
    pairs_viaf = "[sameAsViaf, string_split(sameAsViaf, '/')[-1]]"
    return f"""
  SELECT id AS _id, id AS fast, '{type_name}' AS type,
         COALESCE(max(prefLabel), max(label)) AS prefLabel,
         {_sql_sorted_set('altLabel', 'altLabel IS NOT NULL')} AS altLabel,
         COALESCE(list_sort(list_distinct(flatten(list({pairs_lc}) FILTER (WHERE sameAsLc IS NOT NULL)))), {_EMPTY_VARCHAR_LIST}) AS sameAsLc,
         COALESCE(list_sort(list_distinct(flatten(list({pairs_viaf}) FILTER (WHERE sameAsViaf IS NOT NULL)))), {_EMPTY_VARCHAR_LIST}) AS sameAsViaf,
         {_sql_sorted_set('normalized', 'normalized IS NOT NULL')} AS normalized
  FROM {parsed} WHERE rec_type = 'fast' GROUP BY id"""


def _sql_sameas(parsed: str = "parsed") -> str:
    return f"""
  SELECT subject,
         {_sql_sorted_set('label', 'label IS NOT NULL')} AS sa_labels,
         {_sql_sorted_set('normalized', 'normalized IS NOT NULL')} AS sa_normalized
  FROM {parsed} WHERE rec_type = 'sameAsLabel' GROUP BY subject"""


def _sql_enriched(docs: str, sameas: str, sfx: str = "") -> str:
    return f"""
exploded{sfx} AS (
  SELECT _id, unnest(list_concat(sameAsViaf, sameAsLc)) AS uri FROM {docs}
),
hits{sfx} AS (
  SELECT _id,
         list_sort(list_distinct(flatten(list(sa_labels)))) AS hit_labels,
         list_sort(list_distinct(flatten(list(sa_normalized)))) AS hit_normalized
  FROM exploded{sfx} JOIN {sameas} ON uri = subject AND uri LIKE '%/%'
  GROUP BY _id
),
enriched{sfx} AS (
  SELECT f._id, f.fast, f.type, f.prefLabel,
         list_sort(list_distinct(list_concat(f.altLabel, COALESCE(h.hit_labels, {_EMPTY_VARCHAR_LIST})))) AS altLabel,
         f.sameAsLc, f.sameAsViaf,
         list_sort(list_distinct(list_concat(f.normalized, COALESCE(h.hit_normalized, {_EMPTY_VARCHAR_LIST})))) AS normalized
  FROM {docs} f LEFT JOIN hits{sfx} h ON f._id = h._id
)"""


_SQL_WEIGHT = (
    "length(type) + length(COALESCE(prefLabel, '')) + "
    "length(array_to_string(list_concat(list_concat(altLabel, sameAsLc), "
    "list_concat(sameAsViaf, normalized)), ','))"
)


def _sql_merged(docs: str) -> str:
    """merge_fast (A6): weight-based type pick + MAX prefLabel + set unions."""
    return f"""
weighted AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY _id ORDER BY {_SQL_WEIGHT} DESC, type DESC) AS _rn
  FROM {docs}
),
merged AS (
  SELECT d._id,
         any_value(d.fast) AS fast,
         max(CASE WHEN d._rn = 1 THEN d.type END) AS type,
         max(d.prefLabel) AS prefLabel,
         list_sort(list_distinct(flatten(list(d.altLabel))))   AS altLabel,
         list_sort(list_distinct(flatten(list(d.sameAsLc))))   AS sameAsLc,
         list_sort(list_distinct(flatten(list(d.sameAsViaf)))) AS sameAsViaf,
         list_sort(list_distinct(flatten(list(d.normalized)))) AS normalized
  FROM weighted d GROUP BY d._id
)"""


# --- harness boundary: arrays → strings --------------------------------------
#
# The driver's canonicalizer sorts result rows by every output column, and
# Python lists are unhashable/unorderable there — so registered queries emit
# array columns as '|'-joined strings. The arrays are already sorted+distinct
# on both sides, so the serialization is deterministic and lossless for the
# hash comparison. The underlying operators (fast_pipeline) keep real arrays.

_DOC_ARRAY_COLS = ("altLabel", "sameAsLc", "sameAsViaf", "normalized")


def _join_arrays(df, cols=_DOC_ARRAY_COLS):
    for c in cols:
        df = df.withColumn(c, F.array_join(F.col(c).cast("array<string>"), "|"))
    return df


def _sql_doc_str(src: str) -> str:
    # COALESCE: DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''
    return f"""
    SELECT _id, fast, type, prefLabel,
           COALESCE(array_to_string(altLabel, '|'), '')   AS altLabel,
           COALESCE(array_to_string(sameAsLc, '|'), '')   AS sameAsLc,
           COALESCE(array_to_string(sameAsViaf, '|'), '') AS sameAsViaf,
           COALESCE(array_to_string(normalized, '|'), '') AS normalized
    FROM {src}"""


# --- queries -----------------------------------------------------------------

@register(
    "fast_parse_triples",
    oracle=f"""
    WITH {_sql_parsed(TOPICAL_LINES)}
    SELECT rec_type, id, prefLabel, altLabel, label, sameAsLc, sameAsViaf,
           normalized, subject
    FROM parsed
    """,
)
def fast_parse_triples(spark, sf_dir):
    """S2/S3 + P1-P7 + F1/F2/F4/F5: NT line scan → parsed records."""
    return fp.filter_triples(parse_nt_lines(_lines_df(spark, TOPICAL_LINES)))


@register(
    "fast_aggregate_docs",
    oracle=f"""
    WITH {_sql_parsed(TOPICAL_LINES)},
    fast_docs AS ({_sql_fast_docs('Topical')})
    {_sql_doc_str('fast_docs')}
    """,
)
def fast_aggregate_docs(spark, sf_dir):
    """A1-A5: keyed accumulation into FAST authority documents."""
    parsed = fp.filter_triples(parse_nt_lines(_lines_df(spark, TOPICAL_LINES)))
    return _join_arrays(fp.aggregate_fast(parsed, "Topical"))


@register(
    "fast_enrich_sameas",
    oracle=f"""
    WITH {_sql_parsed(TOPICAL_LINES)},
    fast_docs AS ({_sql_fast_docs('Topical')}),
    sameas AS ({_sql_sameas()}),
    {_sql_enriched('fast_docs', 'sameas')}
    {_sql_doc_str('enriched')}
    """,
)
def fast_enrich_sameas(spark, sf_dir):
    """A7 + J1: broadcast sameAs-label join, folded into the aggregate."""
    parsed = fp.filter_triples(parse_nt_lines(_lines_df(spark, TOPICAL_LINES)))
    return _join_arrays(fp.aggregate_fast(fp.enrich_rows(parsed), "Topical"))


def _sql_branch(name: str, lines, type_name: str) -> str:
    """Self-contained parse→aggregate→enrich chain for one source file,
    with all CTE names suffixed to avoid collisions."""
    sfx = f"_{name}"
    return f"""{_sql_parsed(lines, sfx)},
docs{sfx} AS ({_sql_fast_docs(type_name, parsed=f'parsed{sfx}')}),
sameas{sfx} AS ({_sql_sameas(parsed=f'parsed{sfx}')}),
{_sql_enriched(f'docs{sfx}', f'sameas{sfx}', sfx)}"""


_ALL_BRANCHES = f"""
    WITH {_sql_branch('top', TOPICAL_LINES, 'Topical')},
    {_sql_branch('geo', GEOGRAPHIC_LINES, 'Geographic')},
    {_sql_branch('evt', EVENT_LINES, 'Event')},
    unioned AS (
      SELECT * FROM enriched_top
      UNION ALL SELECT * FROM enriched_geo
      UNION ALL SELECT * FROM enriched_evt WHERE len(sameAsViaf) = 0
    ),
    {_sql_merged('unioned')[1:]}
"""


@register(
    "fast_table_end_to_end",
    oracle=f"""{_ALL_BRANCHES}
    {_sql_doc_str('merged')}
    """,
)
def fast_table_end_to_end(spark, sf_dir):
    """The complete topical pipeline (§3.2): four source files, per-file
    parse→aggregate→enrich, Event skip-viaf filter, cross-file merge."""
    return _join_arrays(fp.build_fast_table(_triples_by_type(spark)))


def _viaf_values() -> str:
    rows = []
    for _id, viaf, lc_id, fast in VIAF_ROWS:
        lc = "NULL" if lc_id is None else f"'{lc_id}'"
        fa = "CAST(NULL AS BIGINT[])" if fast is None else f"CAST({fast} AS BIGINT[])"
        rows.append(f"('{_id}', '{viaf}', {lc}, {fa})")
    return "(VALUES " + ", ".join(rows) + ")"


@register(
    "fast_viaf_update",
    oracle=f"""
    WITH {_sql_branch('evt', EVENT_LINES, 'Event')},
    {_sql_branch('per', PERSONAL_LINES, 'Personal')},
    viaf(_id, viaf, lcId, fast) AS {_viaf_values()},
    links AS (
      SELECT id AS fast_id,
             COALESCE(string_split(sameAsLc, '/')[-1],
                      string_split(sameAsViaf, '/')[-1]) AS otherId
      FROM (SELECT * FROM parsed_evt UNION ALL SELECT * FROM parsed_per)
      WHERE rec_type = 'fast'
        AND COALESCE(sameAsLc, sameAsViaf) IS NOT NULL
    ),
    matches AS (
      SELECT DISTINCT v._id, l.fast_id
      FROM links l JOIN viaf v ON v.viaf = l.otherId
      UNION
      SELECT DISTINCT v._id, l.fast_id
      FROM links l JOIN viaf v ON v.lcId = l.otherId
    ),
    new_ids AS (
      SELECT _id, list_sort(list_distinct(list(fast_id))) AS _new_fast
      FROM matches GROUP BY _id
    )
    SELECT v._id, v.viaf, v.lcId,
           COALESCE(array_to_string(list_sort(list_distinct(list_concat(
             COALESCE(v.fast, CAST([] AS BIGINT[])),
             COALESCE(n._new_fast, CAST([] AS BIGINT[]))))), '|'), '') AS fast
    FROM viaf v LEFT JOIN new_ids n ON v._id = n._id
    """,
)
def fast_viaf_update(spark, sf_dir):
    """J2+J3 (§3.3): Agent-branch VIAF enrichment — disjunctive-key lookup
    join + set-oriented array append."""
    viaf = spark.createDataFrame(
        VIAF_ROWS, "_id string, viaf string, lcId string, fast array<bigint>"
    )
    return _join_arrays(fp.build_viaf_updates(_triples_by_type(spark), viaf), ["fast"])
