"""The FAST ingest pipeline as composable Spark operators.

This is the reference's entire dataflow (reference lib/ingest.js:194-319)
re-expressed as DataFrame transformations:

    triples ──filter_triples──▶ records ('fast' | 'sameAsLabel' rows)
    'fast' sameAs URIs ⨝ 'sameAsLabel' rows (broadcast) ──enrich_rows──▶ hit rows
    'fast' rows + hit rows ──repartition(id)──▶ one hash exchange, then
      ──aggregate_fast──▶ enriched fast docs per (branch, id)
      ──merge_fast──▶ final `fast` table (same partitioning, no exchange)
    agent links ⨝ viaf's (viaf, lcId) keys ∪ viaf ──groupBy(_id)──▶ updated `viaf`

Deterministic divergences from the reference (SURVEY.md §7.3):
  * prefLabel is MAX over candidates instead of last-write-in-stream-order
    (reference lib/ingest.js:245 is arrival-order dependent);
  * arrays are sorted + distinct (the driver's value hash is
    order-insensitive, and the reference itself dedupes on merge,
    reference lib/ingest.js:144-155);
  * cross-file duplicate ids are merged BEFORE the write in one
    ``groupBy(_id)`` instead of insert-fail-then-patch
    (reference lib/ingest.js:174-183) — same converged end state, no
    read-modify-write race.

Scale notes (100 TB): every step is a shuffle-on-key hash aggregate or
join, or a broadcast join — no driver-side state, no per-row Python. The
reference's ">1 GB per process" in-heap maps (reference
lib/ingest.js:3,102-103) become spillable ObjectHashAggregates; the
sameAsLabel rows (small relative to the triple corpus) are broadcast, so
enrichment adds no shuffle of the big side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import (
    fast_id,
    last_segment,
    normalize_and_singularize,
    normalize_and_singularize_py,
    nt_literal,
)

PRED_SAMEAS = "http://schema.org/sameAs"
PRED_PREFLABEL = "http://www.w3.org/2004/02/skos/core#prefLabel"
PRED_ALTLABEL = "http://www.w3.org/2004/02/skos/core#altLabel"
PRED_RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"

# Filename → authority type (reference lib/ingest.js:201-210); 'Agent' files
# additionally drive the VIAF enrichment branch (reference lib/ingest.js:212).
FILE_TYPES = {
    "FASTChronological": "Chronological",
    "FASTCorporate": "Corporate",
    "FASTEvent": "Event",
    "FASTFormGenre": "Form",
    "FASTGeographic": "Geographic",
    "FASTPersonal": "Personal",
    "FASTTitle": "Title",
    "FASTTopical": "Topical",
}
AGENT_TYPES = ("Corporate", "Event", "Personal")
# The Agent types whose files feed only the viaf branch; Event feeds both.
VIAF_ONLY_TYPES = ("Corporate", "Personal")


def type_from_filename(path: Column) -> Column:
    """Derive the authority type from the source filename
    (reference lib/ingest.js:201-210); use with ``input_file_name()``."""
    expr = F.lit(None).cast("string")
    out = None
    for stem, type_name in FILE_TYPES.items():
        cond = path.contains(stem)
        out = F.when(cond, F.lit(type_name)) if out is None else out.when(cond, F.lit(type_name))
    return out.otherwise(expr)


# ---------------------------------------------------------------------------
# P1 — predicate-dispatch project+filter (reference lib/fast_parse.js:17-55)
# ---------------------------------------------------------------------------

def filter_triples(triples: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Route each (subject, predicate, object) triple into a parsed record.

    Output columns (NULL = field absent, replacing the reference's ''/false
    sentinels): rec_type ('fast'|'sameAsLabel'), id, prefLabel, altLabel,
    label, sameAsLc, sameAsViaf, normalized, subject. Non-matching triples
    are dropped (P7 compact). ``keep`` passes extra columns through (e.g.
    the per-file branch tag in the fused multi-file pipeline).
    """
    s, p, o = F.col("subject"), F.col("predicate"), F.col("object")

    is_fast = s.contains("/fast/")                                   # P2
    bad_nan = s.contains("/fast/NaN") | o.contains("/fast/NaN")      # P3
    is_label_pred = p.isin(PRED_PREFLABEL, PRED_ALTLABEL, PRED_RDFS_LABEL)  # P4

    fast_branch = is_fast & ~bad_nan
    sameas_label_branch = (~is_fast) & (p == PRED_RDFS_LABEL)

    # The literal and its normalized form are each computed once, in a
    # projection of their own, and only on rows that use them. Inlined
    # into every CASE branch below, they would make the stage's generated
    # method ~23 KB of bytecode, over HotSpot's 8000-byte limit for JIT
    # compilation, and the parse would run interpreted. Catalyst keeps the
    # projections apart because the consumer references them repeatedly.
    literal = F.col("_literal")
    label_ok = F.length(literal) >= 2                                # P6
    lit_or_null = F.when(label_ok, literal)
    cols = ["subject", "predicate", "object", *keep]
    with_literal = triples.select(
        *cols, F.when(is_label_pred, nt_literal(o)).alias("_literal")
    )
    with_norm = with_literal.select(
        *cols,
        "_literal",
        F.when(                                                      # F4+F5
            (fast_branch & is_label_pred & label_ok) | sameas_label_branch,
            normalize_and_singularize(literal),
        ).alias("_normalized"),
    )

    parsed = with_norm.select(
        F.when(fast_branch, F.lit("fast"))
        .when(sameas_label_branch, F.lit("sameAsLabel"))
        .alias("rec_type"),
        F.when(fast_branch, fast_id(s)).alias("id"),                 # F1
        F.when(fast_branch & (p == PRED_PREFLABEL), lit_or_null).alias("prefLabel"),
        F.when(fast_branch & (p == PRED_ALTLABEL), lit_or_null).alias("altLabel"),
        F.when(fast_branch & (p == PRED_RDFS_LABEL), lit_or_null)
        .when(sameas_label_branch, literal)
        .alias("label"),
        F.when(                                                      # P5
            fast_branch & (p == PRED_SAMEAS) & o.contains("id.loc.gov"), o
        ).alias("sameAsLc"),
        F.when(
            fast_branch & (p == PRED_SAMEAS) & o.contains("viaf.org"), o
        ).alias("sameAsViaf"),
        F.col("_normalized").alias("normalized"),
        F.when(sameas_label_branch, s).alias("subject"),
        *[F.col(k) for k in keep],
    )
    return parsed.filter(F.col("rec_type").isNotNull())              # P7


def filter_triple_obj_py(triple: dict) -> dict | str:
    """Pure-Python twin of ``filter_triples`` for golden parity tests —
    mirrors the reference's filterTripleObj record shapes
    (reference lib/fast_parse.js:17-55)."""
    import re

    s, p, o = triple["subject"], triple["predicate"], triple["object"]
    if "/fast/" in s:
        if "/fast/NaN" in s or "/fast/NaN" in o:
            return ""
        obj: dict = {"type": "fast"}
        m = re.search(r"/fast/([0-9]+)", s)
        obj["id"] = int(m.group(1)) if m else None
        if p == PRED_SAMEAS:
            if "id.loc.gov" in o:
                obj["sameAsLc"] = o
            if "viaf.org" in o:
                obj["sameAsViaf"] = o
        if p in (PRED_PREFLABEL, PRED_ALTLABEL, PRED_RDFS_LABEL):
            lit = _literal_py(o)
            if len(lit) >= 2:
                if p == PRED_PREFLABEL:
                    obj["prefLabel"] = lit
                if p == PRED_ALTLABEL:
                    obj["altLabel"] = lit
                if p == PRED_RDFS_LABEL:
                    obj["label"] = lit
                obj["normalized"] = normalize_and_singularize_py(lit)
        return obj
    if p == PRED_RDFS_LABEL:
        lit = _literal_py(o)
        return {
            "type": "sameAsLabel",
            "label": lit,
            "subject": s,
            "normalized": normalize_and_singularize_py(lit),
        }
    return ""


def _literal_py(o: str) -> str:
    import re

    m = re.match(r'^"(.*)"', o)
    if not m:
        return o
    out = m.group(1)
    for esc, ch in (('\\"', '"'), ("\\n", "\n"), ("\\t", "\t"), ("\\r", "\r"), ("\\\\", "\\")):
        out = out.replace(esc, ch)
    return out


# ---------------------------------------------------------------------------
# A1-A5 — keyed aggregation into FAST authority docs
# (reference lib/ingest.js:242-262)
# ---------------------------------------------------------------------------

def _sorted_set(col: Column) -> Column:
    """collect non-null values → sorted distinct array (order-stable)."""
    return F.array_sort(F.array_distinct(F.collect_list(col)))


def aggregate_fast(
    parsed: DataFrame,
    type_name: str | Column = "Topical",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """One FAST authority document per (``extra_keys``, id).

    Spark's spillable hash aggregate replaces the reference's per-process
    in-heap map (reference lib/ingest.js:102,242-262); prefLabel uses
    MAX-priority coalesce (deterministic variant of last-write-wins +
    fill-if-missing, reference lib/ingest.js:245-246); the sameAs arrays
    collect both the URI and its last path segment
    (reference lib/ingest.js:248-255). ``extra_keys`` (e.g. the branch tag)
    lets ALL source files aggregate in one shuffle instead of one job per
    file — the fused formulation that replaces the reference's
    process-per-file topology at scale.
    """
    type_col = F.lit(type_name) if isinstance(type_name, str) else type_name
    fast = parsed.filter(F.col("rec_type") == "fast")
    return (
        fast.groupBy(*extra_keys, "id")
        .agg(
            F.coalesce(F.max("prefLabel"), F.max("label")).alias("prefLabel"),  # A2
            _sorted_set(F.col("altLabel")).alias("altLabel"),                   # A3
            _sorted_set(                                                        # A4
                F.when(
                    F.col("sameAsLc").isNotNull(),
                    F.array(F.col("sameAsLc"), last_segment(F.col("sameAsLc"))),
                )
            ).alias("_lc_pairs"),
            _sorted_set(
                F.when(
                    F.col("sameAsViaf").isNotNull(),
                    F.array(F.col("sameAsViaf"), last_segment(F.col("sameAsViaf"))),
                )
            ).alias("_viaf_pairs"),
            _sorted_set(F.col("normalized")).alias("normalized"),               # A5
        )
        .select(
            *extra_keys,
            F.col("id").alias("_id"),                                           # _id = fast id
            F.col("id").alias("fast"),
            type_col.alias("type"),
            "prefLabel",
            "altLabel",
            F.array_sort(F.array_distinct(F.flatten(F.col("_lc_pairs")))).alias("sameAsLc"),
            F.array_sort(F.array_distinct(F.flatten(F.col("_viaf_pairs")))).alias("sameAsViaf"),
            "normalized",
        )
    )


# ---------------------------------------------------------------------------
# A7 + J1 — sameAs enrichment (reference lib/ingest.js:257-260,267-289)
# ---------------------------------------------------------------------------

def enrich_rows(records: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """Add one 'fast' hit row per sameAs label of a doc, ahead of
    ``aggregate_fast``, which folds the hits into the doc's altLabel/
    normalized sets.

    Each 'fast' sameAs URI probes the (broadcast) 'sameAsLabel' rows —
    the reference's ``allSameAs`` map (reference lib/ingest.js:257-260) —
    and a match yields a row carrying that subject's label/normalized
    values: a set-oriented broadcast hash join replacing the reference's
    per-record probe of its in-heap map. Only full URIs can match (the
    reference probes the map with the URIs it collected; bare-id segments
    never hit, reference lib/ingest.js:269,279). With ``extra_keys`` the
    labels are matched per source file (the reference's ``allSameAs`` is
    file-local state).
    """
    keys = list(extra_keys)
    labels = records.filter(F.col("rec_type") == "sameAsLabel").select(
        F.col("subject").alias("uri"), *keys, "label", "normalized"
    )
    # A sameAs row sets sameAsLc and/or sameAsViaf, both to its object URI.
    hits = (
        records.filter(F.col("rec_type") == "fast")
        .select("id", *keys, F.coalesce("sameAsLc", "sameAsViaf").alias("uri"))
        .filter(F.col("uri").contains("/"))
        .join(F.broadcast(labels), ["uri", *keys], "inner")
        .select(
            F.lit("fast").alias("rec_type"),
            "id",
            *keys,
            F.col("label").alias("altLabel"),
            "normalized",
        )
    )
    return records.unionByName(hits, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# A6 — deterministic cross-file merge (reference lib/ingest.js:134-165)
# ---------------------------------------------------------------------------

def merge_fast(docs: DataFrame) -> DataFrame:
    """Merge duplicate ``_id``s produced by different source files.

    The reference discovers duplicates via insert failure and patches the
    stored doc (updateToBestFast, reference lib/ingest.js:134-165,174-183);
    we converge to the same end state in one pre-write aggregate:
      * ``type``  — from the "biggest" record. The reference compares JSON
        serialization lengths (reference lib/ingest.js:141); we use an
        engine-portable record weight — len(type) + len(prefLabel) + total
        chars of all array elements (incl. separators) — with a type-name
        tiebreak, so the DuckDB oracle can compute the identical rule;
      * ``prefLabel`` — MAX-coalesce across records (reference :143);
      * arrays — element-wise distinct union (reference :144-155).
    In ``build_fast_table_tagged`` this aggregate shares the doc
    aggregate's ``id`` exchange: ``_id`` is an alias of ``id``.
    """
    weight = (
        F.length("type")
        + F.coalesce(F.length("prefLabel"), F.lit(0))
        + F.length(
            F.concat_ws(",", "altLabel", "sameAsLc", "sameAsViaf", "normalized")
        )
    )
    return (
        docs.groupBy("_id")
        .agg(
            F.first("fast").alias("fast"),
            F.max_by("type", F.struct(weight.alias("w"), F.col("type").alias("t"))).alias("type"),
            F.max("prefLabel").alias("prefLabel"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("altLabel")))).alias("altLabel"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("sameAsLc")))).alias("sameAsLc"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("sameAsViaf")))).alias("sameAsViaf"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("normalized")))).alias("normalized"),
        )
    )


# ---------------------------------------------------------------------------
# P8/P9 — pre-write filters (reference lib/ingest.js:298-309)
# ---------------------------------------------------------------------------

def filter_bad_docs(docs: DataFrame) -> DataFrame:
    """P8 — drop docs with no FAST id ('Bad Fast Obj',
    reference lib/ingest.js:304-307)."""
    return docs.filter(F.col("fast").isNotNull())


def filter_skip_viaf(docs: DataFrame) -> DataFrame:
    """P9 — TermEvent mode: drop docs already handled via VIAF in Agent mode
    (reference lib/ingest.js:298-303)."""
    return docs.filter(F.size("sameAsViaf") == 0)


# ---------------------------------------------------------------------------
# J2/J3 — VIAF enrichment (reference lib/ingest.js:108-128,212-232)
# ---------------------------------------------------------------------------

def derive_other_id(parsed: DataFrame) -> DataFrame:
    """Agent branch row transform: otherId = last path segment of sameAsLc,
    else of sameAsViaf, else drop (reference lib/ingest.js:217-228)."""
    other = F.coalesce(
        last_segment(F.col("sameAsLc")), last_segment(F.col("sameAsViaf"))
    )
    return (
        parsed.filter(F.col("rec_type") == "fast")
        .select(F.col("id").alias("fast_id"), other.alias("otherId"))
        .filter(F.col("otherId").isNotNull())
    )


def append_viaf_links(viaf: DataFrame, links: DataFrame) -> DataFrame:
    """J2+J3 — append each matched FAST id to its VIAF doc's ``fast``
    array (membership-checked, reference lib/ingest.js:108-128), as one
    set-oriented merge instead of per-row lookups and point updates.

    The disjunctive key ``viaf == otherId OR lcId == otherId`` becomes one
    equi-join against viaf's exploded ``(viaf, lcId)`` keys; viaf is
    corpus-sized at scale, so it gets no broadcast hint. The matches and
    the viaf rows then meet in one ``groupBy(_id)``, which assumes viaf's
    ``_id`` is unique (it is the reference's Mongo key): rows sharing an
    ``_id`` would be merged into one.
    """
    keys = viaf.select(
        "_id", F.explode(F.array_distinct(F.array("viaf", "lcId"))).alias("otherId")
    )
    matches = links.join(keys, "otherId").select("_id", "fast_id")
    fast = F.concat(F.flatten(F.collect_list("fast")), F.collect_list("fast_id"))
    return (
        viaf.select("_id", "viaf", "lcId", "fast")
        .unionByName(matches, allowMissingColumns=True)
        .groupBy("_id")
        .agg(
            F.max("viaf").alias("viaf"),
            F.max("lcId").alias("lcId"),
            F.array_sort(F.array_distinct(fast)).alias("fast"),
        )
    )


# ---------------------------------------------------------------------------
# Full job assembly (reference lib/ingest.js:194-319 end-to-end)
# ---------------------------------------------------------------------------

def _tagged_union(
    triples_by_type: dict[str, DataFrame], types: tuple[str, ...]
) -> DataFrame:
    """Union the per-type triple DataFrames of ``types`` with a ``branch``
    tag column — the single-scan replacement for the reference's
    one-OS-process-per-file topology (reference lib/ingest.js:58,68-69)."""
    out = None
    for type_name, triples in triples_by_type.items():
        if type_name not in types:
            continue
        t = triples.withColumn("branch", F.lit(type_name))
        out = t if out is None else out.unionByName(t)
    return out


def topical_records(records: DataFrame) -> DataFrame:
    """The rows of the topical branch (§3.2): every file but Corporate/
    Personal, which feed only the viaf branch. Event feeds both."""
    return records.filter(~F.col("branch").isin(list(VIAF_ONLY_TYPES)))


def build_fast_table(triples_by_type: dict[str, DataFrame]) -> DataFrame:
    """The complete topical pipeline (§3.2), FUSED across source files:
    tag each file's triples with a ``branch`` column, then run ONE
    parse-filter → ONE broadcast sameAs-label join at row level → ONE
    (branch, id) aggregate → (Event: skip-viaf filter, replacing the
    FASTTermEvent double-read, reference lib/ingest.js:58,298-302) →
    cross-file merge.

    Per-file semantics are preserved because ``branch`` rides in every
    grouping/join key; the fusion turns 4×(agg+join) jobs into one shuffle
    per logical step — at 100 TB that is the difference between 8
    sequential jobs and one wide plan (and locally it removes ~12 tiny
    stage barriers).

    Agent-type files contribute ONLY via the Event re-read minus VIAF-linked
    terms (reference lib/ingest.js:11,298-302): Corporate/Personal feed the
    viaf branch, not this table.
    """
    topical = tuple(t for t in triples_by_type if t not in VIAF_ONLY_TYPES)
    tagged = _tagged_union(triples_by_type, topical)
    return build_fast_table_tagged(filter_triples(tagged, keep=("branch",)))


def build_fast_table_tagged(records: DataFrame) -> DataFrame:
    """build_fast_table over ONE DataFrame of ``filter_triples`` records
    that keep the ``branch`` column (= authority type) — the entry used by
    the job runner, which parses every file once and feeds both sinks from
    the same records. Only the topical branches are read
    (``topical_records``); Event rows get the skip-viaf filter here.

    Enrichment (``enrich_rows``) happens at row level, before the one
    (branch, id) aggregate. The records are hash-partitioned by ``id``
    once, which serves both that aggregate and ``merge_fast``'s."""
    records = enrich_rows(topical_records(records), extra_keys=("branch",))
    records = records.repartition("id")
    docs = aggregate_fast(records, F.col("branch"), extra_keys=("branch",))
    docs = docs.filter(~((F.col("branch") == "Event") & (F.size("sameAsViaf") > 0)))
    return merge_fast(filter_bad_docs(docs).drop("branch"))


def build_viaf_updates(
    triples_by_type: dict[str, DataFrame], viaf: DataFrame
) -> DataFrame:
    """The Agent/VIAF branch over Corporate/Event/Personal files
    (reference lib/ingest.js:212-232): one fused parse → derive otherId →
    disjunctive lookup join → set-oriented array append. (otherId links
    are file-independent; the branch tag only selects the Agent files.)"""
    tagged = _tagged_union(triples_by_type, AGENT_TYPES)
    return build_viaf_updates_tagged(filter_triples(tagged, keep=("branch",)), viaf)


def build_viaf_updates_tagged(records: DataFrame, viaf: DataFrame) -> DataFrame:
    """build_viaf_updates over one DataFrame of ``filter_triples`` records
    that keep the ``branch`` column; only the Agent files
    (Corporate/Event/Personal) are read."""
    agent = records.filter(F.col("branch").isin(list(AGENT_TYPES)))
    return append_viaf_links(viaf, derive_other_id(agent))
