"""Property-based test (SURVEY.md §5 item 4): random triple corpora →
the Spark FAST aggregation pipeline must equal an independent pure-Python
re-implementation of the deterministic semantics (MAX-coalesce prefLabel,
sorted-distinct arrays, URI+segment pairs, sameAs enrichment)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ingest_fast_spark.functions.scalars import normalize_and_singularize_py
from ingest_fast_spark.operators import fast_pipeline as fp
from ingest_fast_spark.sources.nt import parse_nt_lines

PREF = "http://www.w3.org/2004/02/skos/core#prefLabel"
ALT = "http://www.w3.org/2004/02/skos/core#altLabel"
LBL = "http://www.w3.org/2000/01/rdf-schema#label"
SAME = "http://schema.org/sameAs"
FAST = "http://id.worldcat.org/fast"
LC = "http://id.loc.gov/authorities/names"
VIAF = "http://viaf.org/viaf"

labels = st.sampled_from(
    ["Apples", "Zebra Crossings", "Fiesta (Tex.)", "Éles", "x", "Wars—1914", "Berries"]
)
ids = st.integers(min_value=1, max_value=5)

fast_triple = st.one_of(
    st.tuples(ids, st.sampled_from([PREF, ALT, LBL]), labels).map(
        lambda t: (f"{FAST}/{t[0]}", t[1], f'"{t[2]}"')
    ),
    st.tuples(ids, st.sampled_from([f"{LC}/n", f"{VIAF}/"]), st.integers(1, 9)).map(
        lambda t: (f"{FAST}/{t[0]}", SAME, f"<{t[1]}{t[2]}>")
    ),
)
sameas_label = st.tuples(
    st.sampled_from([f"{LC}/n", f"{VIAF}/"]), st.integers(1, 9), labels
).map(lambda t: (f"{t[0]}{t[1]}", LBL, f'"{t[2]}"'))

corpus = st.lists(st.one_of(fast_triple, sameas_label), min_size=1, max_size=30)


def _nt(s, p, o):
    obj = o if o.startswith(("<", '"')) else f"<{o}>"
    if obj.startswith("<") is False and obj.startswith('"') is False:
        obj = f"<{obj}>"
    return f"<{s}> <{p}> {obj} ."


def py_reference(triples):
    """Pure-Python twin of enrich_rows + aggregate_fast (the
    deterministic divergences documented in fast_pipeline.py)."""
    docs, sameas = {}, {}
    for s, p, o in triples:
        if "/fast/" in s:
            fid = int(s.split("/fast/")[1])
            d = docs.setdefault(
                fid,
                {"prefLabels": [], "labels": [], "altLabel": set(),
                 "sameAsLc": set(), "sameAsViaf": set(), "normalized": set()},
            )
            if p == SAME:
                uri = o.strip("<>")
                target = "sameAsLc" if "id.loc.gov" in uri else (
                    "sameAsViaf" if "viaf.org" in uri else None
                )
                if target:
                    d[target].add(uri)
                    d[target].add(uri.split("/")[-1])
            elif p in (PREF, ALT, LBL):
                lit = o[1:-1]
                if len(lit) >= 2:
                    if p == PREF:
                        d["prefLabels"].append(lit)
                    elif p == ALT:
                        d["altLabel"].add(lit)
                    else:
                        d["labels"].append(lit)
                    d["normalized"].add(normalize_and_singularize_py(lit))
        elif p == LBL:
            lit = o[1:-1]
            rec = sameas.setdefault(s, {"labels": set(), "normalized": set()})
            rec["labels"].add(lit)
            rec["normalized"].add(normalize_and_singularize_py(lit))

    out = {}
    for fid, d in docs.items():
        pref = max(d["prefLabels"]) if d["prefLabels"] else (
            max(d["labels"]) if d["labels"] else None
        )
        alt, norm = set(d["altLabel"]), set(d["normalized"])
        for uri in d["sameAsViaf"] | d["sameAsLc"]:
            if "/" in uri and uri in sameas:
                alt |= sameas[uri]["labels"]
                norm |= sameas[uri]["normalized"]
        out[fid] = {
            "prefLabel": pref,
            "altLabel": tuple(sorted(alt)),
            "sameAsLc": tuple(sorted(d["sameAsLc"])),
            "sameAsViaf": tuple(sorted(d["sameAsViaf"])),
            "normalized": tuple(sorted(norm)),
        }
    return out


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(corpus)
def test_aggregation_matches_python_reference(spark, triples):
    lines = [_nt(*t) for t in triples]
    df = spark.createDataFrame([(l,) for l in lines], "value string").repartition(1)
    parsed = fp.filter_triples(parse_nt_lines(df))
    result = fp.aggregate_fast(fp.enrich_rows(parsed), "Topical").collect()
    got = {
        r["_id"]: {
            "prefLabel": r["prefLabel"],
            "altLabel": tuple(r["altLabel"]),
            "sameAsLc": tuple(r["sameAsLc"]),
            "sameAsViaf": tuple(r["sameAsViaf"]),
            "normalized": tuple(r["normalized"]),
        }
        for r in result
    }
    assert got == py_reference(triples)
