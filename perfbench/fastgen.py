"""Seeded synthetic FAST N-Triples corpus, with the answers the ingest job
must produce for it.

One process, pure Python. The corpus has the shape of an OCLC FAST dump:

* eight ``FAST<Type>.nt`` files, one per authority type;
* the triples of one entity are shuffled apart within its file;
* ``schema:sameAs`` objects point at LC (``id.loc.gov``) and VIAF
  (``viaf.org``) URIs, and most LC subjects carry an ``rdfs:label`` line in
  the same file;
* altLabel counts per entity are Pareto-skewed (most have 0-2, a few have
  dozens);
* about 1% of the lines are malformed and must be dropped;
* some topical-branch ids reappear in a second file with only a type and
  a prefLabel line, so the cross-file merge has work to do;
* a viaf table whose rows match agent entities by VIAF number or by LC id,
  some already holding the FAST id, plus rows that match nothing.

The expected outputs follow the job's documented semantics (the reference
FAST ingest): Corporate and Personal files feed only the viaf branch;
Event docs that carry a VIAF link are dropped from the fast table; an
entity's altLabels gain the ``rdfs:label`` of its LC URI when the label
line is in the same file; a cross-file duplicate that adds nothing leaves
the richer record unchanged.
"""

from __future__ import annotations

import hashlib
import os
import random

FAST = "http://id.worldcat.org/fast/"
LC_SUBJECTS = "http://id.loc.gov/authorities/subjects/"
LC_NAMES = "http://id.loc.gov/authorities/names/"
VIAF = "http://viaf.org/viaf/"
P_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
P_SAMEAS = "http://schema.org/sameAs"
P_PREF = "http://www.w3.org/2004/02/skos/core#prefLabel"
P_ALT = "http://www.w3.org/2004/02/skos/core#altLabel"
P_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
CONCEPT = "http://www.w3.org/2004/02/skos/core#Concept"

# file stem -> (authority type, share of entities)
FILES = {
    "FASTChronological": ("Chronological", 4),
    "FASTCorporate": ("Corporate", 14),
    "FASTEvent": ("Event", 5),
    "FASTFormGenre": ("Form", 3),
    "FASTGeographic": ("Geographic", 14),
    "FASTPersonal": ("Personal", 22),
    "FASTTitle": ("Title", 8),
    "FASTTopical": ("Topical", 30),
}
AGENT_ONLY = {"Corporate", "Personal"}  # feed the viaf branch only
AGENT = AGENT_ONLY | {"Event"}  # feed the viaf branch

WORDS = (
    "river history art music church war law science economic trade "
    "mountain college railroad society education bridge harbor map saint "
    "county literature poetry theater industry labor medicine garden "
    "philosophy museum bank island valley temple library ocean forest "
    "school market canal festival"
).split()

MALFORMED_SHARE = 0.01
LINES_PER_ENTITY = 5.0  # about the mean; sets the entity count for a target line count


def _label(rng: random.Random) -> str:
    words = [rng.choice(WORDS) for _ in range(rng.randint(1, 4))]
    text = " ".join(words).title()
    r = rng.random()
    if r < 0.03:
        text = f'{text} "{rng.choice(WORDS)}"'  # needs NT quote escapes
    elif r < 0.10:
        text = f"{text}, {rng.randint(1500, 2020)}-"
    return text


def _literal(text: str, rng: random.Random) -> str:
    esc = text.replace("\\", "\\\\").replace('"', '\\"')
    return f'"{esc}"@en' if rng.random() < 0.5 else f'"{esc}"'


def _triple(s: str, p: str, o: str) -> str:
    return f"<{s}> <{p}> {o} ."


def _malformed(rng: random.Random, fast_id: int) -> str:
    kind = rng.randrange(4)
    if kind == 0:  # unterminated literal
        return f'<{FAST}{fast_id}> <{P_ALT}> "{rng.choice(WORDS)} unterminated'
    if kind == 1:  # subject bracket never closed
        return f"<{FAST}{fast_id} <{P_PREF}> ."
    if kind == 2:  # missing final dot
        return f'<{FAST}{fast_id}> <{P_PREF}> "{rng.choice(WORDS)}"'
    return f"{rng.choice(WORDS)} {rng.choice(WORDS)} garbage line"


def _canon_doc(d: dict) -> tuple:
    return (
        int(d["_id"]),
        d["type"],
        d["prefLabel"],
        tuple(sorted(d["altLabel"] or ())),
        tuple(sorted(d["sameAsLc"] or ())),
        tuple(sorted(d["sameAsViaf"] or ())),
    )


def _canon_viaf(d: dict) -> tuple:
    return (d["_id"], d["viaf"], d["lcId"], tuple(sorted(d["fast"] or ())))


def table_hash(rows, canon) -> str:
    """Order-insensitive hash of a table given as an iterable of dicts."""
    h = hashlib.sha256()
    for t in sorted(repr(canon(r)) for r in rows):
        h.update(t.encode())
        h.update(b"\n")
    return h.hexdigest()


def fast_doc_hash(rows) -> str:
    return table_hash(rows, _canon_doc)


def viaf_hash(rows) -> str:
    return table_hash(rows, _canon_viaf)


def generate(seed: int, n_lines: int, corpus_dir: str) -> dict:
    """Write the eight NT files into ``corpus_dir`` and return the model:
    ``viaf_rows`` (the input viaf table) and the expected outputs."""
    rng = random.Random(seed)
    n_entities = max(16, int(n_lines / LINES_PER_ENTITY))
    ids = rng.sample(range(1, 50 * n_entities), n_entities)
    numbers = iter(rng.sample(range(10**6, 10**8), 4 * n_entities))  # LC/VIAF
    stems = list(FILES)
    weights = [FILES[s][1] for s in stems]

    lines_by_file: dict[str, list[str]] = {s: [] for s in stems}
    entities = []
    for fid in ids:
        stem = rng.choices(stems, weights)[0]
        ftype = FILES[stem][0]
        agent = ftype in AGENT
        e = {"id": fid, "stem": stem, "type": ftype, "pref": _label(rng)}
        e["alts"] = sorted(
            {_label(rng) for _ in range(min(int(rng.paretovariate(1.3)) - 1, 60))}
        )
        e["lc"] = e["viaf"] = e["lc_label"] = None
        if rng.random() < (0.6 if agent else 0.45):
            e["lc"] = (LC_NAMES + "n" if agent else LC_SUBJECTS + "sh") + str(next(numbers))
            if rng.random() < 0.8:
                e["lc_label"] = _label(rng)
        if rng.random() < (0.55 if agent else 0.05):
            e["viaf"] = VIAF + str(next(numbers))
        entities.append(e)

        subj = f"{FAST}{fid}"
        out = lines_by_file[stem]
        out.append(_triple(subj, P_TYPE, f"<{CONCEPT}>"))
        out.append(_triple(subj, P_PREF, _literal(e["pref"], rng)))
        out.extend(_triple(subj, P_ALT, _literal(a, rng)) for a in e["alts"])
        if e["lc"]:
            out.append(_triple(subj, P_SAMEAS, f"<{e['lc']}>"))
            if e["lc_label"]:
                out.append(_triple(e["lc"], P_LABEL, _literal(e["lc_label"], rng)))
        if e["viaf"]:
            out.append(_triple(subj, P_SAMEAS, f"<{e['viaf']}>"))

    # Cross-file duplicates: a topical-branch entity with an LC link shows
    # up again in another topical-branch file with only type + prefLabel.
    # Its record weighs less, so the merged doc equals the original.
    topical_stems = [s for s in stems if FILES[s][0] not in AGENT]
    dups = 0
    for e in entities:
        if e["type"] not in AGENT and e["lc"] and rng.random() < 0.1:
            stem = rng.choice([s for s in topical_stems if s != e["stem"]])
            subj = f"{FAST}{e['id']}"
            lines_by_file[stem].append(_triple(subj, P_TYPE, f"<{CONCEPT}>"))
            lines_by_file[stem].append(_triple(subj, P_PREF, _literal(e["pref"], rng)))
            dups += 1

    n_good = sum(len(v) for v in lines_by_file.values())
    n_bad = max(1, round(n_good * MALFORMED_SHARE / (1 - MALFORMED_SHARE)))
    for _ in range(n_bad):
        lines_by_file[rng.choice(stems)].append(_malformed(rng, rng.choice(ids)))

    os.makedirs(corpus_dir, exist_ok=True)
    for stem, lines in lines_by_file.items():
        rng.shuffle(lines)
        with open(os.path.join(corpus_dir, f"{stem}.nt"), "w", encoding="utf-8") as f:
            f.write("\n".join(lines))
            f.write("\n")

    # Expected fast table.
    docs = []
    for e in entities:
        if e["type"] in AGENT_ONLY or (e["type"] == "Event" and e["viaf"]):
            continue
        alts = set(e["alts"])
        if e["lc_label"]:
            alts.add(e["lc_label"])
        docs.append(
            {
                "_id": e["id"],
                "type": e["type"],
                "prefLabel": e["pref"],
                "altLabel": sorted(alts),
                "sameAsLc": sorted({e["lc"], e["lc"].rsplit("/", 1)[1]}) if e["lc"] else [],
                "sameAsViaf": sorted({e["viaf"], e["viaf"].rsplit("/", 1)[1]}) if e["viaf"] else [],
            }
        )

    # Input viaf table and its expected update.
    viaf_rows, expected_viaf = [], []
    gains = 0
    for e in entities:
        if e["type"] not in AGENT or not (e["lc"] or e["viaf"]) or rng.random() < 0.3:
            continue
        lc_seg = e["lc"].rsplit("/", 1)[1] if e["lc"] else None
        if e["viaf"] and rng.random() < 0.6:
            vnum = e["viaf"].rsplit("/", 1)[1]
            lc_id = lc_seg if rng.random() < 0.5 else f"no{next(numbers)}"
        elif lc_seg:
            vnum, lc_id = str(next(numbers)), lc_seg
        else:
            continue
        r = rng.random()
        fast = [] if r < 0.6 else ([e["id"]] if r < 0.8 else [rng.choice(ids)])
        row = {"_id": f"viaf{vnum}", "viaf": vnum, "lcId": lc_id, "fast": fast}
        viaf_rows.append(row)
        new = sorted(set(fast) | {e["id"]})
        gains += new != sorted(fast)
        expected_viaf.append({**row, "fast": new})
    for _ in range(max(1, len(viaf_rows) // 3)):  # rows nothing matches
        vnum = str(next(numbers))
        row = {"_id": f"viaf{vnum}", "viaf": vnum, "lcId": f"no{next(numbers)}", "fast": []}
        viaf_rows.append(row)
        expected_viaf.append(dict(row))

    return {
        "seed": seed,
        "lines": n_good + n_bad,
        "malformed_lines": n_bad,
        "entities": len(entities),
        "cross_file_duplicates": dups,
        "viaf_rows": viaf_rows,
        "expected": {
            "n_fast_docs": len(docs),
            "n_types": len({d["type"] for d in docs}),
            "n_viaf_docs": len(expected_viaf),
            "viaf_rows_gaining_ids": gains,
            "fast_hash": fast_doc_hash(docs),
            "viaf_hash": viaf_hash(expected_viaf),
        },
    }
