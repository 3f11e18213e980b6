"""Output checks computed apart from the program.

Every expected value here is recomputed in plain Python from the
generator's own records (``gen.py``), never from a stored copy of an
earlier output. Each check returns a list of error strings; an empty
list means the output is correct.
"""

from __future__ import annotations

import glob
import json
import os
import re
import xml.etree.ElementTree as ET
from collections import Counter, defaultdict

from gen import ISO, PASSING_STATUS, WHO_REGIONS, iahx_id, newest_versions

# --------------------------------------------------------------------------
# FI-Admin chain (dg_nightly)


def passes_stage_filter(rec: dict) -> bool:
    """P1: status in {0,1,-2,-3} and treatment_level present, non-empty."""
    return rec.get("status") in PASSING_STATUS and bool(rec.get("treatment_level"))


def read_xml_docs(xml_dir: str) -> tuple[list[dict[str, list[str]]], list[str]]:
    """Parse every shard; returns (docs as {field: [values]}, errors)."""
    docs, errors = [], []
    shards = sorted(glob.glob(os.path.join(xml_dir, "part-*")))
    if not shards:
        errors.append(f"no XML shards under {xml_dir}")
    for path in shards:
        try:
            root = ET.parse(path).getroot()
        except ET.ParseError as e:
            errors.append(f"{os.path.basename(path)} does not parse: {e}")
            continue
        if root.tag != "add":
            errors.append(f"{os.path.basename(path)}: root <{root.tag}>, expected <add>")
        for doc in root.iter("doc"):
            fields: dict[str, list[str]] = defaultdict(list)
            for f in doc.iter("field"):
                fields[f.get("name")].append(f.text or "")
            docs.append(dict(fields))
    return docs, errors


def check_fiadmin_xml(xml_dir: str, records: list[dict]) -> list[str]:
    """XML doc count equals the newest versions passing the stage filter;
    each doc's id follows the ``LILACS_original_id`` rule; each doc's
    ``update_date`` is its id's newest ``updated_time``; every shard
    parses."""
    docs, errors = read_xml_docs(xml_dir)
    latest = newest_versions(records)
    expected = {iahx_id(r): r for r in latest.values() if passes_stage_filter(r)}
    if len(docs) != len(expected):
        errors.append(f"XML has {len(docs)} docs, expected {len(expected)}")
    seen = Counter()
    for d in docs:
        ids = d.get("id", [])
        if len(ids) != 1:
            errors.append(f"doc with id field {ids!r}")
            continue
        did = ids[0]
        seen[did] += 1
        rec = expected.get(did)
        if rec is None:
            errors.append(f"unexpected doc id {did}")
            continue
        pk = d.get("id_pk", [""])[0]
        if pk != str(rec["id"]):
            errors.append(f"{did}: id_pk {pk!r}, expected {rec['id']}")
        want = rec["updated_time"][:10].replace("-", "")
        got = d.get("update_date", [""])[0]
        if got != want:
            errors.append(f"{did}: update_date {got!r}, newest version is {want!r}")
    dups = [k for k, n in seen.items() if n > 1]
    if dups:
        errors.append(f"{len(dups)} ids emitted more than once, e.g. {dups[:3]}")
    return errors[:20]


# --------------------------------------------------------------------------
# TMGL chain (tmgl_weekly)

DOCTYPE_RECODE = {
    "article": "Articles", "monography": "Monograph", "thesis": "Thesis",
    "non-conventional": "Non-conventional", "project document": "Project document",
    "congress and conference": "Congress and conference", "video": "Multimedia",
    "audio": "Multimedia", "podcast": "Multimedia",
}
# metric types tallied independently (a sample of the ten families)
TALLIED = ("language", "doctype")
_YEAR = re.compile(r"[0-9]{4}")
_COUNTRY_KEY = {c.lower(): c for cs in WHO_REGIONS.values() for c in cs}
_REGION_OF = {c: r for r, cs in WHO_REGIONS.items() for c in cs}


def doc_year(doc: dict) -> int:
    """F1: the first 4-digit run of the free-text date, else 0."""
    dp = doc.get("dp", [None])[0]
    m = _YEAR.search(dp) if dp else None
    return int(m.group(0)) if m else 0


def doc_countries(doc: dict) -> set[str]:
    """The dimension countries a doc's ``cp`` names (trimmed, any case)."""
    return {_COUNTRY_KEY[c.strip().lower()] for c in doc.get("cp", []) if c.strip().lower() in _COUNTRY_KEY}


def _entities(doc: dict, metric: str) -> list[str]:
    if metric == "language":
        return [v.lower() for v in doc.get("la", [])]
    if metric == "doctype":
        return [DOCTYPE_RECODE.get(v, v) for v in doc.get("type", [])]
    raise ValueError(metric)


def tally(docs: list[dict], metric: str) -> dict[tuple, int]:
    """{(slice_kind, slice, name, year): count} for global (None),
    per-region and per-country slices, counting a doc once per slice."""
    out: Counter = Counter()
    for d in docs:
        y = doc_year(d)
        if y < 1500:
            continue
        countries = doc_countries(d)
        regions = {_REGION_OF[c] for c in countries}
        for name in _entities(d, metric):
            out[("global", None, name, y)] += 1
            for r in regions:
                out[("region", r, name, y)] += 1
            for c in countries:
                out[("country", c, name, y)] += 1
    return dict(out)


def pivot(counts: dict[tuple, int], kind: str, value) -> list[dict]:
    rows: dict[int, dict] = {}
    for (k, s, name, year), n in counts.items():
        if k == kind and s == value:
            rows.setdefault(year, {"ano": year})[name] = n
    return [rows[y] for y in sorted(rows)]


def eligible_countries(docs: list[dict]) -> set[str]:
    """Countries with at least one metric row: every generated doc has a
    language, so a country qualifies iff a doc with a valid year names it."""
    return {c for d in docs if doc_year(d) >= 1500 for c in doc_countries(d)}


def iso_of(country: str) -> str:
    return ISO[country].lower()


def check_tmgl(out_dir: str, docs: list[dict], metric_rows: list[dict],
               timeline_rows: list[dict], chart_types: list[str],
               report_types: list[str]) -> list[str]:
    errors = []
    got = Counter()
    for r in metric_rows:
        if r["type"] in TALLIED:
            if r["country"] is not None:
                key = ("country", r["country"])
            elif r["region"] is not None:
                key = ("region", r["region"])
            else:
                key = ("global", None)
            got[(r["type"],) + key + (r["name"], r["year"])] += r["count"]
    for metric in TALLIED:
        want = tally(docs, metric)
        mine = {k[1:]: n for k, n in got.items() if k[0] == metric}
        if mine != want:
            diff = set(mine.items()) ^ set(want.items())
            errors.append(f"{metric}: {len(diff)} (slice, name, year) counts differ, e.g. {sorted(diff, key=str)[:3]}")
    # A11/A12 timeline: total and with-fulltext per year, global and per country
    want_tl: Counter = Counter()
    for d in docs:
        y = doc_year(d)
        if y < 1500:
            continue
        ft = 1 if d.get("fulltext", [None])[0] == "1" else 0
        for c in [None, *doc_countries(d)]:
            want_tl[(c, y, "total")] += 1
            want_tl[(c, y, "ft")] += ft
    got_tl: Counter = Counter()
    for r in timeline_rows:
        got_tl[(r["country"], r["year"], "total")] += r["total"]
        got_tl[(r["country"], r["year"], "ft")] += r["with_fulltext"]
    if +got_tl != +want_tl:
        errors.append("timeline totals differ from the independent tally")
    # per-region chart JSON
    for metric in chart_types:
        want = tally(docs, metric)
        for region in WHO_REGIONS:
            path = os.path.join(out_dir, "charts", f"{region}_{metric}.json")
            with open(path, encoding="utf-8") as f:
                if json.load(f) != pivot(want, "region", region):
                    errors.append(f"chart {region}/{metric} differs from the independent pivot")
    # one HTML per eligible country, embedded charts equal the pivot
    eligible = eligible_countries(docs)
    html_dir = os.path.join(out_dir, "html")
    files = {os.path.basename(p) for p in glob.glob(os.path.join(html_dir, "*.html"))}
    want_files = {f"{iso_of(c)}.html" for c in eligible}
    if files != want_files:
        errors.append(f"HTML files {sorted(files ^ want_files)[:5]} missing or unexpected")
    tallies = {m: tally(docs, m) for m in report_types}
    for c in sorted(eligible):
        path = os.path.join(html_dir, f"{iso_of(c)}.html")
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as f:
            text = f.read()
        m = re.search(r"const CHARTS = (.*);\n</script>", text, re.S)
        if not m:
            errors.append(f"{path}: no embedded chart JSON")
            continue
        charts = json.loads(m.group(1))
        for metric in report_types:
            if charts.get(metric) != pivot(tallies[metric], "country", c):
                errors.append(f"{c}: embedded {metric} chart differs from the independent pivot")
    return errors[:20]


# --------------------------------------------------------------------------
# incremental dedup (dedup_increment)


def check_dedup(kept_ids: set[str], batch_ids: set[str], planted: set[str],
                state_before: int, state_after: int) -> list[str]:
    """Planted exact and near duplicates are dropped, every fresh doc is
    kept, and the exact-state table grows by exactly the kept rows."""
    errors = []
    fresh = batch_ids - planted
    if kept_ids & planted:
        errors.append(f"{len(kept_ids & planted)} planted duplicates kept, e.g. {sorted(kept_ids & planted)[:3]}")
    if fresh - kept_ids:
        errors.append(f"{len(fresh - kept_ids)} fresh docs dropped, e.g. {sorted(fresh - kept_ids)[:3]}")
    if kept_ids - batch_ids:
        errors.append("kept ids outside the batch")
    if state_after - state_before != len(kept_ids):
        errors.append(f"state grew by {state_after - state_before}, kept {len(kept_ids)}")
    return errors
