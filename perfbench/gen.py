"""Seeded input generators for the pipeline benchmark.

Everything here is plain Python over ``random.Random(seed)``: the same
seed gives byte-identical files, and the generators return their own
records so the checks in ``checks.py`` can recompute every expected
output without going through the program under test.

Inputs per workload:

- FI-Admin landing records (FIXTURES §1.1 edge-case mix) and the
  dimension tables the standardize/enrich stages join (§2.1-2.9);
- TMGL iAHx XML dumps (§1.2) plus the who_region, tmgl_areas and DeCS
  dimensions;
- a bibliographic title+abstract corpus and daily increments with
  planted exact and near duplicates.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from xml.sax.saxutils import escape

# --------------------------------------------------------------------------
# FI-Admin landing schema (FIXTURES §1.1) as the DDL the harvest parses
# pages with. Struct layouts follow the reference's subfield names.


def _arr(fields: str) -> str:
    return "array<struct<" + ",".join(f"{f}:string" for f in fields.split()) + ">>"


_AUTHOR = _arr("text _1 _2 _3 _p _c _k _w _e")
_CALL = _arr("text " + " ".join(f"_{c}" for c in "abcdefghijklmnopqrstuvwxyz0123456789"))
_LANDING_COLS = [
    ("id", "bigint"), ("status", "int"), ("treatment_level", "string"),
    ("literature_type", "string"), ("title", _arr("text _i")),
    ("english_translated_title", "string"), ("title_monographic", _arr("text _i")),
    ("title_collection", _arr("text _i")), ("english_title_monographic", "string"),
    ("english_title_collection", "string"), ("abstract", _arr("text _i")),
    ("pages", _arr("_f _l text f _e")), ("pages_monographic", "string"),
    ("electronic_address", _arr("_u _y _z _x _q")),
    ("individual_author", _AUTHOR), ("corporate_author", _AUTHOR),
    ("individual_author_monographic", _AUTHOR), ("corporate_author_monographic", _AUTHOR),
    ("individual_author_collection", _AUTHOR), ("corporate_author_collection", _AUTHOR),
    ("author_keyword", _arr("text")), ("title_serial", "string"),
    ("volume_serial", "string"), ("volume_monographic", "string"),
    ("issue_number", "string"), ("publication_date", "string"),
    ("publication_date_normalized", "string"), ("publication_country", "string"),
    ("publication_city", "string"), ("publisher", "string"), ("edition", "string"),
    ("descriptive_information", _arr("_b")), ("symbol", "string"),
    ("call_number", _CALL), ("check_tags", "array<string>"),
    ("publication_type", "array<string>"), ("descriptors_primary", _arr("text")),
    ("descriptors_secondary", _arr("text")), ("local_descriptors", "string"),
    ("issn", "string"), ("shortened_title", "string"),
    ("LILACS_original_id", "string"), ("alternate_ids", "array<string>"),
    ("doi_number", "string"), ("isbn", "string"), ("license", "string"),
    ("text_language", "array<string>"), ("indexed_database", "array<string>"),
    ("database", "array<string>"), ("cooperative_center_code", "string"),
    ("conference_country", "string"), ("conference_city", "string"),
    ("conference_normalized_date", "string"), ("conference_date", "string"),
    ("conference_sponsoring_institution", "string"), ("conference_name", "string"),
    ("project_sponsoring_institution", "string"), ("project_name", "string"),
    ("project_number", "string"), ("thesis_dissertation_institution", "string"),
    ("thesis_dissertation_leader", _arr("text")),
    ("thesis_dissertation_academic_title", "string"), ("inventory_number", "string"),
    ("total_number_of_volumes", "string"), ("non_decs_region", "array<string>"),
    ("clinical_trial_registry_name", "string"), ("community", "string"),
    ("community_collection_path", "array<string>"), ("related_research", "array<string>"),
    ("related_resource", "array<string>"), ("created_time", "string"),
    ("transfer_date_to_database", "string"), ("updated_time", "string"),
]
LANDING_DDL = ", ".join(f"`{n}` {t}" for n, t in _LANDING_COLS)

# statuses that pass the standardize stage filter (P1)
PASSING_STATUS = {0, 1, -2, -3}
_STATUSES = [-3, -2, -1, 0, 0, 1, 1, 1, 2, 3]
_LEVELS = ["as", "as", "as", "am", "amc", "m", "mc", "ms", "c", "t", "", None]
_LIT_TYPES = ["S", "M", "Mc", "Mcp", "N", "Nc", "T", "Sc", "Scp", "Sp", "Mp", "Msp", "Np"]
_LANGS = ["en", "pt", "es", "fr"]
_WORDS = (
    "acupuncture herbal therapy clinical trial randomized cohort patients "
    "health medicine traditional plant extract dose outcome review study "
    "infection vaccine malaria dengue tuberculosis child maternal care "
    "public policy nutrition diabetes hypertension cancer mental stress"
).split()

# dimension vocabularies (FIXTURES §2)
_COUNTRIES = [
    # (pt, en, es, fr, pais_2, sinonimo)
    ("Brasil", "Brazil", "Brasil", "Brésil", "BR", ["bra", "br"]),
    ("Argentina", "Argentina", "Argentina", "Argentine", "AR", ["arg"]),
    ("México", "Mexico", "México", "Mexique", "MX", ["mex"]),
    ("Chile", "Chile", "Chile", "Chili", "CL", ["chl"]),
    ("Peru", "Peru", "Perú", "Pérou", "PE", ["per"]),
    ("Colômbia", "Colombia", "Colombia", "Colombie", "CO", ["col"]),
    ("Cuba", "Cuba", "Cuba", "Cuba", "CU", ["cub"]),
    ("Espanha", "Spain", "España", "Espagne", "ES", ["esp"]),
    ("Portugal", "Portugal", "Portugal", "Portugal", "PT", ["prt"]),
    ("França", "France", "Francia", "France", "FR", ["fra"]),
    ("Índia", "India", "India", "Inde", "IN", ["ind"]),
    ("China", "China", "China", "Chine", "CN", ["chn"]),
]
_DBS = ["LILACS", "IBECS", "MEDLINE", "BINACIS", "CUMED", "colecionaSUS"]
_DATABASES = ["Lilacs Express", "Bíblia Saúde", "Índice Médico", "Saúde Pública"]


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _maybe(rng: random.Random, p: float, value):
    return value() if rng.random() < p else None


def _author(rng: random.Random, i: int) -> dict:
    country = rng.choice(_COUNTRIES)
    a = {"text": f"Author{i}, {rng.choice('ABCDEFGH')}."}
    r = rng.random()
    if r < 0.75:
        a["_1"] = f"Universidade {rng.randint(1, 40)}"
        # synonyms and mixed case exercise the tabpais key normalization
        a["_p"] = rng.choice([country[0], country[1].upper(), country[5][0], "Atlantis"])
        a["_c"] = f"City{rng.randint(1, 9)}"
    elif r < 0.85:
        a["_2"] = f"Dept {rng.randint(1, 9)}"  # no _1: the 's.af' branch
    if rng.random() < 0.3:
        a["_w"] = f"a{i}@example.org"
    if rng.random() < 0.2:
        a["_k"] = f"0000-0001-{rng.randint(1000, 9999)}-000X"
    return a


def _titles(rng: random.Random) -> list[dict]:
    out = []
    for lang in rng.sample(_LANGS, rng.randint(1, 3)):
        t = {"text": _words(rng, 3, 9).capitalize()}
        if rng.random() >= 0.07:  # some entries lack _i (-> bare ti)
            t["_i"] = lang
        out.append(t)
    return out


def _abstract(rng: random.Random) -> list[dict]:
    out = []
    for lang in rng.sample(_LANGS, rng.randint(1, 2)):
        text = _words(rng, 20, 60)
        if rng.random() < 0.1:
            text = text.replace(" ", "\r\n", 2) + "\x01\x1f"
        out.append({"text": text, "_i": lang})
    if rng.random() < 0.06:  # two same-language entries (concat case)
        out.append({"text": _words(rng, 10, 20), "_i": out[0]["_i"]})
    return out


def _pages(rng: random.Random) -> list[dict] | None:
    r = rng.random()
    a = rng.randint(1, 300)
    if r < 0.5:
        return [{"_f": str(a), "_l": str(a + rng.randint(1, 20))}]
    if r < 0.6:
        return [{"text": f"{a}-{a + 3}"}]
    if r < 0.7:
        return [{"f": str(a)}]
    if r < 0.75:
        return [{"_e": f"e{a}"}]
    return None


def _electronic(rng: random.Random, i: int) -> list[dict] | None:
    r = rng.random()
    if r < 0.35:
        return None
    out = []
    for k in range(rng.randint(1, 2)):
        u = rng.choice([
            f"http://www.example.org/doc/{i}/{k}.pdf",
            f"https://repo.example.net/{i}",
            f"www.example.com/{i}.html",
            f"ftp.example.com/{i}.txt",
        ])
        e = {"_u": u}
        q = rng.random()
        if q < 0.08:
            e["_y"] = "MULTIMEDIA"
            e["_u"] = f"http://media.example.org/{i}.mp4"
        elif q < 0.14:
            e["_y"] = "AUDIO"
            e["_q"] = "mp3"
        elif q < 0.4:
            e["_y"] = "PDF"
        out.append(e)
    return out


def fiadmin_record(rng: random.Random, rid: int, updated: str) -> dict:
    """One landing record with the FIXTURES §1.1 edge-case mix; missing
    keys are nulls (schema-on-read)."""
    level = rng.choice(_LEVELS)
    lit = rng.choice(_LIT_TYPES)
    country = rng.choice(_COUNTRIES)
    rec: dict = {
        "id": rid,
        "status": rng.choice(_STATUSES),
        "treatment_level": level,
        "literature_type": lit,
        "title": _titles(rng),
        "abstract": _maybe(rng, 0.8, lambda: _abstract(rng)),
        "pages": _pages(rng),
        "electronic_address": _electronic(rng, rid),
        "author_keyword": [{"text": w} for w in rng.sample(_WORDS, rng.randint(0, 3))],
        "publication_date_normalized": _maybe(
            rng, 0.9, lambda: f"{rng.randint(1990, 2025)}{rng.randint(1, 12):02d}00"
        ),
        "publication_date": rng.choice(["2021", "Jan-Mar 2019", "s.d.", "2020", "c1987"]),
        "publication_country": rng.choice([country[0], country[1], country[5][0], None]),
        "text_language": rng.sample(["pt", "en", "es", "fr"], rng.randint(1, 2)),
        "indexed_database": rng.sample(_DBS, rng.randint(1, 2)),
        "database": _maybe(rng, 0.6, lambda: rng.sample(_DATABASES, 1)),
        "descriptors_primary": [
            {"text": f"^d{rng.randint(1, 120)}"} for _ in range(rng.randint(0, 3))
        ],
        "descriptors_secondary": [
            {"text": f"^d{rng.randint(1, 120)}^s{rng.randint(1, 9)}"}
            for _ in range(rng.randint(0, 3))
        ],
        "check_tags": rng.sample(["Humans", "Female", "Male", "Adult", "1", "Child/drug"],
                                 rng.randint(0, 2)),
        "publication_type": rng.sample(["Journal Article", "Review", "Clinical Trial"],
                                       rng.randint(0, 1)),
        "created_time": _maybe(rng, 0.8, lambda: f"20{rng.randint(10, 24)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}T10:00:00"),
        "transfer_date_to_database": "2023-02-03",
        "updated_time": updated,
        "cooperative_center_code": f"BR{rng.randint(1, 999):03d}.1",
    }
    if rng.random() < 0.45:
        rec["LILACS_original_id"] = str(900000 + rid)
    if rng.random() < 0.3:
        rec["alternate_ids"] = [f"alt-{rid}", f"biblio-{rid}", ""]
    if level and level.startswith("a"):
        rec["individual_author"] = [_author(rng, rid * 10 + k) for k in range(rng.randint(1, 4))]
        rec["title_serial"] = f"Rev {rng.choice(_WORDS).title()}"
        rec["issn"] = rng.choice([f"{1000 + rng.randint(0, 39)}-{2000 + rng.randint(0, 39)}", "9999-0000"])
        rec["shortened_title"] = f"Rev {rng.randint(0, 39)}"
        rec["volume_serial"] = _maybe(rng, 0.8, lambda: str(rng.randint(1, 60)))
        rec["issue_number"] = _maybe(rng, 0.7, lambda: str(rng.randint(1, 12)))
    if level and level.startswith("m"):
        rec["title_monographic"] = _titles(rng)
        rec["english_title_monographic"] = _maybe(rng, 0.3, lambda: _words(rng, 3, 6))
        rec["individual_author_monographic"] = [_author(rng, rid * 10 + 7)]
        rec["pages_monographic"] = rng.choice(["230 p.", "xv, 120", "12 p"])
        rec["publisher"] = rng.choice(["Editora\nSaúde", "OPAS", "Ministério"])
        rec["edition"] = rng.choice(["2 ed.", "1a\ned.", None])
        rec["publication_city"] = rng.choice(["São Paulo", "Lima", "Madrid"])
        rec["isbn"] = f"978-{rng.randint(100, 999)}"
    if level and level.startswith("c"):
        rec["title_collection"] = _titles(rng)
        rec["english_title_collection"] = _maybe(rng, 0.5, lambda: _words(rng, 2, 5))
        rec["corporate_author_collection"] = [{"text": f"Collective {rng.randint(1, 9)}"}]
    if level == "t":
        rec["thesis_dissertation_institution"] = "Universidade Federal"
        rec["thesis_dissertation_leader"] = [{"text": f"Leader {rng.randint(1, 9)}"}]
        rec["thesis_dissertation_academic_title"] = rng.choice(["Mestre", "Doutor"])
    if rng.random() < 0.25:
        rec["corporate_author"] = [{"text": f"Corp {rng.randint(1, 12)}"}]
    if not any(t.get("_i") == "en" for t in rec["title"]) and rng.random() < 0.5:
        rec["english_translated_title"] = _words(rng, 3, 8)
    if rng.random() < 0.1:
        rec["call_number"] = [{"text": f"WB {rng.randint(1, 99)}", "_a": "X;", "_b": "B"}]
    if rng.random() < 0.1:
        rec["local_descriptors"] = "saude\nplantas medicinais\n"
    if rng.random() < 0.08:
        rec["doi_number"] = f"10.1000/{rid}"
    if rng.random() < 0.08:
        rec["clinical_trial_registry_name"] = "ReBEC"
    if rng.random() < 0.1:
        rec["conference_name"] = f"Congress {rng.randint(1, 9)}"
        rec["conference_country"] = country[1]
        rec["conference_date"] = "2019"
    if rng.random() < 0.1:
        rec["project_name"] = f"Project {rng.randint(1, 9)}"
        rec["project_number"] = str(rng.randint(100, 999))
    if rng.random() < 0.1:
        rec["descriptive_information"] = [{"_b": "ilus, tab"}]
    if rng.random() < 0.12:
        rec["community"] = "BVS Brasil"
        rec["community_collection_path"] = [
            "Comunidade/Programas/pt-br/Tema Saude|Comunidade/Programas/en/Health Theme",
            "Comunidade/Alvo/pt/Grupo Jovem",
        ]
    if rng.random() < 0.05:
        rec["related_research"] = [f"rr-{rid}"]
    return rec


def landing_versions(seed: int, n_ids: int) -> list[dict]:
    """``n_ids`` distinct ids; every 7th comes in two versions and every
    21st in three, with distinct ``updated_time`` (the upsert case), so
    the record count does not depend on the seed. Versions are shuffled
    so the newest is not always last."""
    rng = random.Random(seed)
    out = []
    for k in range(n_ids):
        rid = k + 1
        n_ver = 3 if k % 21 == 0 else 2 if k % 7 == 0 else 1
        days = sorted(rng.sample(range(1, 10), n_ver))
        for d in days:
            out.append(fiadmin_record(rng, rid, f"2025-06-{d:02d}T{rng.randint(0, 23):02d}:00:00"))
    rng.shuffle(out)
    return out


def newest_versions(records: list[dict]) -> dict[int, dict]:
    latest: dict[int, dict] = {}
    for r in records:
        cur = latest.get(r["id"])
        if cur is None or r["updated_time"] > cur["updated_time"]:
            latest[r["id"]] = r
    return latest


def fiadmin_dim_rows(seed: int) -> dict[str, tuple[str, list[tuple]]]:
    """(ddl, rows) per dimension table the pipeline joins (FIXTURES §2)."""
    rng = random.Random(seed ^ 0x5EED)
    titles = [
        (f"{1000 + k}-{2000 + k}", f"Rev {k}", f"Revista {k}^s{k}", f"Rev Med {k}",
         [f"Journal {k}"], None, None, [rng.choice(_COUNTRIES)[1]])
        for k in range(40)
    ]
    decs = [
        (f"{k:06d}", f"Descriptor {k}", f"Descritor {k}", f"Descriptor es {k}", None,
         None, None, None, None, [f"syn{k}"], None, None, None, None)
        for k in range(1, 121)
    ]
    ie = [(db, [f"inst_{db.lower()}"], "c", [f"collection_{db.lower()}", ""]) for db in _DBS]
    dbie = [
        (name, [f"db_{k}"], [f"inst_j{k}"], [f"col_k{k}:v{k}", "plain"])
        for k, name in enumerate(_DATABASES)
    ]
    brisa = [([f"Corp {k}"], f"Corporation {k}" if k % 3 else "") for k in range(1, 13)]
    return {
        "tabpais": ("pt string, en string, es string, fr string, pais_2 string, sinonimo array<string>",
                    list(_COUNTRIES)),
        "title_current": (
            "issn string, shortened_title string, title string, medline_shortened_title string,"
            " parallel_titles array<string>, shortened_parallel_titles array<string>,"
            " other_titles array<string>, country array<string>", titles),
        "decs": (
            "mfn string, descritor_ingles string, descritor_portugues string,"
            " descritor_espanhol string, descritor_frances string,"
            " descritor_espanhol_espanha string, versao_alternativa_ingles string,"
            " versao_alternativa_espanhol string, versao_alternativa_portugues string,"
            " sinonimos_ingles array<string>, sinonimos_espanhol array<string>,"
            " sinonimos_portugues array<string>, sinonimos_espanha array<string>,"
            " sinonimos_frances array<string>", decs),
        "instance_ecollection": (
            "db string, instance array<string>, collection string, collection_instance array<string>", ie),
        "db_instance_ecollection": (
            "database_campo4 string, db array<string>, instance array<string>,"
            " collection_instance array<string>", dbie),
        "brisa_ai": ("ai1 array<string>, ai2 string", brisa),
    }


def temas_rows(seed: int, records: list[dict]) -> list[tuple]:
    """temas_bvs rows keyed by the iAHx id of a sample of the records
    (odd-length pairwise arrays included, FIXTURES §2.8)."""
    rng = random.Random(seed ^ 0x7E3A)
    out = []
    for r in sorted(newest_versions(records).values(), key=lambda r: r["id"]):
        if rng.random() >= 0.08:
            continue
        iahx = iahx_id(r)
        pairs = ["tema_a", f"v{rng.randint(1, 5)}", "tema_b"] if rng.random() < 0.2 else ["tema_a", f"v{rng.randint(1, 5)}"]
        out.append((iahx, "dbh", ["inst_h"], ["collection_hans"], pairs, None, None))
    return out


TEMAS_DDL = (
    "id_iahx string, db string, instance_iahx array<string>, collection_iahx array<string>,"
    " tema_subtema array<string>, tema array<string>, projeto array<string>"
)


def iahx_id(rec: dict) -> str:
    """The reference's id rule: ``lil-<LILACS_original_id>`` when that
    field is present and non-empty, else ``biblio-<id>``."""
    lil = rec.get("LILACS_original_id")
    return f"lil-{lil}" if lil else f"biblio-{rec['id']}"


def write_pages(records: list[dict], out_dir: str, limit: int) -> int:
    """Serve ``records`` as REST pages: one JSON file per ``limit``
    records, named by offset. Returns the total count."""
    os.makedirs(out_dir, exist_ok=True)
    for off in range(0, len(records), limit):
        with open(os.path.join(out_dir, f"{off:08d}.json"), "w", encoding="utf-8") as f:
            json.dump(records[off:off + limit], f, sort_keys=True)
    return len(records)


def ddl_names(ddl: str) -> list[str]:
    """Column names of a DDL string (commas inside <...> are not splits)."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(ddl[start:i].split()[0].strip("`"))
            start = i + 1
    return names


def write_table(path: str, ddl: str, rows: list[tuple]) -> None:
    """Stage a table as JSON lines; the pass reads it with ``ddl``."""
    names = ddl_names(ddl)
    with open(path, "w", encoding="utf-8") as f:
        for row in rows:
            f.write(json.dumps(dict(zip(names, row)), sort_keys=True, ensure_ascii=False))
            f.write("\n")


# --------------------------------------------------------------------------
# TMGL (FIXTURES §1.2, §2.4, §2.5)

# three regions, one of them with two countries: each region is one
# chart and each country one report, and the sinks run about ten Spark
# jobs per chart or report, which sets most of a pass's length
WHO_REGIONS = {
    "amro": ["Brazil", "Mexico"],
    "euro": ["France"],
    "searo": ["India"],
}
ISO = {
    "Brazil": "BR", "Mexico": "MX", "Peru": "PE", "Chile": "CL", "Cuba": "CU",
    "Canada": "CA", "Colombia": "CO", "France": "FR", "Spain": "ES",
    "Portugal": "PT", "Germany": "DE", "Italy": "IT", "India": "IN", "Nepal": "NP",
    "Thailand": "TH", "Sri Lanka": "LK", "China": "CN", "Japan": "JP",
    "Viet Nam": "VN", "Australia": "AU", "Nigeria": "NG", "Ghana": "GH",
    "Kenya": "KE", "South Africa": "ZA", "Egypt": "EG", "Iran": "IR", "Morocco": "MA",
}
TMGL_TYPES = ["article", "monography", "thesis", "non-conventional", "project document",
              "congress and conference", "video", "audio", "podcast", "database"]
TMGL_STUDY = ["systematic_reviews", "literature_review", "guideline", "clinical_trials",
              "overview", "diagnostic_studies", "observational_studies", "case_report"]
TMGL_LANGS = ["En", "en", "PT", "pt", "es", "fr", "zh", "ar"]
TMGL_DIMS = ["dim/one", "dim/two", "dim/three", "nomatch", "Mental Health/Stress"]
TMGL_AREAS = [("dim/one", "Dimension One"), ("dim/two", "Dimension Two"),
              ("dim/three", "Dimension Three"), ("therapy/herbal", "Herbal")]
TMGL_DECS = [(f"{k:06d}", f"Subject {k}") for k in range(1, 41)]


def who_region_rows() -> list[tuple]:
    return [
        (region, c, c, [ISO[c], c.lower()[:3] + "x"])
        for region, cs in WHO_REGIONS.items() for c in cs
    ]


WHO_DDL = "who_region string, pais_en string, pais_tmgl string, pais_sinonimo array<string>"
AREAS_DDL = "code_xml string, label_en string"
DECS_DDL = "mfn string, descritor_ingles string"


def tmgl_doc(rng: random.Random, doc_id: str) -> dict[str, list[str]]:
    """One iAHx doc as {field: [values]} (every value a string)."""
    countries = [c for cs in WHO_REGIONS.values() for c in cs]
    cp = rng.sample(countries, rng.choice((0, 1, 1, 1, 2, 2, 3)))
    if rng.random() < 0.05:
        cp.append("Atlantis")  # not in the dimension: no slice
    if cp and rng.random() < 0.05:
        cp.append(" " + cp[0].upper() + " ")  # same country, other spelling
    region_of = {c: r for r, cs in WHO_REGIONS.items() for c in cs}
    year = rng.randint(1985, 2025)
    doc = {
        "id": [doc_id],
        "instance": ["tmgl"] if rng.random() < 0.95 else ["regional"],
        "dp": [rng.choice([str(year), f"Jan-Mar {year}", f"c{year}", f"{year}-{year + 1}",
                           "s.d.", "1499"]) if rng.random() < 0.97 else ""],
        "la": rng.sample(TMGL_LANGS, rng.randint(1, 2)),
        "ta": rng.sample(["J Trad Med", "Acta Medica", "Rev Saude", "Phytotherapy"], rng.randint(0, 1)),
        "type": rng.sample(TMGL_TYPES, rng.randint(1, 2)),
        "type_of_study": rng.sample(TMGL_STUDY, rng.randint(0, 2)),
        "mj": [rng.choice([f"^d{rng.randint(1, 50)}^s{rng.randint(1, 9)}", "no_digits",
                           f"^d{rng.randint(1, 40):05d}"]) for _ in range(rng.randint(0, 2))],
        "tag_dimentions": rng.sample(TMGL_DIMS, rng.randint(0, 2)),
        "tag_mtc_tema2": rng.sample(["comp_a", "comp_b", "comp_c"], rng.randint(0, 1)),
        "tag_mtc_tema3": rng.sample(["therapy/herbal", "therapy/acu", "x"], rng.randint(0, 1)),
        "traditional_medicines_cluster": rng.sample(["cluster_x", "cluster_y"], rng.randint(0, 1)),
        "who_regions": [f"{region_of[c]}/{c.replace(' ', '_')}" for c in cp if c in region_of],
        "cp": cp,
        "pais_afiliacao": [f"^i{c}^e{c}^p{c}" for c in cp],
    }
    if rng.random() < 0.4:
        doc["fulltext"] = ["1"]
    return {k: v for k, v in doc.items() if v}


def write_tmgl_dumps(seed: int, n_docs: int, n_files: int, out_dir: str) -> list[dict]:
    """Write ``n_files`` <add> dumps holding ``n_docs`` docs in total and
    return the docs the ingest must keep: instance 'tmgl', first
    occurrence of an id within a file (S10). ~2% of docs are repeated
    later in the same file with other values (they must be dropped)."""
    rng = random.Random(seed ^ 0x7A61)
    os.makedirs(out_dir, exist_ok=True)
    kept = []
    for fno in range(n_files):
        docs = []
        for k in range(fno, n_docs, n_files):
            docs.append(tmgl_doc(rng, f"tmgl-{k}"))
        dups = [tmgl_doc(rng, d["id"][0]) for d in docs if rng.random() < 0.02]
        parts = ['<?xml version="1.0" encoding="UTF-8"?>\n<add>\n']
        for d in docs + dups:
            parts.append("<doc>\n")
            for name, values in d.items():
                for v in values:
                    parts.append(f'  <field name="{name}">{escape(v)}</field>\n')
            parts.append("</doc>\n")
        parts.append("</add>\n")
        with open(os.path.join(out_dir, f"dump-{fno:04d}.xml"), "w", encoding="utf-8") as f:
            f.write("".join(parts))
        kept.extend(d for d in docs if "tmgl" in d.get("instance", []))
    return kept


# --------------------------------------------------------------------------
# dedup corpus (bibliographic title + abstract text)


def _bib_text(rng: random.Random) -> str:
    return (_words(rng, 6, 12).capitalize() + ". " + _words(rng, 40, 90) + ".")


def near_copy(rng: random.Random, text: str) -> str:
    """Change ~3% of the words: Jaccard over word 3-shingles stays far
    above the 0.5 threshold."""
    words = text.split(" ")
    for _ in range(max(1, len(words) // 40)):
        words[rng.randrange(len(words))] = rng.choice(_WORDS) + "x"
    return " ".join(words)


def dedup_corpus(seed: int, n: int) -> list[tuple[str, str]]:
    rng = random.Random(seed ^ 0xDED0)
    return [(f"c{k:07d}", _bib_text(rng)) for k in range(n)]


def dedup_increment(
    seed: int, pass_no: int, n: int, corpus: list[tuple[str, str]],
    exact_share: float, near_share: float,
) -> tuple[list[tuple[str, str]], set[str], set[str]]:
    """One increment of ``n`` docs: an ``exact_share`` are byte copies of
    corpus docs, a ``near_share`` are near copies of corpus docs, the
    rest fresh. Returns (docs, planted exact ids, planted near ids)."""
    rng = random.Random((seed << 20) ^ (pass_no * 7919) ^ 0x1C4E)
    docs, exact, near = [], set(), set()
    for k in range(n):
        did = f"p{pass_no:04d}-{k:06d}"
        r = rng.random()
        if r < exact_share:
            docs.append((did, rng.choice(corpus)[1]))
            exact.add(did)
        elif r < exact_share + near_share:
            docs.append((did, near_copy(rng, rng.choice(corpus)[1])))
            near.add(did)
        else:
            docs.append((did, _bib_text(rng)))
    return docs, exact, near


def digest(path: str | None, *objects) -> str:
    """sha256 over the files at ``path`` (a file or a tree: relative names
    and bytes) and the JSON form of ``objects``."""
    h = hashlib.sha256()
    if path is not None:
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns)
        for p in files:
            h.update(os.path.relpath(p, os.path.dirname(path)).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    h.update(json.dumps(objects, sort_keys=True, ensure_ascii=False).encode())
    return h.hexdigest()
