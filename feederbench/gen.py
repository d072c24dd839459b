"""Seeded input generators, one per workload.

Every generator is a pure function of (workload, seed): the same seed
writes byte-identical inputs. Sizes are fixed per workload; the seed
changes content (keys, values, which rows carry blanks), never how many
rows a batch holds, so runs on different seeds do the same amount of
work.

Each generator also writes its own copy of the rows (parquet) and a
manifest; `check.py` replays the pipeline over that copy in DuckDB.

    python3 feederbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import sys
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# sizes
# ---------------------------------------------------------------------------

WAVE_ARCHIVES = 16
WAVE_ROWS_PER_ARCHIVE = 750
WAVE_KNOWN_SHARE = 0.30       # share of the wave's loadable phones already in recruits_log
RECRUITS_OTHER_WAVES = 20_000  # recruits_log rows that belong to other waves

UPSERT_PRELOAD = 20_000       # rows in the results table before every batch
UPSERT_PAGES = 12
UPSERT_ROWS_PER_PAGE = 400
UPSERT_FILES = 40             # DateRepair groups ("files" of the reference)

REG_PARTS = 1_500
REG_ORDERS = 3_000
REG_TEMPLATES = 400
REG_DOCS = 300

# ---------------------------------------------------------------------------
# minimal XLSX writer (single sheet, shared strings, sparse null cells)
# ---------------------------------------------------------------------------


def _xml(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;").replace('"', "&quot;"))


def _col_name(i):
    n, out = i + 1, ""
    while n > 0:
        n, rem = divmod(n - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def xlsx_bytes(header, rows):
    """Workbook bytes; `rows` holds str (shared string), int/float
    (numeric cell, NaN written as the text NaN) or None (no cell)."""
    shared = {}

    def sidx(s):
        if s not in shared:
            shared[s] = len(shared)
        return shared[s]

    cols = [_col_name(i) for i in range(len(header))]
    parts = []
    for ri, cells in enumerate([header] + rows):
        r = ri + 1
        cs = []
        for ci, v in enumerate(cells):
            if v is None:
                continue
            ref = f"{cols[ci]}{r}"
            if isinstance(v, str):
                cs.append(f'<c r="{ref}" t="s"><v>{sidx(v)}</v></c>')
            elif isinstance(v, float):
                cs.append(f'<c r="{ref}"><v>{"NaN" if v != v else repr(v)}</v></c>')
            else:
                cs.append(f'<c r="{ref}"><v>{int(v)}</v></c>')
        parts.append(f'<row r="{r}">{"".join(cs)}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006"
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    sis = "".join(f'<si><t xml:space="preserve">{_xml(s)}</t></si>' for s in shared)
    files = {
        "[Content_Types].xml":
            f'<?xml version="1.0" encoding="UTF-8"?><Types xmlns="{pkg}/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="{ct}.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="{ct}.worksheet+xml"/>'
            f'<Override PartName="/xl/sharedStrings.xml" ContentType="{ct}.sharedStrings+xml"/>'
            '</Types>',
        "_rels/.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" xmlns:r="{rel}">'
            '<sheets><sheet name="Results" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}"><sheetData>'
            + "".join(parts) + "</sheetData></worksheet>",
        "xl/sharedStrings.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><sst xmlns="{ns}" count="{len(shared)}" '
            f'uniqueCount="{len(shared)}">{sis}</sst>',
    }
    return _zip_bytes(files)


def _zip_bytes(files):
    import io
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in files.items():
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body if isinstance(body, bytes) else body.encode("utf-8"))
    return buf.getvalue()


# ---------------------------------------------------------------------------
# feeder, wave path: a survey-wave export as zipped XLSX + recruits_log fixture
# ---------------------------------------------------------------------------

WAVE_COLUMNS = ["id", "project", "phone", "result_code", "ivdate", "age",
                "name", "region", "score", "duration_s", "operator", "q1"]
FIRST = ["Анна", "Иван", "Мария", "Пётр", "Ольга", "Сергей", "Елена", "Дмитрий",
         "Наталья", "Алексей", "Татьяна", "Николай"]
LAST = ["Иванова", "Смирнов", "Кузнецова", "Попов", "Васильева", "Петров",
        "Соколова", "Михайлов", "Новикова", "Фёдоров"]
REGIONS = ["Москва", "Санкт-Петербург", "Новосибирск", "Екатеринбург", "Казань",
           "Нижний Новгород", "Самара", "Омск"]


def _phone(n):
    return "+7" + str(int(n)).zfill(10)


def _pick_exact(rng, n, share):
    """Exactly round(n * share) distinct indices — a fixed count, so every
    seed plants the same number of cases."""
    return set(rng.choice(n, size=int(round(n * share)), replace=False).tolist())


def gen_wave(seed, out):
    rng = np.random.default_rng(seed)
    n = WAVE_ARCHIVES * WAVE_ROWS_PER_ARCHIVE
    wave = int(rng.integers(10, 100))
    project = f"CATI_W{wave:02d}"
    ids = rng.permutation(n) + int(rng.integers(1, 1_000_000)) * 10
    phones = rng.choice(9_000_000_000, size=n, replace=False) + 1_000_000_000
    # exact shares: every seed rejects, dedups and loads the same counts
    codes = rng.permutation(np.array(["F"] * (n // 2) + ["O"] * (n // 5)
                                     + ["P"] * (n - n // 2 - n // 5)))
    t0 = dt.datetime(2023, 1, 1)
    secs = rng.integers(0, 365 * 86400, size=n)
    ages = rng.integers(18, 91, size=n)
    scores = np.round(rng.uniform(0, 100, size=n), 2)
    durations = rng.integers(60, 3600, size=n)
    q1 = rng.integers(1, 6, size=n)
    huge_age = _pick_exact(rng, n, 0.03)
    no_age = _pick_exact(rng, n, 0.03)
    long_name = _pick_exact(rng, n, 0.05)
    blank_name = _pick_exact(rng, n, 0.05)
    no_name = _pick_exact(rng, n, 0.03)
    nan_score = _pick_exact(rng, n, 0.05)
    no_score = _pick_exact(rng, n, 0.03)
    blank_region = _pick_exact(rng, n, 0.05)
    no_region = _pick_exact(rng, n, 0.03)
    no_date = _pick_exact(rng, n, 0.02)
    no_q1 = _pick_exact(rng, n, 0.10)
    rows = []
    for i in range(n):
        name = f"{FIRST[(i * 7 + int(ids[i])) % len(FIRST)]} {LAST[int(phones[i]) % len(LAST)]}"
        if i in long_name:
            name = (name + " ") * (1 + 110 // len(name)) + "оглы"
        if i in blank_name:
            name = "   "
        rows.append([
            int(ids[i]), project, _phone(phones[i]), str(codes[i]),
            None if i in no_date else
            (t0 + dt.timedelta(seconds=int(secs[i]))).strftime("%d.%m.%Y %H:%M:%S"),
            None if i in no_age else
            (int(rng.integers(32768, 100_000)) if i in huge_age else int(ages[i])),
            None if i in no_name else name,
            None if i in no_region else ("  " if i in blank_region
                                         else REGIONS[int(phones[i] // 7) % len(REGIONS)]),
            None if i in no_score else (float("nan") if i in nan_score else float(scores[i])),
            int(durations[i]), f"op{int(ids[i]) % 37:03d}",
            None if i in no_q1 else int(q1[i]),
        ])
    wave_dir = os.path.join(out, "wave")
    os.makedirs(wave_dir, exist_ok=True)
    total_bytes = 0
    for a in range(WAVE_ARCHIVES):
        chunk = rows[a * WAVE_ROWS_PER_ARCHIVE:(a + 1) * WAVE_ROWS_PER_ARCHIVE]
        body = _zip_bytes({f"{project}_part{a:02d}.xlsx": xlsx_bytes(WAVE_COLUMNS, chunk)})
        with open(os.path.join(wave_dir, f"{project}_part{a:02d}.zip"), "wb") as f:
            f.write(body)
        total_bytes += len(body)
    schema = pa.schema([("id", pa.int64()), ("project", pa.string()), ("phone", pa.string()),
                        ("result_code", pa.string()), ("ivdate", pa.string()),
                        ("age", pa.int64()), ("name", pa.string()), ("region", pa.string()),
                        ("score", pa.float64()), ("duration_s", pa.int64()),
                        ("operator", pa.string()), ("q1", pa.int64())])
    pq.write_table(pa.Table.from_pylist([dict(zip(WAVE_COLUMNS, r)) for r in rows], schema),
                   os.path.join(out, "wave_rows.parquet"))
    # recruits_log: a fixed share of this wave's phones, plus other waves'
    # rows (some reuse this wave's phones, so only the wave predicate
    # keeps them from deduping)
    kept = np.flatnonzero(codes != "O")
    known = sorted(rng.choice(kept, size=int(round(len(kept) * WAVE_KNOWN_SHARE)),
                              replace=False).tolist())
    other_waves = np.array([w for w in range(10, 100) if w != wave])
    other_phones = np.concatenate([
        rng.choice(phones, size=RECRUITS_OTHER_WAVES // 10, replace=False),
        rng.choice(9_000_000_000, size=RECRUITS_OTHER_WAVES - RECRUITS_OTHER_WAVES // 10,
                   replace=False) + 1_000_000_000])
    rec = [(_phone(phones[i]), wave) for i in known] + \
          [(_phone(p), int(w)) for p, w in zip(other_phones,
                                              rng.choice(other_waves, size=len(other_phones)))]
    order = rng.permutation(len(rec))
    with open(os.path.join(out, "recruits_log.tsv"), "w") as f:
        for k in order:
            f.write(f"{rec[k][0]}\t{rec[k][1]}\n")
    pq.write_table(pa.table({"phone": [r[0] for r in rec], "wave": [r[1] for r in rec]},
                            schema=pa.schema([("phone", pa.string()), ("wave", pa.int32())])),
                   os.path.join(out, "recruits_log.parquet"))
    return {"wave": wave, "project": project, "archives": WAVE_ARCHIVES,
            "archive_bytes": total_bytes, "export_rows": n, "recruits_rows": len(rec)}


# ---------------------------------------------------------------------------
# feeder, upsert path: preloaded results table + corrections feed as TSV pages
# ---------------------------------------------------------------------------

UPSERT_DDL = ("id BIGINT, kind STRING, file_id BIGINT, row_no BIGINT, ivts STRING, "
              "q5010 BIGINT, q5011 STRING")


def gen_upsert(seed, out):
    rng = np.random.default_rng(seed)
    base = int(rng.integers(1, 1000)) * 100_000
    pre_ids = np.arange(base, base + UPSERT_PRELOAD)
    t0 = dt.datetime(2023, 1, 1)

    def ts(s):
        return (t0 + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")

    pre_q5010 = rng.integers(1, 10, size=UPSERT_PRELOAD)
    pre_q5011 = [ts(s) for s in rng.integers(0, 300 * 86400, size=UPSERT_PRELOAD)]
    with open(os.path.join(out, "results.tsv"), "w") as f:
        for i in range(UPSERT_PRELOAD):
            f.write(f"{pre_ids[i]}\t{pre_q5010[i]}\t{pre_q5011[i]}\n")
    pq.write_table(pa.table({"id": pre_ids, "q5010": pre_q5010.astype(np.int64),
                             "q5011": pre_q5011}),
                   os.path.join(out, "results.parquet"))
    # corrections: 2/3 merged (3/4 of them existing ids, 1/4 new), 1/3
    # keyed updates of existing ids
    n = UPSERT_PAGES * UPSERT_ROWS_PER_PAGE
    n_merge = 2 * n // 3
    n_insert = n_merge // 4
    existing = rng.choice(pre_ids, size=n - n_insert, replace=False)
    fresh = np.arange(base + UPSERT_PRELOAD, base + UPSERT_PRELOAD + n_insert)
    ids = np.concatenate([existing, fresh])
    kinds = np.array(["m"] * (n_merge - n_insert) + ["u"] * (n - n_merge) + ["m"] * n_insert)
    perm = rng.permutation(n)
    ids, kinds = ids[perm], kinds[perm]
    order = np.argsort(ids, kind="stable")  # pages are key-ordered
    ids, kinds = ids[order], kinds[order]
    file_id = rng.integers(0, UPSERT_FILES, size=n)
    row_no = rng.permutation(n)
    iv = rng.integers(0, 300 * 86400, size=n)
    # per file: recruit dates shifted one month back (the reference's
    # month offset) on even files; some recruit dates missing
    rows = []
    missing = _pick_exact(rng, n, 0.08)
    for i in range(n):
        ivd = t0 + dt.timedelta(seconds=int(iv[i]))
        rec = ivd - dt.timedelta(days=int(rng.integers(0, 3)))
        if file_id[i] % 2 == 0:
            m = rec.month - 1 or 12
            rec = rec.replace(year=rec.year - (rec.month == 1), month=m, day=min(rec.day, 28))
        rows.append({"id": int(ids[i]), "kind": str(kinds[i]), "file_id": int(file_id[i]),
                     "row_no": int(row_no[i]), "ivts": ivd.strftime("%Y-%m-%d %H:%M:%S"),
                     "q5010": int(rng.integers(1, 10)),
                     "q5011": None if i in missing else rec.strftime("%Y-%m-%d %H:%M:%S")})
    pages = os.path.join(out, "pages")
    os.makedirs(pages, exist_ok=True)
    total_bytes = 0
    cols = ["id", "kind", "file_id", "row_no", "ivts", "q5010", "q5011"]
    for p in range(UPSERT_PAGES):
        lines = []
        for r in rows[p * UPSERT_ROWS_PER_PAGE:(p + 1) * UPSERT_ROWS_PER_PAGE]:
            lines.append("\t".join("\\N" if r[c] is None else str(r[c]) for c in cols))
        body = ("\n".join(lines) + "\n").encode("utf-8")
        with open(os.path.join(pages, f"page-{p:05d}.tsv"), "wb") as f:
            f.write(body)
        total_bytes += len(body)
    with open(os.path.join(pages, "_PAGES"), "w") as f:
        f.write(f"pages={UPSERT_PAGES}\n")
    pq.write_table(pa.Table.from_pylist(rows, pa.schema(
        [("id", pa.int64()), ("kind", pa.string()), ("file_id", pa.int64()),
         ("row_no", pa.int64()), ("ivts", pa.string()), ("q5010", pa.int64()),
         ("q5011", pa.string())])), os.path.join(out, "corrections.parquet"))
    return {"preload": UPSERT_PRELOAD, "preload_max_id": int(base + UPSERT_PRELOAD - 1),
            "pages": UPSERT_PAGES, "page_bytes": total_bytes, "correction_rows": n,
            "merge_rows": n_merge, "insert_rows": n_insert, "update_rows": n - n_merge,
            "files": UPSERT_FILES, "ddl": UPSERT_DDL}


# ---------------------------------------------------------------------------
# registry_hot: a seeded derivation of a fixed synthetic base
# ---------------------------------------------------------------------------

WORDS = ("survey wave respondent answer interview phone region result status "
         "operator quota sample panel weight record field question option scale "
         "market brand price store order basket customer retail supply product "
         "river forest mountain valley ocean desert island harbor bridge tower "
         "garden kitchen window letter winter summer autumn spring morning evening "
         "signal network server client packet socket thread kernel buffer stream").split()


def _base_registry():
    """The fixed base tables (seed 0): structure every derivation shares."""
    rng = np.random.default_rng(0)
    pk = np.arange(1, REG_PARTS + 1)
    part = {
        "p_partkey": pk,
        "p_name": [f"part {WORDS[i % len(WORDS)]} {i}" for i in pk],
        "p_brand": [f"Brand#{1 + i % 5}{1 + i % 7}" for i in pk],
        "p_type": [["STANDARD", "SMALL", "MEDIUM", "LARGE"][i % 4] + " BRUSHED TIN" for i in pk],
        "p_size": (1 + pk % 50).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 2001) / 10.0 + rng.uniform(0, 1, REG_PARTS), 2),
    }
    # basket templates over a skewed part popularity, so part pairs recur
    pop = 1.0 / np.arange(1, REG_PARTS + 1) ** 0.8
    pop /= pop.sum()
    templates = [rng.choice(pk, size=int(rng.integers(3, 7)), replace=False, p=pop)
                 for _ in range(REG_TEMPLATES)]
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    t0 = dt.datetime(1995, 1, 1)
    for ok in range(1, REG_ORDERS + 1):
        basket = list(templates[int(rng.integers(0, REG_TEMPLATES))])
        if rng.uniform() < 0.5:
            basket[int(rng.integers(0, len(basket)))] = int(rng.choice(pk, p=pop))
        basket = list(dict.fromkeys(int(p) for p in basket))[:7]  # orders hold <= 7 lines
        for ln, p in enumerate(basket, 1):
            q = float(rng.integers(1, 51))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(p)
            li["l_suppkey"].append(1 + (p * 7 + ln) % 100)
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * float(part["p_retailprice"][p - 1]), 2))
            li["l_discount"].append(round(float(rng.integers(0, 11)) / 100, 2))
            li["l_tax"].append(round(float(rng.integers(0, 9)) / 100, 2))
            li["l_returnflag"].append("RAN"[int(rng.integers(0, 3))])
            li["l_linestatus"].append("OF"[int(rng.integers(0, 2))])
            li["l_shipdate"].append(t0 + dt.timedelta(days=int(rng.integers(0, 2000))))
    # documents: word texts; planted near-duplicates (a few words edited),
    # exact duplicates up to case/whitespace, and gate violators
    texts = []
    for d in range(REG_DOCS):
        r = d % 20
        if r == 7 and d >= 20:     # near-dup of an earlier doc
            w = texts[d - 13].split()
            for _ in range(2):
                w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        elif r == 11 and d >= 20:  # exact dup after normalization
            texts.append("  " + texts[d - 5].upper().replace(" ", "   ") + " ")
        elif r == 13:              # gate violator: too short
            texts.append("short note " + WORDS[d % len(WORDS)])
        elif r == 17:              # gate violator: digit heavy
            texts.append(" ".join(str(int(x)) for x in rng.integers(1000, 99999, size=40)))
        else:
            texts.append(" ".join(WORDS[int(i)] for i in
                                  rng.integers(0, len(WORDS), size=int(rng.integers(30, 160)))))
    docs = {"doc_id": np.arange(1, REG_DOCS + 1), "text": texts,
            "lang": [["en", "ru", "de"][d % 3] for d in range(REG_DOCS)],
            "source": [["web", "forum", "news", "wiki"][d % 4] for d in range(REG_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    return part, li, docs


def gen_registry(seed, out):
    """Key shift + row shuffle of the fixed base. Shifts are per key
    family and applied to every table that carries the key, so joins keep
    their partners; orders keep <= 7 lineitems; doc ids stay below 1e7
    (under the 1e8 shift the duplicate corpus adds)."""
    part, li, docs = _base_registry()
    rng = np.random.default_rng(seed)
    sp = int(rng.integers(0, 1_000_000))
    so = int(rng.integers(0, 10_000_000))
    sd = int(rng.integers(0, 9_000_000))
    part = dict(part, p_partkey=part["p_partkey"] + sp)
    li = dict(li, l_orderkey=np.array(li["l_orderkey"]) + so,
              l_partkey=np.array(li["l_partkey"]) + sp)
    docs = dict(docs, doc_id=docs["doc_id"] + sd)

    def write(name, cols, schema):
        t = pa.table(cols, schema=schema)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
        return t.num_rows

    n_part = write("part", part, pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    n_li = write("lineitem", li, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))]))
    n_docs = write("documents", docs, pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))
    return {"part": n_part, "lineitem": n_li, "documents": n_docs,
            # rows the four queries scan per pass: hyperanf and gearys read
            # lineitem, gearys also part, canonical_pick and corpus_build
            # read documents
            "pass_input_rows": 2 * n_li + n_part + 2 * n_docs}


def gen_feeder(seed, out):
    """Both feeder inputs side by side: the wave export with its
    recruits_log, and the corrections feed with its results table."""
    wave, upsert = gen_wave(seed, out), gen_upsert(seed, out)
    assert not set(wave) & set(upsert), set(wave) & set(upsert)
    return dict(wave, **upsert)


GENERATORS = {"feeder": gen_feeder, "registry_hot": gen_registry}


def generate(workload, seed, out):
    """Write the inputs for (workload, seed) under `out` unless a complete
    copy is already there; returns the manifest."""
    done = os.path.join(out, "manifest.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    manifest = dict(GENERATORS[workload](seed, out), workload=workload, seed=seed)
    with open(done + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(done + ".tmp", done)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
