"""Correctness checks: DuckDB replays each workload's pipeline over the
generator's own copy of the rows, and the program's output is
hash-compared with it.

- feeder: the Derby table the wave was appended into, and the Derby
  results table after merge + update, both read back.
- registry_hot: each query's output against its registered oracle SQL
  (`SparkEntry.oracleSql`), run on the generated parquet files.

Rows compare as multisets after canonicalization: columns by name, cells
normalized (NaN and NULL alike, integral floats as ints), rows sorted.
"""
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq


def wave_sql(wave):
    return f"""
SELECT id, phone, CAST(right(project, 2) AS INTEGER) AS wave,
  CASE WHEN result_code = 'F' THEN 'full' ELSE 'partial' END AS result,
  CASE WHEN result_code = 'F' THEN 'complete' ELSE 'interrupted' END AS status,
  strftime(strptime(ivdate, '%d.%m.%Y %H:%M:%S'), '%Y-%m-%d') AS ivdate,
  least(age, 32767) AS age,
  substring(CASE WHEN trim(name) = '' THEN NULL ELSE name END, 1, 100) AS name,
  CASE WHEN trim(region) = '' THEN NULL ELSE region END AS region,
  CASE WHEN isnan(score) THEN NULL ELSE score END AS score,
  duration_s, operator, q1
FROM wave_rows w
WHERE result_code <> 'O'
  AND NOT EXISTS (SELECT 1 FROM recruits_log r WHERE r.wave = {int(wave)} AND r.phone = w.phone)
"""


UPSERT_SQL = """
WITH f AS (
  SELECT *, CAST(strptime(ivts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS t FROM corrections),
flags AS (
  SELECT file_id, month(arg_min(t, row_no)) AS iv_month,
    arg_min(CAST(substring(q5011, 6, 2) AS INT), row_no)
      FILTER (WHERE q5011 IS NOT NULL) AS rec_month
  FROM f GROUP BY file_id),
rep AS (
  SELECT f.id, f.kind, f.q5010,
    CASE WHEN f.q5011 IS NULL THEN strftime(f.t, '%Y-%m-%d %H:%M:%S')
         WHEN coalesce(fl.rec_month <> fl.iv_month, false)
           THEN substring(f.q5011, 1, 5)
                || lpad(CAST(CAST(substring(f.q5011, 6, 2) AS INT) + 1 AS VARCHAR), 2, '0')
                || substring(f.q5011, 8, 12)
         ELSE f.q5011 END AS q5011
  FROM f JOIN flags fl USING (file_id))
SELECT p.id, coalesce(r.q5010, p.q5010) AS q5010,
  CASE WHEN r.kind = 'm' THEN r.q5011 ELSE p.q5011 END AS q5011
FROM results p LEFT JOIN rep r ON r.id = p.id
UNION ALL
SELECT r.id, r.q5010, r.q5011 FROM rep r
WHERE r.kind = 'm' AND NOT EXISTS (SELECT 1 FROM results p WHERE p.id = r.id)
"""


def _con(data, tables):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def expectations(workload, data, manifest):
    """Per-batch facts the harness checks after every batch."""
    if workload == "feeder":
        con = _con(data, ["wave_rows", "recruits_log"])
        n = con.execute(f"SELECT count(*) FROM ({wave_sql(manifest['wave'])})").fetchone()[0]
        return {"expect_new": n}
    return {}


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if v != v:
            return None
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, str)):
        return v
    return str(v)


def canonical(table):
    """(column names, sorted row tuples) of a pyarrow table or a DuckDB
    relation's arrow result."""
    names = [c.lower() for c in table.column_names]
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [[_cell(v) for v in table.column(i).to_pylist()] for i in order]
    rows = sorted(zip(*cols), key=lambda r: tuple((x is None, repr(x)) for x in r))
    return [names[i] for i in order], rows


def digest(names, rows):
    return hashlib.sha256(repr((names, rows)).encode("utf-8")).hexdigest()


def compare(name, got, want):
    """(name, ok, message): hash compare, and on mismatch the first
    differing row of each side."""
    gn, gr = canonical(got)
    wn, wr = canonical(want)
    if digest(gn, gr) == digest(wn, wr):
        return name, True, f"{len(gr)} rows match ({digest(gn, gr)[:12]})"
    if gn != wn:
        return name, False, f"columns differ: got {gn}, want {wn}"
    extra = sorted(set(gr) - set(wr), key=repr)[:1]
    missing = sorted(set(wr) - set(gr), key=repr)[:1]
    return name, False, (f"{len(gr)} rows vs {len(wr)} expected; "
                         f"unexpected {extra}, missing {missing}")


def verify(workload, data, out, manifest):
    if workload == "feeder":
        con = _con(data, ["wave_rows", "recruits_log", "results", "corrections"])
        appended = con.execute(wave_sql(manifest["wave"])).arrow()
        upserted = con.execute(UPSERT_SQL).arrow()
        return [compare("appended_table", pq.read_table(f"{out}/appended"), appended),
                compare("upserted_table", pq.read_table(f"{out}/upserted"), upserted)]
    con = _con(data, ["lineitem", "part", "documents"])
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    checks = []
    for key, sql in oracle.items():
        try:
            want = con.execute(sql).arrow()
        except duckdb.Error as e:
            checks.append((key, False, f"oracle SQL failed: {e}"))
            continue
        checks.append(compare(key, pq.read_table(f"{out}/queries/{key}"), want))
    return checks
