"""Output checks, run untimed after the runner JVM exits. Each check returns a
list of problems (empty means the output is correct); the caller counts a
call with any problem as failed.

- explore: DuckDB re-counts every series against the returned edges with
  PySpark `RDD.histogram` semantics (rdd.py:2214-2366): null and NaN are
  dropped, values outside the edges are dropped, the last bin is closed,
  and min == max gives the single bin [v, v].
- ingest: every drop names a smaller id with Jaccard >= 0.8, the drops are a
  subset of the exact tier's drops, and the folded registry equals the
  registry built in one go over the ingested prefix.
"""
import math

import duckdb
import pyarrow.parquet as pq

THRESHOLD = 0.8


def connect(data_dir, tables):
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def read_rows(path):
    """Rows of a parquet directory (or file) as dicts, in file order."""
    return pq.read_table(path).to_pylist()


def dlit(v):
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


# ------------------------------------------------------------------ explore

def _clean(s):
    """SQL for the non-null, non-NaN values of one series as column x."""
    t, c = s[0], s[1]
    where = f" AND ({s[2]})" if len(s) > 2 else ""
    return (f"SELECT CAST({c} AS DOUBLE) AS x FROM {t} "
            f"WHERE {c} IS NOT NULL AND NOT isnan(CAST({c} AS DOUBLE)){where}")


def expected_edges(con, series, call):
    """Bin edges per rdd.py:2270-2312 for a count (data-derived or explicit
    range) and rdd.py:2314-2342 for explicit edges."""
    if call.get("edges"):
        return [float(e) for e in call["edges"]]
    if call.get("range"):
        lo, hi = map(float, call["range"])
    else:
        union = " UNION ALL ".join(_clean(s) for s in series)
        lo, hi = con.sql(f"SELECT min(x), max(x) FROM ({union})").fetchone()
    n = int(call.get("bins") or 10)
    if lo == hi or n == 1:
        return [lo, hi]
    inc = (hi - lo) / n
    return [i * inc + lo for i in range(n)] + [hi]


def recount(con, s, edges, group=None):
    """{bin: count} (or {(group, bin): count}) of series `s` against `edges`."""
    n = len(edges) - 1
    lo, hi = edges[0], edges[-1]
    steps = [b - a for a, b in zip(edges, edges[1:])]
    if n == 1:
        b = "0"
    elif max(steps) - min(steps) < 1e-10:
        inc = (hi - lo) / n
        b = f"LEAST(CAST(floor((x - {dlit(lo)}) / {dlit(inc)}) AS BIGINT), {n - 1})"
    else:
        whens = " ".join(f"WHEN x < {dlit(e)} THEN {i}" for i, e in enumerate(edges[1:-1]))
        b = f"CASE {whens} ELSE {n - 1} END"
    if group is None:
        src = _clean(s)
        key = f"{b} AS b"
    else:
        src = _clean(s).replace("SELECT ", f"SELECT {group} AS g, ", 1)
        key = f"g, {b} AS b"
    rows = con.sql(f"SELECT {key}, count(*) FROM ({src}) "
                   f"WHERE x >= {dlit(lo)} AND x <= {dlit(hi)} GROUP BY ALL").fetchall()
    return {tuple(r[:-1]) if group else r[0]: r[-1] for r in rows}


def check_explore(con, call, rows):
    api = call["api"]
    if api == "minMax":
        return _check_minmax(con, call, rows)
    if api == "histogramBy":
        return _check_grouped(con, call, rows)
    series = call["series"]
    edges = expected_edges(con, series, call)
    n = len(edges) - 1
    problems = []
    if [r["bin_id"] for r in rows] != list(range(n)):
        return [f"bin ids {[r['bin_id'] for r in rows]} != 0..{n - 1}"]
    for i, r in enumerate(rows):
        if api == "distplot":
            if r["bin_center"] != (edges[i] + edges[i + 1]) / 2:
                problems.append(f"bin {i}: center {r['bin_center']!r} for edges {edges[i]!r}, {edges[i + 1]!r}")
        elif (r["bin_lo"], r["bin_hi"]) != (edges[i], edges[i + 1]):
            problems.append(f"bin {i}: edges ({r['bin_lo']!r}, {r['bin_hi']!r}) != ({edges[i]!r}, {edges[i + 1]!r})")
    cnt_cols = [k for k in rows[0] if k.endswith("cnt")] if rows else []
    if len(cnt_cols) != len(series):
        return problems + [f"{len(cnt_cols)} count columns for {len(series)} series"]
    for s, c in zip(series, cnt_cols):
        want = recount(con, s, edges)
        got = [r[c] for r in rows]
        exp = [want.get(i, 0) for i in range(n)]
        if got != exp:
            problems.append(f"series {s} column {c}: counts {got} != {exp}")
    return problems


def _check_grouped(con, call, rows):
    s = [call["table"], call["value"]]
    g = call["group"]
    edges = expected_edges(con, [s], call)
    n = len(edges) - 1
    want = recount(con, s, edges, group=g)
    groups = [r[0] for r in con.sql(f"SELECT DISTINCT {g} FROM {call['table']} "
                                    f"WHERE {g} IS NOT NULL ORDER BY 1").fetchall()]
    exp = [(grp, b, want.get((grp, b), 0)) for grp in groups for b in range(n)]
    got = [(r[g], r["bin_id"], r["cnt"]) for r in rows]
    return [] if got == exp else [f"grouped counts {got[:6]}... != {exp[:6]}..."]


def _check_minmax(con, call, rows):
    if len(rows) != 1:
        return [f"{len(rows)} rows, expected 1"]
    problems = []
    for c in call["cols"]:
        lo, hi = con.sql(f"SELECT min(CAST({c} AS DOUBLE)), max(CAST({c} AS DOUBLE)) "
                         f"FROM {call['table']}").fetchone()
        got = (rows[0][f"{c}_min"], rows[0][f"{c}_max"])
        if not (_same(got[0], lo) and _same(got[1], hi)):
            problems.append(f"{c}: (min, max) {got} != {(lo, hi)}")
    return problems


# ------------------------------------------------------------------- ingest

def check_ingest_batch(call, rows, exact_drops):
    """One batch's output: one row per batch doc, and every drop names a
    smaller id at Jaccard >= threshold that the exact tier also drops."""
    problems = []
    ids = [r["doc_id"] for r in rows]
    if ids != list(range(call["lo"], call["hi"])):
        problems.append(f"ids are not exactly [{call['lo']}, {call['hi']})")
    for r in rows:
        if r["dup_of"] is None:
            continue
        if not r["dup_of"] < r["doc_id"]:
            problems.append(f"doc {r['doc_id']}: dup_of {r['dup_of']} is not smaller")
        if r["jaccard"] is None or r["jaccard"] < THRESHOLD:
            problems.append(f"doc {r['doc_id']}: jaccard {r['jaccard']} < {THRESHOLD}")
        if r["doc_id"] not in exact_drops:
            problems.append(f"doc {r['doc_id']}: dropped, but not by the exact tier")
    return problems[:20]


def check_registry(folded_path, ref_path):
    con = duckdb.connect()
    q = ("SELECT count(*) FROM (SELECT * FROM read_parquet('{a}/*.parquet') "
         "EXCEPT ALL SELECT * FROM read_parquet('{b}/*.parquet'))")
    extra = con.sql(q.format(a=folded_path, b=ref_path)).fetchone()[0]
    missing = con.sql(q.format(a=ref_path, b=folded_path)).fetchone()[0]
    if extra or missing:
        return [f"folded registry differs from the one-shot registry: "
                f"{extra} extra rows, {missing} missing rows"]
    return []
