"""Correctness gates the benchmark applies outside its timed region.

* ``check_queries``: each query's first-pass result (dumped as parquet by
  the harness) against the engine's own DuckDB oracle SQL for it, over
  the same generated tables. Normalized as tools/check.py does: columns
  sorted by name, column types must agree, doubles compared at 9
  decimals, rows compared as sorted multisets.
* ``check_etl``: the final fact table and the five mart extracts of an
  ``etl_nightly`` run against a DuckDB mirror of the E1->E2->E3 chain,
  computed straight from the generated CSV inputs.
"""
import csv
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _skey(t):
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in t)


def check_queries(data_dir, dump_dir, oracle_sql):
    """Returns {query: "" if it matches its oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(f"{dump_dir}/{name}/*.parquet")
        if not files:
            out[name] = "no engine output"
            continue
        got = con.execute(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'").fetch_arrow_table()
        try:
            exp = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"oracle SQL error: {e}"
            continue
        gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
        if gcols != ecols:
            out[name] = f"columns differ engine={gcols} oracle={ecols}"
            continue
        drift = [c for c in gcols if str(got.schema.field(c).type) != str(exp.schema.field(c).type)]
        if drift:
            out[name] = f"column type drift: {drift}"
            continue
        grows = sorted((tuple(_norm(r[c]) for c in gcols) for r in got.to_pylist()), key=_skey)
        erows = sorted((tuple(_norm(r[c]) for c in ecols) for r in exp.to_pylist()), key=_skey)
        if len(grows) != len(erows):
            out[name] = f"row count engine={len(grows)} oracle={len(erows)}"
            continue
        bad = sum(1 for g, e in zip(grows, erows) if g != e)
        out[name] = f"{bad}/{len(grows)} rows differ" if bad else ""
    return out


# ---------------------------------------------------------------------
# E1 -> E2 -> E3 mirror
# ---------------------------------------------------------------------

def _mirror(con, etl_dir, nights, year):
    files = [(0, f"{etl_dir}/barchart_history.csv")] + \
        [(k + 1, f"{etl_dir}/nightly/barchart_{k:04d}.csv") for k in range(nights)]
    union = " UNION ALL ".join(
        f"SELECT *, {prio} AS prio FROM read_csv('{f}', header=true, all_varchar=true)"
        for prio, f in files)
    con.execute(f"""
      CREATE OR REPLACE TABLE stg AS
      SELECT contract, mo, CAST(last AS DOUBLE) AS last,
             CAST(snapshot_date AS DATE) AS snapshot_date
      FROM ({union})
      QUALIFY row_number() OVER (PARTITION BY contract, snapshot_date ORDER BY prio DESC) = 1""")
    con.execute("""
      CREATE OR REPLACE TABLE fact AS
      WITH feat AS (
        SELECT contract, mo, last, snapshot_date,
          coalesce(lead(contract) OVER bymo, 'NaN') AS prev_contract_code,
          lead(last) OVER bymo AS prev_last,
          round(last - lag(last) OVER (PARTITION BY snapshot_date
                ORDER BY CAST(mo AS INT) DESC), 2) AS spread,
          avg(last) OVER (bymo ROWS BETWEEN 200 PRECEDING AND CURRENT ROW) AS ma_200,
          avg(last) OVER (bymo ROWS BETWEEN 50 PRECEDING AND CURRENT ROW) AS ma_50
        FROM stg WINDOW bymo AS (PARTITION BY mo ORDER BY snapshot_date)),
      dc AS (SELECT contract AS code, row_number() OVER (ORDER BY contract) AS id
             FROM (SELECT DISTINCT contract FROM stg))
      SELECT CAST(strftime(snapshot_date, '%Y%m%d') AS INT) AS date_id,
             c.id AS contract_id, p.id AS prev_contract_id, mo, last, prev_last,
             spread, ma_200, ma_50, snapshot_date AS date_actual
      FROM feat LEFT JOIN dc c ON feat.contract = c.code
                LEFT JOIN dc p ON feat.prev_contract_code = p.code""")
    ny = f"""SELECT strftime(date_actual, '%Y-%m-%d 00:00:00') AS date_actual,
                    CAST(mo AS INT) AS mo, last AS ny_price
             FROM fact WHERE CAST(mo AS INT) IN (2, 3) AND year(date_actual) = {year}"""
    cot = f"read_csv('{etl_dir}/cot.csv', header=true)"
    cot_long = f"""
      SELECT strftime(CAST(date_actual AS DATE), '%Y-%m-%d 00:00:00') AS date_actual,
             player, l AS CIT_Long, -s AS CIT_Short, l - s AS CIT_Net
      FROM (SELECT date_actual, 'Com' AS player, com_long AS l, com_short AS s FROM {cot}
            UNION ALL SELECT date_actual, 'Index', index_long, index_short FROM {cot}
            UNION ALL SELECT date_actual, 'Ncom', ncom_long, ncom_short FROM {cot}
            UNION ALL SELECT date_actual, 'Nrep', nrep_long, nrep_short FROM {cot})"""
    return {
        "ny_prices": ny,
        "spread": f"""SELECT max(CASE WHEN mo = 3 THEN ny_price END)
                             - max(CASE WHEN mo = 2 THEN ny_price END) AS spread_max_min,
                             date_actual FROM ({ny}) GROUP BY date_actual""",
        "ma": f"""SELECT ma_200 AS MA200, ma_50 AS "MA 50", last AS "NY price",
                         strftime(date_actual, '%Y-%m-%d 00:00:00') AS date_actual
                  FROM fact WHERE CAST(mo AS INT) = 2 AND year(date_actual) = {year}""",
        "cot_long": cot_long,
        "cot_totals": f"""SELECT date_actual, sum(CIT_Long) AS CIT_Long,
                                 sum(CIT_Net) AS CIT_Net, sum(CIT_Short) AS CIT_Short
                          FROM ({cot_long}) GROUP BY date_actual""",
    }


def _close(a, b):
    if a is None or b is None or a == "" or b == "":
        return (a in (None, "")) and (b in (None, ""))
    try:
        x, y = float(a), float(b)
    except (TypeError, ValueError):
        return str(a) == str(b)
    return abs(x - y) <= 1e-6 * max(1.0, abs(x), abs(y))


def _sort_key(row):
    """Exact cells (keys, dates, labels) first, so rows pair up even when
    a double's last digits differ between the engines."""
    cells = ["" if v is None else repr(v) if isinstance(v, float) else str(v) for v in row]
    def is_float(c):
        try:
            float(c)
            return "." in c or "e" in c.lower()
        except ValueError:
            return False
    return (tuple(c for c in cells if not is_float(c)),
            tuple(round(float(c), 4) for c in cells if is_float(c)))


def _same_rows(got, exp):
    if len(got) != len(exp):
        return f"row count engine={len(got)} mirror={len(exp)}"
    bad = sum(1 for g, e in zip(sorted(got, key=_sort_key), sorted(exp, key=_sort_key))
              if not all(_close(x, y) for x, y in zip(g, e)))
    return f"{bad}/{len(got)} rows differ" if bad else ""


def check_etl(etl_dir, work_etl, nights, year):
    """Returns {output: "" if it matches the mirror, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    extracts = _mirror(con, etl_dir, nights, year)
    out = {}
    cols = ["date_id", "contract_id", "prev_contract_id", "mo", "last", "prev_last",
            "spread", "ma_200", "ma_50"]
    sel = ", ".join(cols)
    got = con.execute(f"SELECT {sel} FROM '{work_etl}/ods_fact/*.parquet'").fetchall()
    out["ods_fact"] = _same_rows(got, con.execute(f"SELECT {sel} FROM fact").fetchall())
    for name, sql in extracts.items():
        parts = sorted(glob.glob(f"{work_etl}/mart/{name}/part-*.csv"))
        if not parts:
            out[name] = "no engine output"
            continue
        with open(parts[0], newline="") as f:
            rows = list(csv.reader(f))
        header, body = rows[0], rows[1:]
        res = con.execute(sql)
        mcols = [d[0] for d in res.description]
        if header != mcols:
            out[name] = f"columns differ engine={header} mirror={mcols}"
            continue
        out[name] = _same_rows(body, res.fetchall())
    return out


def dir_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
