"""Output checks, run after the driver on every run.

ETL: the final ledger must equal an expected ledger that DuckDB computes
from the generated files alone, with the same chain as the q18 oracle
(hash dedup, uid->serial, serial->device, first-match wear period, day
cut-off group key); its upload flags must match what the fake DMP accepted.

gate_mix: each gate's written result must equal its `SparkEntry.oracleSql`
run by DuckDB over the generated tables, compared through a digest of
tools/compare.py's own normal form (`compare.norm`: columns sorted by name,
rows sorted, exact values) over its table list.
"""
import hashlib
import json
import os
import sys

import duckdb
import pyarrow.dataset as ds

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from compare import norm  # noqa: E402
from oracle_types import TABLES  # noqa: E402


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def _q(paths):
    return "[" + ",".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def expected_sql(man, files, today):
    """The ledger the DAG must converge to, one row per record hash."""
    return f"""
      WITH raw AS (
        SELECT manufacturer_ref, device_type, "start", "end", meta,
               CAST("start" AS TIMESTAMP) AS rs, CAST("end" AS TIMESTAMP) AS re,
               meta['dreem_uid'][1] AS uid,
               sha256(device_type || manufacturer_ref) AS hash
        FROM read_parquet({_q(files)})),
      recs AS (SELECT * FROM raw
               QUALIFY row_number() OVER (PARTITION BY hash ORDER BY rs, re) = 1),
      us AS (SELECT uid, min(serial) AS serial
             FROM read_csv('{man["uid_serial"]}', header = false,
                           columns = {{'uid': 'VARCHAR', 'serial': 'VARCHAR'}})
             GROUP BY uid),
      si AS (SELECT serial, min(device_id) AS device_id
             FROM read_csv('{man["serial_id"]}', header = false,
                           columns = {{'serial': 'VARCHAR', 'device_id': 'VARCHAR'}})
             GROUP BY serial),
      asg AS (SELECT * FROM (
                SELECT device_id AS a_device, patient_id AS a_patient,
                       CAST(CAST(start_wear AS TIMESTAMP) AS DATE) AS a_start,
                       CAST(coalesce(CAST(end_wear AS TIMESTAMP),
                                     TIMESTAMP '{today}') AS DATE) AS a_end,
                       epoch(CAST(start_wear AS TIMESTAMP)) AS a_ord
                FROM read_parquet('{man["assignments"]}'))
              WHERE a_start <= a_end),
      r1 AS (SELECT recs.*, us.serial AS device_serial
             FROM recs LEFT JOIN us ON recs.uid = us.uid),
      r2 AS (SELECT r1.*, si.device_id
             FROM r1 LEFT JOIN si ON r1.device_serial = si.serial),
      j AS (SELECT r2.hash, a.a_patient,
                   row_number() OVER (PARTITION BY r2.hash
                     ORDER BY a.a_ord, a.a_patient NULLS LAST) AS rn
            FROM r2 JOIN asg a
              ON r2.device_id = a.a_device
             AND CAST(r2.rs AS DATE) BETWEEN a.a_start AND a.a_end
             AND CAST(r2.re AS DATE) BETWEEN a.a_start AND a.a_end),
      r3 AS (SELECT r2.*, j.a_patient AS patient_id
             FROM r2 LEFT JOIN j ON r2.hash = j.hash AND j.rn = 1),
      r4 AS (SELECT *,
               CASE WHEN device_id IS NOT NULL AND patient_id IS NOT NULL THEN
                 replace(device_id, '-', '') || '-' ||
                 replace(patient_id, '-', '') || '-' ||
                 strftime(bs, '%Y%m%d') || '-' || strftime(bs + 1, '%Y%m%d')
               END AS dmp_id
             FROM (SELECT *,
                     CASE WHEN strftime(rs, '%H:%M:%S') < '12:00:00'
                          THEN CAST(rs AS DATE) - 1 ELSE CAST(rs AS DATE)
                     END AS bs
                   FROM r3))
      SELECT * FROM r4"""


def write_history_ledger(man, path):
    """etl_daily's seed: the history batch fully enriched, its groups
    already uploaded — the state earlier DAG runs would have left."""
    con = _con()
    con.execute(f"""
      COPY (SELECT manufacturer_ref, device_type, "start", "end", meta, hash,
                   device_serial, device_id, patient_id,
                   CAST(NULL AS VARCHAR) AS dmp_dataset, dmp_id,
                   dmp_id IS NOT NULL AS is_uploaded
            FROM ({expected_sql(man, man["history"], man["history_today"])})
            ORDER BY hash)
      TO '{path}' (FORMAT PARQUET)""")


LEDGER_COLS = ("hash, manufacturer_ref, device_type, epoch_us(rs) AS rs, "
               "epoch_us(re) AS re, uid, device_serial, device_id, "
               "patient_id, dmp_id")


def _check_ledger(con, man, ledger, files, today, accepted, seeded):
    con.execute(f"""CREATE OR REPLACE TEMP VIEW got AS
      SELECT *, CAST("start" AS TIMESTAMP) AS rs, CAST("end" AS TIMESTAMP) AS re,
             meta['dreem_uid'][1] AS uid
      FROM read_parquet('{ledger}/**/*.parquet', hive_partitioning = true)""")
    con.execute(f"CREATE OR REPLACE TEMP VIEW exp AS "
                f"{expected_sql(man, files, today)}")
    n_got, n_exp, n_hash = con.execute(
        "SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM exp), "
        "(SELECT count(DISTINCT hash) FROM got)").fetchone()
    if n_got != n_exp or n_hash != n_got:
        return [("ledger rows", False,
                 f"ledger has {n_got} rows ({n_hash} hashes), expected {n_exp}")]
    diff = con.execute(f"""SELECT count(*) FROM (
        (SELECT {LEDGER_COLS} FROM got EXCEPT SELECT {LEDGER_COLS} FROM exp)
        UNION ALL
        (SELECT {LEDGER_COLS} FROM exp EXCEPT SELECT {LEDGER_COLS} FROM got))
      """).fetchone()[0]
    out = [("ledger content", diff == 0, f"{diff} rows differ from DuckDB")]
    # upload flags: exactly the members of accepted bundles (plus the
    # seeded history's uploaded rows) are flagged
    members = [(g, r) for g, refs in accepted.items() for r in refs]
    con.execute("CREATE OR REPLACE TEMP TABLE acc (dmp_id VARCHAR, ref VARCHAR)")
    if members:
        con.executemany("INSERT INTO acc VALUES (?, ?)", members)
    bad = con.execute(f"""SELECT count(*) FROM got
      WHERE is_uploaded IS DISTINCT FROM (
        hash IN (SELECT hash FROM read_parquet('{seeded}') WHERE is_uploaded)
        OR EXISTS (SELECT 1 FROM acc WHERE acc.dmp_id = got.dmp_id
                                       AND acc.ref = got.manufacturer_ref))
      """).fetchone()[0]
    out.append(("upload flags", bad == 0, f"{bad} flags disagree with the DMP"))
    return out


def _digest(df):
    """Digest of tools/compare.py's normal form; column names compared
    case-insensitively, as compare.py does."""
    cols, rows = norm(df)
    return hashlib.sha256(repr(([c.lower() for c in cols], rows)).encode()
                          ).hexdigest(), len(rows)


def _check_gates(man, out):
    con = _con()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{man['tables']}/{t}.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    results = []
    for name, sql in oracle.items():
        path = os.path.join(out, "gates", name)
        if not os.path.isdir(path):
            results.append((name, False, "no result written"))
            continue
        got = ds.dataset(path).to_table().to_pandas()
        exp = con.execute(sql).df()
        (h_got, n_got), (h_exp, n_exp) = _digest(got), _digest(exp)
        ok = h_got == h_exp
        results.append((name, ok, "" if ok else
                        f"{n_got} rows vs oracle {n_exp} rows, columns "
                        f"{sorted(got.columns)} vs {sorted(exp.columns)}"))
    return results


def check(workload, man, out, res):
    """[(name, ok, detail)] — one entry per output check."""
    if workload == "gate_mix":
        return _check_gates(man, out)
    days = man["days"][:int(res["extra"]["days_run"])]
    files = man["history"] + [f for d in days for f in d["incoming"]]
    with open(os.path.join(out, "accepted.json")) as f:
        accepted = json.load(f)
    return _check_ledger(_con(), man, res["extra"]["ledger"], files,
                         days[-1]["today"], accepted, man["history_ledger"])


RATIOS = ("write_amp", "per_advanced", "overhead_share")
SHARES = ("reupload_share", "span_coverage", "fail_share")


def unit_of(metric):
    """The unit BENCHMARK.json lists for a per-layer metric."""
    if metric.endswith(RATIOS):
        return "ratio"
    if metric.endswith(SHARES):
        return "share"
    if metric.endswith((".s", "_s")):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    return "count"
