"""Correctness gate of a benchmark run, applied outside the timed region.

* Every read and drain op's frame, written by the harness after the timed
  rounds, must equal its DuckDB oracle (``SparkEntry.oracleSql``) over the
  same generated tables: same column names, same row count, same values
  after sorting columns by name and rows by value (``tools/check.py``'s
  ``canon``).
* Every ingest day of every round must land exactly the generator's totals
  (rows, clicks, impressions, spend, empty ``actions``/``conversions``
  arrays) with no ``1d_view`` field, one FX row with the quoted rate, and no
  rows from a keyed re-delivery.
"""
import glob
import os
import sys

import duckdb

# the oracle compare of the engine's own correctness tool
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import TABLES, canon  # noqa: E402


def _oracle(res, tables, check_dir):
    failures = {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    names = {o["name"] for r in res["rounds"] for o in r["ops"] if o["kind"] != "day"}
    for name in sorted(names):
        if name in res["check_errors"]:
            failures[name] = "check run failed: " + res["check_errors"][name]
            continue
        sql = res["oracle"].get(name)
        if sql is None:
            failures[name] = "no oracle SQL registered"
            continue
        try:
            exp = canon(con, sql)
            got = canon(con, f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')")
        except Exception as e:  # noqa: BLE001
            failures[name] = f"compare error: {str(e)[:200]}"
            continue
        if list(exp.columns) != list(got.columns):
            failures[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(exp) != len(got):
            failures[name] = f"rows {len(got)} != {len(exp)}"
        elif not exp.equals(got):
            failures[name] = "values differ"
    return failures


def _ingest(manifest, tmp):
    """Check every round's committed tables against the generator totals."""
    failures = {}
    landed = 0
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for root in sorted(glob.glob(os.path.join(tmp, "ingest", "r*"))):
        rnd = os.path.basename(root)
        fb = f"read_parquet('{root}/fb_stat/*/*.parquet', hive_partitioning=true)"
        types = [r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {fb}").fetchall()]
        if any("1d_view" in str(t) for t in types):
            failures[f"{rnd}:schema"] = "1d_view survived normalization"
        got = {str(r[0]): r[1:] for r in con.execute(f"""
            SELECT CAST(date AS VARCHAR), count(*), sum(clicks), sum(impressions),
                   sum(CAST(round(spend * 100) AS BIGINT)),
                   sum(CASE WHEN len(actions) = 0 THEN 1 ELSE 0 END),
                   sum(CASE WHEN len(conversions) = 0 THEN 1 ELSE 0 END)
            FROM {fb} GROUP BY 1""").fetchall()}
        fx = {str(r[0]): r[1:] for r in con.execute(f"""
            SELECT CAST(date AS VARCHAR), count(*), min(rate), min(currencies)
            FROM read_parquet('{root}/exchange_rate/*.parquet') GROUP BY 1""").fetchall()}
        for d in manifest["days"]:
            want = (d["rows"], d["clicks"], d["impressions"], d["spend_cents"],
                    d["empty_actions"], d["empty_conversions"])
            have = got.get(d["day"])
            if have is None:
                failures[f"{rnd}:day:{d['day']}"] = "partition missing"
                continue
            if d["redeliver"]:
                landed += have[0] - d["rows"]
            if tuple(int(x) for x in have) != want:
                failures[f"{rnd}:day:{d['day']}"] = f"totals {tuple(have)} != {want}"
            if fx.get(d["day"]) != (1, d["rate"], "USDUAH"):
                failures[f"{rnd}:fx:{d['day']}"] = f"fx row {fx.get(d['day'])}"
        if set(got) - {d["day"] for d in manifest["days"]}:
            failures[f"{rnd}:days"] = "unexpected partitions"
    return failures, landed


def check(res, manifest, run_dir, tmp):
    """Failures by op name and by round/day, plus re-delivered rows landed."""
    ops = _oracle(res, manifest["tables"], os.path.join(run_dir, "check"))
    days, landed = {}, 0
    if any(o["kind"] == "day" for r in res["rounds"] for o in r["ops"]):
        days, landed = _ingest(manifest, tmp)
    return {"ops": ops, "days": days, "retry_rows_landed": landed}
