"""Seeded input generator for the benchmark.

Writes, from one integer seed, everything the engine reads during a run:

* the ten fixture tables the registry ops take through ``sfDir``
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), in the parquet schemas and at the sf0.01 row counts of the
  test fixtures (FIXTURES.md), with TPC-H-shaped line items (1-7 lines per
  order) and the orders spread over one month with a heavy-tailed day
  profile;
* for the ``ingest`` workload, days of Graph-API-shaped insights JSONL built
  from those tables by the rules of ``graft.etl.FbInsightsSource.built``
  (one row per line item of the day's orders; string metrics;
  ``actions``/``conversions`` absent by return flag and line status;
  ``actions`` elements carrying an extra ``1d_view`` key), one currencylayer
  quote per day at ``RatesSource.rateFor``'s rate, and the totals each day
  must land with (``ingest_manifest.json``).

The same seed always gives byte-identical inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# order dates: a month across the 1995/1996 boundary, so year-bounded
# queries (the 1996 star join) see data
ORDER_START = dt.date(1995, 12, 17)
ORDER_BASE = np.datetime64(ORDER_START.isoformat(), "us")
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = (("en", 0.44), ("es", 0.14), ("zh", 0.15), ("de", 0.14), ("fr", 0.13))
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")

# Row counts of the sf0.01 fixtures (FIXTURES.md, TESTDATA.md); line items
# come out at ~4 per order as in TPC-H. The sf0.01 orders span ~2,400 days;
# here they span `order_days`, so the day-partitioned fb_stat the reads stage
# has ~30 partitions of ~2,000 rows instead of ~2,400 of 25.
SCALE = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "events": 10000, "documents": 500, "embeddings": 500,
    "order_days": 31, "event_days": 30,
}
# Orders per day follow Pareto(1.5) quantiles in a seeded day order: every
# seed has the same heavy-tailed day-size profile. The ingest days are the
# days at these ranks of that profile (smallest = 0), ~800 to ~4,000 rows.
DAY_SHAPE = 1.5
INGEST_RANKS = (4, 12, 20, 28)
REDELIVER_SHARE = 0.5


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def fixture_tables(rng, out_dir: str) -> dict:
    """Write the ten tables; return the line items and order days the
    ingest days are built from."""
    s = SCALE
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    n = s["customer"]
    _write(pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], n)}),
        f"{out_dir}/customer.parquet")
    n = s["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n)}),
        f"{out_dir}/supplier.parquet")
    n = s["part"]
    adj = ["small", "red", "blue", "hot", "cold", "old", "new", "big"]
    noun = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "nut"]
    _write(pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": [900.0 + (i % 1000) / 10.0 for i in range(n)]}),
        f"{out_dir}/part.parquet")

    n = s["orders"]
    day_us = 86_400_000_000
    q = (np.arange(s["order_days"]) + 0.5) / s["order_days"]
    weight = rng.permutation((1.0 - q) ** (-1.0 / DAY_SHAPE))
    o_day = np.sort(rng.choice(s["order_days"], n, p=weight / weight.sum()))
    orders = {
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n),
        "o_totalprice": _cents(rng, 1000, 500000, n),
        "o_orderdate": pa.array(ORDER_BASE + o_day * day_us, pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)}
    _write(pa.table(orders), f"{out_dir}/orders.parquet")
    lines = rng.integers(1, 8, n)
    okey = np.repeat(np.arange(n), lines)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1,
                                 pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(ORDER_BASE + rng.integers(0, s["order_days"] + 120, n) * day_us,
                               pa.timestamp("us"))}
    _write(pa.table(lineitem), f"{out_dir}/lineitem.parquet")

    n = s["events"]
    ev_base = np.datetime64("2024-01-01", "us")
    span = s["event_days"] * day_us
    _write(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ev_base + np.sort(rng.integers(0, span, n)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": _cents(rng, 0.01, 490.0, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]}),
        f"{out_dir}/events.parquet")

    n = s["documents"]
    langs = rng.choice([l for l, _ in LANGS], n, p=[p for _, p in LANGS])
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate: a prefix of an earlier document, tagged
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src[: max(8, len(src) * 3 // 4)] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    _write(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")

    n = s["embeddings"]
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = 0.15 * centers[labels] + rng.normal(scale=0.125, size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out_dir}/embeddings.parquet")
    return {"lineitem": lineitem, "o_day": o_day}


def _rate(day: dt.date) -> float:
    """``RatesSource.rateFor``: 20 + ((day*37 + month*11) % 100) / 100."""
    return 20.0 + (day.day * 37 + day.month * 11) % 100 / 100.0


def ingest_days(rng, facts, out_dir: str) -> list:
    """Insights JSONL + one FX quote per ingest day, built from the order
    days at INGEST_RANKS of the day profile; returns the per-day totals."""
    os.makedirs(out_dir, exist_ok=True)
    cols = {k: (v.to_numpy(zero_copy_only=False) if isinstance(v, pa.Array) else v)
            for k, v in facts["lineitem"].items()}
    line_day = facts["o_day"][cols["l_orderkey"]]
    per_day = np.bincount(facts["o_day"], minlength=SCALE["order_days"])
    picked = np.argsort(per_day, kind="stable")[list(INGEST_RANKS)]
    redeliver = np.zeros(len(picked), bool)
    redeliver[rng.choice(len(picked), round(len(picked) * REDELIVER_SHARE),
                         replace=False)] = True
    days = []
    for k, d in enumerate(sorted(picked)):
        day = ORDER_START + dt.timedelta(days=int(d))
        iso = day.isoformat()
        idx = np.flatnonzero(line_day == d)
        clicks = np.floor(cols["l_quantity"][idx]).astype(np.int64)
        lineno = cols["l_linenumber"][idx]
        has_actions = cols["l_returnflag"][idx] != "N"
        has_conv = cols["l_linestatus"][idx] == "F"
        spend = cols["l_extendedprice"][idx]
        path = f"{out_dir}/insights_{iso}.jsonl"
        with open(path, "w") as f:
            for j, i in enumerate(idx):
                ok, ln = cols["l_orderkey"][i], lineno[j]
                camp, sup = cols["l_partkey"][i] % 100, cols["l_suppkey"][i]
                row = {
                    "date_start": iso, "date_stop": iso, "account_id": "101",
                    "ad_id": f"a-{ok}-{ln}", "ad_name": f"ad {ok}-{ln}",
                    "adset_id": f"s-{sup}", "adset_name": f"adset {sup}",
                    "campaign_id": f"c-{camp}", "campaign_name": f"campaign {camp}",
                    "clicks": str(clicks[j]),
                    "impressions": str(clicks[j] * 100 + ln),
                    "spend": repr(float(spend[j]))}
                if has_actions[j]:
                    row["actions"] = [
                        {"action_type": "link_click", "value": str(clicks[j]), "1d_view": "10"},
                        {"action_type": "page_view", "value": str(ln)}]
                if has_conv[j]:
                    row["conversions"] = [{"action_type": "purchase", "value": str(ln)}]
                f.write(json.dumps(row, separators=(",", ":")) + "\n")
        quote = {"success": True, "historical": True, "date": iso, "source": "USD",
                 "quotes": {"USDUAH": _rate(day)}}
        with open(f"{out_dir}/quote_{iso}.json", "w") as f:
            f.write(json.dumps(quote) + "\n")
        days.append({
            "day": iso, "insights": path, "quote": f"{out_dir}/quote_{iso}.json",
            "redeliver": bool(redeliver[k]), "rows": len(idx),
            "clicks": int(clicks.sum()),
            "impressions": int((clicks * 100 + lineno).sum()),
            "spend_cents": int(np.round(spend * 100).astype(np.int64).sum()),
            "empty_actions": int((~has_actions).sum()),
            "empty_conversions": int((~has_conv).sum()),
            "rate": _rate(day),
            "raw_bytes": os.path.getsize(path)})
    return days


def generate(seed: int, out_dir: str) -> dict:
    """Write every input for `seed` under `out_dir`; return the manifest."""
    rng = np.random.default_rng(seed)
    tables = os.path.join(out_dir, "tables")
    os.makedirs(tables, exist_ok=True)
    facts = fixture_tables(rng, tables)
    days = ingest_days(rng, facts, os.path.join(out_dir, "ingest"))
    manifest = {"seed": seed, "tables": tables, "days": days}
    with open(os.path.join(out_dir, "ingest_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
