"""Seeded input generators for the benchmark.

Everything the program reads is made here from `--seed`: the same seed
gives byte-identical inputs. Two families:

* `etl_inputs` — what the Dreem DAG consumes: per-site incoming record
  batches (the S1 fetch output), the two headerless lookup CSVs and the
  UCAM wear-period assignments.
* `gate_tables` — the ten star-schema tables the curation gates read, with
  the shapes of the shared testdata (uniform keys, a 31-word document
  vocabulary with ~5 % near-duplicate documents, unit-norm 64-d embeddings).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SITES = ("kiel", "newcastle")
DAY0 = dt.date(2024, 1, 1)
EPOCH = dt.datetime(1970, 1, 1)
US_PER_DAY = 86_400_000_000

RECORD_TYPE = pa.schema([
    ("manufacturer_ref", pa.string()),
    ("device_type", pa.string()),
    ("start", pa.timestamp("us", tz="UTC")),
    ("end", pa.timestamp("us", tz="UTC")),
    ("meta", pa.map_(pa.string(), pa.string())),
])


def _day_us(day: int) -> int:
    return ((DAY0 - EPOCH.date()).days + day) * US_PER_DAY


def day_str(day: int) -> str:
    return (DAY0 + dt.timedelta(days=day)).isoformat()


class Fleet:
    """Devices, lookups and wear periods shared by every batch of one seed.

    Properties the pipeline's behaviour depends on, and why they are here:
    * missing lookup keys (uid with no serial, serial with no device id,
      records with no `dreem_uid`): rows stay unenriched and every run
      re-examines them, as in production;
    * assignments with the q18 shapes — overlapping wear periods (first
      match by start), open-ended ends (bounded by `--today`) and null
      patients (an earliest null-patient period blocks later ones).
    """

    def __init__(self, rng: np.random.Generator, devices_per_site: int,
                 n_days: int):
        self.devices = {}  # site -> list of uids
        uid_serial, serial_id, asg = [], [], []
        n = 0
        for site in SITES:
            uids = []
            for _ in range(devices_per_site):
                uid, serial, dev = f"U{n:04d}", f"S{n:04d}", f"DEV-{n:04d}"
                uids.append(uid)
                if rng.random() >= 0.05:
                    uid_serial.append((uid, serial))
                if rng.random() >= 0.05:
                    serial_id.append((serial, dev))
                # consecutive wear periods of 4-12 days, a quarter of them
                # overlapping the previous one; the last is open-ended
                day = -int(rng.integers(0, 4))
                while day < n_days:
                    length = int(rng.integers(4, 13))
                    patient = (None if rng.random() < 0.05
                               else f"P-{int(rng.integers(0, 10_000)):05d}")
                    end = day + length
                    open_ended = end >= n_days
                    asg.append((dev, patient, _day_us(day),
                                None if open_ended else _day_us(end)))
                    day = end - (int(rng.integers(1, 3))
                                 if rng.random() < 0.25 else -1)
                n += 1
            self.devices[site] = uids
        self.uid_serial = uid_serial
        self.serial_id = serial_id
        self.assignments = asg

    def write(self, d: str) -> None:
        with open(os.path.join(d, "uid_serial.csv"), "w") as f:
            f.writelines(f"{u},{s}\n" for u, s in self.uid_serial)
        with open(os.path.join(d, "serial_id.csv"), "w") as f:
            f.writelines(f"{s},{i}\n" for s, i in self.serial_id)
        dev, pat, sw, ew = zip(*self.assignments)
        ts = pa.timestamp("us", tz="UTC")
        pq.write_table(pa.table({
            "device_id": pa.array(dev, pa.string()),
            "patient_id": pa.array(pat, pa.string()),
            "start_wear": pa.array(sw, ts),
            "end_wear": pa.array(ew, ts),
        }), os.path.join(d, "assignments.parquet"))


def _records(rng, fleet: Fleet, site: str, day: int, n: int):
    """n fresh recordings of one site starting on `day`.

    Starts fall between 00:00 and 14:00 so both sides of the 12:00 day
    cut-off are hit, and every recording ends the same day (at most 9 h),
    which keeps a record's patient independent of the run's `--today`.
    """
    uids = fleet.devices[site]
    out = []
    for _ in range(n):
        start = _day_us(day) + int(rng.integers(0, 14 * 3600)) * 1_000_000
        end = start + int(rng.integers(1800, 9 * 3600)) * 1_000_000
        uid = uids[int(rng.integers(0, len(uids)))]
        meta = [] if rng.random() < 0.02 else [("dreem_uid", uid)]
        ref = rng.bytes(8).hex()
        out.append((ref, "DRM", start, end, meta))
    return out


def _write_batch(path: str, rows) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in RECORD_TYPE]
    pq.write_table(pa.table(
        [pa.array(c, f.type) for c, f in zip(cols, RECORD_TYPE)],
        schema=RECORD_TYPE), path)


def etl_inputs(d: str, seed: int, *, devices_per_site: int, n_days: int,
               history_days: int, history_per_site_day: int,
               per_site_day: int, redeliver: float = 0.05,
               late: float = 0.05) -> dict:
    """Write the fleet files plus the record batches of etl_daily: one
    history batch covering days [0, history_days) with
    `history_per_site_day` records per site and day (the seeded ledger),
    then one small batch of `per_site_day` records per site for each later
    day up to `n_days`.

    Every batch carries a `redeliver` share of records the sites already
    sent (the same record at the other site, or again on a later day — the
    ingest dedup must drop them) and, in daily batches, a `late` share of
    new records starting on days whose groups were already uploaded (the
    connector must re-send those groups).
    """
    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)
    fleet = Fleet(rng, devices_per_site, n_days)
    fleet.write(d)
    sent = []  # every record delivered so far, for redelivery

    def batch(name: str, days: range, per_day: int,
              late_from: int = None) -> list:
        paths = []
        fresh_by_site = {s: [] for s in SITES}
        for site in SITES:
            for day in days:
                fresh_by_site[site] += _records(rng, fleet, site, day, per_day)
            if late_from is not None:
                n_late = max(1, int(late * per_day))
                for _ in range(n_late):
                    day = int(rng.integers(max(0, late_from - 5), late_from))
                    fresh_by_site[site] += _records(rng, fleet, site, day, 1)
        pool = sent + [r for s in SITES for r in fresh_by_site[s]]
        for site in SITES:
            rows = list(fresh_by_site[site])
            n_re = int(redeliver * len(rows))
            for i in rng.integers(0, len(pool), n_re):
                rows.append(pool[int(i)])
            rng.shuffle(rows)
            p = os.path.join(d, f"{name}_{site}.parquet")
            _write_batch(p, rows)
            paths.append(p)
        for s in SITES:
            sent.extend(fresh_by_site[s])
        return paths

    out = {"uid_serial": os.path.join(d, "uid_serial.csv"),
           "serial_id": os.path.join(d, "serial_id.csv"),
           "assignments": os.path.join(d, "assignments.parquet")}
    out["history"] = batch("history", range(0, history_days),
                           history_per_site_day)
    out["history_today"] = day_str(history_days)
    out["days"] = []
    for day in range(history_days, n_days):
        out["days"].append({
            "incoming": batch(f"day{day:03d}", range(day, day + 1),
                              per_site_day, late_from=history_days),
            "today": day_str(day + 1)})
    return out


# ---------------------------------------------------------------- gates

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_WORDS = (["small", "red", "hot", "old", "large", "blue", "big", "cold"],
              ["ring", "plate", "widget", "rod", "bolt", "gizmo", "nut", "pin"])


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def gate_tables(d: str, seed: int, sf: float) -> None:
    """The gate tables at scale factor `sf` (sf=0.01: 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))

    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                     "BUILDING"])
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj, noun = PART_WORDS
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                      "PROMO"])
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day_us = lambda lo, hi, n: (
        (np.datetime64(lo) + rng.integers(0, (np.datetime64(hi)
         - np.datetime64(lo)).astype(int), n).astype("timedelta64[D]"))
        .astype("datetime64[us]").astype(np.int64))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts(day_us("1995-01-01", "2001-08-02", n_ord)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    flags = np.array([("A", "O"), ("A", "F"), ("N", "O"), ("N", "F"),
                      ("R", "O"), ("R", "F")])[rng.integers(0, 6, n_line)]
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": flags[:, 0], "l_linestatus": flags[:, 1],
        "l_shipdate": _ts(day_us("1995-01-02", "2001-11-05", n_line))})
    span_us = 30 * US_PER_DAY
    ev_ts = np.sort(rng.integers(0, span_us, n_ev)) + _day_us(0)
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "signup", "error", "view",
                                "purchase"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in
                                  rng.integers(0, len(VOCAB), n_words)))
    langs = np.array(["en"] * 3 + ["es", "zh", "de", "fr"])
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})

