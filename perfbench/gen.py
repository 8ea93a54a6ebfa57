"""Seeded input generators for the graft benchmark.

Every generator takes the workload seed and an output directory and
writes the inputs one workload runs on, plus a ``truth.json`` holding
what was injected (so the output checks know the right answer without
trusting the engine). The same seed gives byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. BENCHMARK.json restates them; keep both in step.
TAXI_MONTHS = ["2023-01"]
TAXI_ROWS = {"yellow": 16000, "green": 5000}  # per month
TAXI_ZONES = 263          # ids 264/265 are TLC's "unknown" zones
LAKE_ORDERS = 1000        # the rest of the lake corpus_curate attaches
LAKE_LINES_PER_ORDER = 4  # lineitem rows = orders * 4
CDC_BASE_ROWS = 20000
CDC_BATCHES = 24
CDC_CHANGES = 400         # change envelopes per batch
CDC_REDELIVERED = 1       # delivered a second time, inside the warm-up
CORPUS_ORIGINALS = 1500
CORPUS_EXACT_DUPS = 300
CORPUS_NEAR_DUPS = 300
CORPUS_SHORT = 50

_US = 1_000_000


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _month_start_us(month):
    return int(np.datetime64(month + "-01T00:00:00", "us").astype(np.int64))


# ---------------------------------------------------------------- taxi

def _taxi_file(rng, service, month, n, inj):
    """One raw TLC-style monthly file with the reference's drift:
    yellow ``tpep_`` / green ``lpep_`` datetimes, green's all-null
    ``ehail_fee`` and float ``payment_type``, yellow's ``Airport_fee``
    spelling, and green without ``congestion_surcharge``.
    Every row has a distinct pickup second, so staging groups only
    the rows duplicated on purpose."""
    start = _month_start_us(month)
    span = 27 * 86400
    pickup = start + np.sort(rng.choice(span, n, replace=False)).astype(np.int64) * _US
    dropoff = pickup + rng.integers(60, 3600, n) * _US
    vendor = rng.choice(np.array([1, 2, 6]), n, p=[0.45, 0.5, 0.05])
    rate = rng.choice(np.array([1.0, 2.0, 3.0, 4.0, 5.0, 99.0]), n,
                      p=[0.8, 0.08, 0.04, 0.03, 0.03, 0.02])
    pu = rng.integers(1, TAXI_ZONES + 1, n)
    do = rng.integers(1, TAXI_ZONES + 1, n)
    pay = rng.integers(1, 5, n)
    passengers = rng.integers(1, 5, n).astype(np.float64)
    dist = _cents(rng, 0.5, 40.0, n)
    fare = _cents(rng, 3.0, 90.0, n)
    extra = rng.choice(np.array([0.0, 0.5, 1.0]), n)
    mta = np.full(n, 0.5)
    tip = _cents(rng, 0.0, 20.0, n)
    tolls = rng.choice(np.array([0.0, 0.0, 0.0, 6.55]), n)
    improvement = np.full(n, 1.0)
    congestion = rng.choice(np.array([0.0, 2.5]), n)
    total = np.round(fare + extra + mta + tip + tolls + improvement + congestion, 2)

    # Disjoint row sets per injected defect, so each count is exact.
    order = rng.permutation(n)
    k_null, k_zone, k_dist, k_extra, k_dup = (
        n // 100, n // 150, n // 400, n // 500, n // 200)
    cuts = np.cumsum([k_null, k_zone, k_dist, k_extra, k_dup])
    null_rows, zone_rows, dist_rows, extra_rows, dup_rows = np.split(order[:cuts[-1]], cuts[:-1])
    passengers_mask = np.zeros(n, bool)
    rate_mask = np.zeros(n, bool)
    half = len(null_rows) // 2
    passengers_mask[null_rows[:half]] = True
    rate_mask[null_rows[half:]] = True
    pu[zone_rows[: len(zone_rows) // 2]] = 264
    do[zone_rows[len(zone_rows) // 2:]] = 265
    # only in-dim rows may carry a range defect, so the expectation
    # counts equal the injected counts exactly
    vendor[dist_rows] = 1
    vendor[extra_rows] = 2
    rate[dist_rows] = 1.0
    rate[extra_rows] = 1.0
    dist[dist_rows] = _cents(rng, 150.0, 900.0, len(dist_rows))
    extra[extra_rows] = rng.choice(np.array([-1.0, 4.5, 5.0]), len(extra_rows))

    # exact duplicates of `dup_rows` (the reference's dedup-and-sum)
    idx = np.concatenate([np.arange(n), np.sort(dup_rows)])
    prefix = "tpep" if service == "yellow" else "lpep"

    def arr(values, mask=None, typ=pa.float64()):
        v = values[idx]
        m = None if mask is None else mask[idx]
        return pa.array(v, type=typ, mask=m)

    ts = pa.timestamp("us")
    cols = [
        ("VendorID", arr(vendor, typ=pa.int64())),
        (f"{prefix}_pickup_datetime", arr(pickup, typ=ts)),
        (f"{prefix}_dropoff_datetime", arr(dropoff, typ=ts)),
    ]
    flag = pa.array(np.where(rng.random(n) < 0.01, "Y", "N")[idx])
    if service == "yellow":
        cols += [
            ("passenger_count", arr(passengers, passengers_mask)),
            ("trip_distance", arr(dist)),
            ("RatecodeID", arr(rate, rate_mask)),
            ("store_and_fwd_flag", flag),
            ("PULocationID", arr(pu, typ=pa.int64())),
            ("DOLocationID", arr(do, typ=pa.int64())),
            ("payment_type", arr(pay, typ=pa.int64())),
        ]
    else:
        cols += [
            ("store_and_fwd_flag", flag),
            ("RatecodeID", arr(rate, rate_mask)),
            ("PULocationID", arr(pu, typ=pa.int64())),
            ("DOLocationID", arr(do, typ=pa.int64())),
            ("passenger_count", arr(passengers, passengers_mask)),
            ("trip_distance", arr(dist)),
        ]
    cols += [
        ("fare_amount", arr(fare)),
        ("extra", arr(extra)),
        ("mta_tax", arr(mta)),
        ("tip_amount", arr(tip)),
        ("tolls_amount", arr(tolls)),
    ]
    if service == "green":
        cols.append(("ehail_fee", pa.nulls(len(idx), pa.float64())))
    cols += [("improvement_surcharge", arr(improvement)), ("total_amount", arr(total))]
    if service == "green":
        cols += [("payment_type", arr(pay.astype(np.float64))),
                 ("trip_type", arr(np.ones(n)))]
    if service == "yellow":
        cols += [("congestion_surcharge", arr(congestion)),
                 ("Airport_fee", arr(rng.choice(np.array([0.0, 1.25]), n)))]
    for key, rows in (("null_rows", null_rows), ("unmatched_zone_rows", zone_rows),
                      ("trip_distance_out_of_range", dist_rows),
                      ("extra_out_of_range", extra_rows), ("duplicated_rows", dup_rows)):
        inj[key] = inj.get(key, 0) + len(rows)
    inj["raw_rows"] = inj.get("raw_rows", 0) + len(idx)
    return pa.table(dict(cols))


def gen_taxi(seed, out):
    """Raw yellow/green monthly files + the zone lookup CSV."""
    inj = {}
    files = []
    for s, month in enumerate(TAXI_MONTHS):
        for t, service in enumerate(("yellow", "green")):
            rng = _rng(seed, 100 + 10 * s + t)
            name = f"{service}_tripdata_{month}.parquet"
            _write(_taxi_file(rng, service, month, TAXI_ROWS[service], inj),
                   os.path.join(out, "raw", name))
            files.append(name)
    rng = _rng(seed, 1)
    lines = ["LocationID,Borough,Zone,service_zone,latitude,longitude"]
    boroughs = ["Manhattan", "Queens", "Brooklyn", "Bronx", "Staten Island", "EWR"]
    for z in range(1, TAXI_ZONES + 1):
        lat = 40.5 + int(rng.integers(0, 400000)) / 1e6
        lon = -74.25 + int(rng.integers(0, 500000)) / 1e6
        lines.append(f"{z},{boroughs[z % len(boroughs)]},Zone {z},Boro Zone,{lat:.6f},{lon:.6f}")
    with open(os.path.join(out, "taxi_zone_lookup.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    _truth(out, {"files": files, "injected": inj,
                 "expected_violations": {
                     "between_trip_distance": inj["trip_distance_out_of_range"],
                     "between_extra": inj["extra_out_of_range"]}})


# ---------------------------------------------------------------- lake

def _lake(rng, out, documents):
    """TPC-H-shaped lake tables for ``Engine.attach`` (same names and
    column types as the engine's test data), scaled by LAKE_ORDERS,
    with ``documents`` as its documents table."""
    n_o = LAKE_ORDERS
    n_c, n_s, n_p = n_o // 10, max(20, n_o // 150), n_o * 2 // 15

    def t(**cols):
        return pa.table(cols)

    names = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT"]
    _write(t(r_regionkey=pa.array(range(5), pa.int32()),
             r_name=["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
           os.path.join(out, "region.parquet"))
    _write(t(n_nationkey=pa.array(range(25), pa.int32()),
             n_name=[f"{names[i % 5]}_{i}" for i in range(25)],
             n_regionkey=pa.array([i % 5 for i in range(25)], pa.int32())),
           os.path.join(out, "nation.parquet"))
    _write(t(c_custkey=pa.array(np.arange(1, n_c + 1), pa.int64()),
             c_name=[f"Customer#{i:09d}" for i in range(1, n_c + 1)],
             c_nationkey=pa.array(rng.integers(0, 25, n_c), pa.int32()),
             c_acctbal=_cents(rng, -999, 9999, n_c),
             c_mktsegment=rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n_c)),
           os.path.join(out, "customer.parquet"))
    _write(t(s_suppkey=pa.array(np.arange(1, n_s + 1), pa.int64()),
             s_name=[f"Supplier#{i:09d}" for i in range(1, n_s + 1)],
             s_nationkey=pa.array(rng.integers(0, 25, n_s), pa.int32()),
             s_acctbal=_cents(rng, -999, 9999, n_s)),
           os.path.join(out, "supplier.parquet"))
    _write(t(p_partkey=pa.array(np.arange(1, n_p + 1), pa.int64()),
             p_name=[f"part {i}" for i in range(1, n_p + 1)],
             p_brand=[f"Brand#{1 + i % 5}{1 + i % 4}" for i in range(n_p)],
             p_type=rng.choice(["STANDARD BRASS", "SMALL TIN", "LARGE STEEL",
                                "PROMO COPPER"], n_p),
             p_size=pa.array(rng.integers(1, 51, n_p), pa.int32()),
             p_retailprice=_cents(rng, 900, 2000, n_p)),
           os.path.join(out, "part.parquet"))
    day0 = np.datetime64("1993-01-01T00:00:00", "us").astype(np.int64)
    odate = day0 + rng.integers(0, 5 * 365, n_o) * 86400 * _US
    okey = np.arange(1, n_o + 1) * 4  # sparse keys, like TPC-H
    _write(t(o_orderkey=pa.array(okey, pa.int64()),
             o_custkey=pa.array(rng.integers(1, n_c + 1, n_o), pa.int64()),
             o_orderstatus=rng.choice(["F", "O", "P"], n_o),
             o_totalprice=_cents(rng, 900, 400000, n_o),
             o_orderdate=pa.array(odate, pa.timestamp("us")),
             o_orderpriority=rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_o)),
           os.path.join(out, "orders.parquet"))
    n_l = n_o * LAKE_LINES_PER_ORDER
    lo = np.repeat(np.arange(n_o), LAKE_LINES_PER_ORDER)
    _write(t(l_orderkey=pa.array(okey[lo], pa.int64()),
             l_partkey=pa.array(rng.integers(1, n_p + 1, n_l), pa.int64()),
             l_suppkey=pa.array(rng.integers(1, n_s + 1, n_l), pa.int64()),
             l_linenumber=pa.array(np.tile(np.arange(1, LAKE_LINES_PER_ORDER + 1), n_o),
                                   pa.int32()),
             l_quantity=rng.integers(1, 51, n_l).astype(np.float64),
             l_extendedprice=_cents(rng, 900, 100000, n_l),
             l_discount=rng.integers(0, 11, n_l) / 100.0,
             l_tax=rng.integers(0, 9, n_l) / 100.0,
             l_returnflag=rng.choice(["A", "N", "R"], n_l),
             l_linestatus=rng.choice(["F", "O"], n_l),
             l_shipdate=pa.array(odate[lo] + rng.integers(1, 122, n_l) * 86400 * _US,
                                 pa.timestamp("us"))),
           os.path.join(out, "lineitem.parquet"))
    # side tables Engine.attach registers; the workload never reads them
    n_e = 200
    _write(t(event_id=pa.array(np.arange(n_e), pa.int64()),
             ts=pa.array(day0 + rng.integers(0, 86400 * 30, n_e) * _US, pa.timestamp("us")),
             user_id=pa.array(rng.integers(0, 50, n_e), pa.int64()),
             event_type=rng.choice(["view", "click", "buy"], n_e),
             value=_cents(rng, 0, 100, n_e),
             props=["{}"] * n_e),
           os.path.join(out, "events.parquet"))
    _write(documents, os.path.join(out, "documents.parquet"))
    _write(t(vec_id=pa.array(np.arange(20), pa.int64()),
             embedding=pa.array([list(rng.random(4).astype(np.float32)) for _ in range(20)],
                                pa.list_(pa.float32())),
             label=pa.array(np.arange(20) % 3, pa.int32())),
           os.path.join(out, "embeddings.parquet"))


# ----------------------------------------------------------------- cdc

CDC_FIELDS = [("trip_id", "LongType"), ("vendor_id", "IntegerType"),
              ("pickup_datetime", "LongType"), ("fare_amount", "DoubleType"),
              ("total_amount", "DoubleType"), ("lsn", "LongType")]


def _envelope(row, op, ts_ms):
    after = None if row is None else dict(zip((f for f, _ in CDC_FIELDS), row))
    payload = {"before": None, "after": after, "op": op, "ts_ms": ts_ms,
               "source": {"connector": "postgresql", "table": "trips"}}
    if row is None:  # heartbeat: no row image
        payload = {"ts_ms": ts_ms, "source": {"connector": "postgresql"}}
    return json.dumps({"payload": payload}, separators=(",", ":"))


def gen_cdc(seed, out):
    """Debezium JSON envelopes: one snapshot batch ('r' rows) that
    bootstraps the table, then CDC_BATCHES change batches of creates
    and updates with a hot-key skew (a third of updates hit 1% of the
    keys, so a batch often carries several images of one key), a 2%
    share of heartbeats without a row image, and batch
    CDC_REDELIVERED delivered twice (same batch id)."""
    rng = _rng(seed, 300)
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    with open(os.path.join(out, "schema_config.json"), "w") as f:
        json.dump({"fields": [{"name": n, "type": t, "nullable": True}
                              for n, t in CDC_FIELDS]}, f)
    t0 = np.datetime64("2023-03-01T00:00:00", "us").astype(np.int64)
    lsn = 0
    ts_ms = int(t0 // 1000)
    next_key = CDC_BASE_ROWS
    hot = rng.choice(CDC_BASE_ROWS, CDC_BASE_ROWS // 100, replace=False)

    def row(key):
        nonlocal lsn
        lsn += 1
        fare = int(rng.integers(300, 9000)) / 100.0
        return (int(key), int(rng.integers(1, 3)),
                int(t0 + int(rng.integers(0, 30 * 86400)) * _US),
                fare, round(fare + int(rng.integers(100, 2000)) / 100.0, 2), lsn)

    with open(os.path.join(out, "snapshot.jsonl"), "w") as f:
        for k in range(CDC_BASE_ROWS):
            f.write(_envelope(row(k), "r", ts_ms) + "\n")
    deliveries = []
    for b in range(CDC_BATCHES):
        lines = []
        for _ in range(CDC_CHANGES):
            ts_ms += 5
            u = rng.random()
            if u < 0.02:
                lines.append(_envelope(None, None, ts_ms))
            elif u < 0.35:
                lines.append(_envelope(row(next_key), "c", ts_ms))
                next_key += 1
            elif u < 0.55:
                lines.append(_envelope(row(rng.choice(hot)), "u", ts_ms))
            else:
                lines.append(_envelope(row(rng.integers(0, next_key)), "u", ts_ms))
        name = f"batch_{b:04d}.jsonl"
        with open(os.path.join(out, "batches", name), "w") as f:
            f.write("\n".join(lines) + "\n")
        deliveries.append((b, name))
        if b == CDC_REDELIVERED:
            deliveries.append((b, name))
    with open(os.path.join(out, "deliveries.tsv"), "w") as f:
        f.writelines(f"{b}\t{name}\n" for b, name in deliveries)
    _truth(out, {"base_rows": CDC_BASE_ROWS, "changes_per_batch": CDC_CHANGES})


# -------------------------------------------------------------- corpus

def _words(rng, n_vocab=4000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n_vocab:
        out.add("".join(rng.choice(letters, int(rng.integers(3, 10)))))
    return sorted(out)


def gen_corpus(seed, out):
    """A near-duplicate corpus: CORPUS_ORIGINALS unique documents
    first (lowest ids), then exact copies of some of them, then
    near-duplicates (a few words replaced), then documents below the
    length floor. Ids are assigned in that order, so every original is
    the smallest id of its duplicate cluster. The corpus is the
    documents table of a lake, under ``lake/``."""
    rng = _rng(seed, 400)
    vocab = np.array(_words(rng))
    docs = []
    for _ in range(CORPUS_ORIGINALS):
        docs.append(list(rng.choice(vocab, int(rng.integers(60, 140)))))
    kinds = ["original"] * CORPUS_ORIGINALS
    src = list(range(CORPUS_ORIGINALS))
    for _ in range(CORPUS_EXACT_DUPS):
        o = int(rng.integers(0, CORPUS_ORIGINALS))
        docs.append(list(docs[o]))
        kinds.append("exact_dup")
        src.append(o)
    for _ in range(CORPUS_NEAR_DUPS):
        o = int(rng.integers(0, CORPUS_ORIGINALS))
        d = list(docs[o])
        pos = rng.choice(len(d), 2, replace=False)
        for p in pos:
            d[p] = str(rng.choice(vocab))
        docs.append(d)
        kinds.append("near_dup")
        src.append(o)
    for _ in range(CORPUS_SHORT):
        docs.append(list(rng.choice(vocab, int(rng.integers(3, 15)))))
        kinds.append("short")
        src.append(-1)
    n = len(docs)
    texts = [" ".join(d) for d in docs]
    _lake(_rng(seed, 200), os.path.join(out, "lake"), pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": rng.choice(["web", "books", "code"], n),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}))
    _truth(out, {"kinds": kinds, "source_of": src, "docs": n})


def _truth(out, obj):
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(obj, f, sort_keys=True)


GENERATORS = {"etl_batch": gen_taxi, "cdc_upsert": gen_cdc, "corpus_curate": gen_corpus}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{','.join(GENERATORS)}}} <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
