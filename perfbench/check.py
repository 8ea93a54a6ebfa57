"""Output checks, run after the timed window. Each returns one bool per
timed operation: did that operation produce the right answer?

The oracles never trust the engine: etl_batch is recomputed in DuckDB
from the same generated files, cdc_upsert against the generator's
last-writer-wins fold, corpus_curate against the generator's record of
which documents are copies."""

import hashlib
import json
import os

import duckdb

# ------------------------------------------------------------ etl_batch

_DROPPED = {"store_and_fwd_flag", "trip_type", "ehail_fee", "airport_fee", "fee"}
_MEASURES = ["passenger_count", "trip_distance", "extra", "mta_tax", "fare_amount",
             "tip_amount", "tolls_amount", "total_amount", "improvement_surcharge",
             "congestion_surcharge"]


def _staging_sql(con, path, lookup):
    """DuckDB twin of BatchPipeline.clean + staging for one raw file."""
    cols = [r[0].lower() for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]
    ren = {}
    for c in cols:
        for pre in ("tpep_", "lpep_"):
            if c in (pre + "pickup_datetime", pre + "dropoff_datetime"):
                ren[c] = c[len(pre):]
    kept = [c for c in cols if c not in _DROPPED]
    casts = {"vendorid": "INT", "pulocationid": "INT", "dolocationid": "INT",
             "payment_type": "INT"}
    proj = [f"CAST(r.{c} AS {casts[c]}) AS {ren.get(c, c)}" if c in casts
            else f"r.{c} AS {ren.get(c, c)}" for c in kept]
    proj += ["pz.latitude AS pickup_latitude", "pz.longitude AS pickup_longitude",
             "dz.latitude AS dropoff_latitude", "dz.longitude AS dropoff_longitude"]
    names = [ren.get(c, c) for c in kept] + ["pickup_latitude", "pickup_longitude",
                                              "dropoff_latitude", "dropoff_longitude"]
    not_null = " AND ".join(f"{n} IS NOT NULL" for n in names)
    service = 2 if "green" in ("file:" + path).lower() else 1
    sums = ", ".join(
        f"CAST(SUM(CAST({m} AS DECIMAL(18,2))) AS DOUBLE) AS {m}" if m in names
        else f"CAST(0.0 AS DOUBLE) AS {m}" for m in _MEASURES)
    return f"""
      SELECT CAST(year(pickup_datetime) AS VARCHAR) AS year,
             strftime(pickup_datetime, '%B') AS month, strftime(pickup_datetime, '%A') AS dow,
             vendorid AS vendor_id, ratecodeid AS rate_code_id,
             pulocationid AS pickup_location_id, dolocationid AS dropoff_location_id,
             payment_type AS payment_type_id, pickup_datetime, dropoff_datetime,
             pickup_latitude, pickup_longitude, dropoff_latitude, dropoff_longitude,
             {sums}, {service} AS service_type
      FROM (SELECT * FROM (
              SELECT {", ".join(proj)} FROM read_parquet('{path}') r
              JOIN '{lookup}' pz ON r.pulocationid = pz.LocationID
              JOIN '{lookup}' dz ON r.dolocationid = dz.LocationID)
            WHERE {not_null})
      GROUP BY ALL"""


def _etl_oracle(inputs, truth):
    con = duckdb.connect()
    lookup = os.path.join(inputs, "taxi_zone_lookup.csv")
    parts = [_staging_sql(con, os.path.abspath(os.path.join(inputs, "raw", f)), lookup)
             for f in sorted(truth["files"])]
    con.execute("CREATE TABLE staging AS " + " UNION ALL BY NAME ".join(
        f"({p})" for p in parts))
    sk = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '')" for c in (
        "vendor_id", "rate_code_id", "pickup_location_id", "dropoff_location_id",
        "payment_type_id", "service_type", "pickup_datetime", "dropoff_datetime"))
    row = con.execute(f"""
      WITH fact AS (
        SELECT md5(concat_ws('-', {sk})) AS trip_id, total_amount, trip_distance
        FROM staging
        WHERE CAST(vendor_id AS INT) < 3 AND CAST(rate_code_id AS INT) < 7
          AND payment_type_id IS NOT NULL),
      k AS (SELECT trip_id || '|' || CAST(round(total_amount * 100) AS BIGINT) || '|' ||
                   CAST(round(trip_distance * 100) AS BIGINT) AS k FROM fact)
      SELECT count(*), md5(string_agg(k, ',' ORDER BY k)) FROM k""").fetchone()
    return {"rows": row[0], "md5": row[1]}


def check_etl(inputs, result):
    truth = json.load(open(os.path.join(inputs, "truth.json")))
    oracle = _etl_oracle(inputs, truth)
    expected = truth["expected_violations"]
    prints = {fp["i"]: fp for fp in result["finish"].get("fingerprints", [])}
    ok = []
    for op in result["ops"]:
        fp = prints.get(op["i"])
        v = op["check"].get("violations", {})
        good = (fp is not None and fp["rows"] == oracle["rows"] and fp["md5"] == oracle["md5"]
                and all(v.get(k) == n for k, n in expected.items())
                and all(n == 0 for k, n in v.items() if k.startswith("not_null_")))
        ok.append(good)
    return ok, {"oracle_fact_rows": oracle["rows"]}


# ----------------------------------------------------------- cdc_upsert

def _read_lines(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_cdc(inputs, result):
    """Replay the deliveries the harness applied into a last-writer-wins
    map (by lsn; a re-delivered batch is skipped) and compare the
    analyst's per-vendor aggregate after every delivery, plus the final
    snapshot."""
    state = {}

    def apply(path):
        for env in _read_lines(path):
            after = env["payload"].get("after")
            if after is None or after.get("trip_id") is None:
                continue
            cur = state.get(after["trip_id"])
            if cur is None or after["lsn"] > cur["lsn"]:
                state[after["trip_id"]] = after

    def snapshot():
        by = {}
        for r in state.values():
            n, lsn, cents = by.get(r["vendor_id"], (0, 0, 0))
            by[r["vendor_id"]] = (n + 1, lsn + r["lsn"], cents + round(r["total_amount"] * 100))
        return [[v, *by[v]] for v in sorted(by)]

    apply(os.path.join(inputs, "snapshot.jsonl"))
    with open(os.path.join(inputs, "deliveries.tsv")) as f:
        deliveries = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    after_delivery, seen = [], set()
    for batch_id, name in deliveries:
        if batch_id not in seen:
            seen.add(batch_id)
            apply(os.path.join(inputs, "batches", name))
        after_delivery.append(snapshot())
        if len(after_delivery) >= result["finish"].get("applied_deliveries", len(deliveries)):
            break
    ok = []
    for op in result["ops"]:
        c = op["check"]
        d = c.get("delivery")
        ok.append(d is not None and d < len(after_delivery) and
                  c["by_vendor"] == after_delivery[d])
    final = result["finish"].get("final_parquet")
    if final and ok:
        con = duckdb.connect()
        got = con.execute(f"SELECT trip_id, vendor_id, pickup_us, fare_amount, total_amount, lsn "
                          f"FROM read_parquet('{final}/*.parquet') ORDER BY trip_id").fetchall()
        want = sorted((r["trip_id"], r["vendor_id"], r["pickup_datetime"], r["fare_amount"],
                       r["total_amount"], r["lsn"]) for r in state.values())
        if [tuple(g) for g in got] != want:
            ok[-1] = False
    elif not final:
        ok = [False] * len(ok)
    return ok, {"final_rows": len(state)}


# -------------------------------------------------------- corpus_curate

def ids_md5(ids):
    return hashlib.md5(",".join(str(i) for i in sorted(ids)).encode()).hexdigest()


def check_corpus(inputs, result):
    """Every exact copy is removed and every original survives; every
    operation kept exactly the final operation's id set."""
    truth = json.load(open(os.path.join(inputs, "truth.json")))
    kept = set(result["finish"].get("kept_ids", []))
    kinds = truth["kinds"]
    final_ok = bool(kept) and all(
        (k != "exact_dup" or i not in kept) and (k != "original" or i in kept)
        and (k != "short" or i not in kept)
        for i, k in enumerate(kinds))
    digest = ids_md5(kept)
    ok = [final_ok and op["check"].get("ids_md5") == digest for op in result["ops"]]
    removed_near = sum(1 for i, k in enumerate(kinds) if k == "near_dup" and i not in kept)
    return ok, {"kept": len(kept), "near_dups_removed": removed_near}


CHECKS = {"etl_batch": check_etl, "cdc_upsert": check_cdc, "corpus_curate": check_corpus}
