#!/usr/bin/env python3
"""Seeded synthetic NYC yellow-taxi CSVs for the `elt_taxi` workload.

Writes four batch files, a corrections file and a manifest of the
counts the generator knows into an output directory:

  batch1.csv .. batch4.csv  raw trips; FIXTURES.md A1 columns plus the
                            other TLC columns. Seeded shares of NULL
                            payment_type / cbd_congestion_fee, and of
                            rows that fail TaxiTransform.validityFilter.
                            batch4 adds `Airport_fee` and changes the
                            case of several headers.
  corrections.csv           late corrections for some valid trips:
                            same columns as batch1, fare and total +1.00.
  manifest.json             rows, valid rows, corrections, and the
                            expected corrected fare sum in cents.

Every row's pickup time is unique (a per-row second offset), so
`pickup_datetime` is a key of the cleaned table; the corrections keep
their trip's pickup time and stay valid.

Usage: python3 perfbench/gen_taxi.py OUT_DIR --seed N [--rows N]
       python3 perfbench/gen_taxi.py --self-check
"""
import argparse
import hashlib
import json
import os
import sys
import tempfile

import duckdb
import numpy as np
import pandas as pd

BATCHES = 4
NULL_PAYMENT = 0.03      # payment_type left empty
NULL_CBD = 0.05          # cbd_congestion_fee left empty
INVALID = 0.04           # rows failing the validity filter
CORRECTED = 0.01         # valid rows that get a correction
BASE = np.datetime64("2025-01-01T00:00:00")

COLUMNS = [
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "RatecodeID", "store_and_fwd_flag",
    "PULocationID", "DOLocationID", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "congestion_surcharge", "cbd_congestion_fee",
]
# batch4's header drift: these names change case (ingest maps by name,
# case-insensitively, onto the evolved table).
RECASED = {"VendorID": "vendorid", "trip_distance": "TRIP_DISTANCE",
           "PULocationID": "pulocationid", "fare_amount": "Fare_Amount"}


def cents(x):
    return np.round(x * 100).astype(np.int64)


def trips(rng, first, n):
    """n raw trips with global row numbers first .. first+n-1."""
    idx = np.arange(first, first + n, dtype=np.int64)
    # 7 s apart plus a seeded jitter below 7 s: unique, increasing
    pickup = BASE + (idx * 7 + rng.integers(0, 7, n)).astype("timedelta64[s]")
    minutes = rng.gamma(2.0, 7.0, n)
    dropoff = pickup + (minutes * 60).astype(np.int64).astype("timedelta64[s]") \
        + np.timedelta64(30, "s")
    dist_c = np.maximum(cents(rng.gamma(1.6, 1.9, n)), 1)
    fare_c = 300 + cents(dist_c / 100 * 2.5) + rng.integers(0, 200, n)
    tip_c = np.where(rng.random(n) < 0.6, cents(fare_c / 100 * rng.random(n) * 0.3), 0)
    tolls_c = np.where(rng.random(n) < 0.05, 694, 0)
    cbd_c = np.where(rng.random(n) < 0.4, 75, 0)
    extras_c = 100 + 50 + 100 + 250  # extra + mta_tax + improvement + congestion
    total_c = fare_c + tip_c + tolls_c + cbd_c + extras_c

    bad = rng.random(n) < INVALID
    kind = rng.integers(0, 3, n)
    dropoff = np.where(bad & (kind == 0), pickup - np.timedelta64(60, "s"), dropoff)
    dist_c = np.where(bad & (kind == 1), 0, dist_c)
    total_c = np.where(bad & (kind == 2), -total_c, total_c)

    payment = pd.array(rng.choice([1, 1, 1, 2, 2, 3, 4], n), dtype="Int64")
    payment[rng.random(n) < NULL_PAYMENT] = pd.NA
    cbd = pd.Series(cbd_c / 100.0)
    cbd[rng.random(n) < NULL_CBD] = np.nan
    df = pd.DataFrame({
        "VendorID": rng.integers(1, 3, n),
        "tpep_pickup_datetime": pickup,
        "tpep_dropoff_datetime": dropoff,
        "passenger_count": rng.integers(1, 7, n),
        "trip_distance": dist_c / 100.0,
        "RatecodeID": rng.choice([1, 1, 1, 1, 2, 5], n),
        "store_and_fwd_flag": rng.choice(["N", "N", "N", "Y"], n),
        "PULocationID": rng.integers(1, 264, n),
        "DOLocationID": rng.integers(1, 264, n),
        "payment_type": payment,
        "fare_amount": fare_c / 100.0,
        "extra": 1.0,
        "mta_tax": 0.5,
        "tip_amount": tip_c / 100.0,
        "tolls_amount": tolls_c / 100.0,
        "improvement_surcharge": 1.0,
        "total_amount": total_c / 100.0,
        "congestion_surcharge": 2.5,
        "cbd_congestion_fee": cbd,
    }, columns=COLUMNS)
    return df, ~bad


def write_csv(df, path):
    """Money as DECIMAL(10,2) so every value keeps two decimals (the
    sample-based inference must see doubles, never integers)."""
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.register("df", df)
    cols = ", ".join(
        f'CAST("{c}" AS DECIMAL(10,2)) AS "{c}"' if df[c].dtype == np.float64
        else f'"{c}"' for c in df.columns)
    con.execute(f"COPY (SELECT {cols} FROM df) TO '{path}' (HEADER)")
    con.close()


def generate(out, seed, rows):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    per = rows // BATCHES
    valid_total = 0
    kept = []
    for b in range(BATCHES):
        df, valid = trips(rng, b * per, per)
        valid_total += int(valid.sum())
        if b == BATCHES - 1:
            df["Airport_fee"] = np.where(rng.random(per) < 0.1, 1.75, 0.0)
            df = df.rename(columns=RECASED)
        else:
            pick = valid & (rng.random(per) < CORRECTED)
            kept.append(df[pick])
        write_csv(df, os.path.join(out, f"batch{b + 1}.csv"))
    corr = pd.concat(kept, ignore_index=True)
    corr["fare_amount"] = corr["fare_amount"] + 1.0
    corr["total_amount"] = corr["total_amount"] + 1.0
    write_csv(corr, os.path.join(out, "corrections.csv"))
    manifest = {
        "seed": seed, "rows": per * BATCHES, "valid_rows": valid_total,
        "corrections": len(corr),
        "corrected_fare_cents": int(cents(corr["fare_amount"].to_numpy()).sum()),
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def self_check(parent, rows=4000):
    """Same seed gives byte-identical files; another seed differs."""
    os.makedirs(parent, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=parent) as tmp:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        generate(a, 7, rows)
        generate(b, 7, rows)
        generate(c, 8, rows)
        return digest(a) == digest(b) and digest(a) != digest(c)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out", nargs="?")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--rows", type=int, default=400000)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if a.self_check:
        ok = self_check(os.getcwd())
        print("self-check", "ok" if ok else "FAILED")
        return 0 if ok else 1
    print(json.dumps(generate(a.out, a.seed, a.rows)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
