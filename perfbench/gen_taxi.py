"""Seeded NYC-taxi-shaped trip generator with independently computed
expected ETL counts.

The raw file mimics a TLC yellow-trip parquet: the eleven columns the
pipeline selects plus a few it drops. The anomaly mix follows the
reference's transform.log (10.60% anomalous on 2M rows, per reason:
Passagers 6.88%, Distance 2.36%, Montant 1.19%, Vitesse 0.13%,
Duree 0.035%). It also plants the cases FIXTURES.md section A asks for:
exact duplicate trips (the dedup has work to do), payment code 5 and
ratecode 99 (null labels; payment 5 drops at the fact join), null
passenger counts, and rows that break two rules at once (first match
wins).

Expected counts come from DuckDB running the same first-match-wins CASE
over the written file, not from the generator's own bookkeeping.

Usage: python3 gen_taxi.py <out.parquet> <rows> <seed>
"""
import json
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# share of rows per first-matching rule (transform.log:5-9 over 2,000,000)
REASON_SHARE = [
    ("Durée invalide", 701 / 2e6),
    ("Distance hors limites", 47189 / 2e6),
    ("Montant de course invalide", 23820 / 2e6),
    ("Passagers invalides", 137684 / 2e6),
    ("Vitesse irréaliste", 2658 / 2e6),
]
DUP_SHARE = 0.004          # exact duplicate trips appended
TWO_RULE_SHARE = 0.15      # anomalous rows that also break a later rule
# pickup-hour weights shaped like the reference donut
# (Nuit 0-5 7.7%, Matin 6-11 20.7%, Apres-midi 12-17 37.1%, Soir 18-23 34.5%)
HOUR_W = np.array([7.7] * 6 + [20.7] * 6 + [37.1] * 6 + [34.5] * 6) / 6.0
BASE_SEC = 1704067200      # 2024-01-01 00:00:00 UTC
DAYS = 31


def generate(rows, seed):
    rng = np.random.default_rng(seed)
    n_dup = int(rows * DUP_SHARE)
    n = rows - n_dup

    # reason 0..4 = rule index, 5 = valid
    shares = [s for _, s in REASON_SHARE]
    reason = rng.choice(6, size=n, p=shares + [1.0 - sum(shares)])

    # valid-shaped base trip: speed and duration first, distance derived,
    # kept well inside the rule bounds so rounding never decides a rule
    dur = rng.integers(3 * 60, 60 * 60, size=n)             # seconds
    speed = rng.uniform(4.0, 45.0, size=n)                    # mph
    dist = np.round(speed * dur / 3600.0, 2)
    pax = rng.choice([1, 1, 1, 1, 2, 2, 3, 4, 5, 6], size=n).astype(np.float64)
    fare = np.round(3.0 + 2.5 * dist + rng.uniform(0, 4, size=n), 2)

    def where(r):
        return np.nonzero(reason == r)[0]

    two = rng.random(n) < TWO_RULE_SHARE
    # 0 Duree: dropoff at or before pickup
    i = where(0)
    dur[i] = -rng.integers(0, 120, size=i.size)
    j = i[two[i]]
    fare[j] = -np.round(rng.uniform(0, 10, size=j.size), 2)         # + Montant
    # 1 Distance: too short or too long
    i = where(1)
    far = rng.random(i.size) < 0.3
    dist[i] = np.where(far, np.round(rng.uniform(120, 400, size=i.size), 2),
                       rng.choice([0.0, 0.05], size=i.size))
    j = i[two[i]]
    pax[j] = 0                                                       # + Passagers
    # 2 Montant: fare <= 0
    i = where(2)
    fare[i] = -np.round(rng.uniform(0, 20, size=i.size), 2)
    j = i[two[i]]
    pax[j] = 0                                                       # + Passagers
    # 3 Passagers: zero or missing
    i = where(3)
    pax[i] = np.where(rng.random(i.size) < 0.2, np.nan, 0.0)
    j = i[two[i]]
    dur[j] = rng.integers(6, 20, size=j.size)                        # + Vitesse
    dist[j] = np.round(rng.uniform(5, 20, size=j.size), 2)
    # 4 Vitesse: in-range distance over an implausible duration
    i = where(4)
    slow = rng.random(i.size) < 0.5
    dur[i] = np.where(slow, rng.integers(90 * 60, 180 * 60, size=i.size),
                      rng.integers(6, 20, size=i.size))
    dist[i] = np.where(slow, np.round(rng.uniform(0.1, 1.0, size=i.size), 2),
                       np.round(rng.uniform(5, 20, size=i.size), 2))

    # pickups: weighted hour of a January day; the (pickup, dropoff) key is
    # unique among generated trips, so only planted duplicates collide and
    # the dedup's kept row never depends on task order
    day = rng.integers(0, DAYS, size=n)
    hour = rng.choice(24, size=n, p=HOUR_W / HOUR_W.sum())
    pickup = BASE_SEC + day * 86400 + hour * 3600 + rng.integers(0, 3600, size=n)
    while True:
        key = pickup.astype(np.int64) * 1_000_000 + (dur + 500_000)
        _, first = np.unique(key, return_index=True)
        clash = np.setdiff1d(np.arange(n), first)
        if clash.size == 0:
            break
        pickup[clash] = (BASE_SEC + day[clash] * 86400 + hour[clash] * 3600
                         + rng.integers(0, 3600, size=clash.size))

    vendor = rng.choice([1, 2], size=n, p=[0.3, 0.7])
    pu = rng.integers(1, 266, size=n)
    do = rng.integers(1, 266, size=n)
    ratecode = rng.choice([1, 2, 3, 4, 5, 6, 99], size=n,
                          p=[0.93, 0.03, 0.005, 0.01, 0.015, 0.005, 0.005])
    payment = rng.choice([1, 2, 3, 4, 5], size=n, p=[0.74, 0.2, 0.02, 0.03, 0.01])
    tip = np.where(payment == 1, np.round(np.abs(fare) * rng.uniform(0.1, 0.25, size=n), 2), 0.0)
    extra = rng.choice([0.0, 1.0, 2.5], size=n)
    total = np.round(fare + tip + extra + 0.5, 2)
    flag = rng.choice(["N", "Y"], size=n, p=[0.995, 0.005])

    # planted exact duplicates, spread through the file
    src = rng.integers(0, n, size=n_dup)
    order = rng.permutation(rows)
    idx = np.concatenate([np.arange(n), src])[order]

    def col(a):
        return a[idx]

    pk = col(pickup).astype("datetime64[s]").astype("datetime64[us]")
    dk = (col(pickup) + col(dur)).astype("datetime64[s]").astype("datetime64[us]")
    p = col(pax)
    table = pa.table({
        "VendorID": pa.array(col(vendor).astype(np.int32)),
        "tpep_pickup_datetime": pa.array(pk),
        "tpep_dropoff_datetime": pa.array(dk),
        "passenger_count": pa.array(np.nan_to_num(p).astype(np.int64), mask=np.isnan(p)),
        "trip_distance": pa.array(col(dist)),
        "RatecodeID": pa.array(col(ratecode).astype(np.int64)),
        "store_and_fwd_flag": pa.array(col(flag)),
        "PULocationID": pa.array(col(pu).astype(np.int32)),
        "DOLocationID": pa.array(col(do).astype(np.int32)),
        "payment_type": pa.array(col(payment).astype(np.int64)),
        "fare_amount": pa.array(col(fare)),
        "extra": pa.array(col(extra)),
        "tip_amount": pa.array(col(tip)),
        "total_amount": pa.array(col(total)),
    })
    return table


# The pipeline's rules (TaxiPipeline.rules) restated for DuckDB, first match
# wins; extract coalesces a null passenger_count to 0.
EXPECTED_SQL = """
WITH m AS (
  SELECT *, coalesce(passenger_count, 0) AS pax,
    (epoch(tpep_dropoff_datetime) - epoch(tpep_pickup_datetime)) / 60.0 AS dur
  FROM read_parquet('{path}')
), t AS (
  SELECT *, CASE
    WHEN dur <= 0 THEN 'Durée invalide'
    WHEN trip_distance IS NULL OR NOT (trip_distance BETWEEN 0.1 AND 100) THEN 'Distance hors limites'
    WHEN fare_amount <= 0 THEN 'Montant de course invalide'
    WHEN pax <= 0 THEN 'Passagers invalides'
    WHEN NOT (round(trip_distance / (dur / 60.0), 2) BETWEEN 1 AND 100) THEN 'Vitesse irréaliste'
  END AS reason FROM m
), k AS (
  SELECT reason, count(*) AS c, max(payment_type BETWEEN 1 AND 4)::INT AS paid
  FROM t GROUP BY reason, tpep_pickup_datetime, tpep_dropoff_datetime
)
SELECT reason, sum(c)::BIGINT AS n, count(*) AS n_keys, sum(paid)::BIGINT AS n_fact
FROM k GROUP BY reason
"""


def expected_counts(path):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    rows = con.sql(EXPECTED_SQL.format(path=path)).fetchall()
    by = {r: (n, k, f) for r, n, k, f in rows}
    valid = by.get(None, (0, 0, 0))
    # a planted duplicate is an exact copy, so a (pickup, dropoff) key
    # names one trip and dedup keeps one row per key
    return {
        "input_rows": sum(n for n, _, _ in by.values()),
        "anomalies": {r: n for r, (n, _, _) in by.items() if r is not None},
        "valid": valid[0],
        "valid_dedup": valid[1],
        "fact_rows": valid[2],
    }


def write(out, rows, seed):
    """Writes the raw trips file; returns its expected ETL counts."""
    pq.write_table(generate(rows, seed), out, compression="snappy")
    return expected_counts(out)


if __name__ == "__main__":
    counts = write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
    print(json.dumps(counts, ensure_ascii=False, sort_keys=True))
