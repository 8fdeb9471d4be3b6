"""DuckDB check of the taxi query results of the query_mix workload.

Re-derives the cleaned month in SQL from the same raw parquet the JVM
generated (the rules of graft.taxi.Cleaning, written the way
queries/TaxiOracle.scala writes them), then answers each query kind over
the same window and compares it with what Spark returned.
"""
import json
import math

import duckdb

AIRPORTS = "(1, 132, 138)"
RATE_LABELS = {1: "Standard rate", 2: "JFK", 3: "Newark", 4: "Nassau or Westchester"}
PAY_LABELS = {1: "Credit card", 2: "Cash", 3: "No charge", 4: "Dispute"}
MONETARY = ["fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
            "improvement_surcharge", "total_amount", "congestion_surcharge",
            "Airport_fee"]

CLEANED = f"""
CREATE TABLE cleaned AS
WITH raw AS (
  SELECT * REPLACE (
      CAST(tpep_pickup_datetime AS TIMESTAMP) AS tpep_pickup_datetime,
      CAST(tpep_dropoff_datetime AS TIMESTAMP) AS tpep_dropoff_datetime)
  FROM read_parquet('{{raw}}')),
dur AS (SELECT *, CAST(epoch(tpep_dropoff_datetime) - epoch(tpep_pickup_datetime)
    AS DOUBLE) / 60.0 AS time_take_min FROM raw),
spd AS (SELECT * FROM dur WHERE trip_distance / (time_take_min / 60.0) <= 50),
dst AS (SELECT * FROM spd WHERE trip_distance <= 50),
tri AS (SELECT * FROM dst WHERE CASE
    WHEN trip_distance = 0 AND time_take_min < 2 AND fare_amount >= 4.50
      AND payment_type IN (1, 2) THEN 'keep'
    WHEN trip_distance = 0 AND time_take_min >= 2 AND time_take_min < 10
      AND fare_amount >= 4.50 AND payment_type IN (1, 2) THEN 'keep'
    WHEN trip_distance = 0 AND payment_type IN (3, 4, 6) THEN 'drop'
    WHEN trip_distance = 0 AND time_take_min >= 10 AND fare_amount = 0 THEN 'drop'
    WHEN trip_distance = 0 AND time_take_min < 5 AND fare_amount > 20 THEN 'drop'
    ELSE 'keep' END = 'keep'),
sfx AS (SELECT * REPLACE ({", ".join(
    f"CASE WHEN {c} < 0 AND payment_type IN (0, 1, 2) THEN -{c} ELSE {c} END AS {c}"
    for c in MONETARY)}) FROM tri),
fb AS (SELECT * FROM (SELECT *, CASE
    WHEN RatecodeID = 1 THEN 3.00 + greatest(trip_distance * 3.50, time_take_min * 0.70)
    WHEN RatecodeID = 2 THEN 70.00
    WHEN RatecodeID = 3 THEN 3.00 + greatest(trip_distance * 3.50, time_take_min * 0.70) + 20.00
    WHEN RatecodeID = 4 THEN 3.00 + greatest(trip_distance * 3.50, time_take_min * 0.70) * 1.5
    ELSE NULL END AS emf FROM sfx)
  WHERE NOT (fare_amount > emf + 10.00 OR fare_amount < emf - 1.00))
SELECT * EXCLUDE (emf) REPLACE (
    CAST(passenger_count AS INT) AS passenger_count,
    CAST(RatecodeID AS INT) AS RatecodeID,
    CAST(payment_type AS INT) AS payment_type),
  trip_distance / time_take_min AS average_speed,
  CAST(dayofweek(tpep_pickup_datetime) + 1 AS INT) AS pickup_day_of_week,
  CASE WHEN hour(tpep_pickup_datetime) BETWEEN 0 AND 5 THEN 'Night'
       WHEN hour(tpep_pickup_datetime) BETWEEN 6 AND 11 THEN 'Morning'
       WHEN hour(tpep_pickup_datetime) BETWEEN 12 AND 16 THEN 'Afternoon'
       WHEN hour(tpep_pickup_datetime) BETWEEN 17 AND 20 THEN 'Evening'
       ELSE 'LateNight' END AS time_of_day_slot,
  CAST(day(tpep_pickup_datetime) AS INT) AS pickup_day
FROM fb WHERE passenger_count > 0
"""

# kind -> (SQL over `w`, the windowed cleaned table; key columns; tolerances)
# A tolerance is (absolute, relative): 0.01 absorbs a round(…, 2) that
# lands on the other side of a half-cent when the sums run in another order.
R2 = (0.0100001, 0.0)
FLOAT = (1e-9, 1e-7)
QUERIES = {
    "q1": (f"""SELECT PULocationID IN {AIRPORTS} AS is_airport_pickup,
                 avg(round(tip_amount / total_amount * 100, 2)) AS average_tip_percentage
               FROM w GROUP BY 1""",
           ["is_airport_pickup"], {"average_tip_percentage": FLOAT}),
    "q2": ("""SELECT PULocationID, DOLocationID, avg(time_take_min) AS avg_duration_min
              FROM w GROUP BY 1, 2""",
           ["PULocationID", "DOLocationID"], {"avg_duration_min": FLOAT}),
    "q3": ("""SELECT payment_type, count(RatecodeID) AS trip_count
              FROM w GROUP BY 1""", ["payment_type"], {}),
    "q4": ("""SELECT RatecodeID AS rc, payment_type AS pt, count(*) AS count,
                CAST(rank() OVER (PARTITION BY RatecodeID ORDER BY count(*) DESC) AS INT) AS rank
              FROM w GROUP BY 1, 2""", None, {}),
    "q5": ("""SELECT time_of_day_slot, avg(average_speed) AS avg_speed_mph,
                avg(time_take_min) AS avg_duration_min, count(*) AS trip_count
              FROM w GROUP BY 1""",
           ["time_of_day_slot"], {"avg_speed_mph": FLOAT, "avg_duration_min": FLOAT}),
    "q6": ("""SELECT time_of_day_slot, pickup_day_of_week,
                round(avg(fare_amount), 2) AS avg_fare, count(*) AS trip_count
              FROM w GROUP BY 1, 2""",
           ["time_of_day_slot", "pickup_day_of_week"], {"avg_fare": R2}),
    "q7": ("""SELECT PULocationID, DOLocationID, count(*) AS trip_count
              FROM w WHERE time_of_day_slot IN ('Afternoon', 'Evening') GROUP BY 1, 2""",
           None, {}),
    "q8": (f"""SELECT CASE WHEN PULocationID IN {AIRPORTS} OR DOLocationID IN {AIRPORTS}
                   THEN 'airport' ELSE 'non_airport' END AS trip_type,
                 round(avg(trip_distance), 2) AS avg_distance_miles,
                 round(avg(fare_amount), 2) AS avg_fare_usd,
                 round(avg(CASE WHEN fare_amount > 0
                   THEN round(tip_amount / fare_amount * 100, 2) END), 2) AS avg_tip_percentage,
                 count(*) AS total_trips
               FROM w GROUP BY 1""",
           ["trip_type"], {"avg_distance_miles": R2, "avg_fare_usd": R2,
                           "avg_tip_percentage": R2}),
    "corr": ("""SELECT payment_type, corr(time_take_min, tip_amount) AS corr_duration_tip,
                  round(avg(time_take_min), 2) AS avg_duration,
                  round(avg(tip_amount), 2) AS avg_tip
                FROM w GROUP BY 1""",
             ["payment_type"], {"corr_duration_tip": (1e-9, 1e-6),
                                "avg_duration": R2, "avg_tip": R2}),
    "airport_share": (f"""SELECT CAST(sum(CASE WHEN PULocationID IN {AIRPORTS} THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*) * 100 AS airport_pickup_share_pct FROM w""",
                      [], {"airport_pickup_share_pct": FLOAT}),
}


def _close(a, b, tol):
    a = None if a is None or (isinstance(a, float) and math.isnan(a)) else a
    b = None if b is None or (isinstance(b, float) and math.isnan(b)) else b
    if a is None or b is None:
        return a is None and b is None
    if tol is None:
        return a == b
    return abs(a - b) <= tol[0] + tol[1] * abs(b)


def _key(row, cols):
    return tuple((v is None, "" if v is None else v) for v in (row[c] for c in cols))


def _compare(got, exp, keys, tols):
    if len(got) != len(exp):
        return f"rows: spark {len(got)} duckdb {len(exp)}"
    cols = list(exp[0]) if exp else []
    got = sorted(got, key=lambda r: _key(r, keys))
    exp = sorted(exp, key=lambda r: _key(r, keys))
    for g, e in zip(got, exp):
        for c in cols:
            if not _close(g.get(c), e[c], tols.get(c)):
                return f"{c}: spark {g.get(c)!r} duckdb {e[c]!r} at {[e[k] for k in keys]}"
    return ""


def _check_q4(got, exp):
    want = sorted(((RATE_LABELS.get(r["rc"]), PAY_LABELS.get(r["pt"]), r["count"], r["rank"])
                   for r in exp), key=repr)
    have = sorted(((r["RatecodeID"], r["payment_type"], r["count"], r["rank"])
                   for r in got), key=repr)
    return "" if want == have else f"q4 rows differ: spark {have[:3]} duckdb {want[:3]}"


def _check_q7(got, exp):
    """Top 10 routes by count; routes tied at the cut may come either way."""
    counts = {(r["PULocationID"], r["DOLocationID"]): r["trip_count"] for r in exp}
    top = sorted(counts.values(), reverse=True)[:10]
    if sorted((r["trip_count"] for r in got), reverse=True) != top:
        return f"q7 counts: spark {[r['trip_count'] for r in got]} duckdb {top}"
    for r in got:
        pair = (r["PULocationID"], r["DOLocationID"])
        if counts.get(pair) != r["trip_count"] or r["route"] != f"{pair[0]} to {pair[1]}":
            return f"q7 row {r} not a route of that count"
    return ""


class TaxiChecker:
    def __init__(self, raw_glob):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 2")
        self.con.execute(CLEANED.replace("{raw}", raw_glob))

    def check(self, kind, lo, hi, rows):
        """'' when Spark's rows match DuckDB's, else what differs."""
        sql, keys, tols = QUERIES[kind]
        where = "" if lo == 0 else f"WHERE pickup_day BETWEEN {lo} AND {hi}"
        cur = self.con.execute(f"WITH w AS (SELECT * FROM cleaned {where}) {sql}")
        names = [d[0] for d in cur.description]
        exp = [dict(zip(names, r)) for r in cur.fetchall()]
        if kind == "q4":
            return _check_q4(rows, exp)
        if kind == "q7":
            return _check_q7(rows, exp)
        return _compare(rows, exp, keys, tols)


def check_results(raw_glob, results_path):
    """{result id: '' or mismatch} for every result the JVM wrote."""
    checker = TaxiChecker(raw_glob)
    out = {}
    with open(results_path) as f:
        for line in f:
            r = json.loads(line)
            out[r["id"]] = checker.check(r["kind"], r["lo"], r["hi"], r["rows"])
    return out
