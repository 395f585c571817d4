"""Taxi pipeline parity tests (SURVEY.md §3.1-3.2, §2.C gotchas).

The cleaned-transform semantics are cross-checked against DuckDB running
the reference's SQL shape (EXTRACT(dow), LEAST cap, CASE guards) over the
same CSV — the §2.C gotchas are exactly where a naive Spark port diverges.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from agent_data_pipeline_spark.pipelines import (
    clean_taxi_trips,
    ingest_csv,
    run_taxi_pipeline,
    smoke_check,
    validate_nonempty,
)

HEADER = (
    "tpep_pickup_datetime,tpep_dropoff_datetime,trip_distance,fare_amount,"
    "tip_amount,total_amount,payment_type,passenger_count,cbd_congestion_fee,"
    "PULocationID,DOLocationID"
)
ROWS = [
    # normal credit-card trip, 20 min, Sunday (2025-01-05)
    "2025-01-05 08:00:00,2025-01-05 08:20:00,4.0,20.0,5.0,27.5,1,1,2.5,100,200",
    # cash, 3 min => Very Short; Monday
    "2025-01-06 23:50:00,2025-01-06 23:53:00,0.8,5.0,0.0,5.5,2,2,,101,102",
    # zero fare => tip_percentage 0 (guard), dispute label
    "2025-01-07 10:00:00,2025-01-07 11:05:00,10.0,0.0,3.0,3.0,4,1,0.0,103,104",
    # tip >> fare => cap at 999.99
    "2025-01-08 12:00:00,2025-01-08 12:30:00,2.0,0.5,50.0,50.5,1,1,0.0,105,106",
    # unknown payment code => Other; 90 min => Very Long
    "2025-01-09 06:00:00,2025-01-09 07:30:00,30.0,80.0,0.0,80.0,9,3,1.0,107,108",
    # FILTERED: dropoff == pickup
    "2025-01-10 09:00:00,2025-01-10 09:00:00,1.0,5.0,0.0,5.0,1,1,0.0,109,110",
    # FILTERED: zero distance
    "2025-01-11 09:00:00,2025-01-11 09:10:00,0.0,5.0,0.0,5.0,1,1,0.0,111,112",
    # FILTERED: negative total
    "2025-01-12 09:00:00,2025-01-12 09:10:00,1.0,5.0,0.0,-5.0,1,1,0.0,113,114",
]

# The reference transform (taxi_transform_dag.py:42-79) expressed as
# DuckDB SQL — Postgres-semantics oracle for the Spark implementation.
ORACLE_SQL = """
SELECT
  tpep_pickup_datetime AS pickup_datetime,
  tpep_dropoff_datetime AS dropoff_datetime,
  EXTRACT(EPOCH FROM (tpep_dropoff_datetime - tpep_pickup_datetime))/60
    AS trip_duration_minutes,
  EXTRACT(hour FROM tpep_pickup_datetime) AS pickup_hour,
  EXTRACT(dow FROM tpep_pickup_datetime) AS pickup_day_of_week,
  EXTRACT(month FROM tpep_pickup_datetime) AS pickup_month,
  trip_distance, fare_amount, tip_amount,
  CASE WHEN fare_amount>0 THEN LEAST((tip_amount/fare_amount)*100,999.99)
       ELSE 0 END AS tip_percentage,
  total_amount,
  CASE payment_type WHEN 1 THEN 'Credit Card' WHEN 2 THEN 'Cash'
    WHEN 3 THEN 'No Charge' WHEN 4 THEN 'Dispute' ELSE 'Other' END
    AS payment_method,
  passenger_count,
  CASE WHEN trip_distance>0 THEN total_amount/trip_distance ELSE 0 END
    AS revenue_per_mile,
  CASE WHEN EXTRACT(EPOCH FROM (tpep_dropoff_datetime-tpep_pickup_datetime))/60<5 THEN 'Very Short'
       WHEN EXTRACT(EPOCH FROM (tpep_dropoff_datetime-tpep_pickup_datetime))/60<15 THEN 'Short'
       WHEN EXTRACT(EPOCH FROM (tpep_dropoff_datetime-tpep_pickup_datetime))/60<30 THEN 'Medium'
       WHEN EXTRACT(EPOCH FROM (tpep_dropoff_datetime-tpep_pickup_datetime))/60<60 THEN 'Long'
       ELSE 'Very Long' END AS trip_category,
  COALESCE(cbd_congestion_fee,0) AS congestion_fee,
  PULocationID AS pickup_location_id,
  DOLocationID AS dropoff_location_id
FROM read_csv('{path}', header=true,
  types={{'tpep_pickup_datetime':'TIMESTAMP','tpep_dropoff_datetime':'TIMESTAMP',
          'trip_distance':'DOUBLE','fare_amount':'DOUBLE','tip_amount':'DOUBLE',
          'total_amount':'DOUBLE','payment_type':'BIGINT','passenger_count':'BIGINT',
          'cbd_congestion_fee':'DOUBLE','PULocationID':'BIGINT','DOLocationID':'BIGINT'}})
WHERE tpep_dropoff_datetime>tpep_pickup_datetime
  AND trip_distance>0 AND total_amount>=0
ORDER BY pickup_datetime
"""


@pytest.fixture
def taxi_csv(tmp_path):
    p = tmp_path / "raw" / "yellow_tripdata_test.csv"
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    return str(p)


def _read_raw(spark, path):
    return (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )


def test_clean_matches_duckdb_oracle(spark, taxi_csv):
    got = (
        clean_taxi_trips(_read_raw(spark, taxi_csv))
        .orderBy("pickup_datetime")
        .collect()
    )
    want = duckdb.sql(ORACLE_SQL.format(path=taxi_csv)).fetchall()
    assert len(got) == len(want) == 5
    for g, w in zip(got, want):
        for name, gv, wv in zip(got[0].__fields__, g, w):
            if isinstance(gv, float):
                assert math.isclose(gv, float(wv), rel_tol=1e-12), (name, gv, wv)
            else:
                assert str(gv) == str(wv), (name, gv, wv)


def test_gotchas_explicitly(spark, taxi_csv):
    rows = {
        r.pickup_location_id: r
        for r in clean_taxi_trips(_read_raw(spark, taxi_csv)).collect()
    }
    assert set(rows) == {100, 101, 103, 105, 107}  # 3 rows filtered
    assert rows[100].pickup_day_of_week == 0  # Sunday -> 0 (Postgres dow)
    assert rows[103].tip_percentage == 0.0  # guard: 0 not NULL
    assert rows[105].tip_percentage == 999.99  # cap after x100
    assert rows[101].trip_category == "Very Short"
    assert rows[107].trip_category == "Very Long"
    assert rows[107].payment_method == "Other"
    assert rows[101].congestion_fee == 0.0  # COALESCE on empty CSV cell


def test_end_to_end_pipeline(spark, taxi_csv, tmp_path):
    assert smoke_check(spark)
    plan = ingest_csv(spark, taxi_csv, "taxi_trips_raw_t")
    assert plan.zone == "raw" and plan.created_table
    raw_tbl = spark.table(plan.qualified)
    assert validate_nonempty(raw_tbl, "raw") == 8

    summary = run_taxi_pipeline(spark, raw_tbl, str(tmp_path / "cleaned"))
    assert summary.total_trips == 5
    want = duckdb.sql(
        "SELECT AVG(trip_distance), AVG(total_amount), AVG(tip_percentage) "
        f"FROM ({ORACLE_SQL.format(path=taxi_csv)})"
    ).fetchone()
    assert math.isclose(summary.avg_distance, want[0], rel_tol=1e-12)
    assert math.isclose(summary.avg_total, want[1], rel_tol=1e-12)
    assert math.isclose(summary.avg_tip_percentage, want[2], rel_tol=1e-12)

    # full-refresh semantics: re-running overwrites, never appends
    summary2 = run_taxi_pipeline(spark, raw_tbl, str(tmp_path / "cleaned"))
    assert summary2.total_trips == 5
    spark.sql("DROP TABLE IF EXISTS raw.taxi_trips_raw_t")


def test_validate_gate_raises_on_empty(spark):
    empty = spark.range(0).selectExpr("id AS x")
    with pytest.raises(ValueError, match="No data"):
        validate_nonempty(empty, "raw")


@pytest.mark.parametrize(
    "rows, what",
    [
        # header only: the raw gate fires
        ([], "raw"),
        # one row with trip_distance = 0: the clean writes no data files,
        # and the post-write gate must still raise its own error, not a
        # schema-inference failure on the empty read-back
        ([ROWS[6]], "cleaned"),
    ],
)
def test_pipeline_gates_raise_on_no_data(spark, tmp_path, rows, what):
    p = tmp_path / "raw" / "yellow_tripdata_gate.csv"
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text("\n".join([HEADER, *rows]) + "\n")
    with pytest.raises(ValueError, match=f"No data in {what} taxi trips"):
        run_taxi_pipeline(spark, _read_raw(spark, str(p)), str(tmp_path / "cleaned"))
