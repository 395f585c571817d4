"""The workloads: what one repetition calls, how its outputs are
checked, and what is dropped between repetitions so each one does the
full work. A workload is one or more parts run one after another on one
session.

Every call into the program goes through ``tr.span(name, layer, kind)``:
a ``call`` span wraps a layer function, an ``action`` span wraps the
action the benchmark issues on its result. ``Rep.op`` counts one
operation attempted and records whether its check failed.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from agent_data_pipeline_spark.fns import release_persists
from agent_data_pipeline_spark.io.sinks import write_parquet
from agent_data_pipeline_spark.llmdata.dedup import minhash_lsh_pairs
from agent_data_pipeline_spark.llmdata.similarity import ivf_topk
from agent_data_pipeline_spark.pipelines import taxi
from agent_data_pipeline_spark.queries import REGISTRY
from agent_data_pipeline_spark.streaming import (
    foreach_batch_parquet_sink,
    stream_dedup,
    stream_parquet,
    tumbling_window_agg,
)
from tests import oracle as repo_oracle

from . import gen


@dataclass
class Rep:
    """Outcome of one repetition."""

    attempted: int = 0
    failed: list = field(default_factory=list)
    wall_s: float = 0.0
    latencies: list = field(default_factory=list)  # seconds per query
    counts: dict = field(default_factory=dict)

    def op(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(f"{name}: {detail}" if detail else name)

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)


def _cached_json(root: str, sources: list[str], compute):
    """``compute()``, cached in ``root`` under a name holding a digest of
    ``sources``: everything besides the inputs the result depends on (the
    oracle SQL and the row canonicalisation), so an oracle cached by a
    commit with other SQL is never reused."""
    digest = hashlib.sha256("\0".join(sources).encode()).hexdigest()[:8]
    path = os.path.join(root, f"oracle-{digest}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    with open(path + ".tmp", "w") as fh:
        json.dump(value, fh)
    os.replace(path + ".tmp", path)
    return value


def _settings(con: duckdb.DuckDBPyConnection) -> duckdb.DuckDBPyConnection:
    """UTC like the engine's session, and few threads beside Spark."""
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    return con


def _duck() -> duckdb.DuckDBPyConnection:
    return _settings(duckdb.connect())


# ------------------------------------------------------------------ taxi

# The reference transform as DuckDB SQL (Postgres semantics), the same
# shape as the engine's own taxi parity test, over the generated CSVs.
_TAXI_CLEAN_SQL = """
SELECT
  tpep_pickup_datetime AS pickup_datetime,
  tpep_dropoff_datetime AS dropoff_datetime,
  EXTRACT(EPOCH FROM (tpep_dropoff_datetime - tpep_pickup_datetime))/60 AS trip_duration_minutes,
  EXTRACT(hour FROM tpep_pickup_datetime) AS pickup_hour,
  EXTRACT(dow FROM tpep_pickup_datetime) AS pickup_day_of_week,
  EXTRACT(month FROM tpep_pickup_datetime) AS pickup_month,
  trip_distance, fare_amount, tip_amount,
  CASE WHEN fare_amount>0 THEN LEAST((tip_amount/fare_amount)*100,999.99) ELSE 0 END AS tip_percentage,
  total_amount,
  CASE payment_type WHEN 1 THEN 'Credit Card' WHEN 2 THEN 'Cash'
    WHEN 3 THEN 'No Charge' WHEN 4 THEN 'Dispute' ELSE 'Other' END AS payment_method,
  passenger_count,
  CASE WHEN trip_distance>0 THEN total_amount/trip_distance ELSE 0 END AS revenue_per_mile,
  CASE WHEN EXTRACT(EPOCH FROM (tpep_dropoff_datetime-tpep_pickup_datetime))/60<5 THEN 'Very Short'
       WHEN EXTRACT(EPOCH FROM (tpep_dropoff_datetime-tpep_pickup_datetime))/60<15 THEN 'Short'
       WHEN EXTRACT(EPOCH FROM (tpep_dropoff_datetime-tpep_pickup_datetime))/60<30 THEN 'Medium'
       WHEN EXTRACT(EPOCH FROM (tpep_dropoff_datetime-tpep_pickup_datetime))/60<60 THEN 'Long'
       ELSE 'Very Long' END AS trip_category,
  COALESCE(cbd_congestion_fee,0) AS congestion_fee,
  PULocationID AS pickup_location_id,
  DOLocationID AS dropoff_location_id
FROM read_csv({files}, header=true, union_by_name=true,
  types={{'tpep_pickup_datetime':'TIMESTAMP','tpep_dropoff_datetime':'TIMESTAMP',
          'trip_distance':'DOUBLE','fare_amount':'DOUBLE','tip_amount':'DOUBLE',
          'total_amount':'DOUBLE','payment_type':'BIGINT','passenger_count':'BIGINT',
          'cbd_congestion_fee':'DOUBLE','PULocationID':'BIGINT','DOLocationID':'BIGINT'}})
WHERE tpep_dropoff_datetime>tpep_pickup_datetime AND trip_distance>0 AND total_amount>=0
"""

# Order-insensitive content hash of the cleaned table, applied alike to
# the oracle rows and to the parquet the pipeline wrote.
_TAXI_HASH_SQL = """
SELECT count(*) AS n,
  CAST(sum(hash(CAST(pickup_datetime AS TIMESTAMP), CAST(dropoff_datetime AS TIMESTAMP),
    trip_duration_minutes, CAST(pickup_hour AS BIGINT), CAST(pickup_day_of_week AS BIGINT),
    CAST(pickup_month AS BIGINT), trip_distance, fare_amount, tip_amount, tip_percentage,
    total_amount, payment_method, passenger_count, revenue_per_mile, trip_category,
    congestion_fee, pickup_location_id, dropoff_location_id)) AS VARCHAR) AS h,
  avg(trip_distance), avg(total_amount), avg(tip_percentage)
FROM ({src})
"""


class TaxiElt:
    """ingest_csv + run_taxi_pipeline for each of two batches; batch 2
    adds a column that schema evolution must add."""
    table = "taxi_trips_raw"

    def __init__(self, inputs: dict, work: str):
        self.inputs = inputs
        self.raw = {b: os.path.join(inputs["dir"], "raw", b) for b in ("batch1", "batch2")}
        self.rows = inputs["truth"]["rows"]
        self.cleaned = os.path.join(work, "analytics", "taxi_trips_cleaned")
        self.warehouse = os.path.join(work, "warehouse")

    def oracle(self) -> dict:
        def files(batches):
            return "[" + ", ".join(
                f"'{os.path.join(self.raw[b], f)}'"
                for b in batches for f in sorted(os.listdir(self.raw[b]))
            ) + "]"

        def compute():
            con = _duck()
            out = {}
            for key, batches in (("batch1", ["batch1"]), ("all", ["batch1", "batch2"])):
                sql = _TAXI_HASH_SQL.format(src=_TAXI_CLEAN_SQL.format(files=files(batches)))
                out[key] = list(con.sql(sql).fetchone())
            con.close()
            return out

        return _cached_json(self.inputs["dir"], [_TAXI_CLEAN_SQL, _TAXI_HASH_SQL], compute)

    def setup(self, spark) -> None:
        self.spark = spark
        self.want = self.oracle()

    def reset(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS raw.{self.table}")
        shutil.rmtree(self.cleaned, ignore_errors=True)

    def written_bytes(self) -> int:
        return gen.dir_bytes(self.cleaned) + gen.dir_bytes(self.warehouse)

    def rep(self, tr) -> Rep:
        spark = self.spark
        r = Rep()
        summaries, plans = [], []
        t0 = time.perf_counter()
        for batch in ("batch1", "batch2"):
            with tr.span("ingest_csv", "pipelines"):
                # through the module, so a traced run's schema-layer wrapper applies
                plans.append(taxi.ingest_csv(spark, self.raw[batch], self.table))
            with tr.span("run_taxi_pipeline", "pipelines"):
                summaries.append(taxi.run_taxi_pipeline(
                    spark, spark.table(f"raw.{self.table}"), self.cleaned
                ))
        r.wall_s = time.perf_counter() - t0
        r.add("rows_in", self.rows["batch1"] * 2 + self.rows["batch2"])
        r.add("rows_kept", sum(s.total_trips for s in summaries))
        r.add("columns_added", sum(len(p.added_columns) for p in plans))
        r.add("files_written", sum(len(fs) for _, _, fs in os.walk(self.cleaned)))
        # checks (outside the timed region)
        r.op("ingest batch1 creates table", plans[0].created_table)
        added = [c.lower() for c in plans[1].added_columns]
        r.op("ingest batch2 adds exactly airport_fee", added == ["airport_fee"], str(added))
        for s, key in zip(summaries, ("batch1", "all")):
            n, _, dist, tot, tip = self.want[key]
            r.op(
                f"summary {key}",
                s.total_trips == n and _close(s.avg_distance, dist)
                and _close(s.avg_total, tot) and _close(s.avg_tip_percentage, tip),
                f"{s} vs {self.want[key]}",
            )
        con = _duck()
        got = con.sql(_TAXI_HASH_SQL.format(
            src=f"SELECT * FROM read_parquet('{self.cleaned}/*/*.parquet', hive_partitioning=true)"
        )).fetchone()
        con.close()
        want = self.want["all"]
        r.op("cleaned table rows+hash", list(got[:2]) == want[:2], f"{got[:2]} vs {want[:2]}")
        return r


# ------------------------------------------------------------- warehouse

WAREHOUSE_QUERIES = ["revenue_by_nation", "hypertable_rollup"]

# Layer of each query's backing module (OPERATORS.md); the rest are
# plain registry queries.
QUERY_LAYER = {"hypertable_rollup": "ops"}  # ops/timeseries.py

NEARDUP_RECALL_FLOOR = 0.9
ANN_RECALL_FLOOR = 0.8


def canon_rows(df) -> list[list[str]]:
    """Sorted canonical rows of a pandas frame, by the rules of the
    repository's own DuckDB-oracle check, as JSON-able lists."""
    return [list(r) for r in repo_oracle._canon_rows(df)]


class WarehouseAnalytics:
    """A read-mostly analyst session over the warehouse: registry queries
    (a star join and a time-series rollup), then LLM corpus preparation
    over the documents and embeddings tables. training_data_prep writes
    its shard manifest (checked against the oracle SQL, whose per-shard
    counts and sums pin the exact-dedup survivors and the decontaminated
    set); the MinHash-LSH near-dup pairs are checked for recall of the
    planted pairs; the IVF top-10 against the exact numpy top-10."""

    def __init__(self, inputs: dict, work: str):
        self.inputs = inputs
        self.sf_dir = inputs["dir"]
        self.truth = inputs["truth"]
        self.manifest_dir = os.path.join(work, "shards", "manifest")

    def oracle(self) -> dict:
        names = WAREHOUSE_QUERIES + ["training_data_prep"]

        def compute():
            con = repo_oracle.duck_connection(self.sf_dir)
            _settings(con)
            out = {}
            for q in names:
                df = con.sql(REGISTRY[q].oracle).fetchdf()
                out[q] = {"cols": sorted(df.columns), "rows": canon_rows(df)}
            con.close()
            return out

        sources = [REGISTRY[q].oracle for q in names] + [inspect.getsource(repo_oracle)]
        return _cached_json(self.sf_dir, sources, compute)

    def setup(self, spark) -> None:
        self.spark = spark
        self.want = self.oracle()
        texts = pq.read_table(f"{self.sf_dir}/documents.parquet", columns=["doc_id", "text"])
        self.shingles = {
            i: gen.shingles(t.split())
            for i, t in zip(texts["doc_id"].to_pylist(), texts["text"].to_pylist())
        }

    def reset(self) -> None:
        shutil.rmtree(self.manifest_dir, ignore_errors=True)

    def written_bytes(self) -> int:
        return gen.dir_bytes(self.manifest_dir)

    def _check(self, r: Rep, name: str, pdf) -> None:
        want = self.want[name]
        got = canon_rows(pdf)
        ok = sorted(pdf.columns) == want["cols"] and got == want["rows"]
        r.op(name, ok, "" if ok else f"{len(got)} rows vs {len(want['rows'])}")

    def rep(self, tr) -> Rep:
        spark = self.spark
        r = Rep()
        results = {}
        t0 = time.perf_counter()
        for q in WAREHOUSE_QUERIES:
            layer = QUERY_LAYER.get(q, "queries")
            a = time.perf_counter()
            with tr.span(q, layer):
                df = REGISTRY[q].spark(spark, self.sf_dir)
            with tr.span(q, layer, "action"):
                results[q] = df.toPandas()
            r.latencies.append(time.perf_counter() - a)
        with tr.span("training_data_prep", "llmdata"):
            manifest = REGISTRY["training_data_prep"].spark(spark, self.sf_dir)
        # the write executes the whole llmdata pipeline, so its span is llmdata
        with tr.span("training_data_prep", "llmdata", "action"):
            write_parquet(manifest, self.manifest_dir)
        docs = spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        with tr.span("minhash_lsh_pairs", "llmdata"):
            pairs_df = minhash_lsh_pairs(docs)
        with tr.span("minhash_lsh_pairs", "llmdata", "action"):
            pairs = [(a, b) for a, b in pairs_df.select("id_a", "id_b").collect()]
        corpus = spark.read.parquet(f"{self.sf_dir}/embeddings.parquet")
        queries = spark.read.parquet(f"{self.sf_dir}/queries.parquet")
        with tr.span("ivf_topk", "llmdata"):
            df = ivf_topk(corpus, queries, k=10, n_cells=32, n_probe=8)
        with tr.span("ivf_topk", "llmdata", "action"):
            ann = df.select("query_id", "neighbor_id").collect()
        r.wall_s = time.perf_counter() - t0

        # checks
        for q, pdf in results.items():
            self._check(r, q, pdf)
        self._check(r, "training_data_prep", pq.read_table(self.manifest_dir).to_pandas())
        planted = {(a, b) for a, b in self.truth["neardup_pairs"]}
        found = planted & {(min(a, b), max(a, b)) for a, b in pairs}
        recall = len(found) / max(1, len(planted))
        r.add("neardup_recall", recall)
        r.op("neardup_recall", recall >= NEARDUP_RECALL_FLOOR, f"{recall:.3f}")
        # useful outcomes / attempts: returned pairs whose exact 3-shingle
        # Jaccard clears the operator's 0.5 threshold
        r.add("candidate_pairs", len(pairs))
        r.add("verified_pairs", sum(
            1 for a, b in pairs if gen.jaccard(self.shingles[a], self.shingles[b]) >= 0.5
        ))
        truth = self.truth["ann_top10"]
        by_q: dict[int, set] = {}
        for q, n in ann:
            by_q.setdefault(q - gen.QUERY_ID_BASE, set()).add(n)
        hits = sum(len(by_q.get(i, set()) & set(t)) for i, t in enumerate(truth))
        recall = hits / (10 * len(truth))
        r.add("ann_recall_at_10", recall)
        r.op("ivf_topk recall@10", recall >= ANN_RECALL_FLOOR, f"{recall:.3f}")
        return r


# ---------------------------------------------------------------- stream

STREAM_WATERMARK = "2 minutes"
# Open loop (traced runs): a ladder of landing rates in files per second,
# each file about gen.EVENTS_PER_FILE events, each rung OPEN_LOOP_S long
# (32 to 128 files)
LADDER_FILES_PER_S = (4.0, 8.0, 16.0)
REFERENCE_FILES_PER_S = 4.0
OPEN_LOOP_S = 8.0
# about two micro-batches of the replayed stream (1.3-1.6 s each on 4 cores)
# plus the wait for the one in flight
FRESHNESS_LIMIT_S = 5.0
# a rung keeps up when freshness grows by less than this many seconds per
# second of landing (least-squares slope over the rung)
FRESHNESS_TREND_LIMIT = 0.1


class EventsStream:
    """stream_parquet -> stream_dedup -> tumbling_window_agg ->
    foreach_batch_parquet_sink, replayed one file per micro-batch from a
    fresh checkpoint each repetition. The window aggregate runs under the
    dedup stage's 2-minute watermark: the engine rejects redefining a
    watermark downstream of another stateful operator."""

    def __init__(self, inputs: dict, work: str):
        self.inputs = inputs
        self.src = os.path.join(inputs["dir"], "events")
        self.work = work
        self.n = 0
        self.truth = {
            (int(w), t): (int(n), float(s)) for w, t, n, s in inputs["truth"]["windows"]
        }

    def oracle(self) -> dict:
        return {}

    def setup(self, spark) -> None:
        self.spark = spark
        first = sorted(os.listdir(self.src))[0]
        self.schema = spark.read.parquet(os.path.join(self.src, first)).schema

    def _dirs(self) -> tuple[str, str]:
        base = os.path.join(self.work, "stream", f"r{self.n}")
        return os.path.join(base, "out"), os.path.join(base, "ckpt")

    def reset(self) -> None:
        for q in self.spark.streams.active:  # left running by a failed repetition
            q.stop()
        shutil.rmtree(os.path.join(self.work, "stream"), ignore_errors=True)
        self.n += 1

    def written_bytes(self) -> int:
        return gen.dir_bytes(self._dirs()[0])

    def _start(self, src_dir: str, out: str, ckpt: str, max_files_per_trigger=None):
        src = stream_parquet(self.spark, src_dir, self.schema, max_files_per_trigger)
        dedup = stream_dedup(src, ["event_id"], "ts", STREAM_WATERMARK)
        agg = tumbling_window_agg(
            dedup, "ts", "1 minute",
            [F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")],
            keys=["event_type"],
        )
        return foreach_batch_parquet_sink(agg, out, ckpt)

    def rep(self, tr) -> Rep:
        out, ckpt = self._dirs()
        r = Rep()
        t0 = time.perf_counter()
        with tr.span("stream_job", "streaming"):
            q = self._start(self.src, out, ckpt, max_files_per_trigger=1)
        with tr.span("stream_job", "streaming", "action"):
            q.processAllAvailable()
            progress = list(q.recentProgress)
            q.stop()
            q.awaitTermination(60)
        r.wall_s = time.perf_counter() - t0
        batches = [p for p in progress if p.get("batchId") is not None]
        r.add("batches", len(batches))
        r.add("empty_batches", sum(1 for p in batches if p.get("numInputRows", 0) == 0))
        durs = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in batches]
        r.counts["batch_s"] = durs
        r.add("commit_s", sum(p["durationMs"].get("commitOffsets", 0) / 1e3 for p in batches))
        # state size at its largest over the micro-batches
        states = [p.get("stateOperators", []) for p in batches] or [[]]
        r.add("state_rows", max(sum(s.get("numRowsTotal", 0) for s in st) for st in states))
        r.add("state_mb", max(sum(s.get("memoryUsedBytes", 0) for s in st) for st in states) / 2**20)
        # checks: the sink equals the batch window aggregate over all
        # landed files, rows past the watermark dropped
        con = _duck()
        got_rows = con.sql(
            "SELECT epoch(window_start)::BIGINT, event_type, n, s "
            f"FROM read_parquet('{out}/*.parquet') WHERE event_type <> '_sentinel'"
        ).fetchall()
        con.close()
        got = {(int(w), t): (int(n), float(s)) for w, t, n, s in got_rows}
        ok = got.keys() == self.truth.keys() and all(
            got[k][0] == v[0] and _close(got[k][1], v[1], 1e-9) for k, v in self.truth.items()
        )
        r.op("stream sink == batch window aggregate", ok,
             f"{len(got)} windows vs {len(self.truth)}")
        return r


def stage_open_loop_files(wl: EventsStream, stage: str, n: int) -> list[str]:
    """Write ``n`` event files for one rung into ``stage``, made
    from the cached ones: copy j of file i moves j * (number of files)
    minutes later in event time and its event ids past every earlier copy,
    so each landed file carries new events, as out of order and as late
    as the cached ones. The sentinel is left out."""
    names = sorted(os.listdir(wl.src))
    tables = []
    for name in names:
        t = pq.read_table(os.path.join(wl.src, name))
        tables.append(t.filter(pc.not_equal(t["event_type"], "_sentinel")))
    id_span = max(pc.max(t["event_id"]).as_py() for t in tables) + 1
    ts_type = tables[0].schema.field("ts").type
    os.makedirs(stage)
    paths = []
    for k in range(n):
        j, i = divmod(k, len(tables))
        t = tables[i]
        shift_us = j * len(tables) * gen.EVENTS_FILE_SPAN_S * 1_000_000
        ts = pc.add(t["ts"].cast(pa.int64()), shift_us).cast(ts_type)
        t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
        t = t.set_column(0, "event_id", pc.add(t["event_id"], j * id_span))
        paths.append(os.path.join(stage, f"part-{k:05d}.parquet"))
        pq.write_table(t, paths[-1])
    return paths


def _slope(xs: list[float], ys: list[float]) -> float:
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    var = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0


def open_loop(wl: EventsStream, files_per_s: float) -> dict:
    """Land OPEN_LOOP_S seconds' worth of event files on a fixed
    schedule, regardless of how the stream keeps up, into a fresh
    directory watched by the same job (no per-trigger file cap).
    Freshness of a file: from when it was due to land to the commit of
    the micro-batch that read it (the checkpoint's source log maps files
    to batches, its commit log times the commits). Generator lag: how
    late each file actually landed."""
    base = os.path.join(wl.work, "openloop", f"{files_per_s:g}")
    land, out, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    staged = stage_open_loop_files(
        wl, os.path.join(base, "stage"), int(files_per_s * OPEN_LOOP_S)
    )
    files = [os.path.basename(p) for p in staged]
    os.makedirs(land)
    q = wl._start(land, out, ckpt)
    due, landed = [], []
    t0 = time.time() + 1.0
    try:
        for i, path in enumerate(staged):
            due.append(t0 + i / files_per_s)
            time.sleep(max(0.0, due[-1] - time.time()))
            os.rename(path, os.path.join(land, files[i]))
            landed.append(time.time())
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(60)
    batch_of = {}
    src_log = os.path.join(ckpt, "sources", "0")
    for entry in os.listdir(src_log):
        if not entry.split(".")[0].isdigit():
            continue  # checksum and temporary files
        with open(os.path.join(src_log, entry)) as fh:
            for line in fh.read().splitlines()[1:]:
                rec = json.loads(line)
                batch_of[os.path.basename(rec["path"])] = rec["batchId"]
    commit_dir = os.path.join(ckpt, "commits")
    committed = {
        int(n): os.path.getmtime(os.path.join(commit_dir, n))
        for n in os.listdir(commit_dir) if n.isdigit()
    }
    done = [committed[batch_of[name]] for name in files]
    backlog = max(
        sum(1 for t in landed if t <= at) - sum(1 for t in done if t <= at)
        for at in landed + done
    )
    fresh = [c - d for c, d in zip(done, due)]
    p90 = statistics.quantiles(fresh, n=10, method="inclusive")[8]
    trend = _slope([d - due[0] for d in due], fresh)
    shutil.rmtree(base, ignore_errors=True)
    return {
        "files_per_s": files_per_s,
        "events_per_s": files_per_s * gen.EVENTS_PER_FILE,
        "freshness_s": fresh,
        "freshness_p90_s": p90,
        "freshness_trend": trend,
        "generator_lag_s": max(t - d for t, d in zip(landed, due)),
        "backlog_files_max": backlog,
        "sustained": p90 <= FRESHNESS_LIMIT_S and trend <= FRESHNESS_TREND_LIMIT,
    }


class Workload:
    """The parts of a workload, run one after another in each repetition
    on one session; a repetition's time is the sum of theirs."""

    def __init__(self, name: str, inputs: dict, work: str):
        self.name = name
        self.parts = [part(inputs, work) for part in WORKLOADS[name]]

    def oracle(self) -> None:
        for p in self.parts:
            p.oracle()

    def setup(self, spark) -> None:
        for p in self.parts:
            p.setup(spark)

    def reset(self) -> None:
        release_persists()
        for p in self.parts:
            p.reset()

    def written_bytes(self) -> int:
        return sum(p.written_bytes() for p in self.parts)

    def rep(self, tr) -> Rep:
        r = Rep()
        for p in self.parts:
            part = p.rep(tr)
            r.attempted += part.attempted
            r.failed += part.failed
            r.wall_s += part.wall_s
            r.latencies += part.latencies
            for k, v in part.counts.items():
                r.counts[k] = r.counts.get(k, [] if isinstance(v, list) else 0) + v
        return r


# The stream job rides with the batch ELT: each workload run pays a cold
# JVM start and a cold warm-up repetition, and 4 + 22 runs of every
# workload must fit in 3420 s.
WORKLOADS = {
    "taxi_elt": (TaxiElt, EventsStream),
    "warehouse_analytics": (WarehouseAnalytics,),
}
