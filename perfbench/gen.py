"""Seeded input generators, one per workload, with an on-disk cache.

Each generator writes only files (CSV or parquet) plus a ``truth.json``
holding what the benchmark needs to check outputs that no SQL oracle can
give (planted near-duplicate pairs, exact ANN neighbours, the stream's
expected window aggregate). The program under test sees the data files,
never the truth.

The cache lives inside the checkout under ``.perfbench_cache`` and is
keyed by (workload, seed, digest of this file); a directory is only
published (renamed into place) after it is complete, so an interrupted
run never leaves a half-written input behind. Generation time is recorded in the manifest
and reported on its own: it never falls inside a timed metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Input sizes. They are chosen so one timed repetition takes a few
# seconds on 4 cores and 4 + 22 runs of every workload fit in 3420 s.
TAXI_ROWS_PER_MONTH = 25_000
WAREHOUSE_ORDERS = 8_000
LLM_DOCS = 1_500
LLM_VECS = 2_000
LLM_QUERIES = 30
EVENTS_FILES = 3
EVENTS_PER_FILE = 10_000


def content_hash(root: str) -> str:
    """sha256 over every data file's relative path and bytes (sorted), so
    the same seed must reproduce the same inputs bit for bit."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "manifest.json":
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def ensure_inputs(cache_root: str, workload: str, seed: int) -> dict:
    """Return the manifest of the cached inputs, generating them first
    when the cache has none. Manifest keys: ``dir``, ``hash``, ``gen_s``,
    ``cached``, ``input_bytes``."""
    # this file's digest is part of the key: inputs cached by another
    # version of the generators (or at other sizes) are stale
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    key = f"{workload}-s{seed}-{version}"
    final = os.path.join(cache_root, key)
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        manifest.update(dir=final, cached=True)
        return manifest
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    GENERATORS[workload](tmp, np.random.default_rng(seed))
    gen_s = time.perf_counter() - t0
    manifest = {
        "workload": workload,
        "seed": seed,
        "hash": content_hash(tmp),
        "gen_s": gen_s,
        "input_bytes": dir_bytes(tmp, exclude=("truth.json",)),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    manifest.update(dir=final, cached=False)
    return manifest


def dir_bytes(root: str, exclude: tuple[str, ...] = ()) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(root):
        for name in filenames:
            if name not in exclude and name != "manifest.json":
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


def _write_truth(root: str, truth: dict) -> None:
    with open(os.path.join(root, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)


def _epoch(y: int, m: int, d: int = 1) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds())


# --------------------------------------------------------------- taxi_elt


def _taxi_month(rng: np.random.Generator, month: int, n: int) -> dict:
    """One month of trips covering every transform branch: each filter
    predicate, zero fares, tips past the 999.99 cap, payment codes 1-4
    plus an unknown code, NULL congestion fee, every duration bucket and
    the bucket boundaries themselves."""
    start, end = _epoch(2025, month), _epoch(2025, month + 1)
    pickup = rng.integers(start, end - 4 * 3600, n)
    dur = np.clip(rng.lognormal(np.log(12 * 60), 0.8, n), 30, 3 * 3600).astype(np.int64)
    edge = rng.random(n) < 0.03  # exact bucket boundaries 5/15/30/60 min
    dur[edge] = rng.choice([300, 900, 1800, 3600], edge.sum())
    u = rng.random(n)
    dur[u < 0.01] = 0  # dropoff == pickup (filtered)
    dur[(u >= 0.01) & (u < 0.015)] = -60  # dropoff before pickup (filtered)
    dist = np.round(rng.lognormal(np.log(2.5), 0.7, n), 2) + 0.01
    dist[rng.random(n) < 0.01] = 0.0  # zero distance (filtered)
    fare = np.round(2.5 + 2.5 * dist + rng.normal(0, 1.0, n).clip(-2, 2), 2).clip(0.5)
    fare[rng.random(n) < 0.01] = 0.0  # zero fare: tip-percentage guard
    payment = rng.choice([1, 2, 3, 4, 5], n, p=[0.6, 0.25, 0.05, 0.05, 0.05])
    tip = np.where(payment == 1, np.round(fare * rng.uniform(0, 0.3, n), 2), 0.0)
    big = rng.random(n) < 0.005  # tip > 10x fare: hits the 999.99 cap
    tip[big] = np.round(fare[big] * rng.uniform(12, 60, big.sum()) + 1.0, 2)
    cong = rng.choice([2.5, 0.0], n, p=[0.6, 0.4])
    cong_null = rng.random(n) < 0.1
    total = np.round(fare + tip + np.where(cong_null, 0.0, cong) + 1.0, 2)
    neg = rng.random(n) < 0.005
    total[neg] = -total[neg]  # refunds (filtered)
    order = np.argsort(pickup, kind="stable")
    cols = {
        "tpep_pickup_datetime": pickup,
        "tpep_dropoff_datetime": pickup + dur,
        "trip_distance": dist,
        "fare_amount": fare,
        "tip_amount": tip,
        "total_amount": total,
        "payment_type": payment,
        "passenger_count": rng.integers(1, 7, n),
        "cbd_congestion_fee": np.ma.masked_array(cong, cong_null),
        "PULocationID": rng.integers(1, 266, n),
        "DOLocationID": rng.integers(1, 266, n),
    }
    return {k: v[order] for k, v in cols.items()}


def _taxi_table(cols: dict) -> pa.Table:
    arrays = {}
    for name, values in cols.items():
        if name.startswith("tpep_"):
            arrays[name] = pa.array(values.astype("datetime64[s]"))
        elif isinstance(values, np.ma.MaskedArray):
            arrays[name] = pa.array(values.data, mask=values.mask)
        else:
            arrays[name] = pa.array(values)
    return pa.table(arrays)


def gen_taxi_elt(root: str, rng: np.random.Generator) -> None:
    """Batch 1: three monthly CSVs with the A1 columns. Batch 2: one more
    month that adds ``Airport Fee``, a column whose name needs sanitising
    (it must be added by additive schema evolution). Then the event files
    of the stream job that runs after the batches (``gen_events``)."""
    n = TAXI_ROWS_PER_MONTH
    rows = {}
    for batch, months in (("batch1", (1, 2, 3)), ("batch2", (4,))):
        d = os.path.join(root, "raw", batch)
        os.makedirs(d)
        rows[batch] = 0
        for month in months:
            cols = _taxi_month(rng, month, n)
            if batch == "batch2":
                cols["Airport Fee"] = rng.choice([0.0, 1.75], n, p=[0.8, 0.2])
            pacsv.write_csv(
                _taxi_table(cols),
                os.path.join(d, f"yellow_tripdata_2025-{month:02d}.csv"),
            )
            rows[batch] += n
    _write_truth(root, {"rows": rows, **gen_events(root, rng)})


# ------------------------------------------------------ warehouse_analytics

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(seconds: np.ndarray, unit: str = "us") -> pa.Array:
    return pa.array((seconds * 1_000_000).astype(f"datetime64[us]").astype(f"datetime64[{unit}]"))


def _pick(rng, options, n) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _write(root: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def gen_warehouse(root: str, rng: np.random.Generator) -> None:
    """The star schema plus ``events``, in the shapes of the engine's
    synthetic fixtures (same column names, types and value domains), at
    8k orders / ~32k lineitems, plus the LLM corpus tables."""
    n_ord = WAREHOUSE_ORDERS
    n_cust, n_part, n_supp = n_ord // 10, n_ord // 7, max(20, n_ord // 150)
    n_events = n_ord
    day = 86400
    _write(root, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    }))
    _write(root, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }))
    _write(root, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    }))
    _write(root, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }))
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(root, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{_PADJ[a]} {_PNOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price),
    }))
    d0, d1 = _epoch(1995, 1), _epoch(2001, 8)
    odate = d0 + rng.integers(0, (d1 - d0) // day, n_ord) * day
    _write(root, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, _PRIOS, n_ord),
    }))
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(lok)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    lpart = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(root, "lineitem", pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[lpart] * rng.uniform(0.9, 1.1, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_li) * day),
    }))
    e0 = _epoch(2024, 1)
    ets = np.sort(e0 + rng.uniform(0, 30 * day, n_events))
    # parquet TIMESTAMP(NANOS), the storage type of the engine's events fixture
    _write(root, "events", pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array((ets * 1e6).astype("datetime64[us]").astype("datetime64[ns]")),
        "user_id": pa.array(rng.integers(0, max(50, n_events // 60), n_events)),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }))
    gen_llm_corpus(root, rng)


# ------------------------------------------------------------ LLM corpus

_LANGS = ["de", "en", "es", "fr", "zh"]
_SOURCES = ["src0", "src1", "src2", "src3", "src4"]
_STOP = ["the", "a", "of", "and", "to", "in", "is", "it"]
EMBED_DIM = 64
QUERY_ID_BASE = 10_000_000


def shingles(tokens: list[str], n: int = 3) -> set[str]:
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def gen_llm_corpus(root: str, rng: np.random.Generator) -> None:
    """Documents over a Zipf vocabulary (5 langs x 5 sources) with planted
    exact-duplicate groups, near-duplicate clusters at a known 3-shingle
    Jaccard, and eval-set 3-gram contamination; plus clustered 64-d
    embeddings with held-out queries and their exact top-10."""
    n_docs = LLM_DOCS
    vocab = np.array(_STOP + [f"w{i}" for i in range(20_000)], dtype=object)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    lengths = rng.integers(30, 90, n_docs)
    flat = vocab[rng.choice(len(vocab), int(lengths.sum()), p=p)]
    docs = np.split(flat, np.cumsum(lengths)[:-1])
    docs = [list(d) for d in docs]
    is_eval = np.arange(n_docs) % 97 == 0  # the eval hold-out training_data_prep uses
    train_ids = np.flatnonzero(~is_eval)
    # near-duplicate clusters: a base doc and copies with 1-2 tokens swapped
    # for tokens no document uses, so the 3-shingle Jaccard is known (>= 0.8)
    planted_pairs = []
    fresh = iter(f"z{i}" for i in range(10**7))
    picks = rng.permutation(train_ids)
    n_clusters = n_docs // 40
    base_ids, picks = picks[:n_clusters], picks[n_clusters:]
    for b in base_ids:
        size = int(rng.integers(1, 3))
        copies, picks = picks[:size], picks[size:]
        for c in copies:
            toks = list(docs[b])
            for pos in rng.choice(np.arange(5, len(toks) - 5), 1, replace=False):
                toks[pos] = next(fresh)
            docs[c] = toks
            planted_pairs.append((int(min(b, c)), int(max(b, c))))
    # exact-duplicate groups: copies of a doc's text under new ids
    n_exact = n_docs // 50
    exact_src, picks = picks[:n_exact], picks[n_exact:]
    exact_dst, picks = picks[:n_exact], picks[n_exact:]
    for s, d in zip(exact_src, exact_dst):
        docs[d] = list(docs[s])
    # contamination: a 6-token span of an eval doc pasted into train docs
    eval_ids = np.flatnonzero(is_eval)
    n_cont = n_docs // 60
    cont_dst, picks = picks[:n_cont], picks[n_cont:]
    for d in cont_dst:
        src = docs[int(rng.choice(eval_ids))]
        at = int(rng.integers(0, len(src) - 6))
        ins = int(rng.integers(0, len(docs[d])))
        docs[d] = docs[d][:ins] + src[at:at + 6] + docs[d][ins:]
    texts = [" ".join(d) for d in docs]
    ids = np.arange(n_docs, dtype=np.int64)
    _write(root, "documents", pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_docs),
        "source": _pick(rng, _SOURCES, n_docs),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }))
    # planted near-dup pairs whose final texts still clear the Jaccard bar
    # (exact-dup or contamination edits may have touched a copy)
    sh = {}
    kept_pairs = []
    for a, b in planted_pairs:
        for i in (a, b):
            if i not in sh:
                sh[i] = shingles(docs[i])
        if texts[a] != texts[b] and jaccard(sh[a], sh[b]) >= 0.8:
            kept_pairs.append([a, b])

    n_vec = LLM_VECS
    centers = rng.normal(0, 1, (64, EMBED_DIM))
    label = rng.integers(0, 64, n_vec)
    vec = (centers[label] + rng.normal(0, 0.35, (n_vec, EMBED_DIM))).astype(np.float32)
    qlabel = rng.integers(0, 64, LLM_QUERIES)
    qvec = (centers[qlabel] + rng.normal(0, 0.35, (LLM_QUERIES, EMBED_DIM))).astype(np.float32)
    emb_type = pa.list_(pa.float32())
    _write(root, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=emb_type),
        "label": pa.array(label.astype(np.int32)),
    }))
    # query ids sit outside the corpus id range: the ANN operators skip a
    # neighbour whose id equals the query's
    _write(root, "queries", pa.table({
        "vec_id": pa.array(QUERY_ID_BASE + np.arange(LLM_QUERIES, dtype=np.int64)),
        "embedding": pa.array(list(qvec), type=emb_type),
    }))
    vn = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    qn = qvec / np.linalg.norm(qvec, axis=1, keepdims=True)
    sims = qn @ vn.T
    top10 = np.argsort(-sims, axis=1, kind="stable")[:, :10]
    _write_truth(root, {
        "neardup_pairs": kept_pairs,
        "ann_top10": top10.tolist(),
    })


# ------------------------------------------------------------ stream events

EVENTS_T0 = _epoch(2024, 3, 1)
EVENTS_FILE_SPAN_S = 60  # event time one file covers: one 1-minute window


def gen_events(root: str, rng: np.random.Generator) -> dict:
    """Event files, one per minute of event time, landed in file order.
    About 5% of events are out of order inside the 2-minute watermark
    (shifted back into the previous minute), 1% are re-sent duplicates in
    the next file, and a few per file arrive 10 minutes late, past the
    watermark. The last file carries a sentinel event far ahead of the
    rest, which moves the watermark past every real window so the
    append-mode sink emits them all. Returns the expected window
    aggregate (late rows dropped, duplicates counted once) for
    ``truth.json``."""
    n_files = EVENTS_FILES
    per = EVENTS_PER_FILE
    d = os.path.join(root, "events")
    os.makedirs(d)
    next_id = 0
    prev = None
    mtime0 = time.time_ns()
    expect: dict[tuple[int, str], list] = {}
    for i in range(n_files):
        start = EVENTS_T0 + i * EVENTS_FILE_SPAN_S
        ts = start + rng.uniform(0, EVENTS_FILE_SPAN_S, per)
        ooo = rng.random(per) < 0.05
        ts[ooo] -= rng.uniform(1, 45, ooo.sum())
        late = np.zeros(per, dtype=bool)
        # late rows from the third file on: with two stateful operators a
        # micro-batch drops rows behind the watermark of the batch before
        # it, which moves past them only after the second file
        if i >= 2:
            late[rng.choice(per, 5, replace=False)] = True
            ts[late] = start - 600 - rng.uniform(0, 30, 5)
        ts_us = np.round(ts * 1e6).astype(np.int64)
        ids = np.arange(next_id, next_id + per, dtype=np.int64)
        next_id += per
        etype = np.asarray(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, per)]
        value = np.round(rng.exponential(20.0, per), 2) + 0.01
        batch = {"event_id": ids, "ts": ts_us, "event_type": etype, "value": value}
        for k in range(per):
            if not late[k]:
                w = (int(ts_us[k]) // 1_000_000 // 60) * 60
                acc = expect.setdefault((w, etype[k]), [0, 0.0])
                acc[0] += 1
                acc[1] += value[k]
        if prev is not None:  # re-send 1% of the previous file's on-time events
            ok = np.flatnonzero(~prev["late"])
            dup = rng.choice(ok, per // 100, replace=False)
            batch = {k: np.concatenate([batch[k], prev[k][dup]]) for k in batch}
            late = np.concatenate([late, np.zeros(len(dup), dtype=bool)])
        if i == n_files - 1:  # sentinel: pushes the watermark past every window
            far = (EVENTS_T0 + (n_files + 30) * EVENTS_FILE_SPAN_S) * 1_000_000
            batch = {
                "event_id": np.append(batch["event_id"], next_id),
                "ts": np.append(batch["ts"], far),
                "event_type": np.append(batch["event_type"], "_sentinel"),
                "value": np.append(batch["value"], 0.0),
            }
        order = rng.permutation(len(batch["event_id"]))
        table = pa.table({
            "event_id": pa.array(batch["event_id"][order]),
            "ts": pa.array(batch["ts"][order], type=pa.timestamp("us", tz="UTC")),
            "event_type": pa.array(batch["event_type"][order].astype(str)),
            "value": pa.array(batch["value"][order]),
        })
        path = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        # strictly increasing mtimes: the file source replays in mtime order
        os.utime(path, ns=(mtime0 + i * 10**9, mtime0 + i * 10**9))
        prev = {k: v[: per] for k, v in batch.items()}
        prev["late"] = late[:per]
    rows = [
        [w, t, n, round(s, 6)] for (w, t), (n, s) in sorted(expect.items())
    ]
    return {"windows": rows, "files": n_files}


GENERATORS = {
    "taxi_elt": gen_taxi_elt,
    "warehouse_analytics": gen_warehouse,
}
