"""Seeded input generators for the three workloads.

Every table and log segment is a pure function of (workload, seed, run
length); nothing reads data from outside the checkout. The harness JVM
reads the files and `manifest.properties`; checks.py reads the same files.
"""
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# enrich_drain: a backlog of large segments, drained in about --seconds on
# a 4-core box at the parent's ~25k records/s (2 s per 50k-record segment)
DRAIN_RECORDS_PER_SEGMENT = 50_000
DRAIN_SECONDS_PER_SEGMENT = 2.0
DRAIN_SF = 0.1  # customer dimension size (15k rows)
CUTOFF_MS = 1_700_000_000_000

# upsert_serve: open-loop rates at about a third of the parent's capacity, so a
# slow spell on a shared host does not push the loop into a growing backlog
UPSERT_RECORDS_PER_SEGMENT = 5_000
UPSERT_INTERVAL_MS = 1_500
UPSERT_HOT_KEYS = 2_000
LOOKUP_RATE = 3.0
LOOKUP_THREADS = 4

# batch_ops: two heavy registry queries at sf0.05 (the Graph module's
# iterative PageRank and a TPC-H operator plan), warmed up by two untimed
# passes. Heavier ones (q_dedup_keep_first, q_repeated_spans, q_ann_ivfpq,
# q_corpus_pipeline) do not fit a run's time (README.md). At sf0.01 a query
# was mostly per-job scheduling and its time swung with host load
BATCH_SF = 0.05
# the first, cold warm-up pass reads small tables of the same shape: it
# costs JIT and class loading mostly, and interpreted code is slow per row
BATCH_COLD_SF = 0.005
BATCH_QUERIES = ["q_pagerank", "q21_sole_late_supplier"]
BATCH_WARMUP_PASSES = 2
BATCH_SECONDS_PER_PASS = 4.0  # for sizing the timed passes: 3 at --seconds 12
# the base tables each query reads, for records_per_s
BATCH_QUERY_TABLES = {
    "q_pagerank": ["lineitem", "orders"],
    "q21_sole_late_supplier": ["lineitem", "orders", "supplier"],
}

HEADER_TYPE = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
RECORD_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")), ("headers", HEADER_TYPE)])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="none")


def _str(a):
    return pc.cast(pa.array(a), pa.string())


def _money(cents):
    """Integer cents → "d.cc" strings, vectorized."""
    cents = np.asarray(cents, dtype=np.int64)
    sign = np.where(cents < 0, "-", "")
    whole = _str(np.abs(cents) // 100)
    frac = pc.utf8_lpad(_str(np.abs(cents) % 100), 2, "0")
    return pc.binary_join_element_wise(pa.array(sign), whole, ".", frac, "")


def tpch(rng, sf, tables):
    """The TPC-H-shaped tables the repository's queries read, at `sf`."""
    out = {}
    nn = 25
    if "nation" in tables:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(np.arange(nn), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(nn)],
            "n_regionkey": pa.array(np.arange(nn) % 5, pa.int32())})
    nc = int(150_000 * sf)
    if "customer" in tables:
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, nn, nc), pa.int32()),
            "c_acctbal": np.round(rng.integers(-99_999, 999_999, nc) / 100.0, 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)})
    ns = int(10_000 * sf)
    if "supplier" in tables:
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, nn, ns), pa.int32()),
            "s_acctbal": np.round(rng.integers(-99_999, 999_999, ns) / 100.0, 2)})
    no = int(1_500_000 * sf)
    if "orders" in tables or "lineitem" in tables:
        odate = np.datetime64("1995-01-01") + rng.integers(0, 2400, no).astype("timedelta64[D]")
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.integers(100_000, 50_000_000, no) / 100.0, 2),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)})
        lines = rng.integers(1, 8, no)
        ok = np.repeat(np.arange(no), lines)
        n = len(ok)
        lineno = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
        ship = odate[ok] + rng.integers(1, 121, n).astype("timedelta64[D]")
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, n), pa.int64()),
            "l_linenumber": pa.array(lineno, pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.integers(90_000, 10_500_000, n) / 100.0, 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})
        if "orders" not in tables:
            del out["orders"]
        if "lineitem" not in tables:
            del out["lineitem"]
    return out


def _segments(frames, topic, partitions):
    """Frames of (key, value, ts_ms, headers) → WireLog record tables with
    contiguous per-partition offsets across segments."""
    nxt = [0] * partitions
    out = []
    for keys, values, ts_ms, headers in frames:
        n = len(keys)
        part = np.arange(n) % partitions
        offset = np.empty(n, dtype=np.int64)
        for p in range(partitions):
            idx = np.nonzero(part == p)[0]
            offset[idx] = nxt[p] + np.arange(len(idx))
            nxt[p] += len(idx)
        out.append(pa.table({
            "key": pc.cast(keys, pa.binary()), "value": pc.cast(values, pa.binary()),
            "topic": pa.array([topic] * n), "partition": pa.array(part, pa.int32()),
            "offset": pa.array(offset),
            "timestamp": pa.array(np.asarray(ts_ms, dtype="datetime64[ms]").astype("datetime64[us]"),
                                  pa.timestamp("us", tz="UTC")),
            "headers": headers}, schema=RECORD_SCHEMA))
    return out


def _txn_frame(rng, seg, n, customers):
    ids = pc.binary_join_element_wise(
        f"t{seg:05d}-", pc.utf8_lpad(_str(np.arange(n)), 6, "0"), "")
    typ = rng.choice(["credit", "debit", "refund"], n, p=[0.45, 0.45, 0.10])
    acct = rng.integers(0, customers, n)
    unknown = rng.random(n) < 0.02  # no customer row: dropped by the join
    acct = np.where(unknown, customers + acct, acct)
    cents = rng.integers(1, 1_000_000, n)
    ts = CUTOFF_MS + rng.integers(-3_600_000, 86_400_000, n)
    ts = np.where(rng.random(n) < 0.05, CUTOFF_MS - 1 - rng.integers(0, 10**9, n), ts)
    value = pc.binary_join_element_wise(
        '{"typ":"', pa.array(typ), '","acct":', _str(acct), ',"amount":', _money(cents),
        ',"ts_ms":', _str(ts), "}", "")
    origin = pa.array(rng.choice([b"teller", b"atm", b"web"], n), pa.binary())
    one = pa.StructArray.from_arrays([pa.array(["origin"] * n), origin], ["key", "value"])
    headers = pa.ListArray.from_arrays(pa.array(np.arange(n + 1), pa.int32()), one,
                                       type=HEADER_TYPE)
    return ids, value, ts, headers


def enrich_drain(root, seed, seconds):
    rng = np.random.default_rng([seed, 1])
    dims = tpch(rng, DRAIN_SF, ["customer", "nation"])
    for name, t in dims.items():
        _write(t, f"{root}/{name}.parquet")
    customers = dims["customer"].num_rows
    segments = max(2, math.ceil(seconds / DRAIN_SECONDS_PER_SEGMENT))
    n = DRAIN_RECORDS_PER_SEGMENT
    # segment 0 of each log primes the running query, untimed
    for sub, count in (("backlog", 1 + segments), ("warmup", 2)):
        frames = [_txn_frame(rng, s, n, customers) for s in range(count)]
        for s, t in enumerate(_segments(frames, "transactions", 2)):
            _write(t, f"{root}/{sub}/seg-{s:06d}-000.parquet")
    return {"segments": segments, "records_per_segment": n, "cutoff_ms": CUTOFF_MS}


def _update_segments(rng, count, n, hot):
    """Keyed updates: half to a hot set, half to a tail that keeps growing.
    Segment 0 writes every hot key, so every key below a segment's max_id
    exists once that segment is upserted."""
    frames, meta, next_id, seq = [], {}, hot, 0
    for s in range(count):
        is_hot = rng.random(n) < 0.5
        ids = np.where(is_hot, rng.integers(0, hot, n), -1)
        if s == 0:
            ids[:hot] = np.arange(hot)
        tail = np.nonzero(ids < 0)[0]
        fresh = rng.random(len(tail)) < 0.8
        if next_id == hot:
            fresh[:] = True
        new_ids = next_id + np.cumsum(fresh) - 1
        old_ids = hot + (rng.random(len(tail)) * max(1, next_id - hot)).astype(np.int64)
        ids[tail] = np.where(fresh, new_ids, old_ids)
        next_id += int(fresh.sum())
        seqs = seq + np.arange(n)
        seq += n
        keys = pc.binary_join_element_wise("k", pc.utf8_lpad(_str(ids), 8, "0"), "")
        payload = rng.integers(0, 10**12, n)
        value = pc.binary_join_element_wise(
            '{"seq":', _str(seqs), ',"v":"p', _str(payload), '-', _str(seqs), '"}', "")
        ts = np.full(n, CUTOFF_MS) + seqs
        headers = pa.ListArray.from_arrays(
            pa.array(np.zeros(n + 1), pa.int32()),
            pa.array([], HEADER_TYPE.value_type), type=HEADER_TYPE)
        frames.append((keys, value, ts, headers))
        meta[f"seg.{s}.max_id"] = next_id
        meta[f"seg.{s}.distinct"] = next_id
    return frames, meta


def upsert_serve(root, seed, seconds):
    rng = np.random.default_rng([seed, 2])
    segments = 2 + math.ceil(seconds * 1000 / UPSERT_INTERVAL_MS)
    n = UPSERT_RECORDS_PER_SEGMENT
    frames, meta = _update_segments(rng, segments, n, UPSERT_HOT_KEYS)
    for s, t in enumerate(_segments(frames, "updates", 1)):
        _write(t, f"{root}/staged/seg-{s:06d}-000.parquet")
    wframes, _ = _update_segments(rng, 2, n, UPSERT_HOT_KEYS)
    for s, t in enumerate(_segments(wframes, "updates", 1)):
        _write(t, f"{root}/warmup/seg-{s:06d}-000.parquet")
    meta.update({
        "segments": segments, "records_per_segment": n, "warmup_segments": 2,
        "interval_ms": UPSERT_INTERVAL_MS, "hot_keys": UPSERT_HOT_KEYS,
        "lookup_rate": LOOKUP_RATE, "lookup_threads": min(LOOKUP_THREADS, os.cpu_count() or 1)})
    return meta


def batch_ops(root, seed, seconds):
    rng = np.random.default_rng([seed, 3])
    need = sorted({t for ts in BATCH_QUERY_TABLES.values() for t in ts})
    tables = tpch(rng, BATCH_SF, need)
    for name, t in tables.items():
        _write(t, f"{root}/tables/{name}.parquet")
    for name, t in tpch(rng, BATCH_COLD_SF, need).items():
        _write(t, f"{root}/cold_tables/{name}.parquet")
    order = [BATCH_QUERIES[i] for i in rng.permutation(len(BATCH_QUERIES))]
    rows = sum(tables[t].num_rows for q in order for t in BATCH_QUERY_TABLES[q])
    return {"queries": ",".join(order), "input_rows": rows,
            "warmup_passes": BATCH_WARMUP_PASSES,
            "timed_passes": max(1, round(seconds / BATCH_SECONDS_PER_PASS))}


GENERATORS = {"enrich_drain": enrich_drain, "upsert_serve": upsert_serve,
              "batch_ops": batch_ops}


def build(workload, root, seed, seconds):
    meta = GENERATORS[workload](root, seed, seconds)
    with open(f"{root}/manifest.properties", "w") as f:
        for k, v in meta.items():
            f.write(f"{k}={v}\n")
    return meta
