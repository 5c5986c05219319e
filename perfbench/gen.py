"""Seeded input generator for the benchmark workloads.

Every table is derived from (workload, seed) alone: each table draws from its
own numpy stream spawned from the seed, so one table's content never depends
on which other tables were generated. The layout mirrors the engine's testdata
(TPC-H-ish star schema, an `events` stream, LLM-pipeline `documents` and
`embeddings`), with the same column names, parquet physical types and value
domains, at the sizes given in WORKLOADS.

Near-duplicates are injected on purpose: a stated share of documents copies an
earlier document with a few token substitutions, and a stated share of vectors
copies an earlier vector plus small noise, so the dedup and connected-
components code has real components to find. Sources are always earlier ids,
so later ingest batches hold near-duplicates of earlier ones.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload parameters. BENCHMARK.json states the headline values in each
# workload's `why`; this table is the full record. A workload is made of
# parts: `queries` (SparkEntry queries over generated tables), `stream`
# (event waves through the streaming operators) and `services` (ingest
# batches folded into the two state services). `warm_*` sizes the untimed
# warm pass of a part, which runs on its own inputs and takes every code path
# the timed sequence takes (first fold, compaction and snapshot; data waves
# and the sentinel flush).
WORKLOADS = {
    "mr_analytics": {
        "parts": "queries,stream",
        "queries": "q01,q06,q07,q08,q11,q38,q41,q56",
        "tables": {"region": 5, "nation": 25, "lineitem": 20000, "orders": 5000,
                   "customer": 500, "supplier": 50, "part": 500, "events": 5000,
                   "documents": 300},
        "event_users": 120, "event_days": 30, "doc_dup_share": 0.05,
        "waves": 1, "warm_waves": 1, "events_per_wave": 1000, "wave_minutes": 30,
        "stream_users": 100, "late_share": 0.05, "late_window_s": 8,
    },
    "llm_dedup": {
        "parts": "queries,services",
        "queries": "q74",
        "tables": {"documents": 400, "embeddings": 300},
        "doc_dup_share": 0.15, "vec_dup_share": 0.10,
        "batches": 2, "warm_batches": 1, "docs_per_batch": 40, "vecs_per_batch": 40,
        "compact_every": 1, "snapshot_every": 1,
    },
}

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _rng(seed, name):
    """Independent stream per (seed, table name)."""
    key = [int(b) for b in name.encode()]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed] + key)))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(us, tz=None):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us", tz=tz))


def _days(rng, n, start, end):
    lo = (dt.date.fromisoformat(start) - dt.date(1970, 1, 1)).days
    hi = (dt.date.fromisoformat(end) - dt.date(1970, 1, 1)).days
    return _ts(rng.integers(lo, hi + 1, n) * 86_400_000_000)


def documents(seed, n, dup_share, first_id=0, tag="documents"):
    """Random-vocabulary texts; `dup_share` of them near-copy an earlier
    original (a few tokens substituted, "dup" appended). Copies are made of
    originals only, so near-duplicate components are stars of the same shape
    for every seed."""
    rng = _rng(seed, tag)
    texts, originals, dups = [], [], 0
    for i in range(n):
        if originals and rng.random() < dup_share:
            src = texts[originals[rng.integers(0, len(originals))]].split(" ")
            for _ in range(rng.integers(0, 3)):
                src[rng.integers(0, len(src))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(src + ["dup"]))
            dups += 1
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in words))
            originals.append(i)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, dups


def embeddings(seed, n, dup_share, first_id=0, tag="embeddings"):
    """Unit vectors in 64-d. Originals are redrawn until their cosine to
    every earlier original is below 0.3 (under the 0.35 clustering
    threshold), so chance edges do not chain components together; `dup_share`
    of the vectors are noisy copies of an original (cosine ~0.9)."""
    rng = _rng(seed, tag)
    out = np.zeros((n, 64))
    originals, dups = [], 0
    for i in range(n):
        if originals and rng.random() < dup_share:
            v = out[originals[rng.integers(0, len(originals))]] + rng.normal(0, 0.06, 64)
            dups += 1
        else:
            for _ in range(50):
                v = rng.normal(0, 1, 64)
                v /= np.linalg.norm(v)
                if not originals or np.max(out[originals] @ v) < 0.3:
                    break
            originals.append(i)
        out[i] = v / np.linalg.norm(v)
    table = pa.table({
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": pa.array(list(out.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })
    return table, dups


def events(seed, n, users, span_us, start_us=EPOCH_2024, tag="events"):
    rng = _rng(seed, tag)
    ts = np.sort(start_us + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def tpch(seed, sizes, out):
    """The star-schema tables mr_analytics reads."""
    r = _rng(seed, "region")
    _write(pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
           f"{out}/nation.parquet")
    nc, ns, npart = sizes["customer"], sizes["supplier"], sizes["part"]
    no, nl = sizes["orders"], sizes["lineitem"]
    r = _rng(seed, "customer")
    _write(pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": r.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], nc)}),
        f"{out}/customer.parquet")
    r = _rng(seed, "supplier")
    _write(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": r.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)}),
        f"{out}/supplier.parquet")
    r = _rng(seed, "part")
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
    _write(pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], npart),
        "p_size": r.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")
    r = _rng(seed, "orders")
    _write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(r, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], no)}),
        f"{out}/orders.parquet")
    r = _rng(seed, "lineitem")
    _write(pa.table({
        "l_orderkey": r.integers(0, no, nl).astype(np.int64),
        "l_partkey": r.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": r.integers(1, 8, nl).astype(np.int32),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], nl),
        "l_linestatus": r.choice(["F", "O"], nl),
        "l_shipdate": _days(r, nl, "1995-01-02", "2001-11-04")}),
        f"{out}/lineitem.parquet")


def stream_waves(seed, p, waves, out, tag="stream"):
    """Time-ordered event waves, one parquet file per wave, then two sentinel
    waves (user_id -1, event_type 'sentinel') far enough ahead to move the
    watermark past every session and window, so both queries emit
    everything. `late_share` of a data wave's events fall in its last
    `late_window_s` seconds but are delivered with the NEXT wave: out of
    order, yet inside the sessionizer's 10 s watermark, so no event may be
    dropped."""
    rng = _rng(seed, tag)
    n, wave_us = p["events_per_wave"], p["wave_minutes"] * 60_000_000
    late_us = p["late_window_s"] * 1_000_000
    carried, rows, n_late = np.zeros(0, dtype=np.int64), 0, 0

    def wave(w, ts, users, types, values):
        _write(pa.table({"user_id": users.astype(np.int64), "ts": _ts(ts, "UTC"),
                         "event_type": types, "value": values}),
               f"{out}/waves/w={w:03d}.parquet")

    def events_at(ts):
        m = len(ts)
        return (ts, rng.integers(0, p["stream_users"], m), rng.choice(EVENT_TYPES, m),
                np.round(np.minimum(rng.exponential(50.0, m), 560.0), 2))

    for w in range(waves):
        hi = EPOCH_2024 + (w + 1) * wave_us
        k_late = int(round(n * p["late_share"]))
        # the wave's newest event sits just before its end, so the late rows
        # drawn below are older than an event the stream has already seen
        on_time = np.append(np.sort(rng.integers(hi - wave_us, hi - late_us, n - k_late - 1)),
                            hi - 500_000)
        wave(w, *events_at(np.concatenate([carried, on_time])))
        rows += len(carried) + len(on_time)
        n_late += len(carried)
        carried = rng.integers(hi - late_us, hi - 500_000, k_late)
    end = EPOCH_2024 + waves * wave_us
    late = events_at(carried)
    for k in (1, 2):
        ts, users, types, values = late if k == 1 else (np.zeros(0, dtype=np.int64),) + tuple(
            np.zeros(0, dtype=x.dtype) for x in late[1:])
        wave(waves + k - 1, np.append(ts, end + k * 7_200_000_000), np.append(users, -1),
             np.append(types, "sentinel"), np.append(values, 0.0))
    rows += len(carried)
    n_late += len(carried)
    return {"rows": rows, "late_rows": n_late}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return a small manifest."""
    p = WORKLOADS[workload]
    parts = p["parts"].split(",")
    man = {"workload": workload, "seed": seed, "params": p}
    if "queries" in parts:
        sizes = p["tables"]
        if "lineitem" in sizes:
            tpch(seed, sizes, out)
        if "events" in sizes:
            _write(events(seed, sizes["events"], p["event_users"],
                          p["event_days"] * 86_400_000_000), f"{out}/events.parquet")
        if "documents" in sizes:
            docs, man["doc_dups"] = documents(seed, sizes["documents"], p["doc_dup_share"])
            _write(docs, f"{out}/documents.parquet")
        if "embeddings" in sizes:
            emb, man["vec_dups"] = embeddings(seed, sizes["embeddings"], p["vec_dup_share"])
            _write(emb, f"{out}/embeddings.parquet")
    if "services" in parts:
        for part, b in (("main", p["batches"]), ("warm", p["warm_batches"])):
            docs, ddups = documents(seed, b * p["docs_per_batch"], p["doc_dup_share"],
                                    tag=f"documents-{part}")
            emb, vdups = embeddings(seed, b * p["vecs_per_batch"], p["vec_dup_share"],
                                       tag=f"embeddings-{part}")
            for k in range(b):
                d0, v0 = k * p["docs_per_batch"], k * p["vecs_per_batch"]
                _write(docs.slice(d0, p["docs_per_batch"]).select(["doc_id", "text"]),
                       f"{out}/{part}/doc_batches/b={k}/part-0.parquet")
                _write(emb.slice(v0, p["vecs_per_batch"]).select(["vec_id", "embedding"]),
                       f"{out}/{part}/vec_batches/b={k}/part-0.parquet")
            man[f"services_{part}"] = {"doc_dups": ddups, "vec_dups": vdups}
    if "stream" in parts:
        for part, n in (("main", p["waves"]), ("warm", p["warm_waves"])):
            man[f"stream_{part}"] = stream_waves(seed, p, n, f"{out}/{part}", tag=f"stream-{part}")
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(man, f, indent=1)
    with open(f"{out}/params.properties", "w") as f:
        f.writelines(f"{k}={','.join(v) if isinstance(v, dict) else v}\n" for k, v in p.items())
    return man
