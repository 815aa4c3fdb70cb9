"""Seeded input generators.

Spool files carry the wire formats of the deployed sources: Sens4 pressure
transducer replies (one `pressure` point each) and ADAM-6251 thermistor
module replies (a 16-channel bit mask, 16 `thermistors` points each). A
spool file holds one line, `<reply>\\t<stamp ms>`, the format a polling
source writes; the stamp becomes the point's time.

Run as a program, this module is the live generator: a single-threaded
open-loop publisher that runs as its own process, apart from the engine.

    python3 gen.py publish --spool DIR --seed N --warmup S --window S --out F
"""
import argparse
import heapq
import json
import os
import random
import time

SOURCES = [(f"p{i:02d}", "sens4") for i in range(16)] + \
          [(f"t{i:02d}", "lvm_thermistors") for i in range(8)]
POINTS = {"sens4": 1, "lvm_thermistors": 16}
# Below the deployed 1 Hz: at 1 Hz the median freshness of ten runs
# ranged from 1.9 s to 4.8 s. At 0.75 Hz a trigger of the 24-source engine
# reads about 50 replies and takes about 2.5 s on a quiet 4-core host, and
# triggers run back to back.
RATE_HZ = 0.75


def source_rng(seed, phase, src):
    """Random stream of one source in one phase of a run."""
    return random.Random(f"{seed}:{phase}:{src}")


def reply(parser, rng, unit_id):
    """One wire-format reply line."""
    if parser == "sens4":
        pz, pir = rng.uniform(1e-6, 1e-3), rng.uniform(1e-5, 1e-2)
        cmb, temp = rng.uniform(100.0, 1000.0), rng.uniform(15.0, 30.0)
        return f"@{unit_id:03d}ACKQ{pz:.3E},{pir:.3E},{cmb:.3E},{temp:.2f},OK\\"
    return f"!01{rng.getrandbits(16):04X}"


def write_spool_file(spool, src, phase, seq, raw, stamp_ms):
    """Publish one spool file atomically; returns its name, which is unique
    per (source, phase, seq). Hidden temp names are skipped by the file
    source until the rename."""
    name = f"{src}-{phase}-{seq:06d}.txt"
    tmp = os.path.join(spool, src, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(f"{raw}\t{stamp_ms}")
    os.rename(tmp, os.path.join(spool, src, name))
    return name


def make_dirs(spool):
    for src, _ in SOURCES:
        os.makedirs(os.path.join(spool, src), exist_ok=True)


def stage(spool, seed, phase, stamps_ms):
    """Write one file per source for each stamp; returns the manifest rows
    `[src, file, stamp_ms, points]`."""
    make_dirs(spool)
    rows = []
    for i, (src, parser) in enumerate(SOURCES):
        rng = source_rng(seed, phase, src)
        for seq, stamp in enumerate(stamps_ms):
            name = write_spool_file(spool, src, phase, seq, reply(parser, rng, i), stamp)
            rows.append([src, name, stamp, POINTS[parser]])
    return rows


def phase_slots():
    """Slot of each source in the first publication cycle: the cycle is
    split into one slot per source and the thermistor modules, which carry
    most of the points, take every third slot, so points start out
    evenly."""
    n = len(SOURCES)
    therm = [i for i, (_, p) in enumerate(SOURCES) if p == "lvm_thermistors"]
    other = [i for i in range(n) if i not in therm]
    step = n // len(therm)
    slots = {i: k * step for k, i in enumerate(therm)}
    free = [s for s in range(n) if s not in slots.values()]
    slots.update(zip(other, free))
    return [slots[i] for i in range(n)]


def schedule(seed, t0, end):
    """Due times of every publication in [t0, end). Each source starts in
    its own slot of the first cycle (1 / RATE_HZ), shifted by a seeded
    offset, and then publishes at intervals drawn uniformly from 0.5–1.5
    cycles, so that arrivals do not stay phase-locked to the engine's
    trigger clock. Yields (due, source index)."""
    rng = random.Random(f"{seed}:schedule")
    offset = rng.random()
    n = len(SOURCES)
    heap = [(t0 + ((offset + s / n) % 1.0) / RATE_HZ, i) for i, s in enumerate(phase_slots())]
    heapq.heapify(heap)
    while heap:
        due, i = heapq.heappop(heap)
        if due >= end:
            continue
        yield due, i
        heapq.heappush(heap, (due + rng.uniform(0.5, 1.5) / RATE_HZ, i))


def publish(spool, seed, warmup_s, window_s):
    """Open loop: publish on schedule whatever the engine does, stamping
    each reply with its due time. Returns the manifest."""
    make_dirs(spool)
    rngs = [source_rng(seed, "live", src) for src, _ in SOURCES]
    seqs = [0] * len(SOURCES)
    t0 = time.time() + 0.1
    end = t0 + warmup_s + window_s
    files, late_max = [], 0.0
    for due, i in schedule(seed, t0, end):
        now = time.time()
        if due > now:
            time.sleep(due - now)
        src, parser = SOURCES[i]
        stamp = int(due * 1000)
        name = write_spool_file(spool, src, "live", seqs[i], reply(parser, rngs[i], i), stamp)
        seqs[i] += 1
        late_max = max(late_max, (time.time() - due) * 1000.0)
        files.append([src, name, stamp, POINTS[parser]])
    return {"t0_ms": t0 * 1000.0, "window_start_ms": (t0 + warmup_s) * 1000.0,
            "window_end_ms": end * 1000.0, "late_ms_max": late_max, "files": files}


def tables(out, seed, scale):
    """The analytics input tables, in the schemas of the suite's test data.
    The slice reads `lineitem`, `events`, `documents` and `embeddings`;
    the small dimension tables exist because the oracle check opens every
    table. A tenth of the documents are edited copies of earlier ones, so
    de-duplication has work to do."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    write("supplier", {"s_suppkey": np.arange(100, dtype=np.int64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(100)],
                       "s_nationkey": rng.integers(0, 25, 100).astype(np.int32),
                       "s_acctbal": np.round(rng.uniform(-999, 9999, 100), 2)})
    n_cust = int(1500 * scale)
    write("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                       "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                       "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                   "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("part", {"p_partkey": np.arange(2000, dtype=np.int64),
                   "p_name": [f"{a} {b}" for a, b in zip(
                       rng.choice(["small", "red", "blue", "large"], 2000),
                       rng.choice(["ring", "widget", "bolt", "gear"], 2000))],
                   "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, 2000)],
                   "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "PROMO",
                                         "MEDIUM", "LARGE"], 2000),
                   "p_size": rng.integers(1, 51, 2000).astype(np.int32),
                   "p_retailprice": np.round(900 + np.arange(2000) * 0.1, 2)})
    n_ord = int(15000 * scale)
    write("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                     "o_custkey": rng.integers(0, n_cust, n_ord),
                     "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
                     "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                     "o_orderdate": pa.array(np.datetime64("1995-01-01")
                                             + rng.integers(0, 2400, n_ord).astype("timedelta64[D]"),
                                             pa.timestamp("us")),
                     "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                    "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    n_li = int(60000 * scale)
    ship0 = np.datetime64("1995-01-02")
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, 2000, n_li),
        "l_suppkey": rng.integers(0, 100, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(ship0 + rng.integers(0, 2498, n_li).astype("timedelta64[D]"),
                               pa.timestamp("us")),
    })

    n_ev = int(10000 * scale)
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(["view", "click", "signup", "purchase", "error"], n_ev),
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    vocab = ("a the row key value table part hash scan slow fast merge batch spark line "
             "sort window data column agg join small big customer query order group "
             "stream filter vector").split()
    n_doc = int(500 * scale)
    texts = []
    for d in range(n_doc):
        if d >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, d))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        else:
            words = [str(w) for w in rng.choice(vocab, int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n_doc),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_emb, dim = int(500 * scale), 64
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def main():
    ap = argparse.ArgumentParser(description="live spool generator")
    ap.add_argument("mode", choices=["publish"])
    ap.add_argument("--spool", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--warmup", type=float, required=True)
    ap.add_argument("--window", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    manifest = publish(a.spool, a.seed, a.warmup, a.window)
    with open(a.out, "w") as f:
        json.dump(manifest, f)


if __name__ == "__main__":
    main()
