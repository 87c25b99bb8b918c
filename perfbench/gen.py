"""Seeded input generator for the merge-engine benchmark.

Every input the engine sees is a parquet file (or, for the crawl, a WARC
shard) written here; the engine never sees the seed. Beside the inputs the
generator writes the truth the checks need (`truth.json`): per-merge
insert/update/delete counts and, for the crawl, the fixed document table
the DuckDB oracle replays.

Same seed, same size -> byte-identical inputs.
"""
import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes. "full" is what the benchmark measures; "tiny" exists so
# the benchmark's own tests finish in minutes.
SIZES = {
    "full": {
        # 1M-row target, composite key; ~6% of rows change per day.
        "snap_rows": 1_000_000, "snap_days": 10,
        # 300k-row range-bucketed target (4,096 ids per range), 3,000-row deltas.
        "cdc_rows": 300_000, "cdc_deltas": 160, "cdc_delta_rows": 3_000,
        "cdc_old_keys": 4, "cdc_buckets": 128, "cdc_shift": 12,
        "docs": 500,
    },
    "tiny": {
        "snap_rows": 20_000, "snap_days": 4,
        "cdc_rows": 20_000, "cdc_deltas": 40, "cdc_delta_rows": 300,
        "cdc_old_keys": 2, "cdc_buckets": 16, "cdc_shift": 8,
        "docs": 120,
    },
}

SNAP_REGIONS = 64
SNAP_DELETE, SNAP_UPDATE, SNAP_INSERT = 0.015, 0.03, 0.015
SNAP_BAD_KEEP = 0.10          # the bad feed carries 10% of the keys
SNAP_THRESHOLD = "10%"
CDC_INSERT_SHARE = 0.4
CDC_RECENT_SCALE = 3_000      # mean distance of an update key below the top
CDC_THRESHOLD = "25%"
CDC_RANGE_WIDTH = 2_000       # ids per key-range lookup
STATUSES = ["active", "dormant", "frozen", "closed"]
TAGS = ["a", "b", "c", "d", "e", "f", "g", "h"]

# The crawl corpus is fixed (the seed only permutes record order and the
# split into files), so p13's expected result does not depend on the seed.
DOCS_SEED = 20_261_017
DOC_WORDS = ("join hash row batch scan column customer filter small slow merge "
             "order vector line table data agg value key stream window a spark "
             "part group big sort query fast the").split()
DOC_LANGS = ["en", "zh", "es", "de", "fr"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(table, path, pool=None):
    """Write one parquet file; with a pool, in the background (returns a
    future whose result is the file size)."""
    def write():
        pq.write_table(table, path, compression="snappy")
        return os.path.getsize(path)
    return pool.submit(write) if pool else write()


def _labels(codes, names):
    """A string column stored as a dictionary (read back as plain strings)."""
    return pa.DictionaryArray.from_arrays(pa.array(codes, pa.int32()), pa.array(names))


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


# --------------------------------------------------------------- snapshot

def _snap_table(ent, region, balance, status, score, day, order=slice(None)):
    return pa.table({
        "region": pa.array(region[order], pa.int32()),
        "account": pa.array((ent // SNAP_REGIONS)[order], pa.int64()),
        "balance": pa.array(balance[order], pa.int64()),
        "status": _labels(status[order], STATUSES),
        "score": pa.array(score[order], pa.float64()),
        "updated_day": pa.array(day[order], pa.int32()),
    })


def gen_snapshot(out, seed, size):
    """Day 0 is the initial target; day d >= 1 is the full snapshot after
    that day's deletes, updates and inserts. `bad.parquet` is a feed with
    most keys missing, which must abort on the threshold."""
    cfg = SIZES[size]
    rng = _rng(seed, 1)
    n = cfg["snap_rows"]
    ent = np.arange(n, dtype=np.int64)
    region = (ent % SNAP_REGIONS).astype(np.int32)
    balance = rng.integers(0, 10**9, n, dtype=np.int64)
    status = rng.integers(0, len(STATUSES), n).astype(np.int8)
    score = np.round(rng.random(n) * 1000, 3)
    day = np.zeros(n, dtype=np.int32)
    next_ent = n
    truth = {"threshold": SNAP_THRESHOLD, "days": []}
    pool = ThreadPoolExecutor(4)
    files = [_write(_snap_table(ent, region, balance, status, score, day),
                    f"{out}/day_000.parquet", pool)]
    in_rows = n
    for d in range(1, cfg["snap_days"] + 1):
        m = len(ent)
        u = rng.random(m)
        deleted = u < SNAP_DELETE
        updated = (u >= SNAP_DELETE) & (u < SNAP_DELETE + SNAP_UPDATE)
        n_ins = int(round(m * SNAP_INSERT))
        keep = ~deleted
        balance = balance.copy()
        balance[updated] = rng.integers(0, 10**9, int(updated.sum()), dtype=np.int64)
        day = day.copy()
        day[updated] = d
        new = np.arange(next_ent, next_ent + n_ins, dtype=np.int64)
        next_ent += n_ins
        ent = np.concatenate([ent[keep], new])
        region = np.concatenate([region[keep], (new % SNAP_REGIONS).astype(np.int32)])
        balance = np.concatenate([balance[keep], rng.integers(0, 10**9, n_ins, dtype=np.int64)])
        status = np.concatenate([status[keep], rng.integers(0, len(STATUSES), n_ins).astype(np.int8)])
        score = np.concatenate([score[keep], np.round(rng.random(n_ins) * 1000, 3)])
        day = np.concatenate([day[keep], np.full(n_ins, d, dtype=np.int32)])
        files.append(_write(_snap_table(ent, region, balance, status, score, day),
                            f"{out}/day_{d:03d}.parquet", pool))
        in_rows += len(ent)
        n_upd, n_del = int(updated.sum()), int(deleted.sum())
        truth["days"].append({"day": d, "rows": len(ent), "target_rows": m,
                              "inserts": n_ins, "updates": n_upd, "deletes": n_del,
                              "affected": n_ins + n_upd + n_del})
        if d == 1:
            bad = np.flatnonzero(rng.random(len(ent)) < SNAP_BAD_KEEP)
            files.append(_write(_snap_table(ent, region, balance, status, score, day, bad),
                                f"{out}/bad.parquet", pool))
            in_rows += len(bad)
    pool.shutdown()
    truth["input_rows"], truth["input_bytes"] = in_rows, sum(f.result() for f in files)
    return truth


# -------------------------------------------------------------------- cdc

def _cdc_table(ids, value, tag, version):
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "value": pa.array(value, pa.int64()),
        "tag": _labels(tag, TAGS),
        "version": pa.array(version, pa.int32()),
    })


def gen_cdc(out, seed, size):
    """`initial.parquet` plus deltas of a few thousand rows each: inserts
    above the current top key, updates skewed toward recent keys, and a few
    uniformly drawn old keys that land in scattered buckets."""
    cfg = SIZES[size]
    rng = _rng(seed, 2)
    n = cfg["cdc_rows"]
    in_bytes = _write(_cdc_table(np.arange(n, dtype=np.int64),
                                 rng.integers(0, 10**9, n, dtype=np.int64),
                                 rng.integers(0, len(TAGS), n), np.zeros(n, np.int32)),
                      f"{out}/initial.parquet")
    in_rows = n
    top = n  # ids 0..top-1 exist; no deletes, so they stay dense
    rows = cfg["cdc_delta_rows"]
    n_ins = int(rows * CDC_INSERT_SHARE)
    n_old = cfg["cdc_old_keys"]
    truth = {"threshold": CDC_THRESHOLD, "buckets": cfg["cdc_buckets"],
             "shift": cfg["cdc_shift"], "range_width": CDC_RANGE_WIDTH,
             "lookups": rng.integers(0, n - CDC_RANGE_WIDTH, 256).tolist(), "deltas": []}
    for j in range(cfg["cdc_deltas"]):
        old = rng.choice(top, n_old, replace=False)
        want = rows - n_ins - n_old
        recent = set()
        taken = set(old.tolist())
        while len(recent) < want:
            off = np.floor(rng.exponential(CDC_RECENT_SCALE, want)).astype(np.int64)
            for k in (top - 1 - off[off < top]).tolist():
                if k not in taken and len(recent) < want:
                    recent.add(k)
                    taken.add(k)
        upd = np.concatenate([old, np.fromiter(sorted(recent), np.int64, want)])
        ids = np.concatenate([upd, np.arange(top, top + n_ins, dtype=np.int64)])
        order = rng.permutation(rows)
        in_bytes += _write(_cdc_table(ids[order],
                                      rng.integers(0, 10**9, rows, dtype=np.int64),
                                      rng.integers(0, len(TAGS), rows),
                                      np.full(rows, j + 1, np.int32)),
                           f"{out}/delta_{j:04d}.parquet")
        in_rows += rows
        truth["deltas"].append({"rows": rows, "inserts": n_ins,
                                "updates": len(upd), "affected": rows})
        top += n_ins
    truth["input_rows"], truth["input_bytes"] = in_rows, in_bytes
    return truth


def cdc_expected(work, k):
    """The last-write-wins fold of `initial.parquet` and the first `k`
    deltas, as a table sorted by id."""
    parts = [pq.read_table(f"{work}/initial.parquet")]
    parts += [pq.read_table(f"{work}/delta_{j:04d}.parquet") for j in range(k)]
    t = pa.concat_tables(parts)
    ids = t.column("id").to_numpy()
    # Later rows win: stable sort by id, keep the last row of each id run.
    order = np.argsort(ids, kind="stable")
    sid = ids[order]
    last = np.ones(len(sid), dtype=bool)
    last[:-1] = sid[1:] != sid[:-1]
    return t.take(pa.array(order[last]))


# ------------------------------------------------------------------ crawl

def crawl_documents(size):
    """The fixed document table: word soup from a 30-word vocabulary, with
    about 5% near-copies of another document plus a ` dup` tail."""
    rng = _rng(DOCS_SEED, 3)
    n = SIZES[size]["docs"]
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 101)))))
    langs = rng.choice(DOC_LANGS, n, p=DOC_LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _warc_record(doc_id, text):
    """Byte-for-byte the record IngestQueries.warcCrawlNearFixture writes."""
    body = f'<html><body class="c"><p>{text}</p></body></html>'
    return ("WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:graft:{doc_id}>\r\n"
            f"WARC-Target-URI: http://example.org/doc/{doc_id}\r\n"
            f"Content-Length: {45 + len(body.encode())}\r\n\r\n"
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body + "\n")


def gen_crawl(out, seed, size):
    """`documents.parquet` (for the oracle) and `shard/`: every document,
    an exact mirror of every 10th and a ` zq zq zq` near-mirror of every
    25th, in seeded order, cut into a seeded number of files."""
    docs = crawl_documents(size)
    in_bytes = _write(docs, f"{out}/documents.parquet")
    recs = []
    for doc_id, text in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        recs.append(_warc_record(doc_id, text))
        if doc_id % 10 == 0:
            recs.append(_warc_record(doc_id + 700000, text))
        if doc_id % 25 == 0:
            recs.append(_warc_record(doc_id + 800000, text + " zq zq zq"))
    rng = _rng(seed, 4)
    recs = [recs[i] for i in rng.permutation(len(recs))]
    n_files = int(rng.integers(2, 9))
    cuts = [0] + sorted(rng.choice(np.arange(1, len(recs)), n_files - 1, replace=False).tolist()) + [len(recs)]
    os.makedirs(f"{out}/shard", exist_ok=True)
    for f in range(n_files):
        path = f"{out}/shard/part-{f:05d}.txt"
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write("".join(recs[cuts[f]:cuts[f + 1]]))
        in_bytes += os.path.getsize(path)
    return {"documents": docs.num_rows, "records": len(recs), "files": n_files,
            "input_rows": len(recs), "input_bytes": in_bytes}


GENERATORS = {"snapshot_sync": gen_snapshot, "cdc_trickle": gen_cdc, "crawl_corpus": gen_crawl}


def generate(workload, out, seed, size):
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](out, seed, size)
    truth.update({"workload": workload, "seed": seed, "size": size})
    with open(f"{out}/truth.json", "w") as fh:
        json.dump(truth, fh)
    return truth
