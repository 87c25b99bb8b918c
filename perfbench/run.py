#!/usr/bin/env python3
"""Merge-engine benchmark: one workload per call, one fresh JVM per run.

    python3 perfbench/run.py --workload snapshot_sync --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --all            # every workload, untraced + traced

Each run builds the program if needed (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), launches the JVM side
(perfbench.Main) on `local[nproc]`, checks the results and prints two JSON
lines: the full report (every metric with its unit, input sizes, nproc,
heap, Spark version, seed, failed checks) and, last, the result line
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` registers the benchmark's listeners,
records spans (written to `.bench_build/runs/`) and reports the per-layer
metrics. A failed check makes the command exit 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["snapshot_sync", "cdc_trickle", "crawl_corpus"]
TIMEOUT_S = 175
# A fixed-size heap: the peak resident set then depends on the workload,
# not on how far the JVM happened to grow its heap.
HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the list build.sbt and tools/bench_isolated.py use).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# End-to-end metrics and their units. Each workload reports those that
# apply to it; BENCHMARK.json bounds the ones both merge workloads report.
E2E_UNITS = {"setup_s": "s", "merge_p50_s": "s", "merge_rows_per_s": "rows/s",
             "write_amp": "rows/row", "space_bytes_per_row": "B/row", "peak_rss_mb": "MB",
             "abort_s": "s", "merge_tail_s": "s", "read_p50_s": "s", "pipeline_s": "s",
             "failed_ratio": "ratio"}


def layer_unit(name):
    if "bytes" in name:
        return "B"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if "rows" in name and "rdds" not in name:
        return "rows"
    return "count"


def benchmark_spec():
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def check_cdc(work, rep, failed):
    """Target content and every read result against the generator's
    last-write-wins fold of the deltas applied."""
    import numpy as np
    import pyarrow.dataset as ds

    k = int(rep["extra"]["merges_applied"])
    want = gen.cdc_expected(work, k)
    # Bucket directories start with "_", which pyarrow skips by default.
    got = ds.dataset(f"{work}/target", format="parquet", partitioning="hive",
                     ignore_prefixes=[".", "_SUCCESS", "_simplemerge"]) \
        .to_table(columns=["id", "value", "tag", "version"]).sort_by("id")
    for c in ["id", "value", "tag", "version"]:
        a, b = got.column(c).to_pylist(), want.column(c).cast(got.column(c).type).to_pylist()
        if a != b:
            bad = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
            failed.append(f"target_equals_fold: column {c} differs at row {bad} "
                          f"({len(a)} vs {len(b)} rows)")
            break
    folds = {}
    for r in rep["extra"]["reads"]:
        if r["after"] not in folds:
            t = gen.cdc_expected(work, r["after"])
            folds[r["after"]] = (t.column("id").to_numpy(), t.column("value").to_numpy(),
                                 t.column("version").to_numpy())
        ids, val, ver = folds[r["after"]]
        if r["kind"] == "scan":
            want_r = [len(ids), int(val.sum()), int(ver.sum()), int(ids.max())]
            got_r = [r["count"], r["sum_value"], r["sum_version"], r["max_id"]]
        else:
            m = (ids >= r["lo"]) & (ids < r["hi"])
            want_r = [int(m.sum()), int(val[m].sum())]
            got_r = [r["count"], r["sum_value"]]
        if got_r != want_r:
            failed.append(f"read_result: {r['kind']} after {r['after']} merges {got_r} != {want_r}")
    return len(want)


def _canon(rows):
    def fmt(v):
        return "NULL" if v is None else f"{v:.9g}" if isinstance(v, float) else str(v)
    return sorted(tuple(fmt(r[c]) for c in sorted(r)) for r in rows)


def check_crawl(work, failed):
    """The pipeline's census against p13's DuckDB oracle (cached per oracle
    text and document table: both fix the expected result)."""
    sql = Path(f"{work}/oracle.sql").read_text()
    docs = Path(f"{work}/documents.parquet").read_bytes()
    key = hashlib.sha256(sql.encode() + docs).hexdigest()[:24]
    cache = ROOT / ".bench_build" / "oracle" / f"{key}.json"
    if cache.is_file():
        want = json.loads(cache.read_text())
    else:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{work}/documents.parquet')")
        rel = con.sql(sql)
        cols = [c.lower() for c in rel.columns]
        want = [dict(zip(cols, r)) for r in rel.fetchall()]
        cache.parent.mkdir(parents=True, exist_ok=True)
        cache.write_text(json.dumps(want))
    got = json.loads(Path(f"{work}/result.json").read_text())
    if _canon(got) != _canon(want):
        failed.append(f"oracle: {len(got)} census rows vs oracle {len(want)}, contents differ")


# ------------------------------------------------------------------ metrics

def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    if len(s) < 11:
        return None, None
    i = len(s) - 11
    return s[i], round(100.0 * (i + 1) / len(s), 1)


def e2e_metrics(workload, rep, setup_s, live_rows):
    ops = rep["ops"]
    main = [o for o in ops if o["kind"] in ("commit", "merge")]
    m = {"setup_s": setup_s, "peak_rss_mb": rep["peak_rss_mb"]}
    info = {}
    if main:
        secs = [o["s"] for o in main]
        m["merge_p50_s"] = statistics.median(secs)
        m["merge_rows_per_s"] = sum(int(o["rows"]) for o in main) / sum(secs)
        m["write_amp"] = sum(int(o["written"]) for o in main) / max(1, sum(int(o["affected"]) for o in main))
        m["space_bytes_per_row"] = int(rep["extra"]["target_bytes"]) / live_rows
    aborts = [o["s"] for o in ops if o["kind"] == "abort"]
    if aborts:
        m["abort_s"] = statistics.median(aborts)
    if workload == "cdc_trickle":
        value, pct = tail([o["s"] for o in main])
        if value is not None:
            m["merge_tail_s"] = value
            info["merge_tail"] = {"percentile": pct, "samples": len(main)}
        reads = [o["s"] for o in ops if o["kind"] == "read"]
        if reads:
            m["read_p50_s"] = statistics.median(reads)
    pipes = [o["s"] for o in ops if o["kind"] == "pipeline"]
    if pipes:
        m["pipeline_s"] = statistics.median(pipes)
    info["op_seconds"] = {}
    for o in ops:
        info["op_seconds"].setdefault(o["kind"], []).append(round(o["s"], 4))
    return m, info


# ---------------------------------------------------------------------- run

def run_once(workload, seed, seconds, trace, size):
    """One measured run; returns (report, result, exit code)."""
    classpath = build.build()
    t_start = time.time()
    work = ROOT / ".bench_build" / "work" / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    runs = ROOT / ".bench_build" / "runs"
    runs.mkdir(parents=True, exist_ok=True)

    t_gen = time.time()
    truth = gen.generate(workload, str(work), seed, size)
    gen_s = time.time() - t_gen

    report_path = work / "report.json"
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
        "-cp", ":".join(classpath),
        "perfbench.Main", workload, str(work), str(seconds), str(trace), str(report_path)]
    log_path = runs / f"{workload}-s{seed}-t{trace}.log"
    t_spawn = time.time()
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, TIMEOUT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"{workload}: timed out (log: {log_path})")
    if rc != 0 or not report_path.is_file():
        raise RuntimeError(f"{workload}: JVM exited {rc} (log: {log_path})")
    rep = json.loads(report_path.read_text())

    failed = list(rep["failed_checks"])
    live_rows = None
    if workload == "cdc_trickle":
        live_rows = check_cdc(str(work), rep, failed)
    elif workload == "snapshot_sync":
        live_rows = int(rep["extra"]["target_rows"])
    else:
        check_crawl(str(work), failed)

    setup_s = (gen_s + rep["session_ready_ms"] / 1000.0 - t_spawn
               + statistics.median(rep["load_s"] or [0.0]) + rep["warmup_s"])
    e2e, info = e2e_metrics(workload, rep, setup_s, live_rows)
    attempted = len(rep["ops"])
    e2e["failed_ratio"] = len(failed) / max(1, attempted)

    layers = dict(rep["layers"])
    if trace:
        ops_main = [o["s"] for o in rep["ops"] if o["kind"] in ("commit", "merge", "pipeline")]
        layers["trace.op_p50_s"] = statistics.median(ops_main)
        spans = runs / f"{workload}-s{seed}.spans.jsonl"
        shutil.copyfile(work / "spans.jsonl", spans)
        info["spans"] = str(spans.relative_to(ROOT))

    full = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "size": size,
        "nproc": rep["cores"], "heap_mb": rep["heap_max_mb"], "spark_version": rep["spark_version"],
        "inputs": {"rows": truth["input_rows"], "bytes": truth["input_bytes"]},
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "layers": {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())},
        "failed_checks": failed[:10], **info,
    }
    spec = benchmark_spec()
    if trace:
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": layers.get(n, 0.0), "unit": layer_unit(n)} for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: full["metrics"][n] for n in names if n in full["metrics"]}
    result = {"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": metrics}
    return full, result, 0 if not failed else 1


def run_all(seed, seconds, size):
    """Every workload untraced then traced; prints each report and a
    summary with the tracing overhead (traced minus untraced op median)."""
    worst = 0
    summary = {}
    for w in WORKLOADS:
        rows = {}
        for trace in (0, 1):
            try:
                full, result, rc = run_once(w, seed, seconds, trace, size)
            except (RuntimeError, build.BuildError) as e:
                print(f"{w} trace={trace}: {e}", file=sys.stderr)
                worst = max(worst, 1)
                continue
            print(json.dumps(full))
            worst = max(worst, rc)
            rows[trace] = full
        if 0 in rows:
            s = {k: f"{v['value']:.6g} {v['unit']}" for k, v in rows[0]["metrics"].items()}
            s["failed_checks"] = rows[0]["failed_checks"]
            if 1 in rows:
                untraced = rows[0]["metrics"].get("merge_p50_s", rows[0]["metrics"].get("pipeline_s"))
                traced = rows[1]["layers"]["trace.op_p50_s"]["value"]
                s["trace_overhead_s"] = f"{traced - untraced['value']:.6g} s"
                s["spans"] = rows[1].get("spans")
            summary[w] = s
    print(json.dumps({"summary": summary}, indent=1))
    return worst


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    try:
        if a.all:
            return run_all(a.seed, a.seconds, a.size)
        full, result, rc = run_once(a.workload, a.seed, a.seconds, a.trace, a.size)
    except (RuntimeError, build.BuildError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2
    print(json.dumps(full))
    print(json.dumps(result))
    return rc


if __name__ == "__main__":
    sys.exit(main())
