#!/usr/bin/env python3
"""Process starts per timed merge apply, from a JFR recording of a traced
perfbench run.

Record the run with JFR through the environment (perfbench itself is
unchanged), then read the recording against the run's spans:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/cdc.jfr" \\
        python3 perfbench/run.py --workload cdc_trickle --seed 1 --trace 1
    python3 tools/jfr_forks.py /tmp/cdc.jfr .bench_build/runs/cdc_trickle-s1.spans.jsonl

`jdk.ProcessStart` events (on in JFR's default settings) are matched to the
`merge.apply.call` spans by wall-clock time. The first `--warmup` applies
(perfbench's untimed ones) are skipped. Prints the median count per apply
by command and by thread kind (writer tasks vs driver), the top Java frame
that started each command, and a per-phase table of the median apply:
each Spark job and each driver gap between jobs, with its process starts.
"""
import argparse
import collections
import datetime
import json
import statistics
import subprocess
import sys


def events(jfr):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart", jfr],
                         check=True, capture_output=True, text=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        t = datetime.datetime.fromisoformat(v["startTime"].replace("Z", "+00:00")).timestamp() * 1e3
        frames = [f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]
                  for f in (v.get("stackTrace") or {}).get("frames", [])]
        # The first frame outside the JDK and Hadoop: who wrote the file.
        caller = next((f for f in frames if not f.startswith(("java.", "jdk.", "org.apache.hadoop."))),
                      frames[0] if frames else "?")
        thread = (v.get("eventThread") or {}).get("javaName") or "?"
        yield {"ms": t, "cmd": v["command"].split()[0].rsplit("/", 1)[-1],
               "task": thread.startswith("Executor task launch worker"), "caller": caller}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("jfr")
    ap.add_argument("spans")
    ap.add_argument("--warmup", type=int, default=4)
    a = ap.parse_args()
    evs = sorted(events(a.jfr), key=lambda e: e["ms"])
    spans = [json.loads(line) for line in open(a.spans)]
    calls = sorted((s for s in spans if s["name"] == "merge.apply.call"), key=lambda s: s["start_ms"])
    calls = calls[a.warmup:]
    if not calls:
        sys.exit("no timed merge.apply.call spans")
    per = []
    for c in calls:
        inside = [e for e in evs if c["start_ms"] <= e["ms"] <= c["end_ms"]]
        per.append((c, inside))

    print(f"timed applies: {len(per)}; process starts in all of the recording: {len(evs)}")
    totals = [len(i) for _, i in per]
    print(f"process starts per apply: median {statistics.median(totals)}, min {min(totals)}, max {max(totals)}")
    cmds = sorted({e["cmd"] for _, i in per for e in i})
    for cmd in cmds:
        for kind, task in (("writer tasks", True), ("driver", False)):
            n = [sum(1 for e in i if e["cmd"] == cmd and e["task"] == task) for _, i in per]
            if any(n):
                print(f"  {cmd:10s} {kind:12s} median {statistics.median(n)}")
    callers = collections.Counter((e["cmd"], e["caller"]) for _, i in per for e in i)
    if callers:
        print("started by (all timed applies):")
        for (cmd, caller), n in callers.most_common(12):
            print(f"  {n:5d}  {cmd:10s} {caller}")

    # Phases of the apply with the median wall time: Spark jobs and the
    # driver gaps between them.
    c, inside = sorted(per, key=lambda p: p[0]["end_ms"] - p[0]["start_ms"])[len(per) // 2]
    jobs = sorted((s for s in spans if s["name"].startswith("spark.job.") and s["parent"] == c["id"]),
                  key=lambda s: s["start_ms"])
    print(f"\nphases of the median apply ({(c['end_ms'] - c['start_ms']):.0f} ms):")
    print(f"  {'phase':28s} {'ms':>8s} {'process starts':>15s}")
    # Overlapping jobs (a join's two map stages) form one phase.
    phases = []
    for j in jobs:
        if phases and j["start_ms"] <= phases[-1][2]:
            name, s, e = phases[-1]
            phases[-1] = (name + "+" + j["name"].rsplit(".", 1)[-1], s, max(e, j["end_ms"]))
        else:
            phases.append((j["name"], j["start_ms"], j["end_ms"]))
    t = c["start_ms"]
    rows = []
    for name, s, e in phases:
        rows.append(("driver", t, s))
        rows.append((name, s, e))
        t = e
    rows.append(("driver", t, c["end_ms"]))
    for name, s, e in rows:
        n = sum(1 for ev in inside if s <= ev["ms"] <= e)
        print(f"  {name:28s} {e - s:8.1f} {n:15d}")


if __name__ == "__main__":
    main()
