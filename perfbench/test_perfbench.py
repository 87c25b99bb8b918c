"""The benchmark's own tests, at tiny size.

    python3 -m unittest perfbench/test_perfbench.py

They build the program like a benchmark run does, so the first test of a
fresh checkout pays the compile.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

ROOT = build.ROOT
SCRATCH = ROOT / ".bench_build" / "test"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def java_main(cls, *args):
    cmd = ["java"] + [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={SCRATCH}", "-cp", ":".join(build.build()), cls, *args]
    return subprocess.run(cmd, capture_output=True, text=True, timeout=300)


class MetricsEmitted(unittest.TestCase):
    """Every named metric is emitted, untraced and traced."""

    def test_benchmark_workloads(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    # cdc_trickle reads only every few merges: give it time for some.
                    seconds = "16" if w == "cdc_trickle" else "2"
                    r = bench("--workload", w, "--seed", "3", "--seconds", seconds,
                              "--trace", str(trace), "--size", "tiny")
                    self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                    full, result = (json.loads(x) for x in r.stdout.splitlines()[-2:])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertEqual(set(result["metrics"]), {m["name"] for m in SPEC[key]})
                    for v in result["metrics"].values():
                        self.assertIsInstance(v["value"], (int, float))
                    if trace == 0:
                        extra = {"snapshot_sync": "abort_s", "cdc_trickle": "read_p50_s"}[w]
                        self.assertIn(extra, full["metrics"])
                    else:
                        self.assertTrue((ROOT / full["spans"]).is_file())
                        if w == "cdc_trickle":
                            self.assertIn("merge.target.read_s", full["layers"])

    def test_crawl_corpus(self):
        r = bench("--workload", "crawl_corpus", "--seed", "3", "--seconds", "1",
                  "--trace", "1", "--size", "tiny")
        full = json.loads(r.stdout.splitlines()[-2])
        self.assertIn("pipeline_s", full["metrics"])
        for stage in ["ingest", "scrub", "dedup", "nearDedup", "route", "gateSketch",
                      "trainTokenizer", "packSequences", "aggregate"]:
            self.assertIn(f"crawl.{stage}.s", full["layers"])
            self.assertIn(f"crawl.{stage}.jobs", full["layers"])
        self.assertFalse([f for f in full["failed_checks"] if f.startswith("oracle")])


class ChecksCatch(unittest.TestCase):

    def test_jvm_checks(self):
        """One flipped row fails the content check; a planted staging
        directory is reported as a leftover."""
        work = SCRATCH / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        r = java_main("perfbench.SelfTest", str(work))
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
        got = json.loads(r.stdout.splitlines()[-1])
        self.assertEqual(got, {"identical_passes": True, "flipped_row_caught": True,
                               "clean_target_passes": True, "planted_staging_caught": True})

    def test_cdc_fold_check(self):
        """The launcher's target-vs-fold check passes on the fold itself
        and fails once one row is flipped."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        work = SCRATCH / "cdc"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        gen.generate("cdc_trickle", str(work), 5, "tiny")
        want = gen.cdc_expected(str(work), 3)
        rep = {"extra": {"merges_applied": 3, "reads": []}}
        bucket = work / "target" / "__graft_bucket=0"
        bucket.mkdir(parents=True)
        pq.write_table(want, bucket / "part-0.parquet")
        failed = []
        run.check_cdc(str(work), rep, failed)
        self.assertEqual(failed, [])
        value = want.column("value").to_pylist()
        value[7] += 1
        pq.write_table(want.set_column(1, "value", pa.array(value, pa.int64())), bucket / "part-0.parquet")
        run.check_cdc(str(work), rep, failed)
        self.assertEqual(len(failed), 1)


class Inputs(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        for w in ["snapshot_sync", "cdc_trickle", "crawl_corpus"]:
            a, b = SCRATCH / "a" / w, SCRATCH / "b" / w
            for d in (a, b):
                shutil.rmtree(d, ignore_errors=True)
                gen.generate(w, str(d), 9, "tiny")
            files = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
            self.assertEqual(files, sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file()))
            for f in files:
                self.assertEqual((a / f).read_bytes(), (b / f).read_bytes(), f"{w}/{f}")

    def test_fails_without_program(self):
        """With only BENCHMARK.json and the benchmark's files, the command
        exits non-zero and prints no result."""
        bare = SCRATCH / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cdc_trickle",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=170)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
