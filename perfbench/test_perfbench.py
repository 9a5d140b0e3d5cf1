"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. The smoke test builds the benchmark on first use
and runs every workload at smoke size, which takes a few minutes.
"""
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "tests")
sys.path.insert(0, HERE)
import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def tree_bytes(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def scratch_dir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(dir=SCRATCH)


class InputsTest(unittest.TestCase):
    def test_same_seed_gives_identical_inputs_and_another_seed_different_ones(self):
        d = scratch_dir()
        try:
            for w in sorted(gen.GENERATORS):
                a, b, c = (os.path.join(d, "%s-%s" % (w, x)) for x in "abc")
                gen.generate(w, 5, a, smoke=True)
                gen.generate(w, 5, b, smoke=True)
                gen.generate(w, 6, c, smoke=True)
                self.assertEqual(tree_bytes(a), tree_bytes(b), w)
                ta, tc = tree_bytes(a), tree_bytes(c)
                self.assertEqual(sorted(ta), sorted(tc), w)
                self.assertNotEqual(ta, tc, w)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def test_corpus_build_shards_pass_the_embedding_probe_gate(self):
        # the workload is defined to sit above Dedup's 16,384-id probe gate:
        # every shard document yields at least four 10-token chunks
        self.assertGreater(gen.SIZES["corpus_build"]["shard_docs"] * 4, 16384)


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(run.tail_percentile([1.0] * 10))
        self.assertEqual(run.tail_percentile([float(i) for i in range(11)]),
                         (0.0, 100.0 / 11, 10))

    def test_tail_has_exactly_ten_samples_beyond(self):
        rng = random.Random(3)
        for n in (11, 12, 37, 100, 1000):
            xs = [rng.random() for _ in range(n)]
            value, pct, beyond = run.tail_percentile(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertEqual(beyond, 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
            # no higher sample has ten beyond it
            higher = [x for x in xs if x > value]
            self.assertTrue(all(sum(1 for y in xs if y > h) < 10 for h in higher))


class CompareTest(unittest.TestCase):
    def write_runs(self, d, scale, rss=1000.0):
        os.makedirs(d)
        for seed in range(10):
            jitter = 1 + 0.01 * ((seed * 7) % 5 - 2)
            m = {"setup_s": 5 * jitter, "batch_p50_ms": 100 * scale * jitter,
                 "throughput_per_s": 50 / scale * jitter, "quality_ratio": 0.9,
                 "peak_rss_mb": rss}
            r = {"workload": "search", "seed": seed, "trace": 0, "failed": 0,
                 "contended": False,
                 "metrics": {k: {"value": v, "unit": "x"} for k, v in m.items()}}
            with open(os.path.join(d, "r%d.json" % seed), "w") as f:
                json.dump(r, f)

    def verdicts(self, parent_scale, change_scale, change_rss=1000.0):
        d = scratch_dir()
        try:
            self.write_runs(os.path.join(d, "p"), parent_scale)
            self.write_runs(os.path.join(d, "c"), change_scale, change_rss)
            import io
            buf = io.StringIO()
            compare.compare(os.path.join(d, "p"), os.path.join(d, "c"), out=buf)
            return {l.split()[0]: l.split()[-1] for l in buf.getvalue().splitlines()
                    if l.startswith("  ") and l.split()[0] in
                    {m["name"] for m in SPEC["end_to_end"]}}
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def test_same_runs_are_unchanged(self):
        self.assertTrue(all(v == "unchanged" for v in self.verdicts(1.0, 1.0).values()))

    def test_faster_change_improves_and_slower_change_is_worse(self):
        v = self.verdicts(1.0, 0.7)
        self.assertEqual(v["batch_p50_ms"], "improved")
        self.assertEqual(v["throughput_per_s"], "improved")
        self.assertEqual(self.verdicts(1.0, 1.5)["batch_p50_ms"], "worse")
        self.assertEqual(self.verdicts(1.0, 1.0, change_rss=2000.0)["peak_rss_mb"], "worse")


class RunTest(unittest.TestCase):
    def run_bench(self, workload, trace, cwd=ROOT):
        return subprocess.run(
            [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke",
             "--results", os.path.join(SCRATCH, "results")],
            cwd=cwd, capture_output=True, text=True, timeout=900)

    def check_result(self, p, names):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(r["correct"], p.stderr[-3000:])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()},
                         {m["name"]: m["unit"] for m in names})
        return r

    def test_smoke_runs_every_workload_and_prints_the_benchmark_names(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                r = self.check_result(self.run_bench(w, 0), SPEC["end_to_end"])
                self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()), r)
        r = self.check_result(self.run_bench("stream_dedup", 1), SPEC["per_layer"])
        self.assertGreater(r["metrics"]["dedup.fold.jobs"]["value"], 0)
        self.assertGreater(r["metrics"]["streaming.calls"]["value"], 0)

    def test_fails_without_the_library_sources(self):
        d = scratch_dir()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = self.run_bench("search", 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
