"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The plan-guard test builds the benchmark (as ``run.py`` does) and runs
one small JVM.
"""
import hashlib
import json
import shutil
import subprocess
import unittest
from pathlib import Path

import gen
import run
import stats

SCRATCH = run.HERE / ".work" / "tests"


def digest(path):
    h = hashlib.sha256()
    for p in sorted(Path(path).rglob("*")) if Path(path).is_dir() else [Path(path)]:
        if p.is_file():
            h.update(p.name.encode())
            h.update(p.read_bytes())
    return h.hexdigest()


class InputsTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def inputs(self, workload, seed, name):
        d = SCRATCH / name
        run.make_inputs(workload, seed, d)
        return d

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b = self.inputs(w, 7, f"{w}-a"), self.inputs(w, 7, f"{w}-b")
                files = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
                self.assertTrue(files)
                for f in files:
                    self.assertEqual(digest(a / f), digest(b / f), f)

    def test_other_seed_other_values_same_rows(self):
        pairs = [(gen.events(2000, 1), gen.events(2000, 2), "value"),
                 (gen.events(2000, 1, 0.02), gen.events(2000, 2, 0.02), "value"),
                 (gen.documents(500, 1), gen.documents(500, 2), "text"),
                 (gen.embeddings(300, 1), gen.embeddings(300, 2), "embedding")]
        for a, b, col in pairs:
            with self.subTest(column=col):
                self.assertEqual(a.num_rows, b.num_rows)
                self.assertNotEqual(a.column(col).to_pylist(), b.column(col).to_pylist())
                # the shape does not move with the seed
                keep = [c for c in a.column_names if c != col]
                self.assertEqual(a.select(keep), b.select(keep))

    def test_prices_keep_two_decimals(self):
        v = gen.events(2000, 3).column("value").to_pylist()
        self.assertTrue(all(round(x, 2) == x and x > 0 for x in v))

    def test_near_duplicates_survive_the_shuffle(self):
        for seed in (1, 2):
            texts = gen.documents(2000, seed).column("text").to_pylist()
            originals = set(texts)
            near = [t for t in texts if " dup" in f" {t} "]
            self.assertTrue(near)
            restored = [" ".join(w for w in t.split(" ") if w != "dup") for t in near]
            self.assertGreater(sum(r in originals for r in restored), 0.9 * len(near))


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(range(19), 0.5))
        self.assertEqual(stats.percentile(range(1, 21), 0.5), 10)
        self.assertIsNone(stats.percentile(range(99), 0.9))
        self.assertEqual(stats.percentile(range(1, 101), 0.9), 90)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_order_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(reversed(xs), 0.9), 90)


class BenchmarkFileTest(unittest.TestCase):
    def test_metrics_match_run_py(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)
        for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec[key]}, table)


class PlanGuardTest(unittest.TestCase):
    def test_guard_trips_on_pruned_plans(self):
        classpath = run.build()
        d = SCRATCH / "guard"
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        gen.write_table(gen.events(3000, 1), d / "events.parquet")
        (d / "tmp").mkdir()
        p = subprocess.run([*run.java(f"-Djava.io.tmpdir={d / 'tmp'}"),
                            "-cp", classpath, "graftbench.GuardCheck", str(d), str(d)],
                           capture_output=True, text=True, timeout=300)
        out = [l for l in p.stdout.splitlines()
               if l.startswith(("count()", "noop write", "orderBy dropped"))]
        self.assertEqual(p.returncode, 0, "\n".join(out) or p.stderr[-2000:])
        self.assertIn("pruned plan", out[0])
        self.assertEqual(out[1], "noop write: passed")
        # windows and their per-partition sorts kept, the output sort lost
        self.assertIn("pruned plan", out[2])
        self.assertIn("sorts=0", out[2])


if __name__ == "__main__":
    unittest.main()
