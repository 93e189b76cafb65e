"""The benchmark's own tests.

    python3 -m unittest pipebench/test_pipebench.py            # from the repo root

`RenderTest` is fast: the same seed must render byte-identical inputs and
manifest, and another seed different ones. `CountRepeatTest` runs every
workload twice, traced, on one seed at the benchmark's own `run_seconds`
(several minutes) and requires the count metrics that name a regime to
repeat exactly.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def _tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class RenderTest(unittest.TestCase):
    def _same_tree(self, a, b):
        self.assertEqual(_tree(a), _tree(b))
        for f in _tree(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)

    def test_stream_inputs_repeat_for_a_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.render_stream(7, 10, a)
            gen.render_stream(7, 10, b)
            gen.render_stream(8, 10, c)
            self._same_tree(a, b)
            with open(os.path.join(a, "manifest.json"), "rb") as x, \
                    open(os.path.join(c, "manifest.json"), "rb") as y:
                self.assertNotEqual(x.read(), y.read())

    def test_curation_manifest_repeats_for_a_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma = gen.render_curation(7, 10, a)
            mb = gen.render_curation(7, 10, b)
            self.assertEqual(ma, mb)
            with open(os.path.join(a, "manifest.json"), "rb") as x, \
                    open(os.path.join(b, "manifest.json"), "rb") as y:
                self.assertEqual(x.read(), y.read())


# Count metrics that must repeat exactly for a fixed seed, per workload.
REPEATING = {
    "medallion_stream": ["gold.pairs_out", "gold.culled_cells", "streaming.dedup_dropped",
                         "ingest.rows_in", "ingest.rows_parsed", "streaming.rounds",
                         "gold.cycles"],
    "curation_gates": ["queries.passes"],  # and every operators.<gate>.result_rows
}


class CountRepeatTest(unittest.TestCase):
    def _run(self, workload, seed):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
            capture_output=True, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        self.assertTrue(res["correct"], res)
        return {k: v["value"] for k, v in res["metrics"].items()}

    def test_counts_repeat(self):
        for workload, names in REPEATING.items():
            a, b = self._run(workload, 3), self._run(workload, 3)
            names = names + [k for k in a if k.endswith(".result_rows")]
            for n in names:
                self.assertEqual(a[n], b[n], f"{workload} {n}")


if __name__ == "__main__":
    unittest.main()
