"""BENCHMARK.json lists exactly the metrics and workloads the runner emits.

Run with ``python3 -m unittest discover -s linkbench -p 'test_*.py'``."""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from spans import PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
    MANIFEST = json.load(fh)


class ManifestTest(unittest.TestCase):
    def test_workloads(self):
        names = [w["name"] for w in MANIFEST["workloads"]]
        self.assertEqual(sorted(names), sorted(WORKLOADS))

    def test_end_to_end_names(self):
        names = [m["name"] for m in MANIFEST["end_to_end"]]
        self.assertEqual(names, ["setup_s", "job_s"])

    def test_per_layer_names_and_units(self):
        listed = [(m["name"], m["unit"]) for m in MANIFEST["per_layer"]]
        self.assertEqual(listed, [(n, run.unit_of(n)) for n in PER_LAYER])


if __name__ == "__main__":
    unittest.main()
