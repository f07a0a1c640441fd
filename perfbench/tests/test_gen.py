"""The data-dir generator is deterministic and the seed moves what it should.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(filenames):
            p = Path(dirpath) / f
            h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def script_order(data_dir):
    cfg = json.loads((Path(data_dir) / "config.json").read_text())
    return [c["name"] for b in cfg["parameters"]["blocks"] for c in b["codes"]]


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for w in gen.WORKLOADS:
            for seed in (0, 0, 1):
                d = os.path.join(cls.tmp.name, f"{w}-{seed}-{len(cls.dirs)}")
                gen.generate(w, seed, d)
                cls.dirs.setdefault((w, seed), []).append(d)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        for w in gen.WORKLOADS:
            a, b = self.dirs[(w, 0)]
            self.assertEqual(tree_digest(a), tree_digest(b), w)

    def test_other_seed_changes_the_csv_input(self):
        for w in gen.WORKLOADS:
            a, b = self.dirs[(w, 0)][0], self.dirs[(w, 1)][0]
            csvs = [p.name for p in (Path(a) / "in" / "tables").glob("*.csv")]
            self.assertTrue(csvs, w)
            for name in csvs:
                self.assertNotEqual((Path(a) / "in" / "tables" / name).read_bytes(),
                                    (Path(b) / "in" / "tables" / name).read_bytes(), (w, name))

    def test_other_seed_shuffles_dag_wide_script_order(self):
        a, b = self.dirs[("dag_wide", 0)][0], self.dirs[("dag_wide", 1)][0]
        self.assertNotEqual(script_order(a), script_order(b))
        self.assertEqual(sorted(script_order(a)), sorted(script_order(b)))

    def test_configs_pin_threads_and_memory(self):
        for (w, _), ds in self.dirs.items():
            cfg = json.loads((Path(ds[0]) / "config.json").read_text())
            self.assertEqual(cfg["parameters"]["threads"], gen.THREADS, w)
            self.assertEqual(cfg["parameters"]["max_memory_mb"], gen.MAX_MEMORY_MB, w)

    def test_layout_and_action_configs(self):
        for w in gen.WORKLOADS:
            d = Path(self.dirs[(w, 0)][0])
            for sub in ("in/tables", "in/files", "out/tables", "out/files"):
                self.assertTrue((d / sub).is_dir(), (w, sub))
            self.assertEqual(list((d / "out" / "tables").iterdir()), [])
            cfg = json.loads((d / "config.json").read_text())
            for entry in cfg["storage"]["input"]["tables"]:
                self.assertTrue((d / "in" / "tables" / (entry["destination"] + ".manifest")).is_file())
            for a in gen.ACTIONS:
                act = json.loads((d / "actions" / a / "config.json").read_text())
                self.assertEqual(act.pop("action"), a)
                self.assertEqual(act, cfg)

    def test_unknown_workload_is_refused(self):
        with self.assertRaises(ValueError):
            gen.generate("nope", 0, os.path.join(self.tmp.name, "nope"))


if __name__ == "__main__":
    unittest.main()
