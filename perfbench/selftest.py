"""Self-tests of the benchmark that need no Spark session.

    python3 perfbench/selftest.py        (from the repository root)
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.append(ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digest(base: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(base):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, base)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class Scratch(unittest.TestCase):
    def setUp(self):
        parent = os.path.join(ROOT, ".perfbench_work")
        os.makedirs(parent, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="selftest-", dir=parent)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


class GeneratorDeterminism(Scratch):
    def _shape(self, name):
        s = workloads.SPEC["workloads"][name]
        return workloads.shape_of({**s["shape"], "n_left": 3000})

    def test_same_seed_same_bytes(self):
        for name in ("stream_backlog", "timer_backlog"):
            shape = self._shape(name)
            a, b = (os.path.join(self.tmp, name, x) for x in "ab")
            gen.write_backlog(a, 7, shape)
            gen.write_backlog(b, 7, shape)
            da, db = _digest(a), _digest(b)
            self.assertEqual(len(da), 2 * shape.files)
            self.assertEqual(da, db)

    def test_other_seed_other_bytes(self):
        shape = self._shape("stream_backlog")
        a, b = (os.path.join(self.tmp, x) for x in "ab")
        gen.write_backlog(a, 7, shape)
        gen.write_backlog(b, 8, shape)
        da, db = _digest(a), _digest(b)
        self.assertEqual(da.keys(), db.keys())
        self.assertTrue(all(da[k] != db[k] for k in da),
                        "files must differ between seeds")

    def test_live_events(self):
        lv = workloads.SPEC["workloads"]["stream_live"]["live"]
        args = (lv["rate_eps"], 2.0, lv["keys"], lv["match_share"], lv["window_s"])
        a, b, c = (gen.live_events(s, *args) for s in (5, 5, 6))
        for x, y in zip(a[0] + a[1], b[0] + b[1]):
            np.testing.assert_array_equal(x, y)
        self.assertFalse(np.array_equal(a[0][2], c[0][2]))
        (l_id, l_k, l_t), (r_id, r_k, r_t) = a
        self.assertTrue(np.all(np.diff(r_t) >= 0))

    def test_backlog_files_keep_delivery_order(self):
        shape = self._shape("stream_backlog")
        gen.write_backlog(self.tmp, 3, shape)
        for side in ("lhs", "rhs"):
            d = os.path.join(self.tmp, side)
            names = sorted(os.listdir(d))
            mtimes = [os.stat(os.path.join(d, n)).st_mtime for n in names]
            self.assertEqual(mtimes, sorted(set(mtimes)))
            self.assertFalse(any(n.startswith(".") for n in names))

    def test_late_events_stay_inside_the_watermark_delay(self):
        for name in ("stream_backlog", "timer_backlog"):
            shape = self._shape(name)
            self.assertLess(shape.ooo_max_s, shape.timeout_s - shape.window_s)


class Oracle(Scratch):
    def test_duckdb_matches_timer_core_replay(self):
        """DuckDB's range left join and the program's pure-Python timer
        core (no Spark) agree on a generated backlog."""
        shape = workloads.shape_of(
            {**workloads.SPEC["workloads"]["timer_backlog"]["shape"], "n_left": 2000})
        pair = gen.write_backlog(self.tmp, 11, shape)
        exp = check.oracle(self.tmp, shape.window_s)
        l_arr, r_arr = check.timer_core_outcome(pair, shape.window_s, shape.timeout_s)
        self.assertEqual(exp.matched, int((r_arr >= 0).sum()))
        self.assertEqual(exp.timeouts, int((r_arr < 0).sum()))
        self.assertEqual(exp.pair_hash, check.pair_hash(l_arr, r_arr))
        self.assertGreater(exp.matched, 0)
        self.assertGreater(exp.timeouts, 0)

    def test_live_check_catches_errors(self):
        w = 2_000_000
        lefts = (np.array([0, 1, 2]), np.array([10, 11, 12]),
                 np.array([0, 100, 9_000_000]))
        rights = (np.array([5]), np.array([10]), np.array([500_000]))
        good = {"id": np.array([0, 1]), "k": np.array([10, 11]),
                "ts": np.array([0, 100]), "r_id": np.array([5, -1]),
                "r_k": np.array([10, -1]), "r_ts": np.array([500_000, 0])}
        errs, due = check.check_live(good, lefts, rights, w, 5_000_000)
        self.assertEqual((errs, due), ([], 2))
        twice = {k: np.append(v, v[1]) for k, v in good.items()}
        self.assertTrue(check.check_live(twice, lefts, rights, w, 5_000_000)[0])
        missing = {k: v[:1] for k, v in good.items()}
        self.assertTrue(check.check_live(missing, lefts, rights, w, 5_000_000)[0])
        early = {k: np.append(v, x) for (k, v), x in
                 zip(good.items(), (2, 12, 9_000_000, -1, -1, 0))}
        self.assertTrue(check.check_live(early, lefts, rights, w, 5_000_000)[0])


class Metrics(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_every_printed_metric_has_name_and_unit(self):
        for trace in (False, True):
            res = workloads.result_object({}, trace, True, 1, 0)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            for name, m in res["metrics"].items():
                self.assertRegex(name, NAME)
                self.assertEqual(set(m), {"value", "unit"})
                self.assertRegex(m["unit"], UNIT)
                json.dumps(res)

    def test_layer_map_lists_every_per_layer_metric(self):
        layer = [m["name"] for m in self.bench["per_layer"]]
        mapped = [m for x in workloads.SPEC["layers"].values() for m in x["metrics"]]
        self.assertEqual(sorted(mapped), sorted(layer))
        self.assertEqual(len(set(layer)), len(layer))
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         [n for n, w in workloads.SPEC["workloads"].items()
                          if w.get("benchmark", True)])
        self.assertIn("setup_s", [m["name"] for m in self.bench["end_to_end"]])


if __name__ == "__main__":
    unittest.main()
