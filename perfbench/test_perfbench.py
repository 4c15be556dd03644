#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py

The JVM tests build the benchmark first if needed (as run.py does).
"""
import copy
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = {"cities": 6, "days": 2, "warmup": 0, "pass": 12}


def tree_hash(root):
    """Hash of every file under `root`, with `root` itself taken out of the
    manifest's absolute paths."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read().replace(root.encode(), b"<root>"))
    return h.hexdigest()


def generate(seed, probes=False):
    base = os.path.join(run.ROOT, "perfbench-work", "tests")
    os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(dir=base)
    if probes:
        m, _ = run.probe_inputs(d, seed, {"probes": run.GRAPH_LOOP, "sf": 0.001,
                                          "warmup": []})
    else:
        m, _ = run.pipeline_inputs(d, seed, SMALL, passes=1)
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(m, f)
    return d


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for probes in (False, True):
            a, b, c = generate(5, probes), generate(5, probes), generate(6, probes)
            self.assertEqual(tree_hash(a), tree_hash(b))
            self.assertNotEqual(tree_hash(a), tree_hash(c))

    def test_batch_cycle_covers_every_kind(self):
        w = gen.Weather(1, 4)
        kinds = [(b["kind"], b["bad"] > 0) for b in w.ingest_batches(24, 4)]
        self.assertEqual(kinds, [("current", False), ("current", True),
                                 ("current", False), ("forecast", False)])
        payloads = w.ingest_batches(30, 4)[3]["payloads"]
        self.assertEqual(len(json.loads(payloads[0])["list"]), 40)


class CheckTest(unittest.TestCase):
    def test_wrong_reference_answer_raises_error_rate(self):
        got = {"cols": ["a", "b"], "types": ["int", "double"], "rows": [[1, 0.5], [2, None]]}
        phases = [{"ops": [{"label": "q", "result": 0, "seq": i} for i in range(3)]}]
        self.assertEqual(run.check_probes(copy.deepcopy(phases), [got], {"q": got})[:2], (3, 0))
        wrong = copy.deepcopy(got)
        wrong["rows"][0][1] = 0.25
        attempted, failed, reason = run.check_probes(phases, [got], {"q": wrong})
        self.assertEqual((attempted, failed), (3, 3))
        self.assertIn("got 0.5", reason)

    def test_dashboard_model_answers_and_catches_a_wrong_answer(self):
        w = gen.Weather(3, 5)
        _, rows = w.history(48)
        w.apply("current", rows)
        model = check.DashboardModel(w)
        spec = {"widget": "temperature_scale", "city": "City-0002", "from": None, "to": None}
        temps = [r["temp"] for r in rows if r["city_id"] == w.cities[2]["city_id"]]
        right = {"cols": ["temp_max", "temp_min"], "types": ["double", "double"],
                 "rows": [[gen.cents(max(temps)), gen.cents(min(temps))]]}
        self.assertIsNone(model.check(spec, right))
        wrong = copy.deepcopy(right)
        wrong["rows"][0][0] += 0.01
        self.assertIsNotNone(model.check(spec, wrong))

    def test_model_is_last_write_wins(self):
        w = gen.Weather(3, 2)
        _, rows = w.history(2)
        model = check.DashboardModel(w)
        model.apply(rows)
        revised = dict(rows[0], temp=rows[0]["temp"] + 100)
        model.apply([revised])
        spec = {"widget": "latest_per_city", "city": w.cities[0]["city_name"],
                "from": None, "to": gen.fmt_ts(rows[0]["dt"])}
        self.assertEqual(model.rows(spec)[rows[0]["city_id"]], [revised])

    def test_rounded_mean_allows_only_the_float_rounding_slack(self):
        self.assertTrue(check.rounded_mean_ok(0.3333, 1, 3))
        self.assertFalse(check.rounded_mean_ok(0.3334, 1, 3))
        # exact midpoint 0.00005: either neighbour is a correct float rounding
        self.assertTrue(check.rounded_mean_ok(0.0001, 1, 20000))
        self.assertTrue(check.rounded_mean_ok(0.0, 1, 20000))

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(check.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(check.tail(list(range(1, 41))), (75, 30))
        self.assertEqual(check.tail(list(range(1, 25))), (100, 24))
        self.assertEqual(check.tail([3, 1, 2]), (100, 3))


class JvmTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp, cls.opts = run.build()

    def java(self, *args):
        return subprocess.run(["java", "-Xmx2g"] + self.opts + ["-cp", self.cp,
                              "graft.perfbench.SelfCheck"] + list(args),
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)

    def test_self_time_on_synthetic_span_trees(self):
        r = self.java("selftime")
        self.assertEqual(r.returncode, 0, r.stdout)

    def test_traced_sinks_leave_stored_tables_identical(self):
        import duckdb
        work = generate(9)
        r = self.java("twin", work, "12")
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        con = duckdb.connect()
        for table in ("cities", "current_weather", "forecast_weather"):
            def content(side):
                path = os.path.join(work, "twin", side, table)
                return con.sql(f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
                               f"hive_partitioning = false) ORDER BY ALL").fetchall()
            plain = content("plain")
            self.assertTrue(plain, table)
            self.assertEqual(plain, content("traced"), table)


if __name__ == "__main__":
    unittest.main()
