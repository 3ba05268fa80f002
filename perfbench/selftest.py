#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py            # all, including the JVM arity check
    python3 perfbench/selftest.py -k Helpers # only the fast ones
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def parse_blocks(text):
    """Independent reading of one report: terminated blocks as key lists."""
    blocks, cur = [], []
    for line in text.lstrip("\ufeff").replace("\r\n", "\n").split("\n"):
        if not line.strip():
            continue
        key = line.split(":", 1)[0].strip()
        cur.append(key)
        if re.search(r"\bstatus\b", key):
            blocks.append(cur)
            cur = []
    return blocks


class Helpers(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.BUILD, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.BUILD, prefix="selftest")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_landing_same_seed_same_bytes_and_counts(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        truth = gen.report_landing(a, 5)
        self.assertEqual(truth, gen.report_landing(b, 5))
        self.assertEqual(gen.tree_digest(a), gen.tree_digest(b))
        gen.report_landing(c, 6)
        self.assertNotEqual(gen.tree_digest(a), gen.tree_digest(c))
        # the truth's record counts match an independent parse of the files
        import zipfile
        for t in truth:
            day = os.path.join(a, f"day_{t['day']:02d}")
            erp = 0
            for name in os.listdir(os.path.join(day, "erp")):
                with open(os.path.join(day, "erp", name), encoding="utf-8") as f:
                    erp += len(parse_blocks(f.read()))
            isu = 0
            for name in os.listdir(os.path.join(day, "isu")):
                with zipfile.ZipFile(os.path.join(day, "isu", name)) as z:
                    isu += sum(len(parse_blocks(z.read(e).decode("utf-8"))) for e in z.namelist())
            self.assertEqual((erp, isu), (len(t["erp"]), len(t["isu"])))
            self.assertGreater(erp, 0)
            self.assertGreater(isu, 0)

    def test_catalog_tables_same_seed_same_bytes(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        self.assertEqual(gen.catalog_tables(a, 3), gen.catalog_tables(b, 3))
        self.assertEqual(gen.tree_digest(a), gen.tree_digest(b))

    def test_tail_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n = metrics.tail(reversed(xs))
        self.assertEqual((value, pct, n), (30, 75.0, 40))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(metrics.tail(range(11)), (0, 100 / 11, 11))
        self.assertIsNone(metrics.tail(range(10)))

    def test_output_names_every_metric_with_its_unit(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for key, units in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
            self.assertEqual({m["name"]: m["unit"] for m in spec[key]}, units)
            out = metrics.report({k: 1.5 for k in units}, units)
            self.assertEqual(list(out), list(units))
            for name, unit in units.items():
                self.assertEqual(out[name], {"value": 1.5, "unit": unit})
            with self.assertRaises(KeyError):
                metrics.report({}, units)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))

    def test_coverage_unions_child_spans(self):
        span = lambda i, op, name, a, b: {"id": i, "parent": op, "op": op, "name": name,
                                          "start_us": a, "end_us": b}
        spans = [span(1, 1, "op:q", 0, 100), span(2, 1, "build", 0, 40),
                 span(3, 1, "execute", 40, 90), span(4, 1, "plan", 45, 60),
                 span(5, 1, "release", 92, 100)]
        self.assertEqual(metrics.coverage(spans), {"q": [0.98]})


class Arity(unittest.TestCase):
    """The timed action materializes every output column of each query."""

    def test_noop_write_arity_equals_columns(self):
        cp = run.build()
        work = tempfile.mkdtemp(dir=run.BUILD, prefix="selftest-arity")
        try:
            gen.catalog_tables(os.path.join(work, "data"), 1)
            queries = [q for w in run.WORKLOADS.values() for q in w.get("queries", [])]
            res = run.run_jvm(cp, work, "arity", data=os.path.join(work, "data"),
                              queries=",".join(queries))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(sorted(q for q, _, _ in res["arity"]), sorted(queries))
        for q, written, columns in res["arity"]:
            self.assertEqual(written, columns, q)


if __name__ == "__main__":
    unittest.main()
