"""Self-tests of the benchmark's own parts; no Spark session is started.

Run from the root of a checkout:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import unittest
from datetime import datetime, timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import duckdb  # noqa: E402

import workloads  # noqa: E402
from checks import MISMATCH_KINDS, diff_model, read_external_file  # noqa: E402
from gen_tables import write_fixture  # noqa: E402
from gen_tree import Tree, scrape_time  # noqa: E402
from tracing import parse_sql_metric  # noqa: E402

from file_scraper_spark.tables import TABLE_NAMES, table_path  # noqa: E402

IDENT = "selftest:tree"


def _dt(us: int | None) -> datetime | None:
    return None if us is None else datetime(1970, 1, 1) + timedelta(microseconds=us)


class SelfTest(unittest.TestCase):
    def setUp(self) -> None:
        self.tmp = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
        os.makedirs(self.tmp)

    def tearDown(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.tmp))  # only if no run uses it
        except OSError:
            pass

    def _tree(self, name: str, seed: int, churns: int = 2) -> Tree:
        tree = Tree(os.path.join(self.tmp, name), seed)
        tree.populate(120)
        tree.apply_scrape()
        for _ in range(churns):
            tree.churn()
            tree.apply_scrape()
        return tree

    def test_same_seed_same_tree_and_model(self) -> None:
        a, b = self._tree("a", 5), self._tree("b", 5)
        self.assertEqual(a.fingerprint(), b.fingerprint())
        self.assertEqual(a.model_json(), b.model_json())
        self.assertNotEqual(a.fingerprint(), self._tree("c", 6).fingerprint())

    def test_tree_has_the_promised_shapes(self) -> None:
        tree = self._tree("t", 3, churns=0)
        names = [os.path.basename(r) for r in tree.files]
        self.assertTrue(any(tree.files[r][0] == 0 for r in tree.files))
        self.assertTrue(any(" " in n for n in names))
        self.assertTrue(any("%20" in n for n in names))
        self.assertTrue(any(not n.isascii() for n in names))
        self.assertTrue(any("." not in n for n in names))
        self.assertTrue(any(os.sep in r for r in tree.files))

    def test_same_seed_same_fixture_bytes(self) -> None:
        a, b = os.path.join(self.tmp, "fa"), os.path.join(self.tmp, "fb")
        write_fixture(a, 9, 0.001)
        write_fixture(b, 9, 0.001)
        for t in TABLE_NAMES:
            with open(table_path(a, t), "rb") as fa, open(table_path(b, t), "rb") as fb:
                self.assertEqual(fa.read(), fb.read(), t)

    def test_model_check_catches_planted_mismatch(self) -> None:
        from file_scraper_spark.sinks.merge_sink import MergeSink  # noqa: PLC0415

        tree = self._tree("m", 11, churns=0)
        db = os.path.join(self.tmp, "m.duckdb")
        sink = MergeSink(lambda: duckdb.connect(db))
        sink.ensure_target()
        rows = [(IDENT, p, f, r.mime_type, _dt(r.created), _dt(r.modified), r.size)
                for (p, f), r in tree.rows.items()]
        sink.sync_rows(rows, IDENT, scrape_time(0))
        clean = diff_model(read_external_file(db), tree, IDENT)
        self.assertEqual(clean, dict.fromkeys(MISMATCH_KINDS, 0))

        con = duckdb.connect(db)
        con.execute("UPDATE external_file SET size = size + 1 WHERE file_id = "
                    "(SELECT min(file_id) FROM external_file)")
        con.close()
        planted = diff_model(read_external_file(db), tree, IDENT)
        self.assertEqual(planted, {**dict.fromkeys(MISMATCH_KINDS, 0), "wrong_value": 1})

    def test_metric_names_match_benchmark_json(self) -> None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         workloads.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         workloads.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         [w for w in workloads.WORKLOADS
                          if w not in workloads.NOT_BENCHMARKED])

    def test_parse_sql_metric(self) -> None:
        self.assertEqual(parse_sql_metric("329 ms"), 0.329)
        self.assertEqual(parse_sql_metric("2.0 KiB"), 2048.0)
        self.assertEqual(parse_sql_metric("total (min, med, max)\n1.5 s (0 ms, ...)"), 1.5)
        self.assertEqual(parse_sql_metric("1,024"), 1024.0)


if __name__ == "__main__":
    unittest.main()
