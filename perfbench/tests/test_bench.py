"""Tests for the benchmark's own code (not the engine's).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import metrics  # noqa: E402


def files(d: Path) -> dict:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            t = Path(t)
            for w in gen.SIZES:
                a = files(_gen(w, 7, t / f"{w}_a"))
                b = files(_gen(w, 7, t / f"{w}_b"))
                c = files(_gen(w, 8, t / f"{w}_c"))
                self.assertEqual(a, b, w)
                for name in a:
                    if name.endswith(".parquet") or name == "dead_urls.json":
                        self.assertNotEqual(a[name], c[name], f"{w}/{name}")

    def test_recorded_properties(self):
        with tempfile.TemporaryDirectory() as t:
            props = gen.generate("nport_batch", 3, Path(t))
            dead = json.loads((Path(t) / "dead_urls.json").read_text())
            self.assertEqual(props["dead_urls"], len(dead))
            self.assertTrue(all(d % 2 == 1 for d in dead), "dead ids must be outside the corpus")
            held = duckdb.sql(f"SELECT DISTINCT o_custkey FROM '{t}/orders.parquet' "
                              "WHERE o_custkey % 2 = 0").fetchall()
            self.assertEqual(props["staged_docs"], len(held))


def _gen(w, seed, d):
    gen.generate(w, seed, d)
    return d


def span(i, parent, start_s, end_s, name="x", pass_=1):
    return {"id": i, "parent": parent, "name": name, "pass": pass_,
            "start_ns": int(start_s * 1e9), "end_ns": int(end_s * 1e9)}


class SelfTimeTest(unittest.TestCase):
    # root 0-10 s; children 1-4 and 3-6 overlap; a grandchild 2-3 under the
    # first; a last child 8-12 runs past the root's end
    SPANS = [span(0, -1, 0, 10, "pass"), span(1, 0, 1, 4, "sources.scan"),
             span(2, 0, 3, 6, "extract.stage"), span(3, 1, 2, 3, "sources.index"),
             span(4, 0, 8, 12, "sinks.csv_write")]

    def test_self_times(self):
        st = metrics.self_times(self.SPANS)
        # root: 10 s minus the union 1-6 and 8-10 of its children
        self.assertAlmostEqual(st[0], 3.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 4.0)

    def test_coverage_and_layer_times(self):
        raw = {"layers": {}, "session": {}, "pass_s": [5.0, 4.0, 6.0], "instrumented_pass_s": [5.5],
               "staging_build_s": 0.0, "peak_rss_mb": 1.0, "staging_builds": 0, "traced_only_build_s": 0.0}
        m = metrics.layer_metrics(raw, self.SPANS)
        self.assertAlmostEqual(m["trace.coverage"], 0.7)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1)
        self.assertAlmostEqual(m["sources.scan_s"], 2.0)
        self.assertAlmostEqual(m["extract.stage_s"], 3.0)


class OracleCheckTest(unittest.TestCase):
    SQL = "SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1 ORDER BY 1"

    def test_corrupted_output_counts_as_failed(self):
        check = metrics.load_check(BENCH.parent)
        with tempfile.TemporaryDirectory() as t:
            t = Path(t)
            gen.generate("nport_batch", 5, t / "in")
            out = t / "outputs" / "q"
            out.mkdir(parents=True)
            con = duckdb.connect()
            con.sql(f"CREATE VIEW orders AS FROM '{t}/in/orders.parquet'")
            con.sql(f"COPY ({self.SQL}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
            args = (check, t / "in", t / "outputs", {"q": self.SQL}, {"q": 6})
            self.assertEqual(metrics.oracle_failures(*args), 0)
            con.sql(f"CREATE TABLE r AS FROM '{out}/part-0.parquet'")
            con.sql("UPDATE r SET n = n + 1 WHERE o_custkey = (SELECT min(o_custkey) FROM r)")
            con.sql(f"COPY r TO '{out}/part-0.parquet' (FORMAT PARQUET)")
            # the wrong output was reproduced by all six passes
            self.assertEqual(metrics.oracle_failures(*args), 6)

    def test_missing_output_counts_as_failed(self):
        check = metrics.load_check(BENCH.parent)
        with tempfile.TemporaryDirectory() as t:
            t = Path(t)
            gen.generate("nport_batch", 5, t / "in")
            (t / "outputs").mkdir()
            self.assertEqual(
                metrics.oracle_failures(check, t / "in", t / "outputs", {"q": self.SQL}, {"q": 2}), 2)


if __name__ == "__main__":
    unittest.main()
