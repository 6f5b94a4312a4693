"""Tests of the benchmark itself: percentile rule, failure accounting,
answer checks and generator determinism.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import gzip
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {5: 50, 19: 50, 20: 50, 40: 75, 50: 80, 100: 90, 200: 95, 1000: 99}
        for n, p in cases.items():
            self.assertAlmostEqual(run.tail_percentile(n), p, msg=n)

    def test_tail_is_the_eleventh_largest_sample(self):
        for n in (21, 40, 57, 100, 1234):
            xs = list(range(n))
            self.assertEqual(run.percentile(xs, run.tail_percentile(n)), n - 11, n)

    def test_ten_samples_lie_beyond_the_tail(self):
        for n in (20, 40, 100, 200, 1000, 1234):
            xs = list(range(n))
            p = run.tail_percentile(n)
            beyond = sum(1 for x in xs if x > run.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)

    def test_median(self):
        self.assertEqual(run.percentile([1, 2, 3, 10], 50), 2.5)
        self.assertEqual(run.percentile([5, 1, 3], 50), 3)


class FailureAccounting(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(run.failed_op_ratio(200, 0), 0.0)
        self.assertEqual(run.failed_op_ratio(200, 5), 0.025)
        self.assertEqual(run.failed_op_ratio(0, 0), 1.0)

    def test_check_failures_count_against_attempts(self):
        result = {"attempted": 50, "failed": 2}
        self.assertEqual(run.tally(result, []), (50, 2))
        self.assertEqual(run.tally(result, ["dump@20 accounts.csv.gz"]), (50, 3))

    def test_latency_from_every_untraced_operation_of_the_window(self):
        ops = [{"ms": ms, "traced": False} for ms in (500.0, 10.0, 30.0, 20.0, 40.0)]
        ops.insert(2, {"ms": 1000.0, "traced": True})
        result = {"ops": ops, "cycle": 5, "opens_s": [1.0, 2.0, 3.0],
                  "cycle_s": [2.5, 9.0, 2.0]}
        m, info = run.end_to_end(result, setup_s=5.0)
        self.assertEqual(m["op_p50_ms"][0], 30.0)
        # one cycle's operations over the median cycle wall
        self.assertEqual(m["ops_per_s"][0], 2.0)
        self.assertEqual(m["open_s"][0], 2.0)
        self.assertEqual(info["samples"], 5)


class TimedWindow(unittest.TestCase):
    def test_window_depends_on_seconds_only(self):
        m = {"cycle_s": 4.0, "min_cycles": 3, "max_cycles": 10}
        self.assertEqual(run.window(m, 1), 3)
        self.assertEqual(run.window(m, 20), 5)
        self.assertEqual(run.window(m, 60), 10)
        self.assertEqual(run.window({"cycle_s": 4.0, "min_cycles": 2}, 60), 15)

    def test_every_window_gives_a_tail_on_the_statement_workloads(self):
        for w in ("point_queries", "mutate_dump"):
            cycle_s, fewest, _ = gen.WINDOW[w]
            with tempfile.TemporaryDirectory() as d:
                m = gen.generate(w, 3, d)
            self.assertGreater(run.tail_percentile(fewest * m["cycle"]), 60, w)

    def test_point_queries_window_holds_exact_repeats(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("point_queries", 5, d)
        k, stream = m["cycle"], [s["sql"] for s in m["statements"]]
        for cycles in range(2, m["max_cycles"] + 1):
            window = stream[:cycles * k]
            repeats = len(window) - len(set(window))
            self.assertGreaterEqual(repeats / len(window), 0.25, cycles)
        # the warm-up: whole cycles of its own texts
        w = gen.WINDOW["point_queries"][2]
        self.assertEqual([s["kind"] for s in m["warmup"]], [s["kind"] for s in m["statements"][:k]] * w)


class PlantedWrongAnswers(unittest.TestCase):
    """The checks made in Python catch a wrong output."""

    def test_wrong_dump_is_caught(self):
        import duckdb
        with tempfile.TemporaryDirectory() as tmp:
            manifest = {"steps": [{"state": {"accounts": "2|3|3.50", "txns": "1|7|1.00"}}],
                        "xlsx_rows": 0}
            d = os.path.join(tmp, "dump")
            tables = {"accounts": ("balance", [(1, 1.25), (2, 2.25)]),
                      "txns": ("amount", [(7, 1.0)])}
            for sub in ("csv", "parquet", "xlsx"):
                os.makedirs(os.path.join(d, sub))
            for t, (col, rows) in tables.items():
                with gzip.open(os.path.join(d, "csv", f"{t}.csv.gz"), "wt") as f:
                    f.write(f"id,{col}\n" + "".join(f"{i},{v}\n" for i, v in rows))
                con = duckdb.connect()
                con.execute(f"CREATE TABLE x AS SELECT * FROM (VALUES {', '.join(str(r) for r in rows)}) v(id, {col})")
                con.execute(f"COPY x TO '{os.path.join(d, 'parquet', t + '.parquet')}' (FORMAT PARQUET)")
                con.close()
            import zipfile
            with zipfile.ZipFile(os.path.join(d, "xlsx", "branches.xlsx"), "w") as z:
                z.writestr("xl/worksheets/sheet1.xml", "<sheetData><row r=\"1\"/></sheetData>")
            result = {"dumps": [{"step": 1, "dir": d}]}
            self.assertEqual(run.check_dumps(result, manifest), [])
            # plant a wrong balance in the CSV+gzip dump only
            with gzip.open(os.path.join(d, "csv", "accounts.csv.gz"), "wt") as f:
                f.write("id,balance\n1,1.25\n2,2.26\n")
            errors = run.check_dumps(result, manifest)
            self.assertEqual(len(errors), 1)
            self.assertIn("accounts.csv.gz", errors[0])

    def test_wrong_gate_output_is_caught(self):
        import duckdb
        with tempfile.TemporaryDirectory() as tmp:
            con = duckdb.connect()
            con.execute(f"COPY (SELECT range AS doc_id FROM range(5)) TO '{tmp}/documents.parquet' (FORMAT PARQUET)")
            os.makedirs(f"{tmp}/out")
            con.execute(f"COPY (SELECT range AS doc_id FROM range(5) WHERE range <> 3) TO '{tmp}/out/part.parquet' (FORMAT PARQUET)")
            con.close()
            tables = {"tables": ["documents"], "input_dir": tmp}
            result = {"gates": {"g01": {"dir": f"{tmp}/out", "oracle": "SELECT doc_id FROM documents"}}}
            self.assertEqual(len(run.check_gates(result, tables)), 1)
            result["gates"]["g01"]["oracle"] = "SELECT doc_id FROM documents WHERE doc_id <> 3"
            self.assertEqual(run.check_gates(result, tables), [])

    def test_canonical_answers(self):
        self.assertEqual(gen.canon_rows([(2.675, None, 3, "x")]), ["2.68|NULL|3|x"])
        self.assertEqual(gen.canon_rows([(2,), (1,)]), ["1", "2"])


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_and_stream(self):
        # the gate tables of a traced run included
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                ma, mb = gen.generate(w, 7, a, gates=True), gen.generate(w, 7, b, gates=True)
                for sub in ("in", "gates"):
                    files = sorted(os.listdir(os.path.join(a, sub)))
                    self.assertEqual(files, sorted(os.listdir(os.path.join(b, sub))), w)
                    match, mismatch, errs = filecmp.cmpfiles(
                        os.path.join(a, sub), os.path.join(b, sub), files, shallow=False)
                    self.assertEqual((mismatch, errs), ([], []), w)
                for m in (ma, mb):
                    m.pop("input_dir"), m["gates"].pop("input_dir")
                self.assertEqual(json.dumps(ma, sort_keys=True), json.dumps(mb, sort_keys=True), w)

    def test_other_seed_other_values_same_shape(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma, mb = gen.generate("point_queries", 1, a), gen.generate("point_queries", 2, b)
            orders = [open(os.path.join(d, "in", "orders.csv"), "rb").read().splitlines()
                      for d in (a, b)]
            self.assertNotEqual(orders[0], orders[1])
            self.assertEqual(len(orders[0]), len(orders[1]))
            self.assertEqual(ma["tables"], mb["tables"])


if __name__ == "__main__":
    unittest.main()
