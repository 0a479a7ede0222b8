"""Tests of the benchmark itself: python3 -m unittest discover perfbench/tests"""
import copy
import json
import os
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen_events  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def file_bytes(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


class GeneratorTest(unittest.TestCase):
    def test_events_same_seed_same_bytes_other_seed_other_bytes(self):
        def all_lines(seed):
            out = gen_events.warmup_lines(seed, 50)
            out += gen_events.live_lines(seed, 3, 40, 100)
            for lines, _ in gen_events.backfill_files(seed, 300, 4, 0.05):
                out += lines
            return "\n".join(out).encode()
        self.assertEqual(all_lines(7), all_lines(7))
        self.assertNotEqual(all_lines(7), all_lines(8))

    def test_backfill_malformed_share_and_shapes(self):
        files = gen_events.backfill_files(3, 1000, 5, 0.02)
        self.assertEqual(sum(len(lines) for lines, _ in files), 1000)
        self.assertEqual(sum(len(lines) - valid for lines, valid in files), 20)
        days = set()
        for lines, _ in files:
            for line in lines:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                if "transactionId" in e:
                    self.assertTrue(10 <= e["productPrice"] <= 1000)
                    self.assertTrue(1 <= e["productQuantity"] <= 10)
                    self.assertEqual(e["totalAmount"], e["productPrice"] * e["productQuantity"])
                    days.add(e["transactionDate"][:10])
        self.assertGreater(len(days), 300)

    def test_live_file_has_one_day_key(self):
        days = {json.loads(x)["transactionDate"][:10]
                for t in (0, 599) for x in gen_events.live_lines(5, t, 10, 100)}
        self.assertEqual(len(days), 1)

    def test_live_loop_writes_files_and_report(self):
        with tempfile.TemporaryDirectory() as d:
            import time
            report = os.path.join(d, "gen.json")
            gen_events.run_live(4, d, 200, 0.3, 100, int(time.time() * 1000), report)
            rep = json.load(open(report))
            self.assertEqual(len(rep["files"]), 3)
            self.assertEqual([f["events"] for f in rep["files"]], [20, 20, 20])
            self.assertEqual(sorted(n for n in os.listdir(d) if n.endswith(".jsonl")),
                             [f["name"] for f in rep["files"]])

    def test_tables_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in [("a", 1), ("b", 1), ("c", 2)]:
                gen_tables.generate(seed, 0.0005, os.path.join(d, name))
            a, b, c = (file_bytes(os.path.join(d, n)) for n in "abc")
            self.assertEqual(a, b)
            self.assertNotEqual(a["documents.parquet"], c["documents.parquet"])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = [40, 15, 50, 35, 20]
        self.assertEqual(run.percentile(v, 5), 15)
        self.assertEqual(run.percentile(v, 30), 20)
        self.assertEqual(run.percentile(v, 40), 20)
        self.assertEqual(run.percentile(v, 50), 35)
        self.assertEqual(run.percentile(v, 100), 50)
        self.assertEqual(run.percentile(list(range(1, 101)), 95), 95)
        self.assertEqual(run.percentile(list(range(1, 21)), 95), 19)
        self.assertEqual(run.percentile([7], 99), 7)
        with self.assertRaises(ValueError):
            run.percentile([], 50)


class BatchCheckTest(unittest.TestCase):
    SQL = "SELECT k, CAST(SUM(v) AS DOUBLE) AS s FROM t GROUP BY k ORDER BY k"

    def fixture(self, d, perturb):
        tables, out = os.path.join(d, "tables"), os.path.join(d, "out")
        os.makedirs(tables)
        os.makedirs(os.path.join(out, "q_x"))
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT i % 3 AS k, i * 0.5 AS v FROM range(30) r(i)")
        con.execute(f"COPY t TO '{tables}/t.parquet' (FORMAT PARQUET)")
        res = f"SELECT k, s + {1 if perturb else 0} * (k = 1)::INT AS s FROM ({self.SQL})"
        con.execute(f"COPY ({res}) TO '{out}/q_x/part-0.parquet' (FORMAT PARQUET)")
        json.dump({"q_x": self.SQL}, open(os.path.join(out, "oracle_sql.json"), "w"))
        return tables, out

    def test_passes_on_the_oracle_result_and_fails_on_a_perturbed_one(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertTrue(run.check_batch(*self.fixture(d, False))["q_x"].startswith("PASS"))
        with tempfile.TemporaryDirectory() as d:
            self.assertTrue(run.check_batch(*self.fixture(d, True))["q_x"].startswith("FAIL"))


class StreamCheckTest(unittest.TestCase):
    """The sink end-state is built by replaying upserts the way the
    recording driver applies them; dropping any one must fail the check."""

    def upserts(self):
        events = [json.loads(x) for x in gen_events.warmup_lines(9, 30)]
        days = ["2024-01-01", "2024-01-02"]
        for i, e in enumerate(events):
            e["day"] = days[i % 2]
        out, totals = [], {}
        for e in events:
            out.append(("transactions", e["transactionId"], e["totalAmount"]))
            for table, key in [("sales_per_category", e["productCategory"]),
                               ("sales_per_day", e["day"]), ("sales_per_month", "1")]:
                totals[(table, key)] = totals.get((table, key), 0.0) + e["totalAmount"]
                out.append((table, key, totals[(table, key)]))
        return events, out

    def replay(self, upserts):
        state = {"transactions": {}, "sales_per_category": {}, "sales_per_day": {},
                 "sales_per_month": {}}
        for table, key, value in upserts:
            state[table][key] = value
        raw = state.pop("transactions")
        state["transactions"] = {"rows": len(raw), "distinct_ids": len(raw),
                                 "total_amount": sum(raw.values())}
        return state

    def test_fails_when_one_upsert_is_dropped(self):
        events, ups = self.upserts()
        expected = self.replay(ups)
        expected.update(valid=len(events), records_in=len(events))
        obs = {"expected": expected, "sink_state": self.replay(ups)}
        self.assertEqual(run.check_stream(obs, [], len(events)), [])
        caught = 0
        for i in range(len(ups)):
            dropped = copy.deepcopy(obs)
            dropped["sink_state"] = self.replay(ups[:i] + ups[i + 1:])
            # a replace-upsert that a later one for the same key supersedes
            # leaves the end-state unchanged; every other drop must be caught
            if dropped["sink_state"] != obs["sink_state"]:
                self.assertNotEqual(run.check_stream(dropped, [], len(events)), [], ups[i])
                caught += 1
        self.assertGreaterEqual(caught, len(events))


if __name__ == "__main__":
    unittest.main()
