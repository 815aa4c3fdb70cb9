"""Tests of the benchmark's own pieces: generator determinism, percentile
maths and the point → trigger latency join.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import gen, latency, stats  # noqa: E402

# The wire formats the program's parsers accept (Parsers.sens4 and
# Parsers.thermistors), in Python regex syntax.
SENS4 = re.compile(r"^@[0-9]{1,3}ACKQ?([0-9]+?\.[0-9]+E[+-][0-9]+),([0-9]+?\.[0-9]+E[+-][0-9]+),"
                   r"([0-9]+?\.[0-9]+E[+-][0-9]+),([0-9]+\.[0-9]+),.+\\$")
THERM = re.compile(r"^!01([0-9A-F]+)\r?$")


def read_tree(root):
    out = {}
    for base, _sub, names in os.walk(root):
        for n in names:
            with open(os.path.join(base, n)) as f:
                out[os.path.relpath(os.path.join(base, n), root)] = f.read()
    return out


class GeneratorTest(unittest.TestCase):
    def stage(self, seed):
        with tempfile.TemporaryDirectory() as d:
            rows = gen.stage(d, seed, "backlog", [1000, 2000, 3000])
            return rows, read_tree(d)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.stage(7), self.stage(7))

    def test_other_seed_other_values(self):
        (rows_a, files_a), (rows_b, files_b) = self.stage(7), self.stage(8)
        self.assertEqual(rows_a, rows_b)  # names, stamps and point counts
        self.assertNotEqual(files_a, files_b)

    def test_replies_parse(self):
        _rows, files = self.stage(3)
        for name, text in files.items():
            raw, stamp = text.split("\t")
            self.assertTrue(stamp.isdigit())
            pattern = SENS4 if name.startswith("p") else THERM
            self.assertRegex(raw, pattern, name)

    def test_points_per_reply(self):
        rows, _ = self.stage(3)
        per_stamp = sum(r[3] for r in rows if r[2] == 1000)
        self.assertEqual(per_stamp, 16 * 1 + 8 * 16)

    def test_schedule_is_seeded(self):
        a = list(gen.schedule(5, 100.0, 160.0))
        self.assertEqual(a, list(gen.schedule(5, 100.0, 160.0)))
        self.assertNotEqual(a, list(gen.schedule(6, 100.0, 160.0)))
        self.assertTrue(all(100.0 <= due < 160.0 for due, _ in a))
        self.assertEqual([due for due, _ in a], sorted(due for due, _ in a))
        # the first publications fill one slot each of the first cycle
        firsts = {}
        for due, i in a:
            firsts.setdefault(i, due)
        first = sorted(firsts.values())
        gaps = [round(b - x, 9) for x, b in zip(first, first[1:])]
        self.assertEqual(set(gaps), {round(1.0 / gen.RATE_HZ / len(gen.SOURCES), 9)})
        # publications per source per second average to the rate
        per_source = len(a) / len(gen.SOURCES) / 60.0
        self.assertAlmostEqual(per_source, gen.RATE_HZ, delta=0.1 * gen.RATE_HZ)

    def test_tables_are_seeded(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.tables(os.path.join(d, "a"), 11, 0.05)
            gen.tables(os.path.join(d, "b"), 11, 0.05)
            for name in ["lineitem", "events", "documents", "embeddings"]:
                ta = pq.read_table(os.path.join(d, "a", f"{name}.parquet"))
                tb = pq.read_table(os.path.join(d, "b", f"{name}.parquet"))
                self.assertTrue(ta.equals(tb), name)


class StatsTest(unittest.TestCase):
    def test_percentile_matches_inclusive_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25), q1)
        self.assertAlmostEqual(stats.percentile(xs, 50), q2)
        self.assertAlmostEqual(stats.percentile(xs, 75), q3)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 9.0)

    def test_percentile_interpolates(self):
        self.assertAlmostEqual(stats.percentile([10.0, 20.0], 90), 19.0)
        self.assertEqual(stats.percentile([4.0], 90), 4.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_spread_uses_default_quantiles(self):
        xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        med, q1, q3, sp = stats.spread(xs)
        e1, _, e3 = statistics.quantiles(xs, n=4)
        self.assertEqual((med, q1, q3), (14.5, e1, e3))
        self.assertAlmostEqual(sp, (e3 - e1) / 14.5)

    def test_interpolate(self):
        s = [(0.0, 0.0), (10.0, 5.0), (20.0, 5.0)]
        self.assertEqual(stats.interpolate(s, -1), 0.0)
        self.assertEqual(stats.interpolate(s, 4.0), 2.0)
        self.assertEqual(stats.interpolate(s, 15.0), 5.0)
        self.assertEqual(stats.interpolate(s, 30.0), 5.0)


class LatencyJoinTest(unittest.TestCase):
    def make_checkpoint(self, d):
        """Two sources. Source 0 finds files in query batches 0, 1 and 2
        (its log ids 0, 1, 2); source 1 only in batches 0 and 2 (its ids
        0 and 1), so its ids lag the query's batch ids."""
        for src in ("0", "1"):
            os.makedirs(os.path.join(d, "sources", src))
        for sub in ("offsets", "commits"):
            os.makedirs(os.path.join(d, sub))

        def log(src, name, entries):
            with open(os.path.join(d, "sources", src, name), "w") as f:
                f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))

        log("0", "1.compact", [{"path": "file:///s/a-0.txt", "timestamp": 1, "batchId": 0},
                               {"path": "file:///s/a-1.txt", "timestamp": 1, "batchId": 1}])
        log("0", "2", [{"path": "file:///s/a-2.txt", "timestamp": 1, "batchId": 2}])
        log("1", "0", [{"path": "file:///s/b-0.txt", "timestamp": 1, "batchId": 0}])
        log("1", "1", [{"path": "file:///s/b-1.txt", "timestamp": 1, "batchId": 1}])
        for batch, ends in [(0, (0, 0)), (1, (1, 0)), (2, (2, 1))]:
            with open(os.path.join(d, "offsets", str(batch)), "w") as f:
                f.write("v1\n{}\n" + "".join(f'{{"logOffset":{e}}}\n' for e in ends))
        for batch, ms in [(0, 5000), (1, 7000), (2, 9500)]:
            p = os.path.join(d, "commits", str(batch))
            open(p, "w").close()
            os.utime(p, ns=(ms * 10**6, ms * 10**6))
        open(os.path.join(d, "commits", ".1.crc"), "w").close()

    def test_join(self):
        with tempfile.TemporaryDirectory() as d:
            self.make_checkpoint(d)
            batch_of = latency.file_batches(d)
            self.assertEqual(batch_of, {"a-0.txt": 0, "a-1.txt": 1, "a-2.txt": 2,
                                        "b-0.txt": 0, "b-1.txt": 2})
            commits = latency.commit_times_ms(d)
            self.assertEqual(commits, {0: 5000.0, 1: 7000.0, 2: 9500.0})
            files = [["a", "a-0.txt", 4000, 1], ["a", "a-1.txt", 6000, 16],
                     ["b", "b-1.txt", 7500, 1], ["a", "a-2.txt", 9000, 1]]
            lat = latency.join(files, batch_of, commits, 5000, 9500)
            self.assertEqual(sorted(lat), [500.0] + [1000.0] * 16 + [2000.0])

    def test_unread_file_has_no_latency(self):
        with tempfile.TemporaryDirectory() as d:
            self.make_checkpoint(d)
            self.assertEqual(latency.join([["a", "lost.txt", 6000, 1]], latency.file_batches(d),
                                          latency.commit_times_ms(d), 0, 10**9), [])


if __name__ == "__main__":
    unittest.main()
