"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The generator test builds the harness (sbt, offline) on first use."""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import benchlib  # noqa: E402


def write_topic(root, partitions):
    """partitions: {p: {ledgerId: [payload dict, ...]}} as a ledger topic."""
    for p, ledgers in partitions.items():
        d = os.path.join(root, "partition-%d" % p)
        os.makedirs(d)
        for lid, rows in ledgers.items():
            with open(os.path.join(d, "ledger-%d.log" % lid), "w") as fh:
                for i, r in enumerate(rows):
                    fh.write("k%d,%s\n" % (i, json.dumps(r)))


class PercentileRule(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        self.assertIsNone(benchlib.tail_level(20))
        self.assertAlmostEqual(benchlib.tail_level(21), 0.5)
        self.assertAlmostEqual(benchlib.tail_level(30), 19 / 29)
        self.assertEqual(benchlib.tail_level(101), 0.9)
        self.assertEqual(benchlib.tail_level(5000), 0.9)
        for n in range(21, 400):
            xs = list(range(n))
            cut = benchlib.percentile(xs, benchlib.tail_level(n))
            self.assertGreaterEqual(sum(1 for x in xs if x > cut), 10, n)

    def test_percentile_interpolates(self):
        self.assertEqual(benchlib.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(benchlib.percentile([0, 10], 0.25), 2.5)
        self.assertEqual(benchlib.percentile([7], 0.9), 7)
        with self.assertRaises(ValueError):
            benchlib.percentile([], 0.5)


class OffsetsToCreationTimes(unittest.TestCase):
    def setUp(self):
        self.topic = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.topic)

    def test_each_event_is_charged_to_the_batch_that_committed_it(self):
        write_topic(self.topic, {
            0: {0: [{"created_us": -1}, {"created_us": 0}],
                2: [{"created_us": 100000}, {"created_us": 300000}]},
            1: {5: [{"created_us": 0}]}})
        entries = benchlib.read_topic(self.topic)
        self.assertEqual([e[:3] for e in entries],
                         [(0, 0, 0), (0, 0, 1), (0, 2, 0), (0, 2, 1), (1, 5, 0)])
        # end offsets name the NEXT entry to read; ledger 1 is a gap
        batches = [
            {"end_ms": 1500, "end_offset": json.dumps({"0": [0, 2], "1": [5, 0]})},
            {"end_ms": 2000, "end_offset": json.dumps({"0": [2, 1], "1": [5, 1]})},
            {"end_ms": 2600, "end_offset": json.dumps({"0": [3, 0], "1": [5, 1]})},
        ]
        self.assertEqual(benchlib.commit_times(entries, batches),
                         [1500, 1500, 2000, 2600, 2000])
        lat = benchlib.event_latencies(entries, batches, phase_start_ms=1000)
        # the pre-phase event (created_us -1) is skipped
        self.assertEqual(lat, [0.5, 0.9, 1.3, 1.0])

    def test_an_uncommitted_event_is_an_error(self):
        write_topic(self.topic, {0: {0: [{"created_us": 0}, {"created_us": 5}]}})
        entries = benchlib.read_topic(self.topic)
        batches = [{"end_ms": 10, "end_offset": json.dumps({"0": [0, 1]})}]
        with self.assertRaises(ValueError):
            benchlib.event_latencies(entries, batches, 0)


class BacklogGrowth(unittest.TestCase):
    def test_steady_backlog_is_bounded(self):
        self.assertFalse(benchlib.backlog_grows([50, 38, 50, 50, 25, 50, 38, 50, 0], 200))

    def test_linear_growth_is_detected(self):
        self.assertTrue(benchlib.backlog_grows([100 * i for i in range(12)], 200))

    def test_short_series_is_not_judged(self):
        self.assertFalse(benchlib.backlog_grows([0, 1000, 5000], 10))


class OutputChecks(unittest.TestCase):
    def run_line(self, expected_text):
        with tempfile.NamedTemporaryFile("w", suffix=".tsv", delete=False) as fh:
            fh.write(expected_text)
        try:
            raw = {"attempted": 30, "failed": 0, "latencies_s": [0.1 * i for i in range(1, 31)],
                   "timed_s": 6.0, "setup_s": [1.0, 2.0, 3.0], "build_s": 40.0,
                   "outputs": [["q_a", 5, "123"], ["q_b", 7, "-9"]]}
            return benchlib.metrics_line("snapshot-sf0.1", raw, False, None, fh.name,
                                         [("latency_p50_s", "s"), ("setup_s", "s")], [])
        finally:
            os.unlink(fh.name)

    def test_matching_outputs_pass(self):
        line = self.run_line("# comment\nq_a\t5\t123\nq_b\t7\t-9\n")
        self.assertTrue(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (33, 0))
        self.assertEqual(line["metrics"]["setup_s"], {"value": 2.0, "unit": "s"})

    def test_a_corrupted_expected_value_is_a_failed_operation(self):
        line = self.run_line("q_a\t5\t124\nq_b\t7\t-9\n")
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertIn("output of q_a differs from expected.tsv", line["problems"])

    def test_a_missing_expected_value_is_a_failed_operation(self):
        self.assertEqual(self.run_line("q_a\t5\t123\n")["failed"], 1)


class GeneratorDeterminism(unittest.TestCase):
    """The same seed gives identical topic bytes; another seed does not."""

    def publish(self, cp, seed, into):
        subprocess.run(["java", "-cp", cp, "graftbench.Main", "topic", str(seed), into, "8"],
                       check=True, stdout=subprocess.DEVNULL)
        files = {}
        for d, _, fs in os.walk(into):
            for f in fs:
                with open(os.path.join(d, f), "rb") as fh:
                    files[os.path.relpath(os.path.join(d, f), into)] = fh.read()
        return files

    def test_same_seed_same_bytes(self):
        sys.path.insert(0, os.path.dirname(HERE))
        import run
        cp = run.build()
        tmp = tempfile.mkdtemp()
        try:
            a = self.publish(cp, 7, os.path.join(tmp, "a"))
            b = self.publish(cp, 7, os.path.join(tmp, "b"))
            c = self.publish(cp, 8, os.path.join(tmp, "c"))
        finally:
            shutil.rmtree(tmp)
        self.assertTrue(a)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertFalse([f for f in a if not f.endswith(".log")], "temp files left behind")
        self.planted_faults(a)

    def planted_faults(self, files):
        """Every upsert bucket holds a key, and in every 20 points of a key
        one fails GeotagPipeline.validate and one repeats the point before
        it (which dedup drops; a key's first point repeats nothing)."""
        points = {}
        for name, data in files.items():
            for ln in data.decode().splitlines():
                key, payload = ln.split(",", 1)
                try:
                    r = json.loads(payload)
                except ValueError:
                    continue
                points.setdefault(key, []).append(r)
        self.assertEqual({zlib.crc32(k.encode()) % 64 for k in points}, set(range(64)))
        for key, rs in points.items():
            rs.sort(key=lambda r: r["ts_ms"])
            for i in range(0, len(rs) - 19, 20):
                window = rs[i:i + 20]
                invalid = [r for r in window if not (
                    r["type"] in ("DEL", "PC") and isinstance(r["lat"], float) and r["lat"] != 0
                    and r["lng"] != 0 and 0 < r["accuracy"] < 200)]
                dups = [b for a, b in zip(rs[max(0, i - 1):i + 19], window if i else window[1:])
                        if (a["lat"], a["lng"], a["accuracy"]) == (b["lat"], b["lng"], b["accuracy"])]
                self.assertEqual(len(invalid), 1, key)
                self.assertIn(len(dups), (1,) if i else (0, 1), key)


if __name__ == "__main__":
    unittest.main()
