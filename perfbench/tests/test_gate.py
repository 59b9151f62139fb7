"""Tests for the output-correctness gate: fingerprints are insensitive to
row order, column order and integer width, and any altered pin fails."""
import datetime
import decimal
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import fingerprint  # noqa: E402
import run  # noqa: E402


class Fingerprints(unittest.TestCase):
    def test_order_insensitive(self):
        a = fingerprint.of_rows(["x", "y"], [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}])
        b = fingerprint.of_rows(["y", "x"], [{"y": "b", "x": 2}, {"y": "a", "x": 1}])
        self.assertEqual(a, b)
        self.assertEqual(a["rows"], 2)

    def test_value_changes_change_the_hash(self):
        a = fingerprint.of_rows(["x"], [{"x": 1.5}])
        self.assertNotEqual(a, fingerprint.of_rows(["x"], [{"x": 1.25}]))
        self.assertNotEqual(a, fingerprint.of_rows(["z"], [{"z": 1.5}]))

    def test_engine_renderings_agree(self):
        utc = datetime.timezone.utc
        self.assertEqual(fingerprint.canon(decimal.Decimal("1.50")), fingerprint.canon(decimal.Decimal("1.5")))
        self.assertEqual(fingerprint.canon(datetime.datetime(2024, 1, 1, 5, tzinfo=utc)),
                         fingerprint.canon(datetime.datetime(2024, 1, 1, 5)))
        self.assertEqual(fingerprint.canon(float("nan")), fingerprint.canon(None))
        self.assertNotEqual(fingerprint.canon(1), fingerprint.canon(1.0))
        self.assertNotEqual(fingerprint.canon("1"), fingerprint.canon(1))

    def test_integer_width_does_not_matter(self):
        t32 = pa.table({"k": pa.array([1, 2], pa.int32())})
        t64 = pa.table({"k": pa.array([2, 1], pa.int64())})
        self.assertEqual(fingerprint.of_arrow(t32), fingerprint.of_arrow(t64))


class Gate(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        out = os.path.join(self.tmp.name, "out", "q1")
        os.makedirs(out)
        pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}),
                       os.path.join(out, "part-0.parquet"))
        self.pin = fingerprint.of_parquet_dir(out)
        self.record = {"gate": [{"name": "q1", "ms": 1.0, "error": None}]}

    def tearDown(self):
        self.tmp.cleanup()

    def test_matching_pin_passes(self):
        self.assertEqual(run.check_gate(self.record, self.tmp.name, {"q1": self.pin}), [True])

    def test_altered_pin_fails(self):
        bad = dict(self.pin, hash="0" * 64)
        self.assertEqual(run.check_gate(self.record, self.tmp.name, {"q1": bad}), [False])
        fewer = dict(self.pin, rows=2)
        self.assertEqual(run.check_gate(self.record, self.tmp.name, {"q1": fewer}), [False])

    def test_missing_pin_or_output_or_thrown_query_fails(self):
        self.assertEqual(run.check_gate(self.record, self.tmp.name, {}), [False])
        gone = {"gate": [{"name": "q2", "ms": 1.0, "error": None}]}
        self.assertEqual(run.check_gate(gone, self.tmp.name, {"q2": self.pin}), [False])
        threw = {"gate": [{"name": "q1", "ms": 1.0, "error": "boom"}]}
        self.assertEqual(run.check_gate(threw, self.tmp.name, {"q1": self.pin}), [False])

    def test_every_listed_query_is_pinned(self):
        pins = run.load_pins()
        for name in run.QUERY_MIX:
            self.assertIn(name, pins)


if __name__ == "__main__":
    unittest.main()
