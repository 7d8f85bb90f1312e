"""counter_gate passes an unchanged record and fails a grown one.
   python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import counter_gate


def record(jobs, cpus=4, sha="a"):
    return {"metric": "total", "value": 1.0, "unit": "sec", "queries": {q: 0.5 for q in jobs},
            "sf": "sf0.01", "counters": {q: {"jobs": n, "ok": True} for q, n in jobs.items()},
            "provenance": {"git_sha": sha, "cpus": cpus}}


class CounterGateTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.history = os.path.join(self.dir.name, "bench_history.jsonl")
        self.out = os.path.join(self.dir.name, "bench_out.json")

    def tearDown(self):
        self.dir.cleanup()

    def gate(self, rec, rows):
        with open(self.history, "w") as f:
            for r in rows:
                f.write(json.dumps({"at": "t", "line": r}) + "\n")
        with open(self.out, "w") as f:
            json.dump(rec, f)
        with contextlib.redirect_stdout(io.StringIO()) as out:
            code = counter_gate.main([self.out, "--history", self.history])
        return code, out.getvalue()

    def test_unchanged_record_passes(self):
        base = record({"q_a": 3, "q_b": 5})
        new = record({"q_a": 3, "q_b": 5}, sha="b")
        self.assertEqual(self.gate(new, [base, new])[0], 0)

    def test_grown_record_fails_and_names_the_query(self):
        base = record({"q_a": 3, "q_b": 5})
        # a row at other cpus, and the record's own row, are not compared
        other = record({"q_a": 1, "q_b": 1}, cpus=32)
        new = record({"q_a": 3, "q_b": 6}, sha="b")
        code, out = self.gate(new, [base, other, new])
        self.assertEqual(code, 1)
        self.assertIn("GREW q_b: jobs 5 -> 6", out)
        self.assertNotIn("q_a", out.split("GREW", 1)[1])

    def test_no_earlier_row_passes_and_says_so(self):
        old = {"metric": "total", "value": 1.0, "unit": "sec", "queries": {"q_a": 0.5}, "sf": "sf0.01"}
        code, out = self.gate(record({"q_a": 9}), [old])
        self.assertEqual(code, 0)
        self.assertIn("no earlier row", out)

    def test_record_without_counters_is_bad_input(self):
        self.assertEqual(self.gate({"queries": {}}, [])[0], 2)


if __name__ == "__main__":
    unittest.main()
