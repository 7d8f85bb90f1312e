"""Each output check passes on a right result and fails on a deliberately
wrong one.   python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import checks

T0 = datetime.datetime(2024, 1, 1)


def event(i, user, etype, ts, valid=True):
    e = {"event_id": f"evt_{i}", "event_timestamp": ts.isoformat() + "Z", "video_id": "vid_0",
         "user_id": user, "event_type": etype, "schema_version": "m1_v1",
         "payload_json": '{"watch_time_ms":100,"scenario_id":"normal"}'}
    if not valid:
        e.update(event_timestamp="bad-timestamp", payload_json="{not-valid-json")
        del e["event_type"]
    return json.dumps(e, separators=(",", ":"))


def write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


class CompareTest(unittest.TestCase):
    def setUp(self):
        self.con = checks.connect()

    def test_equal_up_to_row_and_column_order(self):
        self.assertIsNone(checks.compare(self.con.sql("SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(x, y)"),
                                         self.con.sql("SELECT y, x FROM (VALUES (2, 'b'), (1, 'a')) t(x, y)")))

    def test_wrong_cell_row_count_and_int_width_fail(self):
        good = "SELECT * FROM (VALUES (1::BIGINT, 0.5::DOUBLE)) t(x, y)"
        for bad in ["SELECT * FROM (VALUES (1::BIGINT, 0.50000001::DOUBLE)) t(x, y)",
                    "SELECT * FROM (VALUES (1::BIGINT, 0.5::DOUBLE), (1, 0.5)) t(x, y)",
                    "SELECT * FROM (VALUES (1::HUGEINT, 0.5::DOUBLE)) t(x, y)",
                    "SELECT * FROM (VALUES (1::BIGINT, 0.5::DOUBLE)) t(x, z)"]:
            self.assertIsNotNone(checks.compare(self.con.sql(bad), self.con.sql(good)), bad)


class QueryResultTest(unittest.TestCase):
    def test_result_against_oracle(self):
        d = tempfile.mkdtemp()
        try:
            pq.write_table(pa.table({"k": [1, 2, 2]}), os.path.join(d, "events.parquet"))
            oracle = {"q_x": "SELECT k, count(*) AS n FROM events GROUP BY k"}
            write(os.path.join(d, "res", "q_x-good"), pa.table({"k": [2, 1], "n": [2, 1]}))
            write(os.path.join(d, "res", "q_x-bad"), pa.table({"k": [2, 1], "n": [2, 2]}))
            v = checks.query_results(os.path.join(d, "res"), d, oracle, ["q_x-good", "q_x-bad"])
            self.assertIsNone(v["q_x-good"])
            self.assertIsNotNone(v["q_x-bad"])
        finally:
            shutil.rmtree(d)


class LiveTest(unittest.TestCase):
    """A two-user, two-minute feed: one late event, one invalid event."""

    def setUp(self):
        self.d = tempfile.mkdtemp()
        self.rdir = os.path.join(self.d, "r0")
        m = datetime.timedelta(minutes=1)
        feed = [(0, "u1", "view", T0, True, False), (1, "u1", "click", T0 + m, True, False),
                (2, "u2", "purchase", T0 + m, True, False), (3, "u1", "view", T0, True, True),
                (4, "u2", "view", T0, False, False)]
        self.lines = [event(i, u, t, ts, valid) for i, u, t, ts, valid, _ in feed]
        self.truth = {f"evt_{i}": {"valid": valid, "late": late} for i, _, _, _, valid, late in feed}
        write(os.path.join(self.rdir, "bronze"), pa.table({"event_id": ["evt_0", "evt_1", "evt_2", "evt_3"]}))
        write(os.path.join(self.rdir, "quarantine"), pa.table({"raw_value": [self.lines[4]]}))
        # the late view of u1 at T0 was dropped by the watermark: 1 view, inside [1, 2]
        self.gold = {"user_id": ["u1", "u1", "u2"], "window_start": [T0, T0 + m, T0 + m],
                     "window_end": [T0 + m, T0 + 2 * m, T0 + 2 * m], "views": [1, 0, 0],
                     "clicks": [0, 1, 0], "purchases": [0, 0, 1], "signups": [0, 0, 0],
                     "errors": [0, 0, 0], "watch_time_sum_ms": [100, 100, 100]}
        write(os.path.join(self.rdir, "gold"), pa.table(self.gold))
        self.con = checks.connect()

    def tearDown(self):
        shutil.rmtree(self.d)

    def sinks(self):
        return checks.check_sinks(self.con, self.rdir, self.lines, self.truth)

    def test_sinks_pass_then_fail_on_each_wrong_output(self):
        self.assertIsNone(self.sinks())
        wrong_gold = [("views", [3, 0, 0]),                 # above every valid event
                      ("clicks", [0, 0, 0]),                 # below the on-time events
                      ("user_id", ["u1", "u1", "u3"])]       # a window nobody fed
        for col, vals in wrong_gold:
            write(os.path.join(self.rdir, "gold"), pa.table(dict(self.gold, **{col: vals})))
            self.assertIsNotNone(self.sinks(), col)
        write(os.path.join(self.rdir, "gold"), pa.table(self.gold))
        write(os.path.join(self.rdir, "bronze"), pa.table({"event_id": ["evt_0", "evt_1", "evt_2", "evt_4"]}))
        self.assertIsNotNone(self.sinks())
        write(os.path.join(self.rdir, "bronze"), pa.table({"event_id": ["evt_0", "evt_1", "evt_2"]}))
        self.assertIsNotNone(self.sinks())

    def test_quarantine_must_hold_the_invalid_events(self):
        write(os.path.join(self.rdir, "quarantine"), pa.table({"raw_value": [self.lines[0]]}))
        self.assertIsNotNone(self.sinks())

    def test_queue_against_rule(self):
        snap = os.path.join(self.rdir, "gold_snap", "0")
        write(snap, pa.table(self.gold))
        right = self.con.sql(checks.QUEUE_SQL.format(src=checks._parquet(snap), rule=checks.RULE_VERSION)).arrow()
        self.assertGreater(right.num_rows, 0)
        # the program writes timestamps; the rule query returns epoch seconds
        ts_cols = ["decided_at", "window_start", "window_end", "expires_at", "created_at",
                   "updated_at", "state_updated_at"]

        def as_written(t):
            for c in ts_cols:
                i = t.schema.get_field_index(c)
                secs = t.column(c).to_pylist()
                t = t.set_column(i, c, pa.array([datetime.datetime.utcfromtimestamp(s) for s in secs],
                                                pa.timestamp("us")))
            return t
        write(os.path.join(self.rdir, "queue", "0"), as_written(right))
        self.assertIsNone(checks.check_queue(self.con, self.rdir, 0))
        for col, f in [("decision_type", lambda v: "REVIEW" if v == "BOOST" else "BOOST"),
                       ("velocity_30m", lambda v: v + 1e-9),
                       ("action_id", lambda v: v[::-1])]:
            t = right.set_column(right.schema.get_field_index(col), col,
                                 pa.array([f(v) for v in right.column(col).to_pylist()]))
            write(os.path.join(self.rdir, "queue", "0"), as_written(t))
            self.assertIsNotNone(checks.check_queue(self.con, self.rdir, 0), col)
        write(os.path.join(self.rdir, "queue", "0"), as_written(right.slice(1)))
        self.assertIsNotNone(checks.check_queue(self.con, self.rdir, 0))

    def test_dim_latest_valid_row_wins(self):
        def cdc(op, ts, cat, **drop):
            m = {"op": op, "ts_ms": ts, "schema_version": "m1_v1",
                 "after": {"video_id": "v1", "category": cat, "region": "US", "status": "active"}}
            for k in drop:
                m.pop(k)
            return json.dumps(m)
        lines = [cdc("c", 1000, "comedy"), cdc("u", 3000, "comedy_u"), "not-json-{",
                 cdc("d", 4000, "deleted"), cdc("u", 5000, "no_version", schema_version=1),
                 cdc("u", 2000, "comedy_stale")]
        dim = {"video_id": ["v1"], "category": ["comedy_u"], "region": ["US"], "status": ["active"],
               "ts_ms": [3000]}
        write(os.path.join(self.rdir, "dim"), pa.table(dim))
        write(os.path.join(self.rdir, "cdc_quarantine"), pa.table({"raw_value": lines[2:5]}))
        self.assertIsNone(checks.check_dim(self.con, self.rdir, lines))
        write(os.path.join(self.rdir, "dim"), pa.table(dict(dim, category=["comedy_stale"], ts_ms=[2000])))
        self.assertIsNotNone(checks.check_dim(self.con, self.rdir, lines))
        write(os.path.join(self.rdir, "dim"), pa.table(dim))
        write(os.path.join(self.rdir, "cdc_quarantine"), pa.table({"raw_value": lines[2:4]}))
        self.assertIsNotNone(checks.check_dim(self.con, self.rdir, lines))


if __name__ == "__main__":
    unittest.main()
