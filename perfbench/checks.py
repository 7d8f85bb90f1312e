"""Output checks made apart from the program.

Query results are compared with DuckDB running the oracle SQL text over
the same parquet tables, canonicalised by tools/compare.py's own `canon`
and `cells_equal` (columns sorted by name, rows sorted, exact cell
equality), with its integer dtype drift rule. The live pipeline is
checked against the generator's ground truth and a DuckDB/Python
recomputation of every sink and of the action queue. Each check returns None when it passes, else the reason.
"""
import datetime
import glob
import json
import os
import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from compare import canon, cells_equal  # noqa: E402  (tools/compare.py)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}


def compare(got, exp):
    """Compare two DuckDB relations the way tools/compare.py does."""
    gtypes = dict(zip(got.columns, [str(t) for t in got.types]))
    etypes = dict(zip(exp.columns, [str(t) for t in exp.types]))
    drift = [(c, gtypes[c], etypes[c]) for c in gtypes
             if c in etypes and gtypes[c] != etypes[c] and (gtypes[c] in INTS or etypes[c] in INTS)]
    if drift:
        return f"integer dtype drift {drift}"
    gc, gr = canon(got.fetchall(), got.columns)
    ec, er = canon(exp.fetchall(), exp.columns)
    if gc != ec:
        return f"columns {gc} vs {ec}"
    if len(gr) != len(er):
        return f"rowcount {len(gr)} vs {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if not all(cells_equal(x, y) for x, y in zip(a, b)):
            return f"row {i}: got {a} expected {b}"
    return None


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def query_results(results_dir, data_dir, oracle, result_names):
    """{result name: reason or None} for each written query result; the
    result `<query>-<tag>` is checked against the oracle of `<query>`."""
    con = connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name in sorted(set(result_names)):
        query = name.rsplit("-", 1)[0]
        try:
            out[name] = compare(con.sql(f"SELECT * FROM {_parquet(os.path.join(results_dir, name))}"),
                                con.sql(oracle[query]))
        except Exception as ex:  # a result the oracle cannot read is a failed check
            out[name] = f"{type(ex).__name__}: {ex}"
    return out


# ---- live pipeline --------------------------------------------------------

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
RULE_VERSION = "graft_rules_v1"


def _lines(path):
    with open(path) as f:
        return [l for l in f.read().split("\n") if l]


def _minute(ts):
    return int(datetime.datetime.fromisoformat(ts).timestamp()) // 60 * 60


def load_feed(stage_dir, chunks):
    """The lines fed per chunk and the generator's truth per event id."""
    ev = [_lines(p) for p in sorted(glob.glob(os.path.join(stage_dir, "events", "chunk-*.jsonl")))[:chunks]]
    cdc = {int(os.path.basename(p)[6:10]): _lines(p)
           for p in glob.glob(os.path.join(stage_dir, "cdc", "chunk-*.jsonl"))}
    truth = {t["event_id"]: t for t in map(json.loads, _lines(os.path.join(stage_dir, "truth.jsonl")))}
    return ev, [cdc.get(k, []) for k in range(chunks)], truth


def _counts(events):
    """(user, minute epoch s) -> counters + watch-time sum."""
    out = {}
    for e in events:
        key = (e["user_id"], _minute(e["event_timestamp"]))
        c = out.setdefault(key, [0] * 6)
        c[EVENT_TYPES.index(e["event_type"])] += 1
        c[5] += json.loads(e["payload_json"]).get("watch_time_ms", 0)
    return out


def _multiset_diff(con, a, b):
    return con.sql(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}) UNION ALL (({b}) EXCEPT ALL ({a})))").fetchone()[0]


def check_sinks(con, rdir, lines, truth):
    """bronze + quarantine against the fed events; gold counts between
    the on-time-only and the all-valid recomputation."""
    parsed = [json.loads(l) for l in lines]
    valid = [e for e in parsed if truth[e["event_id"]]["valid"]]
    invalid = [l for l, e in zip(lines, parsed) if not truth[e["event_id"]]["valid"]]
    n_bronze = con.sql(f"SELECT count(*) FROM {_parquet(rdir + '/bronze')}").fetchone()[0]
    n_quar = con.sql(f"SELECT count(*) FROM {_parquet(rdir + '/quarantine')}").fetchone()[0]
    if n_bronze + n_quar != len(lines):
        return f"bronze {n_bronze} + quarantine {n_quar} != {len(lines)} events fed"
    con.register("want_ids", pa.table({"event_id": [e["event_id"] for e in valid]}))
    if _multiset_diff(con, f"SELECT event_id FROM {_parquet(rdir + '/bronze')}", "SELECT event_id FROM want_ids"):
        return "bronze event ids differ from the valid events fed"
    con.register("want_raw", pa.table({"raw_value": pa.array(invalid, pa.string())}))
    if _multiset_diff(con, f"SELECT raw_value FROM {_parquet(rdir + '/quarantine')}", "SELECT raw_value FROM want_raw"):
        return "quarantine rows differ from the generator's invalid events"
    low = _counts(e for e in valid if not truth[e["event_id"]]["late"])
    high = _counts(valid)
    gold = con.sql(f"""SELECT user_id, epoch(window_start)::BIGINT, epoch(window_end)::BIGINT,
        views, clicks, purchases, signups, errors, watch_time_sum_ms FROM {_parquet(rdir + '/gold')}""").fetchall()
    seen = set()
    for row in gold:
        key, got = (row[0], row[1]), list(row[3:])
        if key in seen:
            return f"gold key {key} twice"
        seen.add(key)
        if row[2] != row[1] + 60:
            return f"gold window {key} is not one minute"
        lo, hi = low.get(key, [0] * 6), high.get(key)
        if hi is None or not all(l <= g <= h for l, g, h in zip(lo, got, hi)):
            return f"gold {key} counts {got} outside [{lo}, {hi}]"
    missing = set(low) - seen
    if missing:
        return f"{len(missing)} on-time windows missing from gold, e.g. {sorted(missing)[0]}"
    return None


QUEUE_SQL = """
WITH g AS (SELECT user_id, window_start::TIMESTAMP AS minute, views, clicks, purchases, errors FROM {src}),
r AS (SELECT user_id, minute, CAST(sum(views) OVER w AS BIGINT) AS v,
        CAST(sum(clicks) OVER w AS BIGINT) AS c, CAST(sum(purchases) OVER w AS BIGINT) AS p,
        CAST(sum(errors) OVER w AS BIGINT) AS e
      FROM g WINDOW w AS (PARTITION BY user_id ORDER BY minute
        RANGE BETWEEN INTERVAL 29 MINUTES PRECEDING AND CURRENT ROW)),
m AS (SELECT *, (c::DOUBLE + 5::DOUBLE * p::DOUBLE) / greatest(v, 5)::DOUBLE AS vel,
        p::DOUBLE / greatest(c, 1) AS compl, e::DOUBLE / greatest(c, 1) AS skip FROM r),
d AS (SELECT *, CASE
        WHEN coalesce(vel >= 0.6 AND v >= 1, false) AND (compl >= 0.5 AND skip <= 0.5 AND c >= 1) THEN 'BOOST'
        WHEN coalesce(vel >= 0.6 AND v >= 1, false) THEN 'REVIEW'
        WHEN coalesce(v <= 0 AND c + p >= 1, false) THEN 'RESCUE'
        ELSE 'NO_ACTION' END AS decision,
        minute + INTERVAL 1 MINUTE AS decided FROM m)
SELECT sha256(concat_ws('|', user_id, strftime(minute, '%Y-%m-%d %H:%M:%S'),
         strftime(decided, '%Y-%m-%d %H:%M:%S'), decision, '{rule}',
         strftime(decided, '%Y-%m-%d %H:%M:%S'))) AS action_id,
  user_id AS video_id, decision AS decision_type,
  CASE decision WHEN 'RESCUE' THEN 1 WHEN 'REVIEW' THEN 2 ELSE 3 END AS priority,
  'PENDING' AS state, epoch(decided)::BIGINT AS decided_at, epoch(minute)::BIGINT AS window_start,
  epoch(decided)::BIGINT AS window_end,
  epoch(decided + INTERVAL 1 MINUTE * CASE decision WHEN 'BOOST' THEN 15 ELSE 30 END)::BIGINT AS expires_at,
  '{rule}' AS rule_version, vel AS velocity_30m, compl AS completion_rate_30m, skip AS skip_rate_30m,
  v AS impressions_30m,
  CASE decision WHEN 'BOOST' THEN ['HIGH_VELOCITY_P90', 'GATE_PASS']
    WHEN 'REVIEW' THEN ['HIGH_VELOCITY_P90', 'LOW_COMPLETION', 'HIGH_SKIP']
    ELSE ['NEW_UPLOAD_LT_60M', 'UNDER_EXPOSED_P40', 'GATE_PASS'] END AS reason_codes,
  epoch(decided)::BIGINT AS created_at, epoch(decided)::BIGINT AS updated_at,
  epoch(decided)::BIGINT AS state_updated_at
FROM d WHERE decision <> 'NO_ACTION'
"""

QUEUE_GOT = """SELECT action_id, video_id, decision_type, priority, state,
  epoch(decided_at)::BIGINT AS decided_at, epoch(window_start)::BIGINT AS window_start,
  epoch(window_end)::BIGINT AS window_end, epoch(expires_at)::BIGINT AS expires_at, rule_version,
  velocity_30m, completion_rate_30m, skip_rate_30m, impressions_30m, reason_codes,
  epoch(created_at)::BIGINT AS created_at, epoch(updated_at)::BIGINT AS updated_at,
  epoch(state_updated_at)::BIGINT AS state_updated_at FROM {src}"""


def check_queue(con, rdir, k):
    """The chunk's action queue against the decision/queue rule evaluated
    over the gold table it was computed from."""
    snap = f"{rdir}/gold_snap/{k}"
    if not glob.glob(snap + "/*.parquet"):
        return "no gold snapshot"
    exp = con.sql(QUEUE_SQL.format(src=_parquet(snap), rule=RULE_VERSION))
    got = con.sql(QUEUE_GOT.format(src=_parquet(f"{rdir}/queue/{k}")))
    return compare(got, exp)


CDC_OPS = ("c", "u")


def _cdc_valid(line):
    try:
        m = json.loads(line)
    except ValueError:
        return None
    after = m.get("after") or {}
    if (m.get("op") not in CDC_OPS or not isinstance(m.get("ts_ms"), int)
            or m.get("schema_version") is None or after.get("video_id") is None):
        return None
    return m


def check_dim(con, rdir, cdc_lines):
    """Dim = the latest valid CDC row per video; invalid rows quarantined."""
    latest, invalid = {}, []
    for line in cdc_lines:
        m = _cdc_valid(line)
        if m is None:
            invalid.append(line)
            continue
        a = m["after"]
        if a["video_id"] not in latest or m["ts_ms"] > latest[a["video_id"]][4]:
            latest[a["video_id"]] = (a["video_id"], a.get("category"), a.get("region"), a.get("status"), m["ts_ms"])
    got = sorted(con.sql(f"SELECT video_id, category, region, status, ts_ms FROM {_parquet(rdir + '/dim')}").fetchall())
    if got != sorted(latest.values()):
        return f"dim {got} != latest valid CDC rows {sorted(latest.values())}"
    quar = sorted(r[0] for r in con.sql(f"SELECT raw_value FROM {_parquet(rdir + '/cdc_quarantine')}").fetchall())
    if quar != sorted(invalid):
        return f"cdc quarantine {len(quar)} rows != {len(invalid)} invalid CDC rows"
    return None


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    return con


def live_rounds(run_dir, ops, chunks):
    """{(round, index): reason or None} for every timed chunk operation."""
    con = connect()
    ev, cdc, truth = load_feed(os.path.join(run_dir, "stage"), chunks)
    lines = [l for c in ev for l in c]
    cdc_lines = [l for c in cdc for l in c]
    out = {}
    for r in sorted({o["round"] for o in ops}):
        rdir = os.path.join(run_dir, f"r{r}")
        mine = [o for o in ops if o["round"] == r]
        try:
            whole = None
            if len(mine) == chunks and not any(o["error"] for o in mine):
                whole = check_sinks(con, rdir, lines, truth) or check_dim(con, rdir, cdc_lines)
            for o in mine:
                out[(r, o["index"])] = whole or (None if o["error"] else check_queue(con, rdir, o["index"]))
        except Exception as ex:
            for o in mine:
                out[(r, o["index"])] = f"{type(ex).__name__}: {ex}"
    return out
