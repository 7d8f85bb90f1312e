"""Per-layer metrics derived from a traced run's trace.jsonl.

Record kinds written by the harness (perfbench/harness, Trace.scala):
  span       harness span around a call into a layer: name, start/end ns,
             parent span, operation id
  job        Spark job start: operation tag, streaming query id, batch id
  stage      per-stage task sums (run/cpu/deser/gc/scheduler delay,
             shuffle, spill, input, output bytes and records)
  execution  Catalyst phase times of one Dataset action
  progress   one StreamingQueryProgress of a sink
  sink       streaming query id -> sink name for one round

Operation ids are "r<round>/<name>".
Values are means per timed operation (per micro-batch for streaming
sinks) unless the README says otherwise; a layer a workload does not
exercise reads 0.
"""
import json
import statistics
from collections import defaultdict

MB = 1048576.0
SINKS = ["bronze", "quarantine", "gold", "cdc_quarantine", "cdc_dim"]
SINK_FIELDS = [("trigger_ms", "ms", "triggerExecution"), ("add_batch_ms", "ms", "addBatch"),
               ("query_planning_ms", "ms", "queryPlanning"), ("get_batch_ms", "ms", "getBatch"),
               ("wal_commit_ms", "ms", "walCommit"), ("commit_ms", "ms", "commitOffsets"),
               ("jobs", "count", None), ("input_rows", "count", None)]
GOLD_FIELDS = [("state_rows", "count"), ("state_mb", "MB"), ("rows_dropped_by_watermark", "count"),
               ("table_mb_written", "MB"), ("write_amplification", "ratio")]

METRICS = (
    [("queries." + n, u) for n, u in [
        ("build_ms", "ms"), ("plan_ms", "ms"), ("analysis_ms", "ms"), ("optimization_ms", "ms"),
        ("planning_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"), ("stages", "count"),
        ("tasks", "count"), ("task_run_s", "s"), ("task_cpu_s", "s"), ("task_deser_s", "s"),
        ("task_gc_s", "s"), ("scheduler_delay_s", "s"), ("shuffle_read_mb", "MB"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("input_mb", "MB")]]
    + [("core.tables_resolve_ms", "ms")]
    + [(f"streaming.{s}.{n}", u) for s in SINKS for n, u, _ in SINK_FIELDS]
    + [(f"streaming.gold.{n}", u) for n, u in GOLD_FIELDS]
    + [("serving.decide_ms", "ms"), ("serving.jobs", "count"), ("serving.queue_rows", "count"),
       ("generator.generate_ms", "ms"), ("harness.self_ms", "ms")])


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def timed(op):
    return op.startswith("r")


def self_times(spans):
    """Self time per span name: duration minus the union its children cover."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
            end = max(end, c["end_ns"])
        out[s["name"]] += (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return dict(out)


def derive(path, workload):
    recs = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                recs[r["kind"]].append(r)
    m = {n: 0.0 for n, _ in METRICS}

    spans = recs["span"]
    ops = sorted({s["op"] for s in spans if timed(s["op"]) and s["name"] == "op"})

    def span_ms(name, op):
        return sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name and s["op"] == op)

    # Spark jobs and stage sums, by (context, job)
    job_of = {(j["ctx"], j["job"]): j for j in recs["job"]}
    stages_by_job = defaultdict(list)
    for s in recs["stage"]:
        stages_by_job[(s["ctx"], s["job"])].append(s)

    def stage_sums(jobs):
        tot = defaultdict(float)
        n = 0
        for j in jobs:
            for s in stages_by_job[(j["ctx"], j["job"])]:
                n += 1
                for k, v in s.items():
                    if isinstance(v, (int, float)) and k not in ("ctx", "job", "stage"):
                        tot[k] += v
        tot["stages"] = n
        return tot

    driver_jobs = defaultdict(list)
    for j in job_of.values():
        if not j["query_id"]:
            driver_jobs[j["op"]].append(j)

    execs = defaultdict(list)
    for e in recs["execution"]:
        execs[e["op"]].append(e)

    if workload == "batch_operators":
        rows = []
        for op in ops:
            t = stage_sums(driver_jobs[op])
            ph = {p: sum(e[p] for e in execs[op]) for p in ("analysis_ms", "optimization_ms", "planning_ms")}
            rows.append({
                "build_ms": span_ms("queries.build", op), "exec_ms": span_ms("queries.exec", op),
                **ph, "plan_ms": sum(ph.values()),
                "jobs": len(driver_jobs[op]), "stages": t["stages"], "tasks": t["tasks"],
                "task_run_s": t["run_ms"] / 1e3, "task_cpu_s": t["cpu_ns"] / 1e9,
                "task_deser_s": t["deser_ms"] / 1e3, "task_gc_s": t["gc_ms"] / 1e3,
                "scheduler_delay_s": t["sched_delay_ms"] / 1e3,
                "shuffle_read_mb": t["shuffle_read_bytes"] / MB, "shuffle_write_mb": t["shuffle_write_bytes"] / MB,
                "spill_mb": t["spill_bytes"] / MB, "input_mb": t["input_bytes"] / MB})
        for k in rows[0] if rows else []:
            m["queries." + k] = mean(r[k] for r in rows)
        res = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == "core.tables_resolve"]
        m["core.tables_resolve_ms"] = statistics.median(res) if res else 0.0

    summary = {"self_ms_per_op": {}, "gold_batches": []}
    if workload == "live_pipeline":
        gen = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == "generator.generate"]
        m["generator.generate_ms"] = statistics.median(gen) if gen else 0.0
        m["serving.decide_ms"] = mean(span_ms("serving.decide", op) for op in ops)
        m["serving.jobs"] = mean(len(driver_jobs[op]) for op in ops)
        m["serving.queue_rows"] = mean(stage_sums(driver_jobs[op])["output_records"] for op in ops)
        sinks = {s["query_id"]: s for s in recs["sink"]}
        stream_jobs = defaultdict(list)
        for j in job_of.values():
            if j["query_id"]:
                stream_jobs[(j["query_id"], j["batch"])].append(j)
        rounds = defaultdict(list)
        for p in recs["progress"]:
            sk = sinks.get(p["query_id"])
            if sk and p["sink"] == sk["sink"]:
                rounds[(p["sink"], sk["dir"])].append(p)
        for sink in SINKS:
            batches = [p for (s, _), ps in rounds.items() if s == sink for p in ps if p["input_rows"] > 0]
            for name, _, key in SINK_FIELDS:
                if key:
                    m[f"streaming.{sink}.{name}"] = mean(p["duration_ms"].get(key, 0) for p in batches)
            m[f"streaming.{sink}.input_rows"] = mean(p["input_rows"] for p in batches)
            m[f"streaming.{sink}.jobs"] = mean(len(stream_jobs[(p["query_id"], p["batch"])]) for p in batches)
            summary.setdefault("input_mb_per_batch", {})[sink] = mean(
                stage_sums(stream_jobs[(p["query_id"], p["batch"])])["input_bytes"] / MB for p in batches)
        gold = []
        for (s, d), ps in sorted(rounds.items()):
            if s != "gold":
                continue
            dropped = 0
            for p in sorted(ps, key=lambda p: p["batch"]):
                dropped += sum(o["dropped_by_watermark"] for o in p["state"])
                if p["input_rows"] == 0:
                    continue
                t = stage_sums(stream_jobs[(p["query_id"], p["batch"])])
                emitted = sum(o["rows_updated"] for o in p["state"] if o["operator"] == "stateStoreSave")
                gold.append({"round": d, "batch": p["batch"], "input_rows": p["input_rows"],
                             "jobs": len(stream_jobs[(p["query_id"], p["batch"])]),
                             "state_rows": sum(o["rows_total"] for o in p["state"]),
                             "state_mb": sum(o["memory_bytes"] for o in p["state"]) / MB,
                             "table_mb_written": t["output_bytes"] / MB, "input_mb": t["input_bytes"] / MB,
                             "records_written": t["output_records"], "rows_emitted": emitted,
                             "write_amplification": t["output_records"] / emitted if emitted else 0.0})
            summary.setdefault("dropped_by_watermark_per_round", {})[d] = dropped
        summary["gold_batches"] = gold
        for n in ("state_rows", "state_mb", "table_mb_written", "write_amplification"):
            m["streaming.gold." + n] = mean(g[n] for g in gold)
        m["streaming.gold.rows_dropped_by_watermark"] = mean(
            summary.get("dropped_by_watermark_per_round", {}).values())

    selfs = defaultdict(float)
    for op in ops:
        for name, ms in self_times([s for s in spans if s["op"] == op]).items():
            selfs[name] += ms
    summary["self_ms_per_op"] = {k: v / len(ops) for k, v in selfs.items()} if ops else {}
    m["harness.self_ms"] = summary["self_ms_per_op"].get("op", 0.0)
    return m, summary
