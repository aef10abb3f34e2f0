"""From one raw harness record to the benchmark's metrics and verdict."""
import datetime
import os

from . import recount, schedule, traceview
from .fingerprint import fingerprint
from .stats import geomean, median, percentile

BRANCHES = ("visits_counter", "set_users_minute", "set_users_variant",
            "set_experiments_minute", "hll_users_minute")
ENDPOINTS = ("visits", "users", "experiments", "variantsOverlap", "times")
QUERIES = ("parse_events_json", "visits_per_minute", "unique_users_per_minute",
           "variant_overlap", "visits_timeseries", "pricing_summary", "revenue_by_nation",
           "order_fill_by_priority", "user_sessions", "dedup_minhash_lsh")


def setup_seconds(raw, jvm_start_s, gen_reps):
    """Set-up time: JVM start, session start, the median of the repeated
    set-ups (on `live` inputs, store and dashboard; on `catalog` the
    tables), the pipeline start with its history load, and the busy part
    of the warm pass."""
    s = raw["setup"]
    reps = median([sum(r.values()) for r in s["reps"]])
    gen = median(gen_reps) if gen_reps else 0.0
    return jvm_start_s + s["session_s"] + reps + gen + s["load_s"] + s["warm_s"]


def query_medians(raw):
    """{query: median ms over the run's rounds} of the queries that completed."""
    out = {}
    for q in QUERIES:
        xs = [(x["build_ns"] + x["plan_ns"] + x["exec_ns"]) / 1e6
              for x in raw["timed"]["queries"] if x["query"] == q and x["ok"]]
        if xs:
            out[q] = median(xs)
    return out


def end_to_end(raw, jvm_start_s, gen_reps):
    """The five end-to-end metrics. On `live` the unit is the one-second
    cycle: throughput is the median over cycles of events committed per
    second of cycle time, and latency is freshness. On `catalog` the unit
    is the query, timed over the run's rounds: latency is the
    geometric mean of the per-query medians, the tail the slowest query's
    median, and throughput ten queries over the sum of the medians (one
    round at median speed)."""
    t = raw["timed"]
    if raw["workload"] == "catalog":
        per_q = list(query_medians(raw).values())
        throughput = len(per_q) / (sum(per_q) / 1e3)
        latency, tail = geomean(per_q), max(per_q)
    else:
        cycles = [c for c in t["cycles"] if c["branch_end_ns"]]
        throughput = median([(c["last"] - c["first"]) / ((c["commit_ns"] - c["add_ns"]) / 1e9)
                             for c in cycles])
        fresh, _ = schedule.event_times(cycles, t["t0_ns"], t["rate"])
        latency, tail = percentile(fresh, 50), percentile(fresh, 90)
    return {
        "setup_s": (setup_seconds(raw, jvm_start_s, gen_reps), "s"),
        "live_mem_mb": (raw["live_heap_bytes"] / 2**20, "MB"),
        "throughput_per_s": (throughput, "1/s"),
        "latency_ms": (latency, "ms"),
        "latency_tail_ms": (tail, "ms"),
    }


def check(raw, work_dir, oracle=None):
    """(checks attempted, list of failures) for the workload's outputs:
    the catalog results against the DuckDB twins' fingerprints, or the
    live store and endpoints against a recount of the events fed."""
    c = raw["check"]
    failures = []
    if raw["workload"] == "catalog":
        for r in c["results"]:
            got = list(fingerprint(r["columns"], r["rows"]))
            if oracle is None or oracle.get(r["query"]) != got:
                failures.append(("query", r["query"], got, (oracle or {}).get(r["query"])))
        return len(c["results"]), failures
    with open(os.path.join(work_dir, c["events_file"])) as f:
        rc = recount.recount(f)
    failures += [("store", b) for b in recount.compare_store(rc, c["store"])]
    now = datetime.datetime.fromisoformat(c["dashboard_now"])
    expected = recount.expected_endpoints(rc, now)
    for e in c["endpoints"]:
        name = e["path"].split("/")[-1].split("?")[0]
        if e["status"] != 200 or not recount.compare_endpoint(expected[name], e["body"]):
            failures.append(("endpoint", name))
    return 1 + len(c["endpoints"]), failures


def counts(raw, attempted_checks, failures):
    """(attempted, failed) operations: cycles or queries, reads, checks."""
    t = raw["timed"]
    reads = t.get("reads", [])
    non_ok = sum(1 for r in reads if r["status"] != 200)
    if raw["workload"] == "catalog":
        wrong = {f[1] for f in failures if f[0] == "query"}
        ops = len(t["queries"])
        bad_ops = sum(1 for q in t["queries"] if not q["ok"] or q["query"] in wrong)
    else:
        ops = len(t["cycles"])
        bad_ops = t["failed_cycles"]
    return ops + len(reads) + attempted_checks, bad_ops + non_ok + len(failures)


def _p50(xs):
    return median(xs) if xs else 0.0


def per_layer(raw, jvm_start_s, gen_reps):
    """Every per-layer metric; a layer a workload does not exercise reads 0."""
    t, s, eng, st = raw["timed"], raw["setup"], raw["engine"], raw["store"]
    m = {}
    m["setup.session_s"] = (jvm_start_s + s["session_s"], "s")
    m["setup.generate_s"] = (median([r.get("generate_s", 0.0) for r in s["reps"]])
                             + (median(gen_reps) if gen_reps else 0.0), "s")
    m["setup.load_s"] = (s["load_s"], "s")
    m["setup.warm_s"] = (s["warm_s"], "s")

    cycles = t.get("cycles", [])
    end = t["end_ns"] - raw["trace_epoch_ns"]
    progress = [p for p in raw["progress"] if p["rows"] > 0 and p["at_ns"] <= end]
    events = sum(c["last"] - c["first"] for c in cycles)
    rows_read = sum(p["rows"] for p in progress)
    _, late = schedule.event_times(cycles, t["t0_ns"], t.get("rate"))
    reads = t.get("reads", [])
    _, wait = schedule.request_times(reads)
    # a refresh's first panel goes out at once; later ones queue behind it
    first_wait = [w for r, w in zip(reads, wait) if r["path"] == 0]
    m["sources.events"] = (events, "count")
    m["sources.rows_read_per_event"] = (rows_read / events if events else 0.0, "ratio")
    m["sources.generator_late_ms"] = (_p50(late), "ms")
    m["sources.poller_late_ms"] = (_p50(first_wait), "ms")

    m["streaming.cycles"] = (len(cycles), "count")
    m["streaming.cycle_p50_ms"] = (_p50([(c["commit_ns"] - c["add_ns"]) / 1e6 for c in cycles]), "ms")
    m["streaming.microbatches"] = (len(progress), "count")
    last_state = [p for p in progress if p["name"] == "hll_users_minute"]
    m["streaming.state_rows"] = (last_state[-1]["state_rows"] if last_state else 0, "count")
    m["streaming.state_bytes"] = (last_state[-1]["state_bytes"] if last_state else 0, "bytes")
    for b in BRANCHES:
        ps = [p["duration_ms"] for p in progress if p["name"] == b]
        m[f"streaming.{b}.trigger_ms"] = (_p50([d.get("triggerExecution", 0) for d in ps]), "ms")
        m[f"streaming.{b}.plan_ms"] = (_p50([d.get("queryPlanning", 0) for d in ps]), "ms")
        m[f"streaming.{b}.commit_ms"] = (
            _p50([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in ps]), "ms")
        m[f"streaming.{b}.add_batch_ms"] = (_p50([d.get("addBatch", 0) for d in ps]), "ms")

    m["engine.jobs"] = (eng["jobs"], "count")
    m["engine.stages"] = (eng["stages"], "count")
    m["engine.tasks"] = (eng["tasks"], "count")
    m["engine.task_s"] = (eng["task_ms"] / 1e3, "s")
    m["engine.executor_cpu_s"] = (eng["executor_cpu_ns"] / 1e9, "s")
    m["engine.task_wait_s"] = (eng["task_wait_ms"] / 1e3, "s")
    m["engine.gc_s"] = (eng["gc_ms"] / 1e3, "s")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes"):
        m[f"engine.{k}"] = (eng[k], "bytes")
    m["process.cpu_s"] = (eng["process_cpu_ns"] / 1e9, "s")
    m["process.driver_cpu_s"] = ((eng["process_cpu_ns"] - eng["executor_cpu_ns"]) / 1e9, "s")

    resp = t.get("resp") or {}
    m["store.write_calls"] = (st["write_calls"], "count")
    m["store.write_ms"] = (st["write_ns"] / 1e6, "ms")
    m["store.read_calls"] = (st["read_calls"], "count")
    m["store.read_ms"] = (st["read_ns"] / 1e6, "ms")
    m["store.resp_write_commands"] = (resp.get("resp_write_commands", 0), "count")
    m["store.resp_read_commands"] = (resp.get("resp_read_commands", 0), "count")
    m["store.resp_round_trips"] = (resp.get("resp_round_trips", 0), "count")
    m["store.resp_bytes"] = (resp.get("resp_bytes", 0), "bytes")
    m["store.connections"] = (resp.get("connections", 0), "count")
    m["store.ledger_skips"] = (st["ledger_skips"], "count")

    spans = raw["spans"]
    requests = request_spans(raw)
    by_req = traceview.attach_reads(requests, [x for x in spans if x["name"].startswith("store.read")])
    store_ms = {r["id"]: sum(x["end_ns"] - x["start_ns"] for x in by_req.get(r["id"], ())) / 1e6
                for r in requests}
    overhead = [(r["end_ns"] - r["start_ns"]) / 1e6 - store_ms[r["id"]] for r in requests]
    ok_reads = [x for x in schedule.request_times(reads)[0] if x != float("inf")]
    m["serving.read_p50_ms"] = (_p50(ok_reads), "ms")
    m["serving.read_p95_ms"] = (percentile(ok_reads, 95) if ok_reads else 0.0, "ms")
    m["serving.requests"] = (len(reads), "count")
    m["serving.non_ok"] = (sum(1 for r in reads if r["status"] != 200), "count")
    m["serving.queue_wait_p50_ms"] = (_p50(wait), "ms")
    m["serving.store_ms_per_request"] = (sum(store_ms.values()) / len(requests) if requests else 0.0, "ms")
    m["serving.overhead_p50_ms"] = (_p50(overhead), "ms")
    for i, e in enumerate(ENDPOINTS):
        lat = [(r["done_ns"] - r["due_ns"]) / 1e6 for r in reads if r["path"] == i and r["status"] == 200]
        m[f"serving.{e}.p50_ms"] = (_p50(lat), "ms")

    qs = [q for q in t.get("queries", []) if q["ok"]]
    per_q = {q: [x for x in qs if x["query"] == q] for q in QUERIES}
    def part(key):
        return sum(_p50([x[key] / 1e6 for x in xs]) for xs in per_q.values() if xs)
    q_ms = query_medians(raw) if qs else {}
    m["catalog.rounds"] = (len(qs) / len(QUERIES), "count")
    m["catalog.build_ms"] = (part("build_ns"), "ms")
    m["catalog.construction_jobs"] = (sum(x["build_jobs"] for x in qs), "count")
    m["catalog.plan_ms"] = (part("plan_ns"), "ms")
    m["catalog.exec_ms"] = (part("exec_ns"), "ms")
    m["catalog.jobs"] = (sum(x["jobs"] for x in qs), "count")
    for q in QUERIES:
        m[f"catalog.{q}.ms"] = (q_ms.get(q, 0.0), "ms")
    return m


def request_spans(raw):
    """Dashboard requests as spans (due → done) carrying their send time,
    on the trace clock."""
    epoch = raw["trace_epoch_ns"]
    return [{"id": f"r{r['j']}", "name": "serving.request", "parent": -1,
             "start_ns": r["due_ns"] - epoch, "end_ns": r["done_ns"] - epoch,
             "send_ns": r["send_ns"] - epoch}
            for r in raw["timed"].get("reads", []) if r["status"] == 200]
