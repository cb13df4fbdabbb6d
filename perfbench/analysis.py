"""Pure analysis for the benchmark: percentiles, the gap checker, span self
time, suite fingerprints and the per-workload metric tables. run.py feeds
it the raw files a run leaves; test_analysis.py covers it."""

import collections
import datetime
import json
import math
import os
import statistics


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def quartile_spread(values):
    """(Q3 - Q1) / median, with the quartiles statistics.quantiles gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def beyond(n, p):
    """How many of n samples lie above the p-th percentile."""
    return n - math.ceil(n * p / 100.0)


def check_gaps(expected, delivered):
    """Compare the expected (topic, key) records with the delivered ones.

    expected: iterable of (topic, key), each expected exactly once.
    delivered: iterable of (topic, key) in arrival order.
    Missing records are failures; duplicates (at-least-once redelivery) and
    unexpected records are reported separately."""
    want = set(expected)
    seen = collections.Counter(delivered)
    return {
        "expected": len(want),
        "missing": sum(1 for k in want if k not in seen),
        "duplicates": sum(c - 1 for c in seen.values() if c > 1),
        "unexpected": sum(1 for k in seen if k not in want),
    }


def self_times(spans):
    """Per span name, the summed self time: each span's duration minus the
    part of its interval that its child spans cover (overlapping children
    count once). Spans are dicts with id, parent, name, start and end."""
    children = collections.defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s)
    out = collections.defaultdict(float)
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def fingerprint_mismatches(recorded, observed):
    """Names of queries whose observed [rows, hash] differs from the recorded
    one; a query with no observation (it threw) is a mismatch too."""
    return sorted(q for q, fp in observed.items()
                  if fp is None or fp != recorded.get(q))


def read_tsv(path):
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def parse_ts(text):
    """Spark progress timestamps (ISO-8601, UTC) to epoch microseconds."""
    dt = datetime.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)


def batches_in(progress_path, lo_us, hi_us):
    """Micro-batches with input that started inside [lo_us, hi_us]."""
    out = []
    if not os.path.exists(progress_path):
        return out
    with open(progress_path) as f:
        for line in f:
            p = json.loads(line)
            start = parse_ts(p["timestamp"])
            if p.get("numInputRows", 0) > 0 and lo_us <= start <= hi_us:
                out.append(p)
    return out


def deliveries(run_dir):
    """The expected records (round, topic, key, due_us), the gap check, and
    each delivered (topic, key)'s first arrival."""
    exp = read_tsv(os.path.join(run_dir, "expected.tsv"))
    got = read_tsv(os.path.join(run_dir, "delivered.tsv"))
    gaps = check_gaps([(r[1], r[2]) for r in exp], [(r[0], r[1]) for r in got])
    first = {}
    for topic, key, t in got:
        first.setdefault((topic, key), int(t))
    return exp, gaps, first


def window_batches(raw, lo_us, hi_us):
    """Micro-batches with input in the window: from the engine child's
    progress file, or from the traced run's in-process listener."""
    if "batches" in raw:
        return [{"durationMs": b} for b in raw["batches"]
                if b["rows"] > 0 and lo_us <= b["start_us"] <= hi_us]
    return batches_in(raw["child"]["progress"], lo_us, hi_us)


def batch_metrics(batches):
    """suite_s / query_s_*: a micro-batch is one incremental query run."""
    walls = [b["durationMs"]["triggerExecution"] / 1000.0 for b in batches]
    return {"suite_s": sum(walls), "query_s_p50": percentile(walls, 50),
            "query_s_p90": percentile(walls, 90), "batches": len(walls)}


def wal_backlog_metrics(raw, run_dir, clk_tck):
    exp, gaps, first = deliveries(run_dir)
    rounds = raw["rounds"]
    by_round = collections.defaultdict(list)
    for r in exp:
        by_round[int(r[0])].append((r[1], r[2], int(r[3])))
    walls, lat_ms = [], []
    for rd in rounds:
        keys = by_round[rd["round"]]
        arr = [first.get((t, k)) for t, k, _ in keys]
        if any(a is None for a in arr):
            continue
        walls.append((len(keys), (max(arr) - rd["publish_us"]) / 1e6))
        lat_ms.extend((a - due) / 1000.0 for a, (_, _, due) in zip(arr, keys))
    child = raw["child"]
    records = sum(rd["records"] for rd in rounds)
    bm = batch_metrics(window_batches(raw, rounds[0]["publish_us"],
                                      rounds[-1]["done_us"]))
    m = {
        "setup_s": statistics.median(raw["setup_s"]),
        "events_per_s": statistics.median(n / w for n, w in walls),
        "deliver_ms_p50": percentile(lat_ms, 50),
        "deliver_ms_p95": percentile(lat_ms, 95),
        # median over rounds: a round that a GC or a slow stretch of the
        # host lands on does not move it
        "cpu_us_per_event": statistics.median(
            rd["cpu_ticks"] * 1e6 / clk_tck / rd["records"] for rd in rounds),
        "suite_s": bm["suite_s"],
        "query_s_p50": bm["query_s_p50"],
        "query_s_p90": bm["query_s_p90"],
    }
    info = {"gaps": gaps, "rounds": len(rounds), "records_timed": records,
            "rss_mb_peak": child["rss_hwm_kb"] / 1024.0,
            "latency_samples": len(lat_ms),
            "latency_beyond_p95": beyond(len(lat_ms), 95),
            "batches": bm["batches"],
            "metrics_events_total": child["metrics_events_total"],
            "broker_records": child["broker_records"]}
    crosscheck = child["metrics_events_total"] == child["broker_records"]
    return m, info, gaps, crosscheck


# End-to-end metrics, printed on the result line. On a shared host the
# engine's CPU per event spreads about half as much across runs as its wall
# times do (README.md "Stability").
UNITS = {"setup_s": "s", "cpu_us_per_event": "us"}

# The wall-time figures (events_per_s, deliver_ms_p50/p95, suite_s,
# query_s_p50/p90) stay in result.json (info.e2e) as diagnostics: their
# run-to-run spread on a shared 4-core host exceeds the 0.25 bound.
# rss_mb_peak (the engine's VmHWM) is a diagnostic too: it spread 0.15-0.23.

# pg_live validity limits: the generator may commit at most this late at
# p99, and the delivered-vs-committed lag may not grow across the window.
LATE_MS_P99_LIMIT = 50.0
LAG_GROWTH_LIMIT_S = 0.5


def lag_series(txnlog, arrivals, t0, t1, step_us=100000):
    """Committed-but-undelivered record count every step_us in [t0, t1]:
    committed(t) from the generator's log (records per txn), delivered(t)
    from the first arrivals."""
    commits = sorted((int(r[2]), int(r[3])) for r in txnlog)
    arr = sorted(arrivals)
    out, ci, ai, committed = [], 0, 0, 0
    t = t0
    while t <= t1:
        while ci < len(commits) and commits[ci][0] <= t:
            committed += commits[ci][1]
            ci += 1
        while ai < len(arr) and arr[ai] <= t:
            ai += 1
        out.append(committed - ai)
        t += step_us
    return out


def pg_live_metrics(raw, run_dir, clk_tck):
    exp, gaps, first = deliveries(run_dir)
    win = [(r[1], r[2], int(r[3])) for r in exp if int(r[0]) == 0]
    arr = [first.get((t, k)) for t, k, _ in win]
    got = [(a, due) for a, (_, _, due) in zip(arr, win) if a is not None]
    lat_ms = [(a - due) / 1000.0 for a, due in got]
    t0 = raw["t0_us"]
    t_last = max(a for a, _ in got)
    txnlog = read_tsv(os.path.join(run_dir, "txnlog.tsv"))
    late_ms = [(int(r[2]) - int(r[1])) / 1000.0 for r in txnlog]
    # lag in seconds of offered load, first vs last third of the window
    end_due = raw["start_us"] + raw["changes_scheduled"] * 1e6 / raw["rate"]
    warm = [first.get((r[1], r[2])) for r in exp if int(r[0]) == -2]
    lag = [n * 1.0 / raw["rate"] for n in
           lag_series(txnlog, [a for a in warm if a] + [a for a, _ in got],
                      t0, int(end_due))]
    third = max(1, len(lag) // 3)
    growth = statistics.mean(lag[-third:]) - statistics.mean(lag[:third])
    child = raw["child"]
    records = len(win)
    bm = batch_metrics(window_batches(raw, t0, t_last))
    m = {
        "setup_s": statistics.median(raw["setup_s"]),
        "events_per_s": len(got) / ((t_last - t0) / 1e6),
        "deliver_ms_p50": percentile(lat_ms, 50),
        "deliver_ms_p95": percentile(lat_ms, 95),
        "cpu_us_per_event": child["cpu_ticks_total"] * 1e6 / clk_tck / records,
        "suite_s": bm["suite_s"],
        "query_s_p50": bm["query_s_p50"],
        "query_s_p90": bm["query_s_p90"],
    }
    valid = (percentile(late_ms, 99) <= LATE_MS_P99_LIMIT and
             growth <= LAG_GROWTH_LIMIT_S)
    info = {"gaps": gaps, "records_timed": records,
            "rss_mb_peak": child["rss_hwm_kb"] / 1024.0,
            "latency_samples": len(lat_ms),
            "latency_beyond_p95": beyond(len(lat_ms), 95),
            "batches": bm["batches"],
            "generator_late_ms_p99": percentile(late_ms, 99),
            "lag_s_max": max(lag), "lag_s_first_third": statistics.mean(lag[:third]),
            "lag_s_last_third": statistics.mean(lag[-third:]),
            "lag_growth_s": growth, "valid": valid,
            "metrics_events_total": child["metrics_events_total"],
            "broker_records": child["broker_records"]}
    # snapshot READs reach the broker outside the streaming query
    crosscheck = child["metrics_events_total"] == \
        child["broker_records"] - child["snapshot_records"]
    return m, info, gaps, crosscheck and valid


def suite_metrics(raw, clk_tck):
    qs = raw["queries"]
    walls = [q["wall_s"] for q in qs]
    observed = {q["name"]: q["fingerprint"] for q in qs}
    recorded = {q["name"]: q["recorded"] for q in qs}
    # a query that fails its untimed warm-up run fails too
    bad = sorted(set(fingerprint_mismatches(recorded, observed)) |
                 set(raw["warmup_failed"]))
    suite_s = sum(walls)
    m = {
        "setup_s": statistics.median(raw["setup_s"]),
        "events_per_s": len(qs) / suite_s,
        "deliver_ms_p50": percentile(walls, 50) * 1000,
        "deliver_ms_p95": percentile(walls, 95) * 1000,
        "cpu_us_per_event": sum(q["cpu_ticks"] for q in qs) * 1e6 / clk_tck / len(qs),
        "suite_s": suite_s,
        "query_s_p50": percentile(walls, 50),
        "query_s_p90": percentile(walls, 90),
    }
    info = {"queries": len(qs), "mismatched": bad,
            "rss_mb_peak": raw["rss_hwm_kb"] / 1024.0,
            "errors": {q["name"]: q["error"] for q in qs if q["error"]},
            "beyond_p90": beyond(len(qs), 90), "beyond_p50": beyond(len(qs), 50),
            "slowest": sorted(((q["wall_s"], q["name"]) for q in qs))[-3:]}
    gaps = {"expected": len(qs), "missing": len(bad)}
    return m, info, gaps, True


# Per-layer metrics of the traced run, in BENCHMARK.json order. A layer
# that is idle on a workload reports 0 there (README.md: "moves on / flat on").
FAMILIES = ("cdc", "dedup", "sim", "text", "mm", "events", "olap", "pipeline",
            "graph", "cluster", "emb", "pii")
PER_LAYER = dict([
    ("source.postgres.read_wait_ms", "ms"), ("source.postgres.messages", "count"),
    ("source.postgres.bytes", "B"), ("source.postgres.status_updates", "count"),
    ("source.postgres.spool_ms", "ms"),
    ("source.wal.admission_ms_per_batch", "ms"), ("source.wal.read_ns_per_event", "ns"),
    ("source.wal.bytes_per_event", "B"),
    ("source.pgoutput.decode_ns_per_event", "ns"),
    ("source.pgoutput.decode_alloc_b_per_event", "B"),
    ("source.pgoutput.convert_ns_per_event", "ns"),
    ("source.pgoutput.convert_alloc_b_per_event", "B"),
    ("serialization.json_ns_per_event", "ns"),
    ("serialization.frame_ns_per_event", "ns"),
    ("operators.fanout_ratio", "ratio"), ("operators.routed_ratio", "ratio"),
    ("sink.kafka.produce_ms_per_batch", "ms"), ("sink.kafka.send_ns_per_event", "ns"),
    ("sink.kafka.flush_ms_per_batch", "ms"), ("sink.kafka.connect_ms_per_batch", "ms"),
    ("sink.kafka.produce_requests_per_batch", "count"),
    ("sink.kafka.bytes_per_event", "B"), ("sink.kafka.errors", "count"),
    ("streaming.batches", "count"), ("streaming.events_per_batch", "count"),
    ("streaming.batch_ms_p50", "ms"), ("streaming.plan_ms_per_batch", "ms"),
    ("streaming.get_batch_ms_per_batch", "ms"),
    ("streaming.add_batch_ms_per_batch", "ms"),
    ("streaming.offset_log_ms_per_batch", "ms"),
    ("streaming.commit_log_ms_per_batch", "ms"),
    ("streaming.trigger_wait_ms_per_batch", "ms"),
    ("setup.session_ms", "ms"), ("setup.bootstrap_ms", "ms"),
    ("setup.first_batch_ms", "ms"),
    ("queries.analysis_ms", "ms"), ("queries.optimization_ms", "ms"),
    ("queries.planning_ms", "ms"), ("queries.jobs", "count"),
    ("queries.stages", "count"), ("queries.tasks", "count"),
    ("queries.driver_gap_ms", "ms"), ("queries.executor_run_ms", "ms"),
    ("queries.shuffle_read_mb", "MB"), ("queries.shuffle_write_mb", "MB"),
    ("queries.spill_mb", "MB"),
] + [("queries.%s.wall_s" % f, "s") for f in FAMILIES] + [
    ("util.checkpoint_mb_held_max", "MB"), ("generator.late_ms_p99", "ms"),
    ("failed_frac", "ratio"), ("trace.unattributed_share", "ratio"),
])

# The reference's component micro-benchmarks (BASELINE.md), µs per op.
BASELINE_US = {"source.pgoutput.decode_ns_per_event": 53.19,
               "source.pgoutput.convert_ns_per_event": 111.39,
               "serialization.json_ns_per_event": 26.74,
               "sink.kafka.send_ns_per_event": 89.09}


def read_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def span_total(spans, name):
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def unattributed_share(spans, roots):
    """Share of the root spans' time that no child span covers."""
    st = self_times(spans)
    total = sum(span_total(spans, r) for r in roots)
    return sum(st.get(r, 0.0) for r in roots) / total if total else 0.0


def traced_cdc_layers(raw, spans):
    """Per-layer metrics of a traced CDC run (wal_backlog or pg_live)."""
    rp = raw["replay"]
    ev = max(rp["events"], 1)
    segs = max(rp["segments"], 1)
    batches = [b for b in raw["batches"] if b["rows"] > 0]
    nb = max(len(batches), 1)
    ch = raw["child"]

    def per_batch(key):
        return sum(b.get(key, 0) for b in batches) / nb

    ordered = sorted(batches, key=lambda b: b["start_us"])
    gaps = [(n["start_us"] - (p["start_us"] + p["triggerExecution"] * 1000)) / 1000.0
            for p, n in zip(ordered, ordered[1:])]
    st = self_times(spans)
    wire = raw.get("wire", {})
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "source.postgres.read_wait_ms": wire.get("read_us", 0) / 1000.0,
        "source.postgres.messages": wire.get("messages", 0),
        "source.postgres.bytes": wire.get("bytes", 0),
        "source.postgres.status_updates": wire.get("status_updates", 0),
        "source.postgres.spool_ms": st.get("source.postgres.spool", 0.0) / 1000.0,
        "source.wal.admission_ms_per_batch": per_batch("latestOffset"),
        "source.wal.read_ns_per_event": span_total(spans, "source.wal.read") * 1000.0 / ev,
        "source.wal.bytes_per_event": rp["wal_bytes"] / ev,
        "source.pgoutput.decode_ns_per_event":
            span_total(spans, "source.pgoutput.decode") * 1000.0 / ev,
        "source.pgoutput.decode_alloc_b_per_event": rp["decode_alloc"] / ev,
        "source.pgoutput.convert_ns_per_event":
            span_total(spans, "source.pgoutput.convert") * 1000.0 / ev,
        "source.pgoutput.convert_alloc_b_per_event": rp["convert_alloc"] / ev,
        "serialization.json_ns_per_event":
            span_total(spans, "serialization.json") * 1000.0 / ev,
        "serialization.frame_ns_per_event":
            (raw["frame_ns"] - raw["frame_scan_ns"]) / ev,
        "operators.fanout_ratio": rp["records"] / ev,
        "operators.routed_ratio": rp["routed_events"] / ev,
        "sink.kafka.produce_ms_per_batch":
            span_total(spans, "sink.kafka.produce") / 1000.0 / nb,
        "sink.kafka.send_ns_per_event":
            span_total(spans, "sink.kafka.send") * 1000.0 / max(rp["records"], 1),
        "sink.kafka.flush_ms_per_batch": span_total(spans, "sink.kafka.flush") / 1000.0 / segs,
        "sink.kafka.connect_ms_per_batch":
            span_total(spans, "sink.kafka.connect") / 1000.0 / segs,
        "sink.kafka.produce_requests_per_batch": ch["produce_requests"] / nb,
        "sink.kafka.bytes_per_event": ch["broker_value_bytes"] / max(ch["broker_records"], 1),
        "sink.kafka.errors": rp["errors"],
        "streaming.batches": len(batches),
        "streaming.events_per_batch": sum(b["rows"] for b in batches) / nb,
        "streaming.batch_ms_p50": percentile([b["triggerExecution"] for b in batches], 50),
        "streaming.plan_ms_per_batch": per_batch("queryPlanning"),
        "streaming.get_batch_ms_per_batch": per_batch("getBatch"),
        "streaming.add_batch_ms_per_batch": per_batch("addBatch"),
        "streaming.offset_log_ms_per_batch": per_batch("walCommit"),
        "streaming.commit_log_ms_per_batch": per_batch("commitOffsets"),
        "streaming.trigger_wait_ms_per_batch": statistics.mean(gaps) if gaps else 0.0,
        "setup.session_ms": span_total(spans, "setup.session") / 1000.0,
        "setup.bootstrap_ms": span_total(spans, "setup.bootstrap") / 1000.0,
        "setup.first_batch_ms": span_total(spans, "setup.first_batch") / 1000.0,
        "trace.unattributed_share": unattributed_share(
            spans, ("streaming.batch", "replay.segment", "source.postgres.spool")),
    })
    return m


def traced_suite_layers(raw, spans, totals):
    qs = raw["queries"]
    n = max(len(qs), 1)
    m = dict.fromkeys(PER_LAYER, 0.0)
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "jobs", "stages",
              "tasks", "driver_gap_ms", "executor_run_ms"):
        m["queries." + k] = totals.get(k, 0.0) / n
    for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m["queries." + k] = totals.get(k, 0.0)
    for q in qs:
        fam = q["name"].split("_")[0]
        if fam in FAMILIES:
            m["queries.%s.wall_s" % fam] += q["wall_s"]
    m["util.checkpoint_mb_held_max"] = raw["checkpoint_mb_held_max"]
    m["trace.unattributed_share"] = unattributed_share(
        spans, ["queries." + f for f in FAMILIES])
    return m


def layer_table(workload, layers, spans, traced_e2e, untraced_e2e):
    """Markdown: self time per span name, per-event costs next to the
    reference's component table, traced vs untraced end-to-end."""
    st = self_times(spans)
    total = sum(st.values()) or 1.0
    out = ["# %s: traced run" % workload, "",
           "| span | self ms | share |", "|---|---:|---:|"]
    for name, v in sorted(st.items(), key=lambda kv: -kv[1]):
        out.append("| %s | %.1f | %.1f%% |" % (name, v / 1000.0, 100.0 * v / total))
    out += ["", "Unattributed share of root spans: %.3f" %
            layers["trace.unattributed_share"], "",
            "| per-event layer | this run (us/event) | reference (us/op) |",
            "|---|---:|---:|"]
    for k, ref in BASELINE_US.items():
        out.append("| %s | %.2f | %.2f |" % (k, layers[k] / 1000.0, ref))
    out += ["", "| end-to-end | traced | untraced (same seed) | overhead |",
            "|---|---:|---:|---:|"]
    for k, v in traced_e2e.items():
        u = (untraced_e2e or {}).get(k)
        over = "%.1f%%" % (100.0 * (v - u) / u) if u else "n/a"
        out.append("| %s | %.4g | %s | %s |" % (k, v, "%.4g" % u if u else "n/a", over))
    out += ["", "| layer metric | value |", "|---|---:|"]
    out += ["| %s | %.6g |" % kv for kv in layers.items()]
    return "\n".join(out) + "\n"
