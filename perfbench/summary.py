"""Turns one run's raw samples into the benchmark's metrics.

An operation is one call into the program: a query (batch workloads) or
a micro-batch (stream_ingest). Its kind is the query name, or the stream
phase the micro-batch ran in (open, drain, catchup). Totals are sums over
kinds of each kind's median, so every kind weighs the same however many
times it ran. See perfbench/README.md for each metric's definition.
"""
import re

import stats

# The end-to-end metrics of the result line and BENCHMARK.json (name ->
# unit). Wall-time figures (query_total_s, query_geomean_ms,
# ingest_rows_per_s, event_latency_p50_ms, event_latency_p99_ms, catchup_s)
# are computed too and printed in the full metrics line, but not gated:
# they include time spent waiting for a CPU, and spread wider than CPU
# time between runs on a shared host (measured in perfbench/README.md).
END_TO_END = {"setup_s": "s", "query_cpu_s": "s",
              "query_cpu_geomean_ms": "ms", "heap_peak_mb": "MB"}

COUNTERS = [
    "plan.analysis_ms", "plan.optimization_ms", "plan.physical_ms",
    "plan.construct_ms", "plan.eager_jobs", "plan.smj_count",
    "plan.bhj_count", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.job_ms", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.scheduler_delay_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.gc_ms",
    "exec.storage_bytes_pinned"]
SELF_LAYERS = ["construct", "execute", "plan", "job", "stage"]
KERNELS = ["text_shingles", "minhash_sig", "intersect_count", "simhash64",
           "winnow_fps", "nearest_centroid", "pq_adc"]
# The per-layer metrics every traced run reports, whatever the workload
# (BENCHMARK.json lists the same). Workload-specific ones (query.<name>.ms,
# stream.*) are reported alongside them in the full metrics line.
PER_LAYER = (COUNTERS + ["exec.driver_gap_ms"] +
             [f"self.{s}_ms" for s in SELF_LAYERS] +
             [f"kernel.{k}.rows_per_s" for k in KERNELS] +
             ["sink.http.write_ms", "sink.http.posts", "sink.http.retries",
              "sink.http.bytes", "trace.overhead_pct"])


def unit(name):
    if name in END_TO_END:
        return END_TO_END[name]
    if name == "error_rate":
        return "ratio"
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    return "count"


def _total(pairs):
    """Σ over kinds of the median value, from (kind, value) pairs."""
    by = {}
    for kind, v in pairs:
        by.setdefault(kind, []).append(v)
    return sum(stats.median(v) for v in by.values())


def _stream_latencies(jvm, batches):
    """Due-to-commit latency of every open-loop event: an offer's events
    commit with the first micro-batch whose offset range covers it."""
    out = []
    drain_start = jvm["drain"]["start_ms"]
    spans = sorted((b["from_offset"], b["to_offset"],
                    b["start_ms"] + b["wall_ms"]) for b in batches)
    for off, due, n in jvm["offers"]:
        if due >= drain_start:
            continue
        commit = next(c for lo, hi, c in spans if lo < off <= hi)
        out += [commit - due] * int(n)
    return out


def end_to_end(jvm, ops):
    """Metrics from the untraced operations of a run."""
    medians = stats.per_kind_medians(ops, "wall_ms")
    cpu = stats.per_kind_medians(ops, "cpu_ms")
    m = {"setup_s": stats.median(jvm["setup_s"]),
         "query_total_s": sum(medians.values()) / 1000,
         "query_geomean_ms": stats.geomean(list(medians.values())),
         "query_cpu_s": sum(cpu.values()) / 1000,
         "query_cpu_geomean_ms": stats.geomean(list(cpu.values())),
         "heap_peak_mb": jvm["heap_peak_mb"]}
    if jvm["workload"] == "stream_ingest":
        lat = _stream_latencies(jvm, jvm["ops"])
        d = jvm["drain"]
        m["ingest_rows_per_s"] = d["rows"] / ((d["commit_ms"] - d["start_ms"]) / 1000)
        m["catchup_s"] = stats.median(jvm["catchup_s"])
    else:
        lat = [o["wall_ms"] for o in ops]
        # rows of the tables each query reads, per second of query time
        rows = 0
        for kind in medians:
            sql = jvm["oracle_sql"].get(kind, "")
            rows += sum(n for t, n in jvm["table_rows"].items()
                        if re.search(rf"\b{t}\b", sql))
        m["ingest_rows_per_s"] = rows / m["query_total_s"]
        m["catchup_s"] = jvm["catchup_s"]
    m["event_latency_p50_ms"] = stats.percentile(lat, 50)
    m["event_latency_p99_ms"] = stats.percentile(lat, 99)
    # how far the sample supports a high percentile
    m["event_latency_samples"] = len(lat)
    m["event_latency_supported_pct"] = stats.supported_percentile(len(lat))
    return m


def _driver_gap(spans):
    root = next(s for s in spans if s["parent"] == -1)
    jobs = [(s["start"], s["end"]) for s in spans if s["layer"] == "job"]
    return (root["end"] - root["start"]) - stats.covered(
        jobs, root["start"], root["end"])


def per_layer(jvm, traced, untraced):
    m = {c: _total((o["kind"], o["counters"][c]) for o in traced)
         for c in COUNTERS}
    # wall time of an operation covered by no Spark job
    m["exec.driver_gap_ms"] = _total((o["kind"], _driver_gap(o["spans"]))
                                     for o in traced)
    selfs = [(o["kind"], stats.self_times(o["spans"])) for o in traced]
    for layer in SELF_LAYERS + ["stream"]:
        m[f"self.{layer}_ms"] = _total((k, st.get(layer, 0.0))
                                       for k, st in selfs)
    # overhead over the kinds that ran both ways
    t = stats.per_kind_medians(traced, "wall_ms")
    u = stats.per_kind_medians(untraced, "wall_ms")
    both = [k for k in t if k in u]
    m["trace.overhead_pct"] = (sum(t[k] for k in both) /
                               sum(u[k] for k in both) - 1) * 100
    for kind, v in stats.per_kind_medians(untraced, "wall_ms").items():
        m[f"query.{kind}.ms"] = v
    probes = jvm["probes"]
    for k in KERNELS:
        m[f"kernel.{k}.rows_per_s"] = probes["kernels"][k]["rows_per_s"]
    sink = probes["sink"]
    m["sink.http.write_ms"] = stats.median(sink["write_ms"])
    for k in ("posts", "retries", "bytes"):
        m[f"sink.http.{k}"] = sink[k]
    if jvm["workload"] == "stream_ingest":
        m.update(stream_layer(jvm))
    return m


def stream_layer(jvm):
    ops = jvm["ops"]
    trig = [o["wall_ms"] for o in ops]
    def dur(key):
        return stats.median([o["durations"].get(key, 0.0) for o in ops])
    return {
        "stream.trigger_p50_ms": stats.percentile(trig, 50),
        "stream.trigger_p99_ms": stats.percentile(trig, 99),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_ms": dur("commitOffsets"),
        "stream.batches": len(ops),
        "stream.rows_per_batch": stats.median([o["rows"] for o in ops]),
        "stream.backlog_rows_max": max(o["rows"] for o in ops
                                       if o["kind"] == "open"),
        # a backlog built while stopped is one micro-batch after restart
        "stream.restart_first_batch_ms": stats.median(
            [o["wall_ms"] for o in ops if o["kind"] == "catchup"]),
        "gen.late_ms_max": jvm["gen_late_ms_max"],
    }


def failures(jvm, check):
    """(attempted, failed, reasons). Batch: every query call counts, and
    every call of a query whose checked output was wrong fails. Stream:
    every generated event counts, and each one that did not land exactly
    once in its branch fails; a checkpoint mismatch fails one more. A
    traced run's sink probe fails one more when the acked rows differ
    from the rows sent."""
    attempted, failed, reasons = _workload_failures(jvm, check)
    sink = jvm.get("probes", {}).get("sink")
    if sink and sink["rows_acked"] != sink["rows_sent"]:
        failed += 1
        reasons.append(f"sink acked {sink['rows_acked']} of "
                       f"{sink['rows_sent']} rows")
    return attempted, failed, reasons


def _workload_failures(jvm, check):
    reasons = []
    if jvm["workload"] == "stream_ingest":
        c = jvm["check"]
        failed = c["bad"] + (0 if c["checkpoint_ok"] else 1)
        if c["bad"]:
            reasons.append(f"stream: {c}")
        if not c["checkpoint_ok"]:
            reasons.append(f"checkpoint offset {c['checkpoint_offset']} "
                           f"!= generator {c['generator_offset']}")
        return jvm["events"], failed, reasons
    calls = jvm["ops"]
    failed = 0
    for o in calls:
        wrong = check.get(o["kind"])
        if not o["ok"]:
            failed += 1
            reasons.append(f"{o['kind']}: {o['error']}")
        elif wrong:
            failed += 1
    reasons += [f"{k}: {v}" for k, v in sorted(check.items()) if v]
    return len(calls), failed, sorted(set(reasons))


def summarize(jvm, check):
    attempted, failed, reasons = failures(jvm, check)
    ok_ops = [o for o in jvm["ops"] if o["ok"]]
    measured = [o for o in ok_ops if o["phase"] == "measure"]
    untraced = [o for o in measured if not o["traced"]]
    traced = [o for o in measured if o["traced"]]
    if jvm["trace"]:
        allm = per_layer(jvm, traced, untraced)
    else:
        allm = end_to_end(jvm, untraced)
    allm["error_rate"] = failed / attempted
    listed = PER_LAYER if jvm["trace"] else list(END_TO_END)
    metrics = {n: {"value": allm[n], "unit": unit(n)} for n in listed}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "all": allm, "failures": reasons}
