#!/usr/bin/env python3
"""End-to-end benchmark of the AIS pipeline and the query catalog.

    python3 perfbench/run.py --workload ais_live --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):
  ais_live      open loop, 5,000 messages/s, 1 s trigger, dashboard poller
  catalog_sf01  catalog queries, closed loop, at sf0.1 size

Builds the engine and the harness from source (perfbench/build.py), runs the
harness JVM once (traced runs: more, see below), checks the outputs, prints
every metric by name with its unit, and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics; traced runs (--trace 1) the per-layer ones plus the
tracing overhead against this checkout's untraced runs of the workload.
Exits non-zero on a failed output check, a refused host or a harness error.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

T0 = time.time()
WORKLOADS = ("ais_live", "catalog_sf01")
WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 170

# Host validity bars: a run on a host past any of them is refused.
MAX_LOAD1M_PER_CORE = 4.0
MAX_STEAL_PCT = 20.0
MAX_CANARY_MS = 1500.0

# Tail percentiles each workload's sample count supports (>= 10 beyond).
TAIL_P = {"ais_live": 99.0, "catalog_sf01": 80.0}

TABLES = {"positions": "ship_pos_and_wx", "info": "ship_info_and_destination"}
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, workload, seed, seconds, trace, tag):
    """One harness JVM; returns its raw record."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(WORK, f"raw-{tag}.json")
    log = os.path.join(WORK, f"jvm-{tag}.log")
    if os.path.exists(out):
        os.remove(out)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", WORK,
            "--data", os.path.join(HERE, "data", "sf0.001"),
            "--counts", os.path.join(HERE, "catalog_counts.tsv"), "--out", out]
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=WORK)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness JVM timed out after {JVM_TIMEOUT_S} s (log: {log})")
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"harness JVM failed with exit code {rc}")
    with open(out) as fh:
        return json.load(fh)


def host_refusal(raw):
    h = raw["host"]
    if h["load1m_start"] > MAX_LOAD1M_PER_CORE * raw["nproc"]:
        return f"load1m at start {h['load1m_start']:.2f} > {MAX_LOAD1M_PER_CORE} x nproc"
    if h["steal_pct"] > MAX_STEAL_PCT:
        return f"CPU steal {h['steal_pct']:.1f}% > {MAX_STEAL_PCT}%"
    if h["canary_ms"] > MAX_CANARY_MS:
        return f"memory canary {h['canary_ms']:.0f} ms > {MAX_CANARY_MS:.0f} ms"
    return None


def setup_s(raw):
    return raw["session_s"] + statistics.median(raw["setup_runs_s"])


def batches_by_query(raw, first_offset):
    out = {}
    for b in raw["batches"]:
        if b["end_offset"] >= first_offset:
            out.setdefault(b["query"], []).append(b)
    return out


def end_to_end(raw):
    """(generic metrics for the result line, workload metrics by the names
    the workload defines, extra facts for the artifact)."""
    w = raw["workload"]
    named = {"setup_s": (setup_s(raw), "s"),
             "live_heap_peak_mb": (raw["heap_peak_mb"], "MB"),
             "error_rate": (raw["failed"] / raw["attempted"], "ratio")}
    extra = {}
    tail_p = TAIL_P[w]
    if w == "ais_live":
        byq = batches_by_query(raw, raw["first_measured_offset"])
        lat, per_chunk = stats.line_latencies(raw["chunks"], byq)
        late = stats.lateness(raw["chunks"])
        last_landed = max(stats.landed_ms(c[0], byq) for c in raw["chunks"])
        refresh = [r["ms"] for r in raw["refreshes"]]
        p50, tail = stats.percentile(lat, 50), stats.percentile(lat, tail_p)
        thr = stats.sustained_rate(raw["chunks"], last_landed)
        named.update({
            "ingest_latency_p50_ms": (p50, "ms"),
            "ingest_latency_p99_ms": (tail, "ms"),
            "ingest_sustained_lines_per_s": (thr, "1/s"),
            "live_refresh_p50_ms": (statistics.median(refresh) if refresh else None, "ms")})
        extra = {"latency_samples": len(lat),
                 "generator_lateness_p99_ms": stats.percentile(late, 99),
                 "generator_lateness_max_ms": max(late),
                 "backlog": stats.backlog(per_chunk, 1000.0),
                 "refresh_samples": len(refresh)}
    else:
        ms = [e["ms"] for e in raw["executions"]]
        p50, tail = stats.percentile(ms, 50), stats.percentile(ms, tail_p)
        thr = 1000.0 * len(ms) / sum(ms)
        named.update({
            "catalog_total_s": (raw["passes"][0], "s"),
            "catalog_query_p50_ms": (p50, "ms"),
            f"catalog_query_tail_ms (p{tail_p:g})": (tail, "ms")})
        extra = {"query_samples": len(ms), "queries_per_pass": len(raw["config"]["subset"])}
    n = extra.get("latency_samples") or extra.get("query_samples")
    if (stats.tail_percentile(n) or 0) < tail_p:
        raise SystemExit(f"{n} samples are too few for p{tail_p:g}")
    generic = {
        "setup_s": (setup_s(raw), "s"),
        "latency_p50_ms": (p50, "ms"),
        "latency_tail_ms": (tail, "ms"),
        "throughput_per_s": (thr, "1/s"),
        "live_heap_peak_mb": (raw["heap_peak_mb"], "MB"),
    }
    extra["tail_percentile"] = tail_p
    return generic, named, extra


def stream_spans(raw):
    """Micro-batches as spans, their progress phases laid out in execution
    order as children, in the run's span clock."""
    spans = []
    next_id = -1
    for b in raw.get("batches", []):
        start = raw["t0_trace_ms"] + b["trigger_start_ms"]
        req = f"{TABLES[b['query']]}:{b['batch']}"
        bid = next_id
        next_id -= 1
        spans.append({"id": bid, "name": "stream.batch", "start": start,
                      "end": start + b["durations"].get("triggerExecution", 0),
                      "parent": 0, "req": req})
        t = start
        for ph in PHASES:
            d = b["durations"].get(ph, 0)
            spans.append({"id": next_id, "name": f"stream.{ph}", "start": t,
                          "end": t + d, "parent": bid, "req": req})
            next_id -= 1
            t += d
    return spans


def per_layer(raw, overhead):
    c = raw.get("counters", {})
    spans = [dict(zip(("id", "name", "start", "end", "parent", "req"), s))
             for s in raw.get("spans", [])]
    sspans = stream_spans(raw) if raw["workload"] == "ais_live" else []
    batch_of = {s["req"]: s["id"] for s in sspans if s["name"] == "stream.batch"}
    for s in spans:
        if s["name"].startswith("sink.") and s["parent"] == 0 and s["req"] in batch_of:
            s["parent"] = batch_of[s["req"]]
    all_spans = spans + sspans
    jobs = [(s["start"], s["end"]) for s in spans if s["name"] == "spark.job"]

    m = {}
    # streaming (measured batches only)
    first = raw.get("first_measured_offset", 0)
    bs = [b for b in raw.get("batches", []) if b["end_offset"] >= first]
    m["stream.batches"] = (len(bs), "count")
    m["stream.rows_per_batch_p50"] = (statistics.median([b["rows"] for b in bs]) if bs else 0, "count")
    m["stream.trigger_ms_p50"] = (statistics.median(
        [b["durations"].get("triggerExecution", 0) for b in bs]) if bs else 0, "ms")
    for key, name in (("queryPlanning", "query_planning_ms"), ("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
                      ("latestOffset", "latest_offset_ms")):
        m[f"stream.{name}"] = (sum(b["durations"].get(key, 0) for b in bs), "ms")

    iso = raw.get("isolation", {})
    pm = iso.get("prefix_ms", {})

    def step(a, b):
        return pm[b] - (pm[a] if a else 0.0) if pm else 0.0
    m["decode.lines_in"] = (iso.get("lines_in", 0), "count")
    m["decode.records_out"] = (iso.get("records_out", 0), "count")
    m["decode.dropped_lines"] = (iso.get("dropped_lines", 0), "count")
    m["decode.ms"] = (step(None, "decode"), "ms")
    m["route.positions_out"] = (iso.get("positions_out", 0), "count")
    m["route.info_out"] = (iso.get("info_out", 0), "count")
    m["route.filtered_out"] = (iso.get("filtered_out", 0), "count")
    m["route.ms"] = (step("decode", "route"), "ms")
    m["avro.frames"] = (iso.get("frames", 0), "count")
    m["avro.frame_bytes"] = (iso.get("frame_bytes", 0), "bytes")
    m["avro.encode_ms"] = (step("route", "avro_encode"), "ms")
    m["avro.decode_ms"] = (step("avro_encode", "avro_decode"), "ms")
    m["avro.bad_frames"] = (iso.get("bad_frames", 0), "count")
    rows = iso.get("enrich_rows", 0)
    m["enrich.rows"] = (rows, "count")
    m["enrich.lookups"] = (iso.get("enrich_lookups", 0), "count")
    m["enrich.cache_hit_ratio"] = (1 - iso.get("enrich_lookups", 0) / rows if rows else 0, "ratio")
    m["enrich.lookup_ms"] = (iso.get("enrich_lookup_ms", 0), "ms")
    m["enrich.ms"] = (step("avro_decode", "enrich"), "ms")
    m["isolation.sink_ms"] = (step("enrich", "sink"), "ms")

    for k in ("upsert_calls", "connections", "rows_inserted", "execute_batch_calls",
              "redeliveries", "task_retries"):
        m[f"sink.{k}"] = (c.get(f"sink.{k}", 0), "count")
    for k in ("connect", "delete", "insert", "commit"):
        m[f"sink.{k}_ms"] = (c.get(f"sink.{k}_ns", 0) / 1e6, "ms")

    refreshes = [s for s in spans if s["name"] == "dashboard.refresh"]
    nref = len(refreshes)

    def per_refresh(name):
        tot = sum(s["end"] - s["start"] for s in spans if s["name"] == name)
        return tot / nref if nref else 0.0
    m["landing.read_ms"] = (per_refresh("landing.read"), "ms")
    m["landing.rows_read"] = (statistics.mean([r["rows_read"] for r in raw.get("refreshes", [])])
                              if raw.get("refreshes") else 0, "count")
    for p in ("ship_count", "fast_ship_count", "details", "map_center", "map_bounds"):
        m[f"dashboard.{p}_ms"] = (per_refresh(f"dashboard.{p}"), "ms")
    rjobs = sum(1 for s in spans if s["name"] == "spark.job" and s["req"].startswith("refresh:"))
    m["dashboard.jobs_per_refresh"] = (rjobs / nref if nref else 0, "count")

    builds = [s for s in spans if s["name"] == "plan.build"]
    m["plan.build_ms"] = (sum(s["end"] - s["start"] for s in builds), "ms")
    m["plan.build_jobs"] = (sum(1 for a, _ in jobs
                                if any(s["start"] <= a <= s["end"] for s in builds)), "count")
    for p in ("analysis", "optimization", "planning"):
        m[f"plan.{p}_ms"] = (c.get(f"plan.{p}_ms", 0), "ms")
    m["codegen.compile_ms"] = (raw["codegen_compile_ms"], "ms")
    m["codegen.compiles"] = (raw["codegen_compiles"], "count")

    for k in ("jobs", "stages", "tasks", "run_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        m[f"exec.{k}"] = (c.get(f"exec.{k}", 0), "bytes" if k.endswith("bytes") else
                          "ms" if k.endswith("ms") else "count")
    m["exec.cpu_ms"] = (c.get("exec.cpu_ns", 0) / 1e6, "ms")
    m["exec.peak_exec_memory_mb"] = (raw["peak_exec_memory_mb"], "MB")
    windows = [s for s in all_spans if s["name"] in ("catalog.exec", "stream.batch")]
    residual = sum((s["end"] - s["start"]) - stats.union_ms(stats.clip(jobs, s["start"], s["end"]))
                   for s in windows) - c.get("plan.exec_phase_ms", 0)
    m["exec.driver_residual_ms"] = (residual, "ms")

    m["trace.spans"] = (len(all_spans), "count")
    m["trace.overhead_ratio"] = (overhead, "ratio")
    self_ms = stats.self_times(all_spans)
    return m, self_ms


def history_file(workload):
    return os.path.join(WORK, "history", f"{workload}.jsonl")


def untraced_p50s(workload):
    try:
        with open(history_file(workload)) as fh:
            return [json.loads(l)["latency_p50_ms"] for l in fh if l.strip()]
    except FileNotFoundError:
        return []


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(HERE, "catalog_counts.tsv")):
        raise SystemExit("perfbench/catalog_counts.tsv missing")
    os.makedirs(WORK, exist_ok=True)
    cp = build.classpath()
    tag = f"{args.workload}-{args.seed}-{args.trace}"

    raw = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, tag)
    why = host_refusal(raw)
    if why:
        raise SystemExit(f"run refused: {why}")
    generic, named, extra = end_to_end(raw)
    artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "nproc": raw["nproc"],
                "jvm": raw["jvm"], "spark_version": raw["spark_version"],
                "host": raw["host"], "confs": raw["confs"], "config": raw["config"],
                "checks": raw.get("checks"), "end_to_end": named, "facts": extra}
    if args.trace:
        # 0 when this checkout holds no untraced run of the workload yet
        untraced = untraced_p50s(args.workload)
        base = statistics.median(untraced) if untraced else None
        overhead = generic["latency_p50_ms"][0] / base if base else 0.0
        metrics, self_ms = per_layer(raw, overhead)
        artifact.update({"per_layer": metrics, "self_ms": self_ms,
                         "untraced_latency_p50_ms": base})
    else:
        metrics = generic
        record_history(args.workload, generic)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}-{int(time.time())}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)

    for k, (v, unit) in named.items():
        print(f"{args.workload} {k} = {v:.6g} {unit}" if v is not None else f"{k} = n/a")
    for k, v in extra.items():
        print(f"{args.workload} {k} = {v}")
    if raw.get("checks"):
        for k, chk in raw["checks"].items():
            if chk["expected"] != chk["got"]:
                print(f"CHECK FAILED {k}: expected {chk['expected']}, got {chk['got']}")
    # the result line carries exactly the metrics BENCHMARK.json declares
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    if sorted(declared) != sorted(metrics):
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(declared) ^ set(metrics))}")
    failed = int(raw["failed"])
    result = {"correct": failed == 0, "attempted": int(raw["attempted"]), "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(f"wall {time.time() - T0:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


def record_history(workload, generic):
    os.makedirs(os.path.dirname(history_file(workload)), exist_ok=True)
    with open(history_file(workload), "a") as fh:
        fh.write(json.dumps({k: v for k, (v, _) in generic.items()}) + "\n")


if __name__ == "__main__":
    main()
