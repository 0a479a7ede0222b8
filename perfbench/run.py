#!/usr/bin/env python3
"""The repo benchmark. Run from the root of a checkout:

  python3 perfbench/run.py --workload W --seed N [--seconds S] [--trace 0|1] [--cores C]

--seconds defaults to BENCHMARK.json's run_seconds.

W is stream_live, stream_backfill or batch_session (see perfbench/README.md),
or `all`, which runs the three untraced and traced with the given seed,
adds stream_backfill traced at one core, prints every metric with its
unit, the traced self time per layer and the tracing overhead, and exits
non-zero when any correctness check fails.

For one workload the last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the metrics are the
end-to-end ones with --trace 0 and the per-layer ones with --trace 1.
Exit code: 0 when the run completed, 1 when a correctness check failed,
3 when the run is invalid (the load generator fell behind, or the live
run is too short for its p95), 2 when the
program cannot be built or run here.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import types

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_events  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ["stream_live", "stream_backfill", "batch_session"]
HEAP = "-Xmx3g"
JVM_TIMEOUT_S = 160

# Workload parameters. The live rate is about a quarter of the events/s
# stream_backfill drains on the 4-core host the benchmark was defined on,
# so the job keeps up without a growing backlog.
LIVE = {"rate": 2400, "tick_ms": 100, "ramp_s": 4, "warmup_events": 600}
BACKFILL = {"events": 90000, "files": 30, "max_files_per_trigger": 4,
            "malformed_share": 0.02, "warmup_events": 600}
BATCH = {"sf": 0.01}
# the live latency percentiles are taken over files; p95 needs at least
# ten files beyond it
LIVE_MIN_FILES = 200

E2E = [("setup_s", "s"), ("events_per_s", "1/s"), ("latency_ms_p50", "ms"),
       ("latency_ms_p95", "ms"), ("session_s", "s"), ("query_s_p50", "s"),
       ("retained_heap_mb", "MB")]
PHASES = [("planning_ms", "queryPlanning"), ("latest_offset_ms", "latestOffset"),
          ("get_batch_ms", "getBatch"), ("add_batch_ms", "addBatch"),
          ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets")]
LAYERS = ["setup", "ingest", "streaming", "state", "sinks", "catalog", "registry", "exec", "jvm"]


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    v = sorted(values)
    rank = max(1, -(-len(v) * p // 100))
    return v[int(rank) - 1]


def jvm_opts(work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    out = [HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in opens:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def read_json(path):
    with open(path) as f:
        return json.load(f)


class Invalid(Exception):
    """The run cannot be reported as a number."""


# ---------------------------------------------------------------- inputs

def queries_list():
    """[(name, family)] from queries.txt."""
    out = []
    with open(os.path.join(HERE, "queries.txt")) as f:
        for line in f:
            line = line.split("#")[0].strip()
            if line:
                family, name = line.split()
                out.append((name, family))
    return out


def prepare(workload, seed, work):
    if workload == "batch_session":
        info = gen_tables.generate(seed, BATCH["sf"], os.path.join(work, "tables"))
        names = [n for n, _ in queries_list()]
        with open(os.path.join(work, "queries.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
        return {"rows": info["rows"], "order": names}
    cfg = LIVE if workload == "stream_live" else BACKFILL
    warm = gen_events.warmup_lines(seed, cfg["warmup_events"])
    with open(os.path.join(work, "warmup.jsonl"), "w") as f:
        f.write("\n".join(warm) + "\n")
    if workload == "stream_backfill":
        staged = os.path.join(work, "staged")
        os.makedirs(staged)
        files = []
        for i, (lines, valid) in enumerate(gen_events.backfill_files(
                seed, cfg["events"], cfg["files"], cfg["malformed_share"])):
            name = f"backfill-{i:05d}.jsonl"
            gen_events.write_atomic(staged, name, lines)
            files.append({"name": name, "events": len(lines), "valid": valid})
        return {"files": files, "warmup": len(warm)}
    return {"warmup": len(warm)}


# ---------------------------------------------------------------- running

def run_jvm(workload, seed, seconds, trace, cores, work, inputs):
    args = ["java"] + jvm_opts(work) + ["-cp", build.classpath(), "perfbench.Main",
            "--workload", workload, "--work", work, "--cores", str(cores),
            "--trace", str(trace), "--launch-ms", str(int(time.time() * 1000))]
    if workload == "stream_backfill":
        args += ["--max-files-per-trigger", str(BACKFILL["max_files_per_trigger"])]
    log = open(os.path.join(work, "jvm.log"), "w")
    procs = []
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        jvm = subprocess.Popen(args, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        procs.append(jvm)
        if workload == "stream_live":
            ready = os.path.join(work, "ready")
            while not os.path.exists(ready):
                if jvm.poll() is not None or time.time() > deadline:
                    raise RuntimeError("the job did not finish set-up")
                time.sleep(0.02)
            src = open(ready).read().strip()
            # the generator is its own process: it does not slow when the job does
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen_events.py"),
                 "--seed", str(seed), "--out", src, "--rate", str(LIVE["rate"]),
                 "--seconds", str(seconds), "--tick-ms", str(LIVE["tick_ms"]),
                 "--start-ms", str(int(time.time() * 1000) + 200),
                 "--report", os.path.join(work, "gen.json")], cwd=ROOT)
            procs.append(gen)
            if gen.wait(timeout=max(1, deadline - time.time())) != 0:
                raise RuntimeError("the load generator failed")
        rc = jvm.wait(timeout=max(1, deadline - time.time()))
        if rc != 0:
            raise RuntimeError(f"the benchmark JVM exited with code {rc}; see {work}/jvm.log")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        log.close()
    return read_json(os.path.join(work, "observations.json"))


# ---------------------------------------------------------------- metrics

def source_batches(ckpt, query):
    """{file name: batch id} from the file source's log in the checkpoint."""
    d = os.path.join(ckpt, query, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def setup_metrics(obs):
    """setup_s runs from the JVM's launch to the end of its one set-up."""
    s = obs["setup"]
    return {"setup_s": obs["boot_s"] + s["total_s"], "setup.session_s": s["session_s"],
            "setup.ddl_s": s["ddl_s"], "setup.warmup_s": s["warmup_s"]}


def stream_metrics(obs, inputs, workload, work):
    m = setup_metrics(obs)
    if workload == "stream_live":
        gen = read_json(os.path.join(work, "gen.json"))
        files = gen["files"]
        late = [f["late_ms"] for f in files]
        m["loadgen.late_ms_p95"] = percentile(late, 95)
        if max(late) > gen["tick_ms"]:
            raise Invalid(f"the load generator fell behind: {max(late):.1f} ms late "
                          f"against a {gen['tick_ms']} ms tick")
    else:
        land = obs["measure"]["land_ms"]
        files = [dict(f, due_ms=land) for f in inputs["files"]]
        m["loadgen.late_ms_p95"] = obs["measure"]["landed_ms"] - land
    m["loadgen.events"] = sum(f["events"] for f in files)
    m["loadgen.malformed"] = sum(f["events"] - f["valid"] for f in files)
    # live: the first seconds of the open loop are a ramp, still settling
    # after set-up; the window and the latencies start after it
    ramp_ms = LIVE["ramp_s"] * 1000 if workload == "stream_live" else 0
    window = [f for f in files if f["due_ms"] >= files[0]["due_ms"] + ramp_ms]
    if workload == "stream_live" and len(window) < LIVE_MIN_FILES:
        raise Invalid(f"{len(window)} files after the ramp; p95 needs {LIVE_MIN_FILES}")

    # latency of a file: from its due time to the end of the last trigger
    # of the four queries that includes it; one sample per file, as the
    # events of a file share it
    ends = {(t["query"], t["batch_id"]): t["start_ms"] + t["durations"].get("triggerExecution", 0)
            for t in obs["triggers"]}
    batches = {q: source_batches(obs["ckpt_dir"], q) for q in obs["query_ids"]}
    lat, covered = [], []
    for f in window:
        done = []
        for q in obs["query_ids"]:
            b = batches[q].get(f["name"])
            if b is None or (q, b) not in ends:
                raise RuntimeError(f"{f['name']} was not committed by {q}")
            done.append(ends[(q, b)])
        covered.append(max(done))
        lat.append(max(done) - f["due_ms"])
    window_s = (max(covered) - window[0]["due_ms"]) / 1000
    m["events_per_s"] = sum(f["valid"] for f in window) / window_s
    m["latency_ms_p50"] = percentile(lat, 50)
    m["latency_ms_p95"] = percentile(lat, 95)
    m["session_s"] = window_s

    measured = {(q, b) for q in obs["query_ids"] for f in window
                for b in [batches[q][f["name"]]]}
    trig = [t for t in obs["triggers"] if (t["query"], t["batch_id"]) in measured]
    stateful = [t for t in trig if t["query"] != "raw_transactions"]
    # the running-total queries are the slower ones and set the latency
    m["query_s_p50"] = percentile([t["durations"]["triggerExecution"] for t in stateful], 50) / 1000
    m["retained_heap_mb"] = obs["retained_heap_mb"]

    m["streaming.triggers"] = len(trig)
    m["streaming.rows_per_trigger"] = statistics.mean(t["input_rows"] for t in trig)
    for name, key in PHASES:
        vals = [t["durations"].get(key, 0) for t in trig]
        m[f"streaming.{name}_mean"] = statistics.mean(vals)
        m[f"streaming.{name}_p95"] = percentile(vals, 95)
    last = {}
    for t in sorted(stateful, key=lambda t: t["batch_id"]):
        last[t["query"]] = t
    m["state.triggers"] = len(stateful)
    m["state.rows_total"] = sum(t["state_rows_total"] for t in last.values())
    m["state.rows_updated"] = sum(t["state_rows_updated"] for t in stateful)
    m["state.commit_ms"] = sum(t["state_commit_ms"] for t in stateful)
    m["state.memory_bytes"] = sum(t["state_memory_bytes"] for t in last.values())

    s = obs["sinks"]
    for k in ["connects", "execute_batches", "rows", "commits", "rollbacks"]:
        m[f"sinks.{k}"] = s[k]
    m["sinks.driver_ms"] = s["driver_ns"] / 1e6
    m["sinks.task_ms"] = obs["exec"]["sink_task_ms"]
    exp = obs["expected"]
    m["ingest.parse_s"] = exp["parse_s"]
    m["ingest.records_in"] = exp["records_in"]
    m["ingest.dropped"] = exp["records_in"] - exp["valid"]
    return m, files


def batch_metrics(obs, inputs):
    m = setup_metrics(obs)
    qs = obs["queries"]
    times = [q["build_s"] + q["exec_s"] for q in qs]
    m["session_s"] = obs["session_s"]
    m["events_per_s"] = inputs["rows"] / obs["session_s"]
    m["latency_ms_p50"] = percentile(times, 50) * 1000
    m["latency_ms_p95"] = percentile(times, 95) * 1000
    m["query_s_p50"] = percentile(times, 50)
    m["retained_heap_mb"] = obs["retained_heap_mb"]
    m["catalog.build_s"] = sum(q["build_s"] for q in qs)
    m["catalog.exec_s"] = sum(q["exec_s"] for q in qs)
    family = dict(queries_list())
    curation = [q for q in qs if family[q["name"]] == "curation"]
    m["registry.derives"] = sum(q["derives"] for q in qs)
    m["registry.entries_end"] = obs["registry"]["entries_end"]
    m["registry.derive_query_s"] = sum(q["build_s"] + q["exec_s"] for q in curation if q["derives"] > 0)
    m["registry.read_query_s"] = sum(q["build_s"] + q["exec_s"] for q in curation if q["derives"] == 0)
    m["batch.curation_s"] = sum(q["build_s"] + q["exec_s"] for q in curation)
    m["batch.sales_s"] = sum(q["build_s"] + q["exec_s"] for q in qs if family[q["name"]] == "sales")
    return m


def common_metrics(obs, m):
    e = obs["exec"]
    for k in ["jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms"]:
        m[f"exec.{k}"] = e[k]
    m["shuffle.write_bytes"] = e["shuffle_write_bytes"]
    m["shuffle.read_bytes"] = e["shuffle_read_bytes"]
    m["shuffle.fetch_wait_ms"] = e["fetch_wait_ms"]
    m["spill.disk_bytes"] = e["spill_disk_bytes"]
    m["scan.bytes"] = e["scan_bytes"]
    m["scan.records"] = e["scan_records"]
    m["jvm.gc_ms"] = obs["jvm"]["gc_ms"]
    m["jvm.heap_peak_mb"] = obs["jvm"]["heap_peak_mb"]
    m["host.calib_par_s"] = obs["host"]["calib_par_s"]


# ---------------------------------------------------------------- checks

def close(a, b):
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def check_stream(obs, files, warmup):
    """Problems found comparing the sink end-state with the batch
    aggregates of the same events; [] when they agree."""
    exp, got = obs["expected"], obs["sink_state"]
    bad = []
    valid = sum(f["valid"] for f in files) + warmup
    lines = sum(f["events"] for f in files) + warmup
    if exp["valid"] != valid:
        bad.append(f"parsed {exp['valid']} valid events, generated {valid}")
    if exp["records_in"] - exp["valid"] != lines - valid:
        bad.append(f"dropped {exp['records_in'] - exp['valid']} lines, "
                   f"generated {lines - valid} malformed")
    t, te = got["transactions"], exp["transactions"]
    if t["rows"] != te["rows"] or t["distinct_ids"] != te["distinct_ids"]:
        bad.append(f"transactions holds {t['rows']} rows, expected {te['rows']}")
    if not close(t["total_amount"], te["total_amount"]):
        bad.append(f"transactions total {t['total_amount']} != {te['total_amount']}")
    for table in ["sales_per_category", "sales_per_day", "sales_per_month"]:
        g, e = got[table], exp[table]
        if set(g) != set(e):
            bad.append(f"{table} keys differ: {sorted(set(g) ^ set(e))[:5]}")
        bad += [f"{table}[{k}] = {g[k]}, batch aggregate {e[k]}"
                for k in sorted(set(g) & set(e)) if not close(g[k], e[k])]
    return bad


def load_oracle_checker():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # keep DuckDB's progress bar off the benchmark's standard output
    def connect():
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        return con
    mod.duckdb = types.SimpleNamespace(connect=connect)
    return mod


def check_batch(tables, out_dir):
    """{query: 'PASS ...' or 'FAIL ...'} from the repo's DuckDB oracle check."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        load_oracle_checker().main(tables, out_dir)
    res = {}
    for line in buf.getvalue().splitlines():
        mt = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if mt:
            res[mt.group(2)] = line
    return res


# ---------------------------------------------------------------- tracing

def self_times(spans):
    """Self time and span count per layer: a span's duration minus the part
    of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {layer: [0.0, 0] for layer in LAYERS}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                    for c in children.get(s["key"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        acc = out.setdefault(s["layer"], [0.0, 0])
        acc[0] += max(0.0, hi - lo - covered)
        acc[1] += 1
    return out


def trace_metrics(obs, m, workload):
    st = self_times(obs["trace"])
    if workload != "batch_session":
        # state stores and the JVM have no spans of their own; their time
        # is what Spark and the JVM report
        st["state"] = [m["state.commit_ms"], m["state.triggers"]]
    st["jvm"] = [m["jvm.gc_ms"], 0]
    for layer in LAYERS:
        m[f"trace.{layer}.self_ms"] = st[layer][0]
        m[f"trace.{layer}.spans"] = st[layer][1]


# ---------------------------------------------------------------- one run

def run_one(workload, seed, seconds, trace, cores):
    """(result dict, all metrics) for one run."""
    work = os.path.join(build.build_dir(), "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = prepare(workload, seed, work)
    obs = run_jvm(workload, seed, seconds, trace, cores, work, inputs)

    if workload == "batch_session":
        m = batch_metrics(obs, inputs)
        m["ingest.parse_s"] = m["ingest.records_in"] = m["ingest.dropped"] = 0
        for k in ["streaming.triggers", "streaming.rows_per_trigger", "state.rows_total",
                  "state.rows_updated", "state.commit_ms", "state.memory_bytes",
                  "sinks.connects", "sinks.execute_batches", "sinks.rows", "sinks.commits",
                  "sinks.rollbacks", "sinks.driver_ms", "sinks.task_ms",
                  "loadgen.late_ms_p95", "loadgen.events", "loadgen.malformed"]:
            m[k] = 0
        for name, _ in PHASES:
            m[f"streaming.{name}_mean"] = m[f"streaming.{name}_p95"] = 0
        verdicts = check_batch(os.path.join(work, "tables"), os.path.join(work, "out"))
        failed = [n for n in inputs["order"] if not verdicts.get(n, "").startswith("PASS")]
        problems = [verdicts.get(n, f"FAIL {n}: not checked") for n in failed]
        attempted = len(inputs["order"])
        n_failed = len(failed)
    else:
        m, files = stream_metrics(obs, inputs, workload, work)
        for k in ["catalog.build_s", "catalog.exec_s", "registry.derives",
                  "registry.entries_end", "registry.derive_query_s", "registry.read_query_s",
                  "batch.curation_s", "batch.sales_s"]:
            m[k] = 0
        problems = check_stream(obs, files, inputs["warmup"])
        attempted = obs["expected"]["valid"]
        n_failed = max(0, attempted - obs["sink_state"]["transactions"]["rows"])
        if problems and n_failed == 0:
            n_failed = 1
    common_metrics(obs, m)
    m["error_rate"] = n_failed / attempted
    if trace:
        trace_metrics(obs, m, workload)
    for p in problems[:20]:
        print(f"CHECK FAILED {workload}: {p}", file=sys.stderr)
    host = obs["host"]
    print(f"# {workload} seed={seed} cores={host['cores']} nproc={host['nproc']} "
          f"jvm={host['jvm']} spark={host['spark']} heap_max_mb={host['heap_max_mb']:.0f} "
          f"calib_par_s={host['calib_par_s']:.3f}")
    return m, not problems, attempted, n_failed


def result_line(m, correct, attempted, failed, trace):
    per_layer = read_json(os.path.join(ROOT, "BENCHMARK.json"))["per_layer"]
    units = [(x["name"], x["unit"]) for x in per_layer] if trace else E2E
    metrics = {n: {"value": float(m[n]), "unit": u} for n, u in units}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics})


def run_all(seed, seconds, cores):
    """Every workload untraced and traced, plus stream_backfill traced at
    one core; exits non-zero when any check fails."""
    ok = True
    traced_runs = {}
    for w in WORKLOADS:
        base, c0, _, _ = run_one(w, seed, seconds, 0, cores)
        traced, c1, _, _ = run_one(w, seed, seconds, 1, cores)
        traced_runs[w] = traced
        ok = ok and c0 and c1
        print(f"== {w} (seed {seed}, {cores} cores)")
        for n, unit in E2E + [("error_rate", "ratio")]:
            over = (traced[n] - base[n]) / base[n] if base[n] else 0.0
            print(f"  {n:<18} {base[n]:>14.4f} {unit:<6} traced {traced[n]:>14.4f} "
                  f"(tracing overhead {over:+.1%})")
        print("  layer       self_ms      spans")
        for layer in LAYERS:
            print(f"  {layer:<10} {traced[f'trace.{layer}.self_ms']:>10.1f} "
                  f"{traced[f'trace.{layer}.spans']:>8}")
    one, c2, _, _ = run_one("stream_backfill", seed, seconds, 1, 1)
    ok = ok and c2
    print(f"== stream_backfill traced at 1 core vs {cores} cores")
    for n in ["events_per_s", "latency_ms_p95", "streaming.add_batch_ms_mean", "sinks.task_ms"]:
        print(f"  {n:<28} 1 core {one[n]:>12.2f}   {cores} cores "
              f"{traced_runs['stream_backfill'][n]:>12.2f}")
    print("ALL CHECKS PASSED" if ok else "A CORRECTNESS CHECK FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int,
                    default=read_json(os.path.join(ROOT, "BENCHMARK.json"))["run_seconds"])
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    a = ap.parse_args()
    try:
        build.build()
        if a.workload == "all":
            return run_all(a.seed, a.seconds, a.cores)
        m, correct, attempted, failed = run_one(a.workload, a.seed, a.seconds, a.trace, a.cores)
    except Invalid as e:
        print(f"invalid run: {e}", file=sys.stderr)
        return 3
    except Exception as e:  # noqa: BLE001 - any failure to run is reported, never a result
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2
    print(result_line(m, correct, attempted, failed, a.trace))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
