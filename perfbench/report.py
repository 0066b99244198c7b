"""Turns the harness results into the benchmark's metrics and report."""
import statistics
import sys

import stats

SPAN_LAYERS = [  # span kind -> layer its self time is charged to
    ("iteration", "harness"), ("build", "operators"), ("action", "action"),
    ("release", "hygiene"), ("batch", "streaming"), ("job", "scheduler"),
    ("stage", "executor")]

LEDGER_KEYS = [
    "scheduler.jobs", "scheduler.stages", "scheduler.stages_skipped",
    "scheduler.tasks", "scheduler.delay_ms", "scheduler.failed_tasks",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "shuffle.read_b", "shuffle.write_b", "shuffle.records_read",
    "shuffle.write_ms",
    "io.input_b", "io.output_b", "io.spill_b",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms"]

STREAM_DURATIONS = [
    ("streaming.trigger_ms", "triggerExecution"),
    ("streaming.add_batch_ms", "addBatch"),
    ("streaming.get_batch_ms", "getBatch"),
    ("streaming.query_planning_ms", "queryPlanning"),
    ("streaming.wal_commit_ms", "walCommit"),
    ("streaming.commit_offsets_ms", "commitOffsets"),
    ("streaming.latest_offset_ms", "latestOffset")]


def _query_s(q):
    return (q["build_ms"] + q["action_ms"]) / 1e3


def outcomes(sweeps, checks):
    """(attempted, failures) over the timed executions: an execution
    fails when it threw, when its count() differs from the checked row
    count, or when its query's rows did not match the twin."""
    attempted, failures = 0, {}
    for sw in sweeps:
        for q in sw["queries"]:
            attempted += 1
            ok, cause, rows = checks.get(q["name"], (True, "", None))
            if q["error"]:
                cause = f"threw: {q['error']}"
            elif rows is not None and q["rows"] != rows:
                cause = f"count() gave {q['rows']} rows, checked {rows}"
            elif ok:
                continue
            failures.setdefault(q["name"], [0, cause])[0] += 1
    return attempted, failures


def end_to_end(res, untraced):
    walls = [sw["wall_s"] for sw in untraced]
    per_query = [_query_s(q) for sw in untraced for q in sw["queries"]]
    return {
        "setup_s": res["setup"]["total_ms"] / 1e3,
        "sweep_s": statistics.median(walls),
        "query_p50_s": statistics.median(per_query),
        "cpu_s": statistics.median([sw["cpu_s"] for sw in untraced]),
        "retained_heap_mb": res["retained_heap_mb"],
    }


def _sweep_layers(sw, cpus):
    """Per-layer sums over one traced sweep."""
    m = {k: 0.0 for k in LEDGER_KEYS}
    for q in sw["queries"]:
        for k, v in q["ledger"].items():
            m[k] = m.get(k, 0.0) + v
    qs = sw["queries"]
    m["operators.build_ms"] = sum(q["build_ms"] for q in qs)
    m["operators.build_jobs"] = sum(q["build_jobs"] for q in qs)
    m["operators.build_frac"] = m["operators.build_ms"] / 1e3 / sw["wall_s"]
    m["action.count_ms"] = sum(q["action_ms"] for q in qs)
    m["executor.busy_frac"] = m["executor.run_ms"] / 1e3 / (cpus * sw["wall_s"])
    m["jvm.gc_ms"] = sw["gc_ms"]
    for k in ("rdds", "mem_b", "disk_b"):
        m[f"materialize.{k}"] = sum(q["materialize"][k] for q in qs)
    batches = [b for q in qs for b in q["batches"]]
    m["streaming.batches"] = len(batches)
    m["streaming.input_rows"] = sum(b["input_rows"] for b in batches)
    for key, d in STREAM_DURATIONS:
        m[key] = sum(b["durations"].get(d, 0) for b in batches)
    last = {}  # state left by each replay: its final batch's totals
    for b in batches:
        last[b["run"]] = b
    m["streaming.state_rows"] = sum(b["state_rows"] for b in last.values())
    m["streaming.state_mem_b"] = sum(b["state_mem_b"] for b in last.values())
    m["streaming.state_rows_updated"] = sum(b["state_updated"] for b in batches)
    m["streaming.state_rows_removed"] = sum(b["state_removed"] for b in batches)
    m["streaming.state_commit_ms"] = sum(b["state_commit_ms"] for b in batches)
    return m, [b["durations"].get("triggerExecution", 0) for b in batches]


def self_time_table(spans, traced_sweeps):
    """Median per-sweep self time (ms) of each layer, from the spans."""
    kinds = [k for k, _ in SPAN_LAYERS]
    per = [stats.exclusive([dict(s, start=s["start_us"], end=s["end_us"])
                            for s in spans if s["sweep"] == i], kinds)
           for i in traced_sweeps]
    return {layer: statistics.median([p[kind] / 1e3 for p in per])
            for kind, layer in SPAN_LAYERS}


def per_layer(res, single, spans, cpus):
    sweeps = res["sweeps"]
    traced = [sw for sw in sweeps if sw["traced"]]
    untraced = [sw for sw in sweeps if not sw["traced"]]
    layered = [_sweep_layers(sw, cpus) for sw in traced]
    m = {k: statistics.median([lm[k] for lm, _ in layered]) for k in layered[0][0]}
    triggers = [t for _, ts in layered for t in ts]
    m["streaming.batch_p50_ms"] = statistics.median(triggers)
    total_trigger = sum(triggers)
    rows = sum(lm["streaming.input_rows"] for lm, _ in layered)
    m["streaming.rows_per_s"] = rows / (total_trigger / 1e3) if total_trigger else 0.0
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["tables.resolve_ms"] = res["tables"]["resolve_ms"]
    m["tables.resolve_jobs"] = res["tables"]["resolve_jobs"]
    setup = res["setup"]
    base = statistics.median([sw["wall_s"] for sw in untraced])
    m["setup.session_ms"] = setup["session_ms"]
    m["setup.cold_pass_ms"] = setup["cold_pass_ms"][0]
    m["setup.cold_excess_ms"] = m["setup.cold_pass_ms"] - base * 1e3
    traced_wall = statistics.median([sw["wall_s"] for sw in traced])
    m["trace.overhead_frac"] = traced_wall / base - 1.0
    selft = self_time_table(spans, [i for i, sw in enumerate(sweeps)
                                    if sw["traced"]])
    for layer, v in selft.items():
        m[f"self.{layer}_ms"] = v
    m["self.covered_frac"] = sum(selft.values()) / 1e3 / base
    s_sw = single["sweeps"][0]
    s_layers, _ = _sweep_layers(s_sw, 1)
    m["local1.sweep_s"] = s_sw["wall_s"]
    m["local1.executor.busy_frac"] = s_layers["executor.busy_frac"]
    m["local1.streaming.trigger_ms"] = s_layers["streaming.trigger_ms"]
    return m, selft, base


def summarise(args, w, props, res, single, checks, spans, cpus, units):
    """The JSON result line; `units` names every metric to report (the
    BENCHMARK.json list for this mode) with its unit."""
    sweeps = res["sweeps"]
    untraced = [sw for sw in sweeps if not sw["traced"]]
    attempted, failures = outcomes(sweeps, checks)
    failed = sum(n for n, _ in failures.values())
    say = lambda s: print(s, file=sys.stderr)  # noqa: E731
    say(f"== {args.workload} seed {args.seed}, {cpus} cpus, "
        f"{len(w['queries'])} queries, inputs {props['rows']}")
    say(f"   input properties: doc shares {props['doc_shares']}, "
        f"{props['users']} users, late share {props['late_share']:.4f}")
    st = res["setup"]
    say(f"   set-up: boot {st['boot_ms']:.0f} ms, session "
        f"{st['session_ms']:.0f} ms, cold pass {st['cold_pass_ms'][0]:.0f} ms")
    for name, err in st["errors"].items():
        say(f"   set-up error {name}: {err}")
    say(f"   failed_frac {failed / attempted:.4f} ({failed} of {attempted})")
    for name, (n, cause) in sorted(failures.items()):
        say(f"   FAIL {name} x{n}: {cause}")
    for name, (ok, cause, _) in sorted(checks.items()):
        if not ok and name not in failures:
            say(f"   FAIL {name}: {cause}")
    if args.trace:
        metrics, selft, base = per_layer(res, single, spans, cpus)
        say(f"   self time per sweep by layer (traced; untraced sweep "
            f"{base:.3f} s, tracing overhead "
            f"{metrics['trace.overhead_frac'] * 100:.1f}%):")
        for layer, v in sorted(selft.items(), key=lambda kv: -kv[1]):
            say(f"     {layer:10s} {v / 1e3:8.3f} s  {v / 1e3 / base * 100:5.1f}%")
        warm = {}
        for sw in untraced:
            for q in sw["queries"]:
                warm.setdefault(q["name"], []).append(q["iter_ms"])
        excess = sorted(((ms - statistics.median(warm[n]), n)
                         for n, ms in st["cold_query_ms"].items()), reverse=True)
        say("   cold excess by query: " + ", ".join(
            f"{n} +{ms / 1e3:.2f} s" for ms, n in excess[:3]))
    else:
        metrics = end_to_end(res, untraced)
        per_query = [_query_s(q) for sw in untraced for q in sw["queries"]]
        t = stats.tail(per_query)
        say(f"   {len(untraced)} timed sweeps, {len(per_query)} query samples; "
            + (f"tail p{t[0] * 100:g} = {t[1]:.4f} s" if t else
               "too few samples for a tail percentile"))
    if set(metrics) != set(units):
        raise ValueError("metrics differ from BENCHMARK.json: "
                         f"{sorted(set(metrics) ^ set(units))}")
    for k in units:
        say(f"   {k} = {metrics[k]:.6g} {units[k]}")
    return {"correct": failed == 0 and all(ok for ok, _, _ in checks.values()),
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}
