#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run, check, report.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The program is compiled from `src/main`
into `.bench_build/` (skipped when the sources are unchanged), inputs are
generated from the seed into a fresh directory, the JVM harness
(`perfbench/harness`) times the workload's queries in one closed loop,
every query's rows are checked against its DuckDB twin, and the last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
A human-readable report goes to standard error.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BUILD = ".bench_build"
DEADLINE_S = 170  # every run must end within 180 s once built
SWEEP_S = 3.75  # nominal sweep time of either workload on 4 cores
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                            recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(out, classpath, files):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    p = subprocess.run(cmd + files, capture_output=True, text=True)
    if p.returncode != 0:
        raise BenchError("compile failed:\n" + (p.stdout + p.stderr)[-3000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile the program and the harness unless both are up to date.
    Returns the JVM classpath."""
    program = _sources(os.path.join("src", "main"))
    harness = _sources(os.path.join("perfbench", "harness"))
    if not program:
        raise BenchError("no program sources under src/main")
    if not os.path.isdir(SPARK_JARS):
        raise BenchError(f"Spark jars not found at {SPARK_JARS}")
    classes = os.path.join(BUILD, "classes")
    bench = os.path.join(BUILD, "harness")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = _stamp(program + harness)
    old = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if old != stamp:
        os.makedirs(BUILD, exist_ok=True)
        _scalac(classes, None, program)
        _scalac(bench, classes, harness)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([os.path.abspath(bench), os.path.abspath(classes),
                            os.path.join(SPARK_JARS, "*")])


def jvm(classpath, run_dir, name, config, cpus, deadline, on_twins=None):
    """Run the harness with `config`; returns its result.json. When the
    harness publishes its DuckDB twins (all timing is over by then),
    `on_twins` is called with them while the JVM goes on."""
    out = os.path.join(run_dir, name)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cfg = os.path.join(run_dir, f"{name}.properties")
    with open(cfg, "w") as f:
        for k, v in dict(config, out=out).items():
            f.write(f"{k}={v}\n")
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED"
                      for p in ADD_OPENS] + [
        "-Xmx3g", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-cp", classpath, "perfbench.PerfBench", cfg]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(run_dir, f"{name}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             env=env, cwd=run_dir)
        twins = os.path.join(out, "twins.json")
        try:
            while p.poll() is None:
                if time.time() > deadline:
                    raise BenchError(f"{name}: harness exceeded the deadline")
                if on_twins and os.path.exists(twins):
                    with open(twins) as f:
                        on_twins(json.load(f))
                    on_twins = None
                time.sleep(0.1)
        finally:
            if p.poll() is None:
                p.kill()
            rc = p.wait()
    result = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise BenchError(f"{name}: harness failed (exit {rc}):\n{tail}")
    with open(result) as f:
        return json.load(f)


def sweep_count(seconds, trace):
    """Timed sweeps that fill `seconds` at the nominal sweep time. The
    count is fixed rather than timed, so every run's median sits at the
    same point of the JIT warm-up curve. A traced run rounds up to whole
    rounds of four sweeps."""
    n = max(1, round(seconds / SWEEP_S))
    return 4 * math.ceil(n / 4) if trace else n


def staged_paths(data_dir):
    """Derived layouts the program stages for an input directory, keyed by
    its basename (see graft.sources.SourceQueries.scratch/sfName)."""
    base = os.path.basename(data_dir)
    sf = "".join(c if c.isalnum() or c == "_" else "_" for c in base)
    return [os.path.join("/tmp", "graft-io", base)] + glob.glob(
        os.path.join("/tmp", "graft-warehouse", f"*_{sf}"))


def run(args):
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    classpath = build()
    deadline = max(deadline, time.time() + DEADLINE_S)  # a build is not timed
    w = WORKLOADS[args.workload]
    tag = f"perfbench_{args.workload}_s{args.seed}_t{args.trace}_p{os.getpid()}"
    run_dir = os.path.abspath(os.path.join(BUILD, "runs", tag))
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    timed = os.path.join(data, tag)
    try:
        props = gen.generate(timed, args.seed, w["shape"])
        cpus = len(os.sched_getaffinity(0))
        config = dict(queries=",".join(w["queries"]), warm_dirs="",
                      cold_dirs=timed, timed_dir=timed,
                      sweeps=sweep_count(args.seconds, args.trace),
                      trace=args.trace, traced_only=0, check=1,
                      tables=",".join(w["tables"]))
        expected, workers = {}, []

        def start_twins(twins):
            def work():
                try:
                    expected.update(oracle.run_twins(timed, twins))
                finally:
                    open(os.path.join(run_dir, "main", "twins.done"), "w").close()
            workers.append(threading.Thread(target=work, daemon=True))
            workers[-1].start()

        res = jvm(classpath, run_dir, "main", config, cpus, deadline,
                  start_twins)
        for t in workers:
            t.join()
        checks = oracle.check(os.path.join(run_dir, "main", "check"),
                              w["queries"], expected, res["check"]["errors"])
        single = None
        if args.trace:
            # Single-thread baseline: one warm-up pass over the inputs the
            # main run staged, then one traced sweep, at local[1].
            single = jvm(classpath, run_dir, "local1", dict(
                config, warm_dirs=timed, cold_dirs="", sweeps=1,
                traced_only=1, check=0), 1, deadline)
        spans = []
        if args.trace:
            with open(os.path.join(run_dir, "main", "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f]
            with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
                for s in stats.attach(spans):
                    f.write(json.dumps(s) + "\n")
        with open("BENCHMARK.json") as f:
            spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
        out = report.summarise(args, w, props, res, single, checks, spans,
                               cpus, {m["name"]: m["unit"] for m in spec})
    finally:
        for p in staged_paths(timed):
            shutil.rmtree(p, ignore_errors=True)
        for p in (data, os.path.join(run_dir, "tmp"),
                  os.path.join(run_dir, "main", "check")):
            shutil.rmtree(p, ignore_errors=True)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        out = run(args)
    except (BenchError, AssertionError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
