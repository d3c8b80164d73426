#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark with sbt (offline) and caches the classpath under .bench_build/;
later runs reuse it while the sources are unchanged. Each run starts one
fresh JVM on local[nproc] with the heap sized from MemTotal (half, clamped
to 2-8 GiB), generates its inputs from the seed under .bench_tmp/ (removed
at exit), checks outputs against references during set-up, warms up, then
measures whole rounds of ops for --seconds. With --trace 0 the last stdout
line reports the end-to-end metrics, with --trace 1 the per-layer ones.
The full stamped record goes to .bench_out/, spans of a traced run too.

Workloads:
  query_mix        declared queries (perfbench/queries.txt) over seeded
                   sf-shaped tables, checked against the DuckDB oracle
  corpus_batch     one CorpusModule Graph.run with near-dup per op; its
                   traced runs also time each module pipe, the pair join,
                   the iterative graph operators and one resumed
                   Streams.corpusIngest on their own
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ["query_mix", "corpus_batch"]
# op_p90_s is printed and recorded, not reported: a run has too few ops for
# ten samples beyond p90, so the record's p90 is the median
E2E_UNITS = {"ops_per_s": "1/s", "rows_per_s": "1/s", "op_p50_s": "s",
             "live_heap_mb": "MB", "setup_s": "s"}
DEADLINE_S = 175
# Spark 4 on JDK 17 outside spark-submit; same list as the library's build
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"FAILED: {msg}")
    sys.exit(1)


def source_files():
    """Every file the build reads: the library's and the benchmark's."""
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return files


def source_stamp():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1, timeout))
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(stamp):
    """Compile library + benchmark once per source stamp; return classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building library and benchmark with sbt")
    # offline, resolving from the user's repositories file when there is one
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} {opts}"
    env.setdefault("SBT_OPTS", opts)
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], 850, cwd=HERE, env=env,
                        stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [x for x in out.splitlines() if x.strip()]
    if rc != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"sbt build failed (exit {rc})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def heap():
    """Half of MemTotal, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def commit(stamp):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "tree-" + stamp[:12]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    stamp = source_stamp()
    cp = build(stamp)
    t_start = time.monotonic()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    tmp = os.path.join(ROOT, ".bench_tmp", f"{tag}-{os.getpid()}")
    os.makedirs(tmp)
    # a terminated run still removes its inputs and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        run(a, cp, stamp, tmp, tag, t_start)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(a, cp, stamp, tmp, tag, t_start):
    # inputs are generated here, from the seed; the JVM only reads them
    sys.path.insert(0, HERE)
    import corpus
    import tables
    t0 = time.monotonic()
    if a.workload == "query_mix":
        tables.generate(os.path.join(tmp, "sf"), a.seed)
    else:
        corpus.generate(tmp, a.seed)
    setup_py = time.monotonic() - t0
    cpus = str(len(os.sched_getaffinity(0)))
    result = os.path.join(tmp, "result.json")
    spans = os.path.join(OUT, f"spans-{tag}.jsonl")
    for d in ("local", "jtmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    # C1 only. Under the default tiered JIT the JVM is still compiling about
    # 0.8 s per second of ops when the measured rounds start, and its runs
    # settle into a fast or a slow mode: the quartile spread over ten seeds
    # was 0.16 (corpus_batch) and 0.22-0.24 (query_mix) against ~0.1 with
    # C1. C1 ops are slower and weigh CPU-bound code more; gains that need
    # C2 (inlining, escape analysis) do not show here (see README).
    # With C1 only the code cache defaults to 48 MB, which Spark fills: the
    # JVM then flushes and recompiles without end (15 s of compiling in 48 s
    # of ops, op times 4.3-6.2 s). 256 MB holds it all. The lower compile
    # thresholds let warm-up compile the rarely called paths too.
    cmd = (["java", f"-Xmx{heap()}", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", "-XX:CompileThresholdScaling=0.1"] +
           [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}/local", f"-Djava.io.tmpdir={tmp}/jtmp",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse", f"-Dderby.system.home={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/jtmp",
            "-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", tmp, "--out", result,
            "--spans", spans, "--cpus", cpus, "--commit", commit(stamp),
            "--queries", os.path.join(HERE, "queries.txt")])
    rc, _ = run_group(cmd, DEADLINE_S - (time.monotonic() - t_start), cwd=tmp,
                      stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {rc}")
    with open(result) as f:
        rec = json.load(f)
    oracle_ok = True
    if a.workload == "query_mix":
        t0 = time.monotonic()
        rc, out = run_group([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                             os.path.join(tmp, "sf"), os.path.join(tmp, "oracle")],
                            DEADLINE_S - (time.monotonic() - t_start),
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        setup_py += time.monotonic() - t0
        oracle_ok = rc == 0
        if not oracle_ok:
            sys.stderr.write(out[-3000:])
            rec["problems"].append("DuckDB oracle mismatch")
    e2e = rec["end_to_end"]
    e2e["setup_s"]["value"] += setup_py
    rec["correct"] = bool(rec["correct"] and oracle_ok)
    rec["failed_share"] = rec["failed"] / rec["attempted"]
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"record-{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1)

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{rec['attempted']} ops, failed_share {rec['failed_share']:.4f}, "
          f"p90 read at quantile {rec['p90_quantile']:.2f}")
    for k, v in e2e.items():
        print(f"  {k:<14} {v['value']:>14.6g} {v['unit']:<4} n={v['samples']}")
    if a.trace:
        for k, v in rec["per_layer"].items():
            print(f"  {k:<28} {v:>14.6g}")
        print("  layer self time per traced op (ms): " + ", ".join(
            f"{k[5:-3]}={v:.1f}" for k, v in rec["self_ms"].items()))
    if rec["problems"]:
        print("  problems: " + "; ".join(rec["problems"]))
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in rec["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k]["value"], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def unit_of(name):
    """Per-layer units follow the metric's name suffix."""
    for suffix, unit in (("ms", "ms"), ("bytes", "bytes"), ("pct", "%"), ("yield", "ratio")):
        if name.endswith(("_" + suffix, "." + suffix)):
            return unit
    return "count"


if __name__ == "__main__":
    main()
