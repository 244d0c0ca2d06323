#!/usr/bin/env python3
"""Benchmark launcher: builds the engine and the harness from source,
generates the workload's inputs from the seed, runs one harness process,
checks every op's output, and prints the metrics.

    python3 perfbench/run.py --workload superstore_elt --seed 1 \\
        --seconds 5 --trace 0

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer metrics of a traced run (plus its overhead against an
untraced run in the same process). --save PATH also writes the run's
artifact (metrics, session conf, seed, tail percentile) for compare.py.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("superstore_elt", "corpus_dedup")

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms",
              "op_tail_ms": "ms", "ok_frac": "ratio", "heap_live_mb": "MB",
              "stored_bytes_per_input_byte": "ratio"}


def _unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if any(w in name for w in ("share", "per_", "write_amp", "overhead",
                               "skew", "jobs_per_op")):
        return "ratio"
    return "count"


PER_LAYER = [
    "driver.analysis_ms", "driver.optimization_ms", "driver.planning_ms",
    "driver.outside_jobs_ms", "driver.jobs_per_op", "driver.share",
    "sources.scan_ops", "sources.rows_emitted", "sources.rows_filtered",
    "sources.rows_read_per_row_returned", "sources.files_read",
    "sources.files_pruned", "sources.input_bytes", "sources.commits",
    "sources.commit_ms", "sources.bytes_written", "sources.write_amp",
    "sources.resolve_ms", "sources.log_entries", "sources.checkpoints",
    "superstore.ingest_ms", "superstore.staging_ms", "superstore.dims_ms",
    "superstore.scd2_ms", "superstore.fact_ms", "superstore.marts_ms",
    "superstore.incremental_ms", "superstore.rows_in", "superstore.rows_out",
    "operators.dedup_ms", "operators.neardup_ms", "operators.similarity_ms",
    "operators.clusters_ms", "operators.corpus_pipeline_ms",
    "operators.lsh_candidates", "operators.verified_pairs",
    "operators.candidates_per_verified_pair",
    "index.build_ms", "index.batch_ms", "index.serve_ms",
    "index.candidates_per_probe",
    "exec.stages", "exec.tasks", "exec.failed_tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.run_minus_cpu_ms", "exec.gc_ms",
    "exec.peak_exec_mem_bytes", "exec.task_skew", "exec.run_share",
    "shuffle.write_bytes", "shuffle.write_records", "shuffle.write_ms",
    "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "spill.memory_bytes", "spill.disk_bytes",
    "trace.pass_ms", "trace.ops_per_pass", "trace.overhead_frac",
    "jvm.peak_rss_mb",
]
PER_LAYER_UNITS = {m: _unit(m) for m in PER_LAYER}

# Files each workload's program receives (stored-bytes denominator).
INPUTS = {
    "superstore_elt": ["extract_0.csv"],
    "corpus_dedup": ["docs.jsonl", "eval.jsonl", "queries.txt"] +
    [f"batch_{b}.jsonl" for b in range(1, gen.N_BATCHES + 1)],
}
# The Superstore extract's size as a multiple of the reference's 9,994 rows.
ELT_MULT = 0.5
GEN_REPS = 3

# Spark 4 on JDK 17 outside spark-submit (the root build's list).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def _sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt once per source state; returns the
    runtime classpath."""
    if not (os.path.isdir(os.path.join(REPO, "src", "main", "scala")) and
            os.path.isfile(os.path.join(REPO, "build.sbt"))):
        fail("engine sources (src/main/scala, build.sbt) not found")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = _sources_digest()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += (" -Dsbt.override.build.repos=true "
                 f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out (log: {log})")
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (log: {log})")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def heap_gb():
    """The tier-1 driver heap: half of MemTotal, clamped to [2, 8] GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


# ---------------------------------------------------------------- metrics

def percentile(sorted_vals, p):
    """Percentile of an ascending list, interpolating between neighbours
    (so a median over an even count is the mean of the middle two)."""
    x = (len(sorted_vals) - 1) * p / 100
    lo = int(x)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (x - lo)


def tail_percentile(n_ops):
    """Highest percentile on a 5-point grid (and 99) with at least ten of
    `n_ops` beyond it; below 20 ops (one pass of either workload) no
    percentile has ten beyond, and the tail is p75."""
    grid = [99] + list(range(95, 45, -5))
    return next((p for p in grid if n_ops * (100 - p) / 100 >= 10), 75)


def end_to_end(workload, art, verdicts, gen_s, input_bytes):
    ops = [o for o in art["ops"] if not o["traced"]]
    bad = [v is not None for v in verdicts[:len(ops)]]
    big = 1e12  # a failed op misses every latency limit
    lat = sorted(big if b else o["lat_ms"] for o, b in zip(ops, bad))
    total_s = sum(o["lat_ms"] for o in ops) / 1e3
    # a failed op voids its pass: none of that pass's ops count as
    # completed while its time still counts, so an op that fails fast in
    # place of slow work can never raise ops_per_s
    failed_passes = {o["pass"] for o, b in zip(ops, bad) if b}
    completed = sum(1 for o in ops if o["pass"] not in failed_passes)
    # fixed by one pass's op count, so the percentile means the same
    # whether a run makes one timed pass or more
    p_tail = tail_percentile(len(lat) // max(1, art["passes"]))
    st = art["setup"]
    metrics = {
        "setup_s": statistics.median(gen_s) + st["session_s"] +
        statistics.median(st["fixture_s"]) + st["prepare_s"] +
        st["warmup_s"],
        "ops_per_s": completed / max(total_s, 1e-9),
        "op_p50_ms": percentile(lat, 50),
        "op_tail_ms": percentile(lat, p_tail),
        "ok_frac": 1.0 - sum(bad) / max(1, len(ops)),
        "heap_live_mb": art["heap_live_mb"],
        "stored_bytes_per_input_byte": art["stored_bytes"] / input_bytes,
    }
    tail = {"percentile": p_tail, "samples": len(lat),
            "beyond": sum(1 for x in lat if x > metrics["op_tail_ms"])}
    return metrics, tail


# -------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="write the run artifact to this path")
    ap.add_argument("--inject-failure", metavar="OP",
                    help="make op OP throw at once in place of its work in "
                    "every pass (self-test)")
    a = ap.parse_args()

    cp = build(time.time() + 880)
    # the run's budget starts after the build, which a source change can
    # make long
    started = time.time()
    run_dir = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    os.makedirs(os.path.join(run_dir, "tmp"))
    proc = None

    def cleanup(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    def on_signal(signum, _frame):
        cleanup()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        # set-up part 1: input generation, timed GEN_REPS times
        gen_s = []
        for _ in range(GEN_REPS):
            t = time.time()
            shutil.rmtree(input_dir, ignore_errors=True)
            if a.workload == "corpus_dedup":
                truth = gen.gen_corpus(input_dir, a.seed)
            else:
                truth = gen.gen_superstore(input_dir, a.seed, mult=ELT_MULT)
            gen_s.append(time.time() - t)
        input_bytes = sum(os.path.getsize(os.path.join(input_dir, f))
                          for f in INPUTS[a.workload])
        out = os.path.join(run_dir, "artifact.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, f"-Xmx{heap_gb()}g", *ADD_OPENS,
               f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
               "-cp", cp, "perfbench.Main",
               "--workload", a.workload, "--input", input_dir,
               "--root", run_dir, "--out", out, "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--t0", str(int(time.time() * 1000))]
        if a.inject_failure:
            cmd += ["--inject-failure", a.inject_failure]
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(5, 170 - (time.time() - started)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.isfile(out):
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"harness exited with {rc}")
        with open(out) as f:
            art = json.load(f)

        # output checks, outside every timed span
        check = checks.checker(a.workload, input_dir, truth)
        verdicts = [checks.verdict(check, o) for o in art["ops"]]
        failures = [(o["name"], v) for o, v in zip(art["ops"], verdicts) if v]
        for name, why in failures[:10]:
            print(f"# failed: {name}: {why}", file=sys.stderr)
        if a.trace:
            metrics = {m: art["layers"][m] for m in PER_LAYER}
            units = PER_LAYER_UNITS
            tail = None
        else:
            metrics, tail = end_to_end(a.workload, art, verdicts, gen_s,
                                       input_bytes)
            units = END_TO_END
            print(f"# op_tail_ms is p{tail['percentile']} of "
                  f"{tail['samples']} ops ({tail['beyond']} beyond); "
                  f"{art['passes']} timed passes")
        result = {"correct": not failures, "attempted": len(art["ops"]),
                  "failed": len(failures),
                  "metrics": {m: {"value": v, "unit": units[m]}
                              for m, v in metrics.items()}}
        if a.save:
            with open(a.save, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "seconds": a.seconds, "trace": a.trace,
                           "conf": art["conf"], "tail": tail,
                           "setup": art["setup"], "gen_s": gen_s,
                           "passes": art["passes"],
                           "planted_share": truth.get("planted", {}).get("share"),
                           "ops": [[o["name"], o["lat_ms"], o["traced"]]
                                   for o in art["ops"]],
                           # [id, name, start ms, end ms, parent id, op id]
                           "spans": art["spans"],
                           "input_bytes": input_bytes, "result": result}, f,
                          indent=1)
        print(json.dumps(result))
    finally:
        cleanup()


if __name__ == "__main__":
    main()
