#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
in one JVM and prints the result.

    python3 perfbench/run.py --workload cep_batch --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. The build and every file a run writes
go under $CARGO_TARGET_DIR (default `.bench_build`) in the checkout. The
last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics of a traced run with `--trace 1`. The
lines before it summarize the run, its stamps and its generated inputs; a
traced run also writes its spans to `<build>/perfbench/traces/`.
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

sys.dont_write_bytecode = True  # keep the benchmark directory clean
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cep_batch", "cep_stream", "registry")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 850.0

# name -> unit; the per_layer and end_to_end lists of BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pass_s": "s",
    "op_gmean_ms": "ms",
}
PER_LAYER = {
    "cep_parse_ms": "ms", "dst_compile_ms": "ms", "dst_states": "count",
    "nfa_events_per_s": "1/s", "nfa_alloc_bytes_per_event": "B/event",
    "nfa_peak_live_runs": "count", "nfa_matches": "count",
    "build_ms": "ms", "build_jobs": "count", "plan_ms": "ms",
    "exec_ms": "ms", "build_share": "ratio", "plan_share": "ratio",
    "exec_share": "ratio",
    "jobs": "count", "stages": "count", "tasks": "count",
    "task_run_ms": "ms", "task_cpu_ms": "ms", "gc_ms": "ms",
    "input_bytes": "B", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "task_skew": "ratio",
    "driver_overhead_frac": "ratio",
    "stream_plan_ms": "ms", "stream_addbatch_ms": "ms",
    "stream_walcommit_ms": "ms", "state_rows": "count", "state_bytes": "B",
    "state_update_ms": "ms", "state_commit_ms": "ms", "state_share": "ratio",
    "progress_share": "ratio",
    "cached_bytes_peak": "B", "trace_overhead_frac": "ratio",
}

# The JVM flags Spark needs on JDK 17 outside spark-submit (the same list
# as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log("perfbench: " + msg)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(d):
        d = os.path.join(ROOT, d)
    return os.path.join(d, "perfbench")


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def cpu_jiffies():
    """(steal, total) CPU time of the machine so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return v[7] if len(v) > 7 else 0, sum(v)


def source_hash():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env(bdir):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    env["PERFBENCH_TARGET"] = os.path.join(bdir, "target")
    return env


def run_bounded(cmd, limit, **kw):
    """Runs cmd in its own process group; kills the group at `limit`, or
    when this process is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def ensure_built(bdir):
    """Compiles the program and the benchmark once per source tree and
    returns the runtime classpath."""
    stamp_file = os.path.join(bdir, "build.stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = source_hash()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(bdir, exist_ok=True)
    log("perfbench: building (sbt) ...")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=sbt_env(bdir), stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    if code != 0 or not out:
        if out:
            log(out[-4000:])
        fail("build failed")
    cp = out.strip().splitlines()[-1].strip()
    if ".jar" not in cp:
        log(out[-4000:])
        fail("build did not report a classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("perfbench: built in %.0f s" % (time.time() - t0))
    return cp


def run_jvm(cp, bdir, args, extra, deadline):
    work = os.path.join(bdir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # inputs first, untimed and outside the JVM: the program receives
    # only these files
    t0 = time.time()
    props = gen.generate(args.workload, args.size, args.seed,
                         os.path.join(work, "data"))
    with open(os.path.join(work, "inputs.json"), "w") as f:
        json.dump(props, f)
    log("perfbench: generated inputs in %.1f s: %s" % (
        time.time() - t0, json.dumps(props, sort_keys=True)))
    out = os.path.join(bdir, "results",
                       "%s-%d-%d.json" % (args.workload, args.seed, args.trace))
    if os.path.exists(out):
        os.remove(out)
    data = os.path.join(ROOT, "data")
    env = dict(os.environ)
    env.update({
        "GRAFT_IMAGES_DIR": os.path.join(data, "images"),
        "GRAFT_AUDIO_DIR": os.path.join(data, "audio"),
        "GRAFT_VIDEO_DIR": os.path.join(data, "video"),
        "GRAFT_CODEBOOK_DIR": os.path.join(data, "codebooks"),
        "GRAFT_LANGID_DIR": os.path.join(data, "langid"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_HOSTNAME": "localhost",
    })
    jvm = ["java"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    # the whole heap is touched at start, so the RSS high-water mark does
    # not depend on how far the collector happened to grow the heap
    jvm += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-Xss8m",
            "-Djava.io.tmpdir=" + tmp,
            "-Dderby.system.home=" + work,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--cores", str(cores()),
            "--fingerprints", args.fingerprints] + extra
    code, _ = run_bounded(jvm, max(10.0, deadline - time.time()), cwd=work,
                          env=env, stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("run exceeded its time limit")
    if not os.path.exists(out):
        fail("the run wrote no result (exit code %s)" % code)
    with open(out) as f:
        res = json.load(f)
    if code != 0 or "error" in res:
        fail("run failed: %s" % res.get("error", "exit code %s" % code))
    return res


def summarize(res, trace):
    """Human-readable lines ahead of the result line."""
    e = res["end_to_end"]
    d = res["detail"]
    attempted = max(1, res["attempted"])
    # workload-specific names of the headline metrics
    names = {
        "cep_batch": {"events_per_s": ("items_per_s", "events/s")},
        "cep_stream": {"batch_p50_ms": ("op_p50_ms", "ms"),
                       "batch_p90_ms": ("op_p90_ms", "ms")},
        "registry": {"query_p50_ms": ("op_p50_ms", "ms")},
    }[res["workload"]]
    rows = ["%s=%.6g %s" % (k, e[k], u) for k, u in END_TO_END.items()]
    rows.append("failed_frac=%.4g ratio" % (res["failed"] / attempted))
    rows += ["%s=%.6g %s" % (k, e[m], u) for k, (m, u) in names.items()]
    print("perfbench %s seed=%s: %s (op samples %d, passes %d)" % (
        res["workload"], res["seed"], ", ".join(rows), d["op_samples"],
        len(d["passes_s"])))
    print("perfbench inputs: " + json.dumps(d["inputs"], sort_keys=True))
    print("perfbench stamps: " + json.dumps(res["stamps"], sort_keys=True))
    for f in d["failures"]:
        print("perfbench FAILED " + f)
    if trace:
        l = res["per_layer"]
        print("perfbench trace: " + " ".join("%s=%.3f" % (k, l[k]) for k in (
            "driver_overhead_frac", "build_share", "plan_share",
            "exec_share", "state_share", "progress_share",
            "trace_overhead_frac")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--fingerprints",
                    default=os.path.join(HERE, "fingerprints.tsv"))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (expected "
             "build.sbt and src/main/scala in %s)" % ROOT, 2)
    bdir = build_dir()
    cp = ensure_built(bdir)
    deadline = time.time() + RUN_LIMIT_S
    extra = []
    if args.size == "tiny":
        extra += ["--size", "tiny"]
    steal0, total0 = cpu_jiffies()
    res = run_jvm(cp, bdir, args, extra, deadline)
    steal1, total1 = cpu_jiffies()
    # share of the machine's CPU time the hypervisor gave to others
    res["stamps"]["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)

    if args.trace:
        tdir = os.path.join(bdir, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "%s-%d.json" % (
                args.workload, args.seed)), "w") as f:
            json.dump(res, f)
    summarize(res, args.trace)
    values = res["per_layer"] if args.trace else res["end_to_end"]
    units = PER_LAYER if args.trace else END_TO_END
    missing = [k for k in units if k not in values]
    if missing:
        fail("metrics missing from the run: %s" % ", ".join(missing))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
