#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark's JVM program (perfbench/build.sbt) and caches the classpath under
.bench_build/; later runs rebuild only when a source file changed. Inputs
are generated from the seed (gen.py), the JVM program measures the
workload, and the stamped result file is written under
.bench_build/results/. With --trace 0 the metrics are the end-to-end ones
of BENCHMARK.json, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_LIMIT_S = 175
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ build

def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(src_hash):
    """The runtime classpath, building first when the sources changed."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == src_hash and os.path.exists(cp_file):
        return open(cp_file).read()
    log("building (sbt compile)")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as blog:
        p = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=blog, text=True,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.endswith(".jar") and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed (see .bench_build/build.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(src_hash)
    return lines[-1]


# ------------------------------------------------------------ host stamps

ANCHOR_LOOP = 500000


def _spin(n):
    """Iterations per second of a fixed pure-Python loop: the best of three
    tries, so a single scheduling hiccup does not decide it."""
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x = (x * 31 + i) % 1000003
        best = max(best, n / (time.perf_counter() - t0))
    return best


def cpu_anchor(procs):
    """The anchor loop's rate on one core, or summed over `procs` processes
    running it at once."""
    if procs == 1:
        return _spin(ANCHOR_LOOP)
    with multiprocessing.get_context("fork").Pool(procs) as pool:
        return sum(pool.map(_spin, [ANCHOR_LOOP] * procs))


def busy_share(window_s=0.5):
    """Share of all CPUs busy while this process sleeps: other processes' load."""
    def read():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        idle = v[3] + (v[4] if len(v) > 4 else 0)
        return sum(v), idle
    t1, i1 = read()
    time.sleep(window_s)
    t2, i2 = read()
    return 0.0 if t2 == t1 else 1.0 - (i2 - i1) / (t2 - t1)


def host_stamp(cpus):
    return {"single_core_anchor": cpu_anchor(1), "all_core_anchor": cpu_anchor(cpus),
            "other_cpu_share": busy_share()}


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_shares(t0, t1):
    """Shares of all CPU time, over the run, spent waiting on I/O and stolen
    by the hypervisor (fields 5 and 8 of /proc/stat's cpu line)."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {"iowait_share": d[4] / total, "steal_share": d[7] / total if len(d) > 7 else 0.0}


def contended(before, after, during, cpus):
    """A run is contended when other processes held more than a tenth of the
    CPUs before or after it, when all cores together ran the anchor loop at
    under three quarters of `cpus` times the single-core rate, or when the
    hypervisor stole more than 5% of the CPU time during the run."""
    return during["steal_share"] > 0.05 or any(
        s["other_cpu_share"] > 0.10 or s["all_core_anchor"] < 0.75 * cpus * s["single_core_anchor"]
        for s in (before, after))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ----------------------------------------------------------------- report

def tail_percentile(values):
    """The highest percentile with at least ten samples beyond it, by nearest
    rank: (value, percentile, samples beyond), or None under 11 samples."""
    n = len(values)
    if n < 11:
        return None
    s = sorted(values)
    return s[n - 11], 100.0 * (n - 10) / n, 10


# The user-facing names of the generic end-to-end metrics, per workload.
NAMES = {
    "search": {"throughput_per_s": "queries_per_s", "quality_ratio": "recall_at_10"},
    "corpus_build": {"throughput_per_s": "docs_per_s", "quality_ratio": "dup_recall"},
    "stream_dedup": {"throughput_per_s": "docs_per_s", "quality_ratio": "dup_recall"},
}


def summary(workload, res, extra):
    lines = ["workload %s (seed %s, %s cpus, contended=%s)" % (
        workload, res["seed"], res["cpus"], res["contended"])]
    for k, m in sorted(res["metrics"].items()):
        name = NAMES.get(workload, {}).get(k, k)
        alias = "" if name == k else " (%s)" % k
        lines.append("  %-34s %14.4f %s%s" % (name, m["value"], m["unit"], alias))
    t = res.get("batch_tail")
    if t:
        lines.append("  %-34s %14.4f ms (p%.1f, %d samples beyond, of %d)" % (
            "batch_tail_ms", t["value"], t["percentile"], t["beyond"], len(extra["batch_ms"])))
    else:
        lines.append("  %-34s %14s (fewer than 11 samples: %d)" % (
            "batch_tail_ms", "n/a", len(extra["batch_ms"])))
    lines.append("  %-34s %14.4f ratio (%d failed of %d attempted)" % (
        "error_rate", extra["error_rate"], res["failed"], res["attempted"]))
    for stage, why in sorted(extra.get("stage_failures", {}).items()):
        lines.append("  stage %s failed: %s" % (stage, why))
    if "trace_overhead_ms" in res:
        lines.append("  %-34s %14.4f ms" % ("trace_overhead_ms", res["trace_overhead_ms"]))
    return "\n".join(lines)


def latest_untraced(rdir, workload, seed):
    """The newest untraced result for the same workload and seed, if any."""
    best = None
    for f in sorted(os.listdir(rdir)) if os.path.isdir(rdir) else []:
        if f.startswith("%s-s%s-t0-" % (workload, seed)):
            best = os.path.join(rdir, f)
    if best:
        with open(best) as fh:
            return json.load(fh)
    return None


# -------------------------------------------------------------------- run

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one set-up")
    ap.add_argument("--results", default=os.path.join(BUILD, "results"),
                    help="directory for the stamped result file")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("library sources not found under %s/src/main/scala" % ROOT)
    spec = benchmark_spec()
    cpus = os.cpu_count() or 1
    src_hash = source_hash()
    cp = classpath(src_hash)
    started = time.time()  # the run limit counts from here: a build may take longer

    tag = "%s-s%d%s" % (args.workload, args.seed, "-smoke" if args.smoke else "")
    inputs = os.path.join(BUILD, "inputs", tag)
    work = os.path.join(BUILD, "work", tag)
    for d in (inputs, work):
        shutil.rmtree(d, ignore_errors=True)
    sizes = gen.generate(args.workload, args.seed, inputs, smoke=args.smoke)
    os.makedirs(os.path.join(work, "tmp"))

    before = host_stamp(cpus)
    cpu_t0 = cpu_times()
    # a fixed heap: a heap that grows on demand makes the peak RSS depend
    # on when the collector happened to expand it
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--smoke", "1" if args.smoke else "0",
            "--cpus", str(cpus), "--inputs", inputs, "--work", work]
    budget = RUN_LIMIT_S - (time.time() - started) - 3
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           stdin=subprocess.DEVNULL, timeout=max(30, budget))
    except subprocess.TimeoutExpired:
        raise SystemExit("workload did not finish within %.0f s" % budget)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        raise SystemExit("benchmark JVM exited with code %d" % p.returncode)
    out = json.loads(p.stdout.strip().splitlines()[-1])
    during = run_shares(cpu_t0, cpu_times())
    after = host_stamp(cpus)

    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != wanted:
        raise SystemExit("metric names or units differ from BENCHMARK.json: %s" % sorted(
            set(got.items()) ^ set(wanted.items())))

    extra = out["extra"]
    res = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "cpus": cpus, "input_sizes": sizes,
        "git_commit": git_commit(), "source_hash": src_hash,
        "host_before": before, "host_after": after, "host_during": during,
        "contended": contended(before, after, during, cpus),
        "correct": out["correct"], "attempted": out["attempted"], "failed": out["failed"],
        "metrics": out["metrics"], "extra": extra,
    }
    t = tail_percentile(extra["batch_ms"])
    if t:
        res["batch_tail"] = {"value": t[0], "percentile": t[1], "beyond": t[2]}
    if args.trace:
        base = latest_untraced(args.results, args.workload, args.seed)
        if base:
            res["trace_overhead_ms"] = (out["metrics"]["traced_batch_p50_ms"]["value"]
                                        - base["metrics"]["batch_p50_ms"]["value"])
    os.makedirs(args.results, exist_ok=True)
    fname = "%s-t%d-%s.json" % (tag, args.trace, time.strftime("%Y%m%dT%H%M%S"))
    with open(os.path.join(args.results, fname), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    log(summary(args.workload, res, extra))
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "metrics")},
                     sort_keys=True))


if __name__ == "__main__":
    main()
