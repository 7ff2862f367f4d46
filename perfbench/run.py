#!/usr/bin/env python3
"""End-to-end benchmark of worddocumentparserspark.

One run of one workload (the last stdout line is the JSON result):

    python3 perfbench/run.py --workload extract_flat --seed 1 --seconds 15 --trace 0

Repeat a workload over consecutive seeds and report each end-to-end metric's
median, quartiles and spread against its bound in BENCHMARK.json:

    python3 perfbench/run.py --workload extract_flat --seed 1 --seconds 15 --repeat 10

The first run in a checkout builds .bench_build/build (perfbench/build.sh:
the program and the benchmark compiled into one jar, plus a JVM class-data
sharing archive); later runs reuse it while the sources are unchanged.
Everything a run writes stays under .bench_build.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("extract_flat", "extract_skew", "pipeline_dedup")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt and
# build.sh: the class-data-sharing archive is only used under the same flags).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def source_files():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        fail(f"no program sources under {program}")
    files = [os.path.join(HERE, "build.sh")]
    for top in (program, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(home):
    """Build unless .bench_build/build matches the current sources."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "build.sha256")
    out = os.path.join(BUILD, "build")
    if os.path.isdir(out) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest.hexdigest():
                return out
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    t0 = time.time()
    env = dict(os.environ, SPARK_HOME=home)
    try:
        done = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out],
                              env=env, cwd=ROOT, stdout=sys.stderr, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if done.returncode != 0:
        fail(f"build failed with code {done.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def cpu_times():
    """Aggregate jiffies from /proc/stat: (total, iowait, steal)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None
    return sum(f[:8]), f[4], (f[7] if len(f) > 7 else 0)


def one_run(workload, seed, seconds, trace):
    """Run the benchmark JVM once; return (result, context)."""
    home = spark_home()
    built = build(home)
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    os.makedirs(work)
    trace_out = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json")
    cmd = [java(), "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           f"-XX:SharedArchiveFile={os.path.join(built, 'perfbench.jsa')}",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{os.path.join(built, 'perfbench.jar')}{os.pathsep}{os.path.join(home, 'jars', '*')}",
            "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--trace-out", trace_out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    before = cpu_times()
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{workload} did not finish within {RUN_LIMIT_S} s", 3)
    except BaseException:
        # interrupted (SIGINT, or SIGTERM via the handler in main): take the
        # JVM down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = cpu_times()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"{workload} exited with code {proc.returncode}", 1)
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1])
    ctx = {}
    for line in lines:
        if line.startswith("# context "):
            ctx = json.loads(line[len("# context "):])
    if before and after and after[0] > before[0]:
        total = after[0] - before[0]
        ctx["iowait_share"] = round((after[1] - before[1]) / total, 4)
        ctx["steal_share"] = round((after[2] - before[2]) / total, 4)
    ctx["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    ctx["run_s"] = round(time.time() - t0, 1)
    print("# host " + json.dumps(ctx, sort_keys=True))
    return result, ctx


def repeat(args):
    """Run one workload over `--repeat` seeds and summarize the spread."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    runs = []
    for i in range(args.repeat):
        seed = args.seed + i
        result, ctx = one_run(args.workload, seed, args.seconds, args.trace)
        runs.append((seed, result, ctx))
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
        print(f"## seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} {vals} host={json.dumps(ctx, sort_keys=True)}",
              flush=True)
    print(f"## {args.workload}: {len(runs)} runs, seeds {args.seed}..{args.seed + len(runs) - 1}")
    shares = {r["failed"] / r["attempted"] for _, r, _ in runs}
    print(f"## failed share per run: {sorted(shares)} ({'same' if len(shares) == 1 else 'DIFFERS'})")
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for _, r, _ in runs]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        spread = (q3 - q1) / med if med else float("inf")
        bound = m.get("bound")
        verdict = "" if bound is None else ("within" if spread <= bound else "OVER") + f" bound {bound}"
        print(f"## {args.workload}/{m['name']} [{m['unit']}] median={med:.6g} q1={q1:.6g} "
              f"q3={q3:.6g} spread={spread:.4f} {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run this many seeds from --seed and summarize")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.repeat:
        repeat(args)
        return
    result, _ = one_run(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
