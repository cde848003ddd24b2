#!/usr/bin/env python3
"""flumebench: the flume engine's benchmark.

Run one workload:

    python3 flumebench/run.py --workload serve --seed 1 --seconds 6 --trace 0

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1).

Other modes:

    python3 flumebench/run.py all --seed 1 [--trace 0|1] [--seconds S]
        every workload once; prints every metric with its unit
    python3 flumebench/run.py series --out DIR [--workloads a,b] [--seeds 1-10] [--trace 0|1]
        one run per workload and seed, each result kept in DIR
    python3 flumebench/run.py compare DIR_A [DIR_B]
        per workload and metric: median, quartiles, spread and, with two
        result sets, the verdict under BENCHMARK.json's bounds
    python3 flumebench/run.py selftest
        the benchmark's own tests

Everything is built from the checkout's sources with the Scala compiler
that ships with Spark; nothing is fetched. Inputs are generated from the
seed; outputs stay under flumebench/ (build/, work/, results/).
"""
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, "build")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ["serve", "takedown", "curate"]
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"flumebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def scala_sources(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def build(jars):
    """Compile the engine and the benchmark; reuse the classes while the
    sources and the Spark jars are unchanged."""
    flumedb = os.path.join(ENGINE_SRC, "graft", "core", "FlumeDb.scala")
    if not os.path.isfile(flumedb):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    srcs = scala_sources(ENGINE_SRC) + scala_sources(BENCH_SRC)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    fp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == fp:
        return classes, fp
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(fp)
    print(f"[flumebench] built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, fp


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def cpu_times():
    """(busy, steal) jiffies of the whole machine, or None."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(f[:3]) + sum(f[5:7]), f[7] if len(f) > 7 else 0


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_one(workload, seed, seconds, trace, result_path, echo=True):
    """One run in its own JVM. Returns (the parsed result line or None,
    whether the run succeeded)."""
    if os.path.exists(result_path):
        os.remove(result_path)
    jars = spark_jars()
    classes, fp = build(jars)
    n = cpus()
    work = os.path.join(WORK, f"{workload}-{os.getpid()}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    detail = os.path.join(work, "detail.json")
    spans = os.path.splitext(result_path)[0] + ".spans.jsonl"
    if os.path.exists(spans):
        os.remove(spans)
    # a fixed heap and the throughput collector: no heap resizing and no
    # concurrent collector threads competing with the tasks for the cores
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "flumebench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cpus", str(n), "--work", work,
            "--detail", detail, "--spans", spans]
    load0, cpu0 = loadavg(), cpu_times()
    log_path = os.path.join(work, "stderr.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print(f"[flumebench] {workload}: timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
    lines = out.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if echo:
        for line in lines[:-1] if result is not None else lines:
            print(line)
    ok = proc.returncode == 0 and result is not None
    if ok:
        spec, _ = bounds()
        want = {n for n, m in spec.items() if ("bound" in m) != bool(trace)}
        got = set(result.get("metrics", {}))
        if spec and got != want:
            print(f"[flumebench] metrics differ from BENCHMARK.json: missing {sorted(want - got)}, "
                  f"extra {sorted(got - want)}", file=sys.stderr)
            ok = False
    if not ok:
        with open(log_path) as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(bool(trace)),
        "commit": commit(), "source_sha256": fp, "cpus": n,
        "loadavg_start": load0, "loadavg_end": loadavg(), "steal_share": steal_share(cpu0, cpu_times()),
        "exit_code": proc.returncode, "result": result,
    }
    if os.path.exists(detail):
        with open(detail) as f:
            record["detail"] = json.load(f)
    if result is not None:
        os.makedirs(os.path.dirname(result_path), exist_ok=True)
        with open(result_path, "w") as f:
            json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return result, ok


def steal_share(a, b):
    """Share of CPU time the hypervisor took from this machine between two
    readings: a noisy neighbour shows here."""
    if not a or not b or (b[0] - a[0]) + (b[1] - a[1]) <= 0:
        return None
    return (b[1] - a[1]) / ((b[0] - a[0]) + (b[1] - a[1]))


def bounds():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        return {}, 10
    return ({m["name"]: m for m in spec.get("end_to_end", []) + spec.get("per_layer", [])},
            spec.get("run_seconds", 10))


def parse_seeds(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def opt(args, name, default=None):
    if f"--{name}" in args:
        i = args.index(f"--{name}")
        return args[i + 1]
    return default


def cmd_all(args):
    _, secs = bounds()
    seed = int(opt(args, "seed", "1"))
    trace = opt(args, "trace", "0") == "1"
    seconds = float(opt(args, "seconds", secs))
    out = os.path.join(RESULTS, f"all-seed{seed}-trace{int(trace)}.json")
    if os.path.exists(out):
        os.remove(out)
    combined, ok = {}, True
    for w in WORKLOADS:
        path = os.path.join(RESULTS, f"{w}-seed{seed}-trace{int(trace)}.json")
        res, good = run_one(w, seed, seconds, trace, path, echo=False)
        if not good:
            print(f"{w}: FAILED (see stderr)")
            ok = False
            continue
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for name, m in res["metrics"].items():
            print(f"  {name:44s} {m['value']:>16.4f} {m['unit']}")
        with open(path) as f:
            combined[w] = json.load(f)
    with open(out, "w") as f:
        json.dump(combined, f, indent=1)
    return 0 if ok else 1


def cmd_series(args):
    _, secs = bounds()
    out = opt(args, "out")
    if not out:
        fail("series needs --out DIR")
    ws = opt(args, "workloads", ",".join(WORKLOADS)).split(",")
    seeds = parse_seeds(opt(args, "seeds", "1-10"))
    trace = opt(args, "trace", "0") == "1"
    seconds = float(opt(args, "seconds", secs))
    os.makedirs(out, exist_ok=True)
    ok = True
    for w in ws:
        for s in seeds:
            path = os.path.join(out, f"{w}-seed{s}-trace{int(trace)}.json")
            t0 = time.time()
            res, good = run_one(w, s, seconds, trace, path, echo=False)
            took = time.time() - t0
            if not good:
                ok = False
                print(f"{w} seed {s}: FAILED ({took:.0f} s)")
            else:
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                print(f"{w} seed {s} ({took:.0f} s): {vals}", flush=True)
    return 0 if ok else 1


def load_set(d):
    """workload -> metric -> list of values, from a directory of results."""
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json") or f.startswith("all-"):
            continue
        with open(os.path.join(d, f)) as fh:
            rec = json.load(fh)
        res = rec.get("result") or {}
        for name, m in res.get("metrics", {}).items():
            out.setdefault(rec["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def cmd_compare(args):
    spec, _ = bounds()
    sets = [a for a in args if not a.startswith("--")]
    if not sets:
        fail("compare needs one or two result directories")
    a = load_set(sets[0])
    b = load_set(sets[1]) if len(sets) > 1 else None
    worst = 0
    for w in sorted(a):
        print(f"== {w}")
        for name in sorted(a[w]):
            m = spec.get(name, {})
            bound = m.get("bound")
            q1, med, q3 = quartiles(a[w][name])
            spread = (q3 - q1) / abs(med) if med else float("nan")
            line = f"  {name:40s} A: median {med:.4g} [{q1:.4g}, {q3:.4g}] spread {spread:.3f}"
            if bound is not None and name != "setup_s":
                flag = "ok" if spread <= bound / 3 else ("WIDE" if spread <= bound else "OVER BOUND")
                line += f" (bound {bound}: {flag})"
                if flag == "OVER BOUND":
                    worst = 1
            if b is not None and name in b.get(w, {}):
                bq1, bmed, bq3 = quartiles(b[w][name])
                change = (bmed - med) / abs(med) if med else float("nan")
                worse = change if m.get("better") == "lower" else -change
                verdict = "n/a"
                if bound is not None:
                    verdict = "REGRESSED" if worse > bound else ("improved" if worse < -bound else "within bound")
                    if verdict == "REGRESSED":
                        worst = 1
                line += f"\n  {'':40s} B: median {bmed:.4g} [{bq1:.4g}, {bq3:.4g}] change {change:+.3f} -> {verdict}"
            print(line)
    return worst


def cmd_selftest(args):
    jars = spark_jars()
    classes, _ = build(jars)
    work = os.path.join(WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "flumebench.SelfTest",
            "--work", work, "--cpus", str(min(cpus(), 2))]
    r = subprocess.run(cmd, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    return r.returncode


def main(argv):
    if argv and argv[0] in ("all", "series", "compare", "selftest"):
        return {"all": cmd_all, "series": cmd_series, "compare": cmd_compare,
                "selftest": cmd_selftest}[argv[0]](argv[1:])
    workload = opt(argv, "workload")
    if workload not in WORKLOADS:
        fail(f"--workload must be one of {', '.join(WORKLOADS)}")
    seed = int(opt(argv, "seed", "1"))
    seconds = float(opt(argv, "seconds", "10"))
    trace = opt(argv, "trace", "0") == "1"
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{int(trace)}.json")
    res, ok = run_one(workload, seed, seconds, trace, path)
    if res is not None:
        print(json.dumps(res))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
