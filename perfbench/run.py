#!/usr/bin/env python3
"""graft benchmark: builds graft and the benchmark from source, stages seeded
inputs, runs one workload in one JVM and prints one JSON result line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --steady 5 --workload queries      # steadiness mode
    python3 perfbench/run.py --record 1 --workload queries      # print checksums
    python3 perfbench/run.py --workload queries --verified DIR  # checksums of Verify output

Run from the repository root. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_out")


def repo_default(path, pattern):
    """A default the repository itself declares: group 1 of `pattern` in the
    file at `path`, or None."""
    try:
        with open(os.path.join(ROOT, path)) as f:
            m = re.search(pattern, f.read())
        return m.group(1) if m else None
    except OSError:
        return None


# Spark's jar directory, as build.sbt names it, and the sf0.1 fixture,
# as graft.Bench reads it; the environment overrides both.
SPARK_JARS = (os.path.join(os.environ["SPARK_HOME"], "jars") if "SPARK_HOME" in os.environ
              else repo_default("build.sbt", r'unmanagedBase := file\("([^"]+)"\)'))
SF_DIR = os.environ.get("GRAFT_BENCH_SF_DIR") or repo_default(
    "src/main/scala/graft/Bench.scala", r'"SPARK_GRAFT_SF_DIR", "([^"]+)"')
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# How many stream files, and how many times staging is repeated for setup_s.
STREAM_FILES = 2
STAGE_REPEATS = 3
# A run counts as taken under load when more than this share of the
# machine's CPU time went to steal (other guests on the host) or to
# processes other than the benchmark's own.
LOADED_STEAL = 0.05
LOADED_OTHER = 0.10
# In --steady, a run whose CPU probe took this many times the set's fastest
# probe is marked as taken on a slowed machine.
SLOW_PROBE = 1.2


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """The heap formula of the repo's tier-1 test command: half of RAM in
    GiB, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def cpu_probe_ms():
    """Best of 3 timings of a fixed single-threaded loop, in ms. A machine
    slowed by work it does not account as steal (other guests on sibling
    hardware threads, a lower clock) shows here."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(300000):
            x += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best * 1000


def load_probe():
    """Load average, the machine's CPU counters, this process tree's own
    CPU seconds and the CPU probe, to tell afterwards how loaded the machine
    was."""
    probe_ms = cpu_probe_ms()
    with open("/proc/loadavg") as f:
        loadavg = " ".join(f.read().split()[:3])
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal, in clock ticks
        ticks = [int(x) for x in f.readline().split()[1:9]]
    t = os.times()
    own_s = t.user + t.system + t.children_user + t.children_system
    return loadavg, ticks, own_s, probe_ms


def load_between(before, after):
    """How loaded the machine was between two probes: the steal share, the
    share of CPU time used by other processes than this one and its
    children, and the CPU probe at both ends."""
    (avg0, t0, own0, pr0), (avg1, t1, own1, pr1) = before, after
    d = [b - a for a, b in zip(t0, t1)]
    total = max(1, sum(d))
    hz = os.sysconf("SC_CLK_TCK")
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    steal = d[7] / total
    other = max(0.0, busy - (own1 - own0) * hz) / total
    return {"loadavg_before": avg0, "loadavg_after": avg1, "steal": round(steal, 4),
            "other_cpu": round(other, 4), "cpu_probe_ms": [round(pr0, 2), round(pr1, 2)],
            "loaded": steal > LOADED_STEAL or other > LOADED_OTHER}


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(main) or not SPARK_JARS or not SF_DIR:
        fail(f"no graft checkout here (no {main}); run from the repository root")
    out = []
    for top in (main, bench):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile graft's main sources and the benchmark with scalac into
    .bench_build, once per distinct source tree."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = [os.path.join(SPARK_JARS, f"scala-{n}-2.13.17.jar")
            for n in ("compiler", "library", "reflect")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        print(p.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def stage_events(stage, seed):
    """Stage the fixture's events as time-ordered parquet files, cut at
    seeded boundaries, under stage/events.parquet/ (the pipeline, serve and
    query inputs) and stage/stream/ (one file per stream batch)."""
    import pyarrow.parquet as pq
    shutil.rmtree(stage, ignore_errors=True)
    table = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    table = table.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    rng = random.Random(seed)
    n = table.num_rows
    # cut points within the middle half of each equal share
    cuts = sorted(int(n * (k + rng.uniform(0.25, 0.75)) / STREAM_FILES)
                  for k in range(STREAM_FILES - 1))
    bounds = [0] + cuts + [n]
    batch_dir = os.path.join(stage, "events.parquet")
    stream_dir = os.path.join(stage, "stream")
    os.makedirs(batch_dir)
    os.makedirs(stream_dir)
    for k in range(STREAM_FILES):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(batch_dir, f"part-{k:05d}.parquet"))
        pq.write_table(part, os.path.join(stream_dir, f"part-{k:05d}.parquet"))
    # the other fixture tables the query list reads, linked read-only
    for name in os.listdir(SF_DIR):
        if name.endswith(".parquet") and name != "events.parquet":
            os.symlink(os.path.join(SF_DIR, name), os.path.join(stage, name))


def java_cmd(classes, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{heap()}", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
             f"-Dderby.system.home={run_dir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classes + ":" + os.path.join(SPARK_JARS, "*"), "graftbench.Main"]
            + args)


def print_verified(verified_dir):
    """Print the query checksums of results that graft.Verify saved under
    verified_dir, to compare with expected.tsv."""
    classes = build()
    run_dir = os.path.join(WORK, f"verified-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    cmd = java_cmd(classes, run_dir, ["--workload", "queries", "--cores", str(nproc()),
                                      "--verified", os.path.abspath(verified_dir)])
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       cwd=run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    print("\n".join(l for l in p.stdout.splitlines() if l.startswith("queries.")))
    return p.returncode


def run_once(workload, seed, seconds, trace, record=False):
    """One workload run in a fresh JVM; returns the JVM's result dict plus
    the environment it ran in."""
    classes = build()
    probe0 = load_probe()
    run_dir = os.path.join(WORK, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    stage = os.path.join(run_dir, "stage")
    stage_s = []
    for _ in range(STAGE_REPEATS):
        t0 = time.perf_counter()
        stage_events(stage, seed)
        stage_s.append(time.perf_counter() - t0)
    out = os.path.join(run_dir, "out")
    env_info = {"nproc": nproc(), "heap": heap(), "sf": os.path.basename(SF_DIR),
                "seed": seed, "workload": workload, "trace": int(trace)}
    cmd = java_cmd(classes, run_dir, [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--cores", str(nproc()),
        "--sf", SF_DIR, "--stage", stage, "--out", out,
        "--expected", os.path.join(HERE, "expected.tsv"),
        "--record", "1" if record else "0"])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=run_dir)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} run exceeded {RUN_TIMEOUT_S}s; log kept at {log_path}")
    java_version = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                                  stderr=subprocess.PIPE, text=True).stderr.splitlines()[0]
    env_info["jvm"] = java_version
    env_info["load"] = load_between(probe0, load_probe())
    if record:
        for line in stdout.splitlines():
            if line.startswith("record\t"):
                print(line[len("record\t"):])
    result_path = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            print(f.read()[-6000:], file=sys.stderr)
        fail(f"{workload} JVM exited with {p.returncode}; log kept at {log_path}")
    with open(result_path) as f:
        res = json.load(f)
    res["end_to_end"]["setup_s"]["value"] += statistics.median(stage_s)
    res["env"] = env_info
    if trace and os.path.exists(os.path.join(out, "trace.jsonl")):
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copy(os.path.join(out, "trace.jsonl"),
                    os.path.join(WORK, "traces", f"{workload}-s{seed}.jsonl"))
    with open(os.path.join(WORK, f"last-{workload}-t{int(trace)}.json"), "w") as f:
        json.dump(res, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def result_line(res, trace):
    """The printed result: every end-to-end metric untraced, every
    per-layer metric traced (0 where the workload never enters that layer)."""
    s = spec()
    if trace:
        metrics = {}
        for m in s["per_layer"]:
            v = res["per_layer"].get(m["name"], {"value": 0.0})["value"]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        missing = [m["name"] for m in s["end_to_end"] if m["name"] not in res["end_to_end"]]
        if missing:
            fail(f"workload did not report {missing}")
        metrics = {m["name"]: res["end_to_end"][m["name"]] for m in s["end_to_end"]}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def steady(workload, n, seconds, seed0):
    """Run a workload n times untraced and once traced per five; print each
    metric's median, quartiles and spread against its bound, and the tracing
    overhead."""
    s = spec()
    runs = [run_once(workload, seed0 + i, seconds, False) for i in range(n)]
    traced = [run_once(workload, seed0 + i, seconds, True) for i in range(max(1, n // 5))]
    env = {k: v for k, v in runs[0]["env"].items() if k != "load"}
    print(f"# {workload}: {n} untraced runs, seeds {seed0}..{seed0 + n - 1}; env {env}")
    # a run whose CPU probe is much slower than the set's fastest ran on a
    # slowed machine, even without steal
    fastest = min(min(r["env"]["load"]["cpu_probe_ms"]) for r in runs)
    loaded = []
    for i, r in enumerate(runs):
        ld = r["env"]["load"]
        slow = max(ld["cpu_probe_ms"]) > SLOW_PROBE * fastest
        loaded.append(ld["loaded"] or slow)
        print(f"{'load':>14} run {i + 1}: loadavg {ld['loadavg_before']} -> {ld['loadavg_after']}, "
              f"steal {ld['steal']:.1%}, other CPU {ld['other_cpu']:.1%}, "
              f"CPU probe {ld['cpu_probe_ms'][0]:.1f}/{ld['cpu_probe_ms'][1]:.1f} ms"
              + (" [LOADED]" if ld["loaded"] else "") + (" [SLOW CPU]" if slow else ""))
    ok = True
    for m in s["end_to_end"]:
        vals = [r["end_to_end"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread < m["bound"] / 3 else ("within" if spread <= m["bound"] else "OVER")
        ok &= flag != "OVER"
        print(f"{m['name']:>14} median {med:12.4f} {m['unit']:<5} q1 {q1:12.4f} q3 {q3:12.4f} "
              f"spread {spread:6.3f} bound {m['bound']:.2f} [{flag}]")
        print(f"{'':>14} runs {' '.join(f'{v:.4g}' + ('*' if l else '') for v, l in zip(vals, loaded))}")
    if any(loaded):
        print(f"{'load':>14} {sum(loaded)} of {n} runs (marked *) were taken under load "
              f"(steal > {LOADED_STEAL:.0%}, other CPU > {LOADED_OTHER:.0%} or CPU probe > "
              f"{SLOW_PROBE}x the fastest); "
              "the spreads above include them")
    fails = sum(r["failed"] for r in runs + traced)
    print(f"{'failed':>14} {fails} of {sum(r['attempted'] for r in runs + traced)} checks")
    for m in s["end_to_end"]:
        if m["name"] in ("setup_s",):
            continue
        un = statistics.median(r["end_to_end"][m["name"]]["value"] for r in runs)
        tr = statistics.median(r["end_to_end"][m["name"]]["value"] for r in traced)
        print(f"{'overhead':>14} {m['name']}: traced {tr:.4f} - untraced {un:.4f} = "
              f"{tr - un:+.4f} {m['unit']} ({(tr - un) / un:+.1%})")
    return ok and fails == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--steady", type=int, default=0,
                    help="steadiness mode: run the workload this many times")
    ap.add_argument("--record", type=int, default=0, choices=(0, 1),
                    help="print the outputs the checks compare against")
    ap.add_argument("--verified", metavar="DIR",
                    help="print checksums of graft.Verify results saved under DIR")
    a = ap.parse_args()
    if a.verified:
        sys.exit(print_verified(a.verified))
    names = [w["name"] for w in spec()["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}")
    if a.steady:
        sys.exit(0 if steady(a.workload, a.steady, a.seconds, a.seed) else 1)
    res = run_once(a.workload, a.seed, a.seconds, bool(a.trace), record=bool(a.record))
    print(json.dumps({"env": res["env"], "failures": res.get("failures", [])}))
    print(json.dumps(result_line(res, bool(a.trace))))


if __name__ == "__main__":
    main()
