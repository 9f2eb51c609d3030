#!/usr/bin/env python3
"""Benchmark for the graft Spark engine: one closed-loop workload per run.

    python3 perfbench/run.py --workload broad --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark's Scala code from source (into .bench_build/),
runs the workload's keys in one local Spark session, checks every key's
output, and prints a summary table followed by one JSON result line. With
--trace 0 the result holds the end-to-end metrics; with --trace 1 it holds
the per-layer metrics, computed from the spans the benchmark's own listeners
record. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
DATA = HERE / "data"
SF_DIR, WARM_DIR = DATA / "sf0.1", DATA / "sf0.001"
SETUPS = 3  # set-ups per run; setup_s is their median
# key executions per run, at least: the tail percentile (ten executions
# beyond it) is then p72 or higher, and a workload's pass count does not
# hinge on how fast the host is (broad: 3 passes, steady: 18)
MIN_EXECUTIONS = 36
# a fixed, pre-touched heap: heap resizing and first touch otherwise move
# peak RSS by a third between identical runs, so peak_rss_mb is the 2 GiB
# heap plus what the JVM holds outside it (generated and loaded classes,
# JIT code, thread stacks, network and I/O buffers)
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
JVM_TIMEOUT_S = 150

# Why each workload exists is in README.md. Keys are SparkEntry.queries keys.
WORKLOADS = {
    "broad": [
        "agg_cube", "col_entropy", "domain_mix", "embedding_pq", "exp_pipeline",
        "join_anti", "kl_divergence", "mm_decode_features", "skew_profile",
        "text_compressibility", "topk_diverse", "window_nth",
    ],
    "steady": ["flagship_pricing", "topk_per_group"],
}

END_TO_END = {  # name -> unit
    "setup_s": "s", "pass_s": "s", "key_p50_s": "s", "key_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "caching.pin_jobs": "count", "caching.cached_mb_peak": "MB",
    "operators.jobs": "count", "operators.job_s": "s",
    "tables.scan_rows": "count", "tables.scan_mb": "MB",
    "planner.analysis_ms": "ms", "planner.optimization_ms": "ms",
    "planner.planning_ms": "ms", "planner.qe": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "codegen.setup_compiles": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_gap_s": "s",
    "scheduler.slot_idle_frac": "ratio",
    "executor.task_run_s": "s", "executor.task_cpu_s": "s", "executor.gc_s": "s",
    "executor.shuffle_write_mb": "MB", "executor.shuffle_records": "count",
    "executor.fetch_wait_ms": "ms", "executor.spill_mb": "MB",
}
MB = 1024.0 * 1024.0


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def sources():
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").glob("*.scala"))
    return prog, bench


def spark_jars():
    """Spark's jar dir: $SPARK_HOME/jars, or the one beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark installation: set SPARK_HOME")
    return Path(home) / "jars"


def compiler_jars(spark):
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(spark.glob(f"{name}-2.13.*.jar"))
        if not found:
            die(f"no {name} jar in {spark}")
        jars.append(str(found[-1]))
    return jars


def build(spark):
    """Compiles the program and the benchmark's Scala code with the Scala
    compiler that ships in Spark's jars; skipped when no source changed."""
    prog, bench = sources()
    if not prog or not bench:
        die("no program sources under src/main/scala or no benchmark sources")
    jars = compiler_jars(spark)
    h = hashlib.sha256("\n".join(jars).encode())
    for p in prog + bench:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out, stamp = BUILD / "classes", BUILD / "classes.stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out),
           "-cp", f"{spark}/*", *map(str, prog), *map(str, bench)]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed")
    stamp.write_text(h.hexdigest())
    return out


# ------------------------------------------------------------------ run

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def run_jvm(spark, classes, keys, seed, seconds, min_executions, trace, cores,
            sf_dir, warm_dir, run_dir):
    """Runs perfbench.Main; returns (report, spans)."""
    for d in ("tmp", "local", "check", "out"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", *HEAP, f"-Djava.io.tmpdir={run_dir / 'tmp'}", *opens,
           "-cp", f"{classes}:{spark}/*", "perfbench.Main",
           ",".join(keys), str(seed), str(seconds), str(min_executions), str(trace), str(cores),
           str(SETUPS), str(sf_dir), str(warm_dir), str(run_dir / "local"),
           str(run_dir / "check"), str(run_dir / "out")]
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log: {log}")
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        die(f"benchmark JVM exited with {r.returncode}")
    report = json.loads((run_dir / "out" / "report.json").read_text())
    spans = [json.loads(l) for l in open(run_dir / "out" / "spans.jsonl") if l.strip()]
    return report, spans


def compare(sf_dir, check_dir, keys):
    """Runs tools/compare.py (unchanged) on the oracled keys; returns
    {key: passed} for each of them."""
    oracled = sorted(json.loads((check_dir / "oracle_sql.json").read_text()))
    if not oracled:
        return {}
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "compare.py"),
                        str(sf_dir), str(check_dir), *oracled],
                       capture_output=True, text=True, timeout=120)
    passed = {k: False for k in oracled}
    for line in r.stdout.splitlines():
        tag, _, rest = line.partition(" ")
        key = rest.split(":", 1)[0]
        if key in passed and tag == "PASS":
            passed[key] = True
        elif key in passed:
            print(f"perfbench: check {line}", file=sys.stderr)
    return passed


# -------------------------------------------------------------- metrics

def dur_s(s):
    return (s["end_ms"] - s["start_ms"]) / 1e3


def covered_ms(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Trace:
    """Index over one run's spans: which jobs, stages, query executions and
    build spans belong to which key span."""

    def __init__(self, spans):
        self.by_kind = defaultdict(list)
        for s in spans:
            self.by_kind[s["kind"]].append(s)
        self.by_id = {s["id"]: s for s in spans}
        self.children = defaultdict(list)
        for s in spans:
            self.children[s["parent"]].append(s)
        keys = sorted(self.by_kind["key"], key=lambda k: k["start_ms"])
        self.jobs = defaultdict(list)
        for j in self.by_kind["job"]:
            self.jobs[j["key"]].append(j)
        # query executions carry no key: place them on the timeline
        # (phase times are whole milliseconds, hence the 1 ms slack)
        self.qes = defaultdict(list)
        for q in self.by_kind["qe"]:
            for k in keys:
                if k["start_ms"] - 1 <= q["start_ms"] <= k["end_ms"] + 1:
                    self.qes[k["id"]].append(q)
                    break

    def passes(self):
        ps = sorted(self.by_kind["pass"], key=lambda p: p["start_ms"])
        return [(p, [k for k in self.children[p["id"]] if k["kind"] == "key"]) for p in ps]

    def layers(self, keys, cores):
        """Per-layer metrics over a set of key executions."""
        m = defaultdict(float)
        task_ms = job_cover_ms = 0.0
        for k in keys:
            jobs = self.jobs.get(k["id"], [])
            stages = [s for j in jobs for s in self.children[j["id"]] if s["kind"] == "stage"]
            for b in self.children[k["id"]]:
                if b["kind"] == "build":
                    m["queries.build_s"] += dur_s(b)
                    m["planner.analysis_ms"] += b.get("analysis_ms", 0)
            m["queries.build_jobs"] += sum(
                1 for j in jobs if self.by_id.get(j["parent"], {}).get("kind") == "build")
            m["caching.pin_jobs"] += sum(1 for j in jobs if j["module"] == "caching")
            m["caching.cached_mb_peak"] = max(m["caching.cached_mb_peak"],
                                              k.get("cached_peak_bytes", 0) / MB)
            ops = [j for j in jobs if j["module"] == "operators"]
            m["operators.jobs"] += len(ops)
            m["operators.job_s"] += sum(dur_s(j) for j in ops)
            for q in self.qes.get(k["id"], []):
                m["planner.qe"] += 1
                for p in ("analysis", "optimization", "planning"):
                    m[f"planner.{p}_ms"] += q[f"{p}_ms"]
            m["codegen.compiles"] += k["compiles"]
            m["codegen.compile_ms"] += k["compile_ms"]
            m["scheduler.jobs"] += len(jobs)
            m["scheduler.stages"] += len(stages)
            cover = covered_ms(k["start_ms"], k["end_ms"],
                               [(j["start_ms"], j["end_ms"]) for j in jobs])
            m["scheduler.driver_gap_s"] += dur_s(k) - cover / 1e3
            job_cover_ms += cover
            for s in stages:
                m["scheduler.tasks"] += s["tasks"]
                task_ms += s["task_ms"]
                m["tables.scan_rows"] += s.get("input_rows", 0)
                m["tables.scan_mb"] += s.get("input_bytes", 0) / MB
                m["executor.task_run_s"] += s.get("run_ms", 0) / 1e3
                m["executor.task_cpu_s"] += s.get("cpu_ns", 0) / 1e9
                m["executor.gc_s"] += s.get("gc_ms", 0) / 1e3
                m["executor.shuffle_write_mb"] += s.get("shuffle_write_bytes", 0) / MB
                m["executor.shuffle_records"] += s.get("shuffle_write_records", 0)
                m["executor.fetch_wait_ms"] += s.get("fetch_wait_ms", 0)
                m["executor.spill_mb"] += s.get("spill_bytes", 0) / MB
        m["scheduler.slot_idle_frac"] = (1.0 - task_ms / (job_cover_ms * cores)
                                         if job_cover_ms > 0 else 1.0)
        return m


def tail(values):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count)."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def summarize(report, spans, cores, keys, traced):
    tr = Trace(spans)
    passes = tr.passes()
    execs = [k for _, ks in passes for k in ks]
    lat = [dur_s(k) for k in execs]
    tail_v, tail_p, tail_n = tail(lat)
    e2e = {
        "setup_s": statistics.median(s["s"] for s in report["setups"]),
        "pass_s": statistics.median(dur_s(p) for p, _ in passes),
        "key_p50_s": statistics.median(lat),
        "key_tail_s": tail_v,
        "peak_rss_mb": report["peak_rss_mb"],
    }
    out = {"end_to_end": e2e, "key_tail": {"percentile": tail_p, "samples": tail_n},
           "per_pass": [{"pass_s": dur_s(p)} for p, _ in passes], "setups": report["setups"]}
    if not traced:
        return out
    # per-layer values are per-pass means: they keep sub-millisecond
    # resolution where a layer reports whole milliseconds, and they add up
    # across layers the way the passes' wall time does
    per_pass = [tr.layers(ks, cores) for _, ks in passes]
    layers = {name: statistics.fmean(p[name] for p in per_pass)
              for name in PER_LAYER if name != "codegen.setup_compiles"}
    layers["codegen.setup_compiles"] = statistics.median(
        s["compiles"] for s in report["setups"])
    per_key = {}
    for name in keys:
        ks = [k for k in execs if k["name"] == name]
        each = [tr.layers([k], cores) for k in ks]
        per_key[name] = {"latency_s": [dur_s(k) for k in ks],
                         **{m: statistics.median(e[m] for e in each) for m in each[0]}}
    for row, layer in zip(out["per_pass"], per_pass):
        row.update(layer)
    return {**out, "per_layer": layers, "per_key": per_key}


# ----------------------------------------------------------------- main

def git_head():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run(workload, seed, seconds, trace, sf_dir=SF_DIR, warm_dir=WARM_DIR,
        min_executions=MIN_EXECUTIONS):
    """One benchmark run; returns the full result record."""
    for need in (ROOT / "tools" / "compare.py", sf_dir, warm_dir):
        if not need.exists():
            die(f"missing {need}")
    keys = WORKLOADS[workload]
    cores = len(os.sched_getaffinity(0))
    spark = spark_jars()
    classes = build(spark)
    run_dir = BUILD / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    load_before = os.getloadavg()[0]
    try:
        report, spans = run_jvm(spark, classes, keys, seed, seconds, min_executions,
                                trace, cores, sf_dir, warm_dir, run_dir)
        oracle_pass = compare(sf_dir, run_dir / "check", keys)
        load_after = os.getloadavg()[0]
        summary = summarize(report, spans, cores, keys, trace == 1)
    finally:
        keep = BUILD / "last" / f"{workload}-trace{trace}"
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True)
        for f in ("out/report.json", "out/spans.jsonl", "jvm.log"):
            if (run_dir / f).exists():
                shutil.move(str(run_dir / f), str(keep / Path(f).name))
        shutil.rmtree(run_dir, ignore_errors=True)

    # a written key passes when tools/compare.py matched it against DuckDB
    checks = {}
    for k in keys:
        c = report["checks"].get(k, "missing")
        if c == "written":
            c = "pass" if oracle_pass.get(k) else "oracle mismatch"
        checks[k] = c
    execs = [s for s in spans if s["kind"] == "key" and s["parent"] in
             {p["id"] for p in spans if p["kind"] == "pass"}]
    attempted = len(execs)
    failed = sum(1 for k in execs if not k["ok"] or checks[k["name"]] != "pass")
    facts = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": cores, "loadavg_1m_before": load_before,
        "loadavg_1m_after": load_after, "git_head": git_head(),
        "spark_version": report["spark_version"],
        "java_version": report["java_version"], "jvm_args": report["jvm_args"],
        "confs": report["confs"], "setups": SETUPS, "keys": keys,
        "sf_dir": os.path.relpath(sf_dir, ROOT),
    }
    return {"facts": facts, "checks": checks, "attempted": attempted,
            "failed": failed, "fail_frac": failed / attempted, **summary}


def print_table(res):
    f = res["facts"]
    print(f"# perfbench {f['workload']} seed={f['seed']} trace={f['trace']} "
          f"nproc={f['nproc']} load1m={f['loadavg_1m_before']:.2f}->"
          f"{f['loadavg_1m_after']:.2f} head={f['git_head']} "
          f"spark={f['spark_version']} java={f['java_version']} "
          f"codegen.cache.maxEntries={f['confs']['spark.sql.codegen.cache.maxEntries']}")
    t = res["key_tail"]
    print(f"# key_tail_s is p{t['percentile']:.1f} of {t['samples']} key executions; "
          f"{len(res['per_pass'])} timed passes; fail_frac={res['fail_frac']:.4f} "
          f"({res['failed']}/{res['attempted']})")
    for name, unit in END_TO_END.items():
        print(f"{name:30s} {res['end_to_end'][name]:14.4f} {unit}")
    for name, unit in PER_LAYER.items() if "per_layer" in res else ():
        print(f"{name:30s} {res['per_layer'][name]:14.4f} {unit}")
    bad = {k: v for k, v in res["checks"].items() if v != "pass"}
    if bad:
        print(f"# failed checks: {bad}")


def result_line(res, trace):
    """The JSON result: the metrics BENCHMARK.json declares (end-to-end ones
    untraced, per-layer ones traced); the table has every computed metric."""
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    group = "per_layer" if trace else "end_to_end"
    return json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": res[group][m["name"]], "unit": m["unit"]}
                    for m in declared[group]},
    })


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    res = run(a.workload, a.seed, a.seconds, a.trace)
    out = BUILD / "last" / f"{a.workload}-trace{a.trace}" / "result.json"
    out.write_text(json.dumps(res, indent=1))
    print_table(res)
    print(result_line(res, a.trace))


if __name__ == "__main__":
    main()
