#!/usr/bin/env python3
"""The repo benchmark: one seeded, oracle-checked workload per run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload refq|mixed|refq_all|curate|ingest --seed N \
      --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the ops in one local
Spark JVM (perfbench.Runner), checks every op's output in DuckDB, and
prints a table of metrics followed, as its last line, by one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. See README.md.
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
sys.path.insert(0, HERE)
# the benchmark builds the engine and reuses the repo's tools
for need in (os.path.join("src", "main", "scala", "graft"), "tools"):
    if not os.path.isdir(os.path.join(ROOT, need)):
        sys.exit(f"perfbench: no {need} under {ROOT}; run from a checkout")

import gen  # noqa: E402
import oracle  # noqa: E402
import spans as spantree  # noqa: E402
import workloads as wl  # noqa: E402

SETUPS = 3          # set-ups per run; setup_s is their median
MIN_PASSES = 2      # warm passes per run, however short --seconds is
# A traced run makes four: a warm-up, then untraced, traced, untraced, so
# the tracing overhead is not confounded with JIT warm-up.
TRACE_PASSES = 4
JVM_TIMEOUT = 160   # seconds for the benchmark JVM
BUILD_TIMEOUT = 840
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout.
    Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if sys.exc_info()[0] is subprocess.TimeoutExpired:
            return None
        raise


# -- build -----------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    roots += [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness when the sources changed; returns the
    runtime classpath."""
    target = os.path.join(HERE, "target")
    stamp, cp = os.path.join(target, "perfbench.stamp"), os.path.join(target, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp) and open(stamp).read() == digest:
        return open(cp).read().strip()
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(target, "build.log"), "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "writeClasspath"], BUILD_TIMEOUT,
                         cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp):
        die(f"build failed (exit {rc}); see {os.path.join(target, 'build.log')}")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp).read().strip()


# -- statistics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """p-th percentile, linear between closest ranks."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    i = int(k)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (k - i)


# -- one run ----------------------------------------------------------------

def generate_inputs(work, seed, w):
    """Generates the inputs SETUPS times; every copy must be byte-identical.
    Returns (data dir, generation times)."""
    times, digests = [], []
    for k in range(SETUPS):
        d = os.path.join(work, f"gen{k}")
        t0 = time.perf_counter()
        info = gen.generate(d, seed, w["star"], w["text"])
        times.append(time.perf_counter() - t0)
        digests.append(info["sha256"])
        if k:
            shutil.rmtree(os.path.join(work, f"gen{k - 1}"))
    if any(d != digests[0] for d in digests):
        die("input generation is not deterministic")
    data = os.path.join(work, "data")
    os.rename(os.path.join(work, f"gen{SETUPS - 1}"), data)
    return data, times, info["copies"]


def clean_env(work):
    """The child environment: every inherited SPARK_GRAFT_* override is
    removed; the stream scratch dir is pinned inside the work dir."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    dropped = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    stream_tmp = os.path.join(work, "stream_tmp")
    os.makedirs(stream_tmp, exist_ok=True)
    env["SPARK_GRAFT_STREAM_TMP"] = stream_tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    return env, dropped


def run_jvm(cp, work, data, w, args, cpus):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    env, dropped = clean_env(work)
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Runner",
              f"data={data}", f"work={work}", f"out={out}",
              "ops=" + ",".join(f"{o}:{wl.module_of(o)}" for o in w["ops"]),
              "fixtures=" + ",".join(w["fixtures"]),
              f"seconds={args.seconds}", f"minPasses={TRACE_PASSES if args.trace else MIN_PASSES}", f"trace={args.trace}",
              f"setups={SETUPS}", f"cpus={cpus}"])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        rc = run_bounded(cmd, JVM_TIMEOUT, env=env, stdout=logf,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-2000:]
        die(f"benchmark JVM failed (exit {rc}):\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["launch_s"] = res["main_epoch_ms"] / 1e3 - t0
    res["dropped_env"] = dropped
    return res


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def op_latency(o):
    return o["build_s"] + o["sink_s"]


def op_medians(untraced):
    """{op: median latency over the untraced warm passes}"""
    lat = {}
    for p in untraced:
        for o in p["ops"]:
            lat.setdefault(o["name"], []).append(op_latency(o))
    return {n: median(xs) for n, xs in lat.items()}


def end_to_end(res, gen_times, untraced):
    return {
        "setup_s": median(gen_times) + res["launch_s"]
                   + median([s["setup_s"] for s in res["setups"]]),
        "cold_s": res["cold"]["wall_s"],
        "pass_s": median([p["wall_s"] for p in untraced]),
        "op_geomean_s": statistics.geometric_mean(op_medians(untraced).values()),
        "cpu_s": median([p["cpu_s"] for p in untraced]),
    }


def per_layer(res, span_list, cores, fail_ratio):
    """Per-layer metrics: medians over the traced warm passes."""
    traced = [p for p in res["warm"] if p["traced"]]
    untraced = [p for p in res["warm"] if not p["traced"]]
    pass_spans = {s["name"]: s["id"] for s in span_list if s["kind"] == "pass"}
    rows = []
    for p in traced:
        m = {}
        for o in p["ops"]:
            for k, v in o["counters"].items():
                m[k] = m.get(k, 0.0) + v
            mod = o["module"]
            if mod in wl.MODULES:
                m[f"{mod}.build_s"] = m.get(f"{mod}.build_s", 0.0) + o["build_s"]
                m[f"{mod}.sink_s"] = m.get(f"{mod}.sink_s", 0.0) + o["sink_s"]
                m[f"{mod}.jobs"] = m.get(f"{mod}.jobs", 0.0) + o["counters"].get("exec.jobs", 0.0)
            if mod == "sources":
                m["sources.etl_s"] = m.get("sources.etl_s", 0.0) + op_latency(o)
            m[f"op.{o['name']}.s"] = op_latency(o)
        wall = p["wall_s"]
        planner = sum(m.get(f"planner.{k}_s", 0.0) for k in ("analysis", "optimization", "planning"))
        m["planner.share"] = planner / wall
        ivals = [tuple(t) for o in p["ops"] for t in o["task_intervals"]]
        pid = pass_spans[f"warm {p['pass_no']}"]
        pspan = next(s for s in span_list if s["id"] == pid)
        busy = spantree.covered(ivals, pspan["startMs"], pspan["endMs"]) / 1e3
        m["exec.driver_only_s"] = max(0.0, wall - busy)
        m["exec.busy_share"] = m.get("exec.task_run_s", 0.0) / (wall * cores)
        m["exec.task_cpu_share"] = m.get("exec.task_cpu_s", 0.0) / wall
        batches = [b for o in p["ops"] for b in o["batch_ms"]]
        m["streaming.batch_p50_ms"] = pct(batches, 50)
        m["streaming.batch_p90_ms"] = pct(batches, 90)
        m["streaming.state_rows"] = sum(o["state_rows"] for o in p["ops"])
        m["streaming.state_mem_mb"] = sum(o["state_mem_mb"] for o in p["ops"])
        m["jvm.gc_s"] = p["gc_s"]
        m["jvm.jit_s"] = p["jit_s"]
        m["jvm.heap_peak_mb"] = p["heap_peak_mb"]
        for layer, v in spantree.layer_self_s(span_list, pid).items():
            m[f"{layer}.self_s"] = v
        m["trace.spans"] = len(spantree.subtree(span_list, pid))
        rows.append(m)
    out = {}
    for name, _, _ in wl.PER_LAYER:
        out[name] = median([r.get(name, 0.0) for r in rows])
    out["sources.fixture_s"] = median([sum(s["fixtures"].values()) for s in res["setups"]])
    out["jvm.jit_cold_s"] = res["cold"]["jit_s"]
    out["jvm.rss_peak_mb"] = res["peak_rss_mb"]
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                               - median([p["wall_s"] for p in untraced[1:]]))
    out["fail_ratio"] = fail_ratio
    # latency of one op over the untraced warm op executions; 12 to 24
    # samples per run, too few to repeat within a tenth between runs
    lat = [op_latency(o) for p in untraced for o in p["ops"]]
    out["op_p50_s"] = pct(lat, 50)
    out["op_p90_s"] = pct(lat, 90)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    w = wl.WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))

    cp = build()
    t_start = time.time()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data, gen_times, copies = generate_inputs(work, args.seed, w)
    res = run_jvm(cp, work, data, w, args, cpus)

    # correctness: every op execution that threw, plus every op whose
    # verified output differs from its oracle
    checks = oracle.check_all(data, res["verify_dir"], res["cold"]["ops"],
                              res["oracle_sql"], res["etl_outputs"],
                              res["csv_lineitem"])
    runs = [o for p in [res["cold"]] + res["warm"] for o in p["ops"]]
    attempted = len(runs)
    failed = (sum(not o["ok"] for o in runs)
              + sum(v is not None for v in checks.values()))
    for name, why in checks.items():
        if why is not None:
            log(f"oracle mismatch {name}: {why}")
    if res["undeclared_fixtures"]:
        log(f"ops built fixtures outside set-up: {res['undeclared_fixtures']}")

    untraced = [p for p in res["warm"] if not p["traced"]]
    log(f"workload={args.workload} seed={args.seed} copies={copies} cores={cpus} "
        f"spark={res['spark_version']} java={res['java_version']} commit={commit()} "
        f"dropped_env={res['dropped_env'] or 'none'} "
        f"warm_passes={len(res['warm'])} "
        f"op_samples={sum(len(p['ops']) for p in untraced)} "
        f"wall={time.time() - t_start:.1f}s")
    for name, v in op_medians(untraced).items():
        print(f"op {name:28s} median {v:8.4f} s  oracle "
              f"{'ok' if checks.get(name) is None else 'MISMATCH'}")
    if args.trace:
        with open(os.path.join(work, "result.json.spans.json")) as f:
            span_list = json.load(f)
        problems = spantree.check_tree(span_list)
        if problems:
            die("malformed span tree: " + "; ".join(problems[:3]))
        metrics = per_layer(res, span_list, cpus, failed / attempted)
        declared = [(n, u) for n, u, _ in wl.PER_LAYER]
        with open(os.path.join(work, "trace_summary.json"), "w") as f:
            json.dump({"metrics": metrics, "ops": res["warm"]}, f)
    else:
        metrics = end_to_end(res, gen_times, untraced)
        declared = [(n, u) for n, u, _, _ in wl.END_TO_END]
    for name, unit in declared:
        print(f"{name:32s} {metrics[name]:14.6f} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in declared}}))


if __name__ == "__main__":
    main()
