#!/usr/bin/env python3
"""graft benchmark: runs one named workload against graft's public entry
points and prints its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload NAME --seed N --seconds S --repeat K

Run it from the root of a checkout. The first run builds the program (with
its own build, into target/) and the harness (into .bench_build/) from
source with sbt; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from --seed, starts one JVM
(local[N], N = nproc, shuffle partitions = N), runs untimed warm-up
passes, then times passes for about --seconds (a number of passes fixed
by --seconds alone), and checks the outputs for correctness after the
JVM ends. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. --repeat K runs the workload K times on the same seed and
prints each metric's median, quartiles and relative IQR, flagging any IQR
above the metric's bound in BENCHMARK.json; run it again with another
seed to show the figures are steady on that one too.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402

# Workload membership is frozen here by name; it is never re-derived from
# timings. streaming_gates is a fixed subset of the seven streaming gates,
# sized so a warm pass takes about 3.3 s at QUERY_SF on 4 cores and a
# whole run fits its share of the time budget for all runs of the
# benchmark. Its jobs go through SparkEntry, Catalyst and the scheduler,
# so the entry.*, catalyst.* and sched.* layers are measured there too.
# Three gates of distinct speeds put the median job inside the middle
# one's samples; with two, job_p50_s fell between the slowest run of the
# faster gate and the fastest run of the slower one.
WORKLOADS = {
    "maef_pipeline": None,
    # attribution over a staged file stream, session-window state,
    # watermarked window state
    "streaming_gates": ["q34_stream_attribution", "q55_stream_sessionize", "q64_stream_window"],
}

# Layer times that read exactly 0.0 on every run of a workload that does
# not use the layer (no SparkEntry call and no stream in a maef job, no
# maef step in a query job, no fetch wait in local mode). They are
# printed with the other layer metrics but kept out of the result line,
# whose times must be measured values.
LAYER_TIMES_NOT_ON_EVERY_WORKLOAD = {
    "entry.construct_s", "exec.gc_s", "shuffle.fetch_wait_s",
    "maef.copy_verify_s", "maef.transform_s", "maef.chunk_s", "maef.attribute_s",
    "maef.load_s", "maef.report_s", "maef.sink_s", "sources.upsert_s",
    "streaming.staging_s", "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.commit_offsets_s", "streaming.state_commit_s"}

QUERY_SF = 0.01
MAEF_USERS = 8_000
# Untimed passes before the timed ones. The first runs cold (10-17 s);
# the next ones measured 15-30% slower than the later ones. A maef
# warm-up pass is a whole window, so it gets one fewer.
WARMUPS = {"maef_pipeline": 2, "streaming_gates": 3}
# Seconds a warm pass took at the commit that added the benchmark, on 4
# cores. A run times round(--seconds / this) passes, at least three (a
# traced run two more: A B B A A ...). The count never depends on the
# measured speed: passes keep getting faster through a run as the JIT
# warms up, and maef windows upsert into a table that grows, so a count
# that rose with speed would move the medians to later passes.
PASS_S = {"maef_pipeline": 4.5, "streaming_gates": 3.3}
MAEF_WINDOW_DAYS = 30
XMX = "1g"  # fixed heap: peak RSS varied by 20% with a growing one
JVM_TIMEOUT_S = 160


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def jvm_opts():
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    out = []
    for p in opens:
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return out + [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={BUILD}/run/tmp",
                  f"-Dderby.stream.error.file={BUILD}/run/derby.log"]


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src/main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project/build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program + harness when the sources changed; returns the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
                       + f" -Djava.io.tmpdir={BUILD}/tmp")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def git_state():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                              text=True, timeout=60).stdout
    except (OSError, subprocess.SubprocessError):
        return None


def isolated(before):
    """True unless the checkout is a git repository whose status changed."""
    return before is None or git_state() == before


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=30)
        return r.stdout.strip() or "not a git checkout"
    except (OSError, subprocess.SubprocessError):
        return "not a git checkout"


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, p):
    """Linear-interpolation percentile; p=50 is the median."""
    s = sorted(xs)
    r = p / 100.0 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def tail_percentile(xs):
    """Highest of the standard percentiles with >= 10 samples beyond it."""
    best = 50.0
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        if len(xs) * (1 - p / 100.0) >= 10:
            best = p
    return best, percentile(xs, best)


def generate(workload, seed, data_dir):
    """Generates the workload's inputs; returns {table: rows}, bytes, seconds."""
    t = time.time()
    if workload == "maef_pipeline":
        rows = gen.maef_tables(data_dir, seed, MAEF_USERS)
    else:
        rows = gen.query_tables(data_dir, seed, QUERY_SF)
    return rows, gen.dir_bytes(data_dir), time.time() - t


def run_once(workload, seed, seconds, trace, cp):
    members = WORKLOADS[workload]
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    for d in (data_dir, out_dir, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    t_setup0 = time.time()
    rows, in_bytes, gen_s = generate(workload, seed, data_dir)
    passes = max(3, round(seconds / PASS_S[workload]))
    warmups = WARMUPS[workload]
    args = [f"workload={workload}", f"seed={seed}", f"warmups={warmups}", f"passes={passes}",
            f"trace={trace}", f"data={data_dir}", f"out={out_dir}", f"run={run_dir}"]
    # every pass reads each generated table (a maef window copies all three)
    pass_rows = sum(rows.values())
    windows = []
    if workload == "maef_pipeline":
        # the untraced run's windows are the first of the traced run's
        windows = gen.windows(seed, warmups + passes + 2, MAEF_WINDOW_DAYS)
        windows = windows[:warmups + passes + (2 if trace else 0)]
        args.append("windows=" + ",".join(f"{s}:{e}" for s, e in windows))
    else:
        args.append("jobs=" + ",".join(members))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    t_launch = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(["java"] + jvm_opts() + ["-cp", cp, "perfbench.BenchMain"] + args,
                             stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             env=env, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    res_file = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        die(f"benchmark JVM failed ({rc})", 1)
    r = json.load(open(res_file))

    # setup: generation, JVM + SparkSession, warm-up passes, up to the
    # first timed job
    setup_s = r["first_timed_ms"] / 1e3 - t_setup0
    timed = [j for j in r["jobs"] if j["pass"] >= 0]
    by_pass = {}
    for j in timed:
        by_pass.setdefault(j["pass"], []).append(j)
    traced = {p["pass"]: p["traced"] for p in r["passes"]}
    untraced_walls = [sum(j["lat_s"] for j in js) for p, js in by_pass.items() if not traced[p]]
    traced_walls = [sum(j["lat_s"] for j in js) for p, js in by_pass.items() if traced[p]]
    lat = [j["lat_s"] for j in timed if not traced[j["pass"]]]
    if workload == "maef_pipeline":
        disk = [js[-1]["left_bytes"] for p, js in by_pass.items() if not traced[p]]
    else:
        disk = [sum(j["left_bytes"] for j in js) for p, js in by_pass.items() if not traced[p]]
    wall = median(untraced_walls)
    tail_p, tail = tail_percentile(lat)

    t_check = time.time()
    check = verify.check(workload, data_dir, out_dir, os.path.join(BUILD, "expected"))
    check_s = time.time() - t_check
    failed_jobs = sum(1 for j in timed if not j["ok"])
    warm_failed = [j for j in r["jobs"] if j["pass"] < 0 and not j["ok"]]
    failed = failed_jobs + len(check["failed"]) + len(warm_failed)
    attempted = len(timed) + len(check["checked"])

    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (pass_rows / wall, "1/s"),
        "job_p50_s": (median(lat), "s"),
        "job_tail_s": (tail, "s"),
        "peak_rss_mb": (r["vm_hwm_kb"] / 1024.0, "MB"),
        "disk_mb": (median(disk) / (1024.0 * 1024.0), "MB"),
    }
    layers = dict(r["layers"])
    if trace:
        layers["trace.overhead_s"] = median(traced_walls) - wall
        layers["trace.overhead_frac"] = (median(traced_walls) - wall) / wall
    info = {
        "workload": workload, "seed": seed, "trace": trace,
        "env": dict(r["env"], git_commit=git_commit(), seed=seed, xmx=XMX,
                    python=sys.version.split()[0]),
        "membership": [f"{s}:{e}" for s, e in windows] if workload == "maef_pipeline" else members,
        "input_rows": rows, "input_bytes": in_bytes, "pass_rows": pass_rows,
        "passes": len(untraced_walls), "traced_passes": len(traced_walls),
        "job_samples": len(lat), "job_tail_percentile": tail_p,
        "fail_frac": failed / attempted,
        "job_errors": [f"{j['name']}: {j['error']}" for j in r["jobs"] if not j["ok"]][:10],
        "check_failed": check["failed"][:10], "checked": len(check["checked"]),
        "check_s": round(check_s, 3), "gen_s": round(gen_s, 3),
        "jvm_start_s": round(r["session_ready_ms"] / 1e3 - t_launch, 3),
        "warmup_s": round((r["first_timed_ms"] - r["session_ready_ms"]) / 1e3, 3),
        "pass_walls": [round(w, 3) for w in untraced_walls],
    }
    return e2e, layers, info, failed, attempted


def share_report(workload, layers):
    """Whether the traced layer shares match the workload's stated purpose."""
    if workload == "streaming_gates":
        v = layers.get("share.streaming", 0.0)
        return {"claim": "streaming staging + runs > 50% of job time", "share": v, "holds": v > 0.5}
    v = layers.get("share.maef_spans", 0.0)
    return {"claim": "maef.* spans cover >= 90% of job time", "share": v, "holds": v >= 0.9}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=1)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        die("no graft sources under ./src; run from the root of a graft checkout")
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; choose from {', '.join(WORKLOADS)}")
    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        die("another benchmark instance is running in this checkout", 3)
    before = git_state()
    cp = build()

    if a.repeat > 1:
        repeat(a, cp, before)
        return
    e2e, layers, info, failed, attempted = run_once(a.workload, a.seed, a.seconds, a.trace, cp)
    if not isolated(before):
        failed += 1
        info["isolation"] = "FAILED: the run changed the git status of the checkout"
    if a.trace:
        info["layers"] = layers
    print(json.dumps(info, sort_keys=True))
    for k, (v, u) in e2e.items():
        print(f"{k:14s} {v:14.4f} {u}")
    print(f"{'fail_frac':14s} {info['fail_frac']:14.4f} ratio")
    print(f"job_tail_s is p{info['job_tail_percentile']:g} of {info['job_samples']} job samples")
    if a.trace:
        for k in sorted(layers):
            print(f"  {k:28s} {layers[k]:.4f}")
        print("layer shares:", json.dumps(share_report(a.workload, layers)))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()
                   if k not in LAYER_TIMES_NOT_ON_EVERY_WORKLOAD}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    tail = name.rsplit(".", 1)[-1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if tail in ("busy_frac", "skew", "overhead_frac") or name.startswith("share."):
        return "ratio"
    return "count"


def repeat(a, cp, before):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    rows = {}
    total_failed = total_attempted = 0
    for i in range(a.repeat):
        e2e, _, info, failed, attempted = run_once(a.workload, a.seed, a.seconds, 0, cp)
        if not isolated(before):
            failed += 1
            print("isolation FAILED: the run changed the git status of the checkout")
        total_failed += failed
        total_attempted += attempted
        print(f"run {i + 1} seed {a.seed}: " + " ".join(f"{k}={v:.4f}" for k, (v, _) in e2e.items())
              + f" failed={failed} pass_walls={info['pass_walls']} warmup_s={info['warmup_s']}",
              flush=True)
        for k, (v, u) in e2e.items():
            rows.setdefault(k, ([], u))[0].append(v)
    summary = {}
    for k, (vs, u) in rows.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        rel = (q3 - q1) / q2
        bound = bounds[k]
        flag = ("" if k == "setup_s" or rel <= bound / 3 else
                "  above a third of the bound" if rel <= bound else "  OUTSIDE BOUND")
        print(f"{k:14s} median={q2:.4f} q1={q1:.4f} q3={q3:.4f} rel_iqr={rel:.4f} "
              f"bound={bound}{flag}")
        summary[k] = {"value": q2, "unit": u}
    print(json.dumps({"correct": total_failed == 0, "attempted": total_attempted,
                      "failed": total_failed, "metrics": summary}))


if __name__ == "__main__":
    main()
