#!/usr/bin/env python3
"""graft's benchmark of record.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles graft
(`src/main/scala`) together with the benchmark's own Scala
(`perfbench/scala`) into `.bench_build/`; later runs reuse the classes
while the sources are unchanged. Each run generates its inputs from
`--seed` (perfbench/gen.py), runs one benchmark JVM on the engine's own
session, checks every result (perfbench/check.py) and prints, as its
last line, one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with `--trace 0`, the per-layer
metrics of one traced pass with `--trace 1`. Workloads, metrics and
their layer map are described in perfbench/DESIGN.md.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CPUS = min(3, len(os.sched_getaffinity(0)))
JVM_HEAP = "2g"
RUN_BUDGET_S = 170

# Per-workload settings. Sizes are chosen so that one run (set-up, the
# measured seconds and the checks) stays well inside its time budget on
# a 4-core box; perfbench/DESIGN.md records why each value is what it is.
WORKLOADS = {
    "batch_stream_table": {
        "events": 100_000, "keys": 10_000, "zipf_s": 1.0, "changelog_per_key": 3,
        "span_s": 6 * 3600, "tumble_width": "5 minutes", "session_gap": "30 minutes",
        "join_window_us": 10_000_000, "warm_passes": 5, "min_passes": 3,
    },
    "batch_dedup": {
        "docs": 10_000, "vocab": 5_000, "cluster_share": 0.10, "cluster_size": 5,
        "edit_share": 0.02, "overcap_clusters": 1, "overcap_size": 1_050, "warm_passes": 5, "min_passes": 3,
    },
    "stream_window": {
        "keys": 1_000, "ooo_share": 0.10, "ooo_max_ms": 4_000, "late_share": 0.02,
        "late_min_ms": 15_000, "late_span_ms": 60_000, "watermark": "5 seconds",
        "tumble_width": "10 seconds", "hop_width": "20 seconds", "hop_slide": "10 seconds",
        "rows_per_batch": 20_000, "advance_ms": 1_000, "open_rate": 5_000, "tick_ms": 10,
        "stream_bytes": 8 << 20, "drain_share": 0.4, "warm_batches": 8, "open_warm_s": 1,
        "tail_pct": 75,
    },
    "stream_upsert": {
        "table_keys": 300_000, "groups": 1_000,
        "rows_per_batch": 50_000, "advance_ms": 1_000, "open_rate": 20_000, "tick_ms": 10,
        "stream_bytes": 8 << 20, "drain_share": 0.4, "warm_batches": 8, "open_warm_s": 1,
        "tail_pct": 75,
    },
}

# 2024-01-01T00:00:00Z, the stream's first event time (epoch ms)
T0_MS = gen.T0_US // 1000


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def add_opens():
    """The --add-opens list build.sbt gives every forked JVM."""
    try:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
    except OSError:
        fail("build.sbt not found: run from the root of a graft checkout")
    block = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    if not block:
        fail("build.sbt has no jdk17AddOpens list")
    opens = []
    for pkg in re.findall(r'"([^"]+)"', block.group(1)):
        opens += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return opens


def busy_processes():
    """Other sbt or graft JVMs: a compile under a running JVM kills it
    (classes are loaded lazily from the shared class directories)."""
    mine = set()
    pid = os.getpid()
    while pid > 1:
        mine.add(pid)
        try:
            pid = int(open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            cmd = open(f"/proc/{d}/cmdline", "rb").read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if re.search(r"sbt-launch|xsbt\.boot|sbt\.ForkMain|scala\.tools\.nsc\.Main|graftbench\.Main|\bgraft\.[A-Z]\w*", cmd):
            found.append(f"{d}: {cmd[:120]}")
    return found


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile graft and the benchmark into .bench_build/classes-<hash>."""
    srcs = sources()
    if not any(s.endswith(os.path.join("graft", "Graft.scala")) for s in srcs):
        fail("graft sources (src/main/scala) not found: run from the root of a graft checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "BUILD_OK")):
            return out, 0.0
        for old in os.listdir(BUILD):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
        os.makedirs(out)
        t0 = time.time()
        cp = os.path.join(jars, "*")
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss32m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", out, "-classpath", cp] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            shutil.rmtree(out, ignore_errors=True)
            fail("compile failed")
        open(os.path.join(out, "BUILD_OK"), "w").write("ok\n")
        return out, time.time() - t0


def env_stamp():
    mem = {}
    for line in open("/proc/meminfo"):
        k, v = line.split(":", 1)
        mem[k] = int(v.split()[0]) // 1024
    # cumulative CPU time the hypervisor gave to other guests (/proc/stat
    # "steal", in clock ticks): the difference between the start and end
    # stamps shows a run that shared its cores
    steal = int(open("/proc/stat").readline().split()[8])
    return {"nproc": len(os.sched_getaffinity(0)), "cpus": CPUS,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg": os.getloadavg(), "mem_available_mb": mem.get("MemAvailable"),
            "mem_free_mb": mem.get("MemFree"), "steal_ticks": steal, "time": time.time()}


def run_jvm(classes, jars, run_dir, params, timeout):
    os.makedirs(run_dir)
    scratch = os.path.join(run_dir, "scratch")
    os.makedirs(os.path.join(scratch, "tmp"))
    with open(os.path.join(run_dir, "run.properties"), "w") as f:
        for k, v in params.items():
            f.write(f"{k}={v}\n")
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            # no "Metadata GC Threshold" full collections while Spark loads and
            # generates classes during the measured passes
            "-XX:MetaspaceSize=256m"] + add_opens() + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={scratch}/tmp", f"-Dspark.local.dir={scratch}/spark-local",
        f"-Dspark.sql.warehouse.dir={scratch}/warehouse", f"-Dderby.system.home={scratch}",
        "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
        "graftbench.Main", os.path.join(run_dir, "run.properties")])
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
    log.close()
    res = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        sys.stderr.write(tail)
        return None
    return json.load(open(res))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    stamp_start = env_stamp()

    jars = spark_jars()
    add_opens()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found: run from the root of a graft checkout")
    busy = busy_processes()
    if busy:
        fail("refusing to start while another sbt/graft JVM runs:\n  " + "\n  ".join(busy), 3)
    classes, build_s = build(jars)

    w = args.workload
    cfg = WORKLOADS[w]
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    run_dir = os.path.join(BUILD, "runs", f"{w}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    os.makedirs(input_dir)

    # inputs, outside every timed region
    t0 = time.time()
    if w == "batch_stream_table":
        gen.gen_batch_stream_table(input_dir, args.seed, cfg["events"], cfg["keys"],
                                   cfg["changelog_per_key"], cfg["span_s"], cfg["zipf_s"])
    elif w == "batch_dedup":
        gen.gen_documents(input_dir, args.seed, cfg["docs"], cfg["vocab"], cfg["cluster_share"],
                          cfg["cluster_size"], cfg["edit_share"], cfg["overcap_clusters"],
                          cfg["overcap_size"])
    gen_s = time.time() - t0

    params = dict(cfg, workload=w, seed=args.seed, seconds=args.seconds, trace=args.trace,
                  cpus=CPUS, input=input_dir, salt=gen.stream_salt(args.seed), t0_ms=T0_MS)
    if w == "batch_stream_table":
        params["changelog_rows"] = cfg["keys"] * cfg["changelog_per_key"]
    jvm_dir = os.path.join(run_dir, "jvm")
    t_jvm = time.time()
    res = run_jvm(classes, jars, jvm_dir, params, RUN_BUDGET_S - (time.time() - t_start))
    attempted, failed = 1, 1
    checks = []
    metrics = {}
    if res is not None:
        attempted, failed = res["attempted"], res["failed"]
        checks = check.run(w, input_dir, jvm_dir, params)
        single = None
        if args.trace and w == "batch_stream_table":
            # single-core baseline of the same pass (its own JVM: one SparkContext per JVM)
            sp = dict(params, cpus=1, seconds=0, warm_passes=0, min_passes=1, trace=0)
            single = run_jvm(classes, jars, os.path.join(run_dir, "single"), sp,
                             RUN_BUDGET_S - (time.time() - t_start))
            if single is None:
                attempted, failed = attempted + 1, failed + 1
            else:
                checks += check.run(w, input_dir, os.path.join(run_dir, "single"), params)
        attempted += len(checks)
        failed += sum(1 for c in checks if not c["ok"])
        # set-up: input generation, JVM + session start, warm-up pass
        jvm_start_s = res["details"]["session_s"]
        setup_s = gen_s + jvm_start_s + res["details"]["warmup_s"]
        if args.trace:
            metrics = check.layer_metrics(w, jvm_dir, res, checks, single, bench)
        else:
            e2e = dict(res["end_to_end"], setup_s=setup_s, peak_rss_mb=res["details"]["peak_rss_mb"])
            metrics = {m["name"]: {"value": e2e.get(m["name"]), "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        detail = {"workload": w, "seed": args.seed, "trace": args.trace, "build_s": build_s,
                  "gen_s": gen_s, "jvm_wall_s": time.time() - t_jvm, "details": res["details"],
                  "checks": checks, "env_start": stamp_start, "env_end": env_stamp()}
        print(json.dumps(detail, default=str))
    ok = res is not None and failed == 0 and all(
        isinstance(v["value"], (int, float)) and math.isfinite(v["value"]) for v in metrics.values())
    # keep the small artifacts of the latest run per workload (logs,
    # results, spans, batch lists); inputs and outputs go
    for d in (input_dir, jvm_dir, os.path.join(run_dir, "single")):
        for big in ("scratch", "check"):
            shutil.rmtree(os.path.join(d, big), ignore_errors=True)
    shutil.rmtree(input_dir, ignore_errors=True)
    last = os.path.join(BUILD, "last", f"{w}-t{args.trace}")
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(os.path.dirname(last), exist_ok=True)
    os.replace(run_dir, last)
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
