#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft (with the
repository's own build) and the benchmark harness from source with sbt
(offline) and caches the classpath under `.bench_build/perfbench`; later
runs reuse it while the sources and build files are unchanged. Each run then starts one JVM
(`perfbench.Main`), which generates the workload's inputs from the seed
in a fresh scratch directory, runs whole passes of the workload's ops for
`--seconds`, and dumps outputs. This script checks those outputs with
DuckDB (`outputs.py`), prints every metric with its unit, and ends with
one JSON line: end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`. The scratch directory is deleted on exit.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("lakehouse_cdc", "corpus_dedup")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# per-layer metric -> (unit, end-to-end metric it should move, workloads)
LAYERS = {
    "session.build_s": ("s", "setup_s", "all"),
    "session.warmup_s": ("s", "setup_s", "all"),
    "sources.read_s": ("s", "op_p50_s, run_s / read_p50_s", "corpus_dedup / lakehouse_cdc"),
    "sources.slices_opened": ("count", "read_p50_s", "lakehouse_cdc"),
    "sources.prune_ratio": ("ratio", "read_p50_s", "lakehouse_cdc"),
    "plans.plan_s": ("s", "op_p50_s / read_p50_s", "corpus_dedup / lakehouse_cdc"),
    "plans.exchanges": ("count", "op_p50_s, run_s", "corpus_dedup"),
    "operators.build_s": ("s", "op_tail_s, run_s", "corpus_dedup"),
    "operators.eager_jobs": ("count", "op_tail_s, run_s", "corpus_dedup"),
    "functions.kernel_s": ("s", "op_p50_s", "corpus_dedup"),
    "VersionedTable.merge_s": ("s", "write_p50_s", "lakehouse_cdc"),
    "VersionedTable.update_s": ("s", "write_p50_s", "lakehouse_cdc"),
    "VersionedTable.delete_s": ("s", "write_p50_s", "lakehouse_cdc"),
    "VersionedTable.stream_merge_s": ("s", "write_p50_s", "lakehouse_cdc"),
    "VersionedTable.snapshot_s": ("s", "read_p50_s, write_p50_s", "lakehouse_cdc"),
    "VersionedTable.files_written": ("count", "write_amp, write_p50_s", "lakehouse_cdc"),
    "VersionedTable.bytes_written": ("bytes", "write_amp, write_p50_s", "lakehouse_cdc"),
    "VersionedTable.rewrite_ratio": ("ratio", "write_amp, write_p50_s", "lakehouse_cdc"),
    "VersionedTable.live_files": ("count", "space_amp, read_p50_s", "lakehouse_cdc"),
    "streaming.batches": ("count", "write_p50_s", "lakehouse_cdc"),
    "streaming.start_s": ("s", "write_p50_s", "lakehouse_cdc"),
    "streaming.batch_s": ("s", "write_p50_s", "lakehouse_cdc"),
    "streaming.add_batch_s": ("s", "write_p50_s", "lakehouse_cdc"),
    "streaming.overhead_s": ("s", "write_p50_s", "lakehouse_cdc"),
    "spark.jobs": ("count", "write_p50_s / run_s", "lakehouse_cdc / corpus_dedup"),
    "spark.stages": ("count", "write_p50_s / run_s", "lakehouse_cdc / corpus_dedup"),
    "spark.tasks": ("count", "write_p50_s / run_s", "lakehouse_cdc / corpus_dedup"),
    "spark.failed_tasks": ("count", "write_p50_s / run_s", "lakehouse_cdc / corpus_dedup"),
    "spark.job_s": ("s", "op_p50_s, run_s", "corpus_dedup"),
    "spark.task_s": ("s", "op_p50_s, run_s", "corpus_dedup"),
    "spark.cpu_s": ("s", "op_p50_s, run_s", "corpus_dedup"),
    "spark.gc_s": ("s", "op_p50_s, run_s", "corpus_dedup"),
    "spark.task_deser_s": ("s", "op_p50_s, run_s", "corpus_dedup"),
    "spark.shuffle_write_bytes": ("bytes", "op_p50_s, run_s", "corpus_dedup"),
    "spark.shuffle_read_bytes": ("bytes", "op_p50_s, run_s", "corpus_dedup"),
    "spark.spill_bytes": ("bytes", "op_p50_s, run_s", "corpus_dedup"),
    "spark.input_bytes": ("bytes", "op_p50_s, run_s", "corpus_dedup"),
    "spark.input_records": ("count", "op_p50_s, run_s", "corpus_dedup"),
    "spark.cached_blocks": ("count", "peak_rss_mb", "all"),
    "jvm.live_heap_mb": ("MB", "peak_rss_mb", "all"),
    "driver.gap_s": ("s", "write_p50_s", "lakehouse_cdc"),
    "driver.gap_share": ("ratio", "write_p50_s", "lakehouse_cdc"),
    "trace.overhead_ratio": ("ratio", "(tracing cost itself)", "all"),
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile graft and the harness (cached by source hash); return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "sources.sha256"), os.path.join(BUILD, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("perfbench: building graft and the benchmark harness with sbt ...")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def run_jvm(cp, args, work):
    cmd = (["java", "-Xmx2560m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
              "--out", os.path.join(work, "result.json")])
    if args.trace:  # the latest traced run's spans, one file per workload
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        cmd += ["--spans", os.path.join(BUILD, "traces", f"{args.workload}.json")]
    env = dict(os.environ, SPARK_GRAFT_CACHE_DIR=os.path.join(work, "cache"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def tail(lat):
    """Latency at the highest whole percentile with >= 10 samples beyond
    it (p50 when there are fewer than 20 samples), interpolated between
    the neighbouring samples."""
    n = len(lat)
    p = max(50, math.floor(100 * (1 - 10 / n)))
    value = statistics.quantiles(lat, n=100, method="inclusive")[p - 1] if n > 1 else lat[0]
    return value, p, n - math.ceil(p / 100 * n)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    # a terminated run still unwinds through the `finally` blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(BUILD, exist_ok=True)
    for d in os.listdir(BUILD):  # scratch left by a run that was killed
        if d.startswith("run-") and not pid_alive(int(d[4:])):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work)
        t0 = time.time()
        import outputs
        failed, msgs = outputs.failures(res, work)
        check_s = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    for m in msgs[:20]:
        print(m)
    for i in sorted(failed)[:20]:
        o = ops[i]
        print(f"[FAILED OP] {o['name']} (pass {o['pass']}){': ' + o['error'] if o['error'] else ''}")
    attempted, nfailed = len(ops), len(failed)
    cal = res["calibration_s"]
    print(f"workload {res['workload']} seed {res['seed']} cores {res['cores']} "
          f"passes {len(res['passes'])} ops {attempted} check {check_s:.1f}s")
    print(f"host-stall anchor: calibration job {cal['before']:.3f}s before, {cal['after']:.3f}s after; "
          f"{100 * res['steal_share']:.1f}% of the machine's CPU time stolen during the timed phase")
    print(f"sizes: {json.dumps({k: v for k, v in res['facts'].items() if not isinstance(v, (list, dict))})}")

    untimed = [o for o in ops if not o["traced"]]  # traced passes carry tracing cost
    by_op = {}
    for o in untimed:
        by_op.setdefault(o["name"], []).append(o["latency_s"])
    print("op latency (median s x count): " + ", ".join(
        f"{k} {statistics.median(v):.3f}x{len(v)}" for k, v in by_op.items()))
    print("setup repetitions (s): " + ", ".join(f"{x:.2f}" for x in res["setup_reps_s"])
          + f"; session build {res['session_build_s']:.2f}s"
          + f"; warm-up pass {res['warmup_pass_s']:.2f}s")
    print("pass wall (s): " + ", ".join(
        f"{p['wall_s']:.2f}{'T' if p['traced'] else ''}" for p in res["passes"]))
    e2e = {"setup_s": (res["setup_s"], "s"), "run_s": (res["run_s"], "s")}
    lat = [o["latency_s"] for o in untimed]
    e2e["op_p50_s"] = (statistics.median(lat), "s")
    t, p, beyond = tail(lat)
    e2e["op_tail_s"] = (t, "s")
    tails = {"op_tail_s": (p, beyond)}
    if res["workload"] == "lakehouse_cdc":
        for kind in ("write", "read"):
            kl = [o["latency_s"] for o in untimed if o["kind"] == kind]
            e2e[f"{kind}_p50_s"] = (statistics.median(kl), "s")
            t, p, beyond = tail(kl)
            e2e[f"{kind}_tail_s"] = (t, "s")
            tails[f"{kind}_tail_s"] = (p, beyond)
        e2e["write_amp"] = (res["facts"]["write_amp"], "ratio")
        e2e["space_amp"] = (res["facts"]["space_amp"], "ratio")
    e2e["error_rate"] = (nfailed / attempted, "ratio")
    e2e["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    e2e["live_heap_mb"] = (res["live_heap_mb"], "MB")
    if not args.trace:
        for k, (v, u) in e2e.items():
            note = f"  (p{tails[k][0]}, {tails[k][1]} samples beyond)" if k in tails else ""
            print(f"{k:>14} = {v:.6g} {u}{note}")
        # gated in BENCHMARK.json. The rest are 0 or undefined on some
        # workload; or, for op_p50_s and op_tail_s, the latency of
        # whichever of nine unlike ops sits in the middle; or, for the
        # memory figures, spread across runs by heap growth and GC timing
        gated = ("setup_s", "run_s")
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in gated}
    else:
        layers = res["layers"]
        print(f"{'per-layer metric':<32}{'value':>16}  unit   should move (workload)")
        for k, (u, moves, where) in LAYERS.items():
            print(f"{k:<32}{layers.get(k, 0.0):>16.6g}  {u:<6} {moves} ({where})")
        print("self time per traced pass (s): " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(res["self_s_per_pass"].items(), key=lambda kv: -kv[1])))
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, (u, _, _) in LAYERS.items()}
    print(json.dumps({"correct": nfailed == 0 and not msgs, "attempted": attempted,
                      "failed": nfailed, "metrics": metrics}))


if __name__ == "__main__":
    main()
