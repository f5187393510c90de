#!/usr/bin/env python3
"""flowbench: one run of one workload of the flowspark benchmark.

    python3 flowbench/run.py --workload <relay|curate> \
        --seed N --seconds S --trace 0|1

Run from the root of a flowspark checkout. The first run builds the
engine and the benchmark from the checkout's sources (sbt, offline) into
the build directory ($CARGO_TARGET_DIR, default .bench_build); later runs
reuse the build while the sources are unchanged. Each run makes its
inputs from the seed in a fresh work directory, starts the engine in a
fresh JVM (SPARK_GRAFT_CPUS defaults to nproc), checks the outputs, and
deletes the work directory. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding every end_to_end metric of BENCHMARK.json untraced, and every
per_layer metric with --trace 1. A traced run also keeps its spans in
<build>/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Workload sizes (flowbench/README.md gives the basis of each). The
# relay's offered load must exceed the receiver's default channel
# capacity (65,536 messages) within each pipeline lifetime.
RELAY = dict(heap="2g", lifetimes=3, burst=40000, rate=5000.0, rate_start_s=3.0,
             rate_s=6.0, connections=min(4, os.cpu_count() or 1),
             drain_s=8.0, warm_burst=40000, warm_drain_s=60.0)
CURATE = dict(heap="3g", docs=2400, warm_docs=50, files=12, setup_reps=3)

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("[flowbench] %s" % msg, file=sys.stderr, flush=True)


class Failed(Exception):
    pass


# ---- build ---------------------------------------------------------------

def _source_hash():
    h = hashlib.sha256()
    for base in ("src/main", "project", "flowbench/src", "flowbench/project"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            # build outputs are not sources; sorting in place fixes the order
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", "flowbench/build.sbt"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile engine + benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise Failed("no flowspark sources next to the benchmark (run from "
                     "the root of a checkout)")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = _source_hash()
        cp_file = os.path.join(build_dir, "classpath.txt")
        hash_file = os.path.join(build_dir, "source.hash")
        if os.path.exists(cp_file) and os.path.exists(hash_file) and \
                open(hash_file).read() == digest:
            return open(cp_file).read().strip()
        log("building engine and benchmark (sbt, offline)")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0 or not lines or "flowbench" not in lines[-1] \
                or lines[-1].startswith("["):
            sys.stderr.write(p.stdout[-4000:])
            raise Failed("build failed (sbt exit %d)" % p.returncode)
        cp = lines[-1].strip()
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(hash_file, "w") as fh:
            fh.write(digest)
        log("built in %.0f s" % (time.time() - t0))
        return cp


# ---- engine JVM ------------------------------------------------------------

def jvm_cmd(cp, work, heap, args):
    """The engine JVM: a fixed-size heap with fixed generation sizes
    (parallel collector, adaptive sizing off, two GC threads beside the
    task threads), so that peak RSS follows what the engine allocates and
    keeps rather than a collector's heap-sizing heuristics."""
    opens = []
    for m in JVM_OPENS:
        opens += ["--add-opens", m + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:ParallelGCThreads=2", "-Xms" + heap, "-Xmx" + heap] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-cp", cp, "flowbench.Main"] + [str(a) for a in args]


def jvm_env():
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    return env


def run_engine(cp, work, heap, args, timeout):
    with open(os.path.join(work, "engine.log"), "w") as err:
        p = subprocess.run(jvm_cmd(cp, work, heap, args), cwd=work, env=jvm_env(),
                           stdin=subprocess.DEVNULL, stdout=err, stderr=err,
                           timeout=timeout)
    return finish_engine(work, p.returncode)


def finish_engine(work, code):
    path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(path):
        tail = open(os.path.join(work, "engine.log")).read()[-3000:]
        sys.stderr.write(tail)
        raise Failed("engine exited with %d" % code)
    return json.load(open(path))


def common_args(a, work):
    return ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--work", work]


# ---- workloads ---------------------------------------------------------------

def relay(a, cp, work):
    import relaygen
    listeners = {name: relaygen.listen() for name in relaygen.SINKS}
    # the rate phase lasts at least rate_s, and longer if --seconds asks
    rate_s = max(RELAY["rate_s"], a.seconds - RELAY["rate_start_s"] - 1.0)
    plans = [relaygen.Plan(a.seed, i, RELAY["burst"], RELAY["rate"],
                           RELAY["rate_start_s"], rate_s)
             for i in range(RELAY["lifetimes"])]
    assert all(len(plan) > 65536 for plan in plans), \
        "each pipeline lifetime must offer more than the default capacity"
    ceiling = relaygen.ceiling(a.seed, RELAY["connections"]) if a.trace else None
    sinks = ",".join("%s=%d" % (n, ls.getsockname()[1]) for n, ls in listeners.items())
    args = common_args(a, work) + [
        "--sinks", sinks, "--lifetimes", RELAY["lifetimes"]]
    err = open(os.path.join(work, "engine.log"), "w")
    p = subprocess.Popen(jvm_cmd(cp, work, RELAY["heap"], args), cwd=work, env=jvm_env(),
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                         stderr=err, text=True)
    ready = queue.Queue()

    def read_stdout():  # keeps the engine's stdout drained
        for line in p.stdout:
            if line.startswith("FLOWBENCH_READY"):
                ready.put(int(line.split()[1]))
        ready.put(None)

    threading.Thread(target=read_stdout, daemon=True).start()
    runs = []
    # the warm-up plan: one burst, sent at once and not measured
    warm = relaygen.Plan(a.seed, len(plans), RELAY["warm_burst"], 1.0, 0.0, 0.0)
    try:
        for plan in [warm] + plans:
            try:
                port = ready.get(timeout=120)
            except queue.Empty:
                port = None
            if port is None:
                p.kill()
                p.wait()
                finish_engine(work, p.returncode or 1)
            run = relaygen.Run(listeners, plan, RELAY["connections"])
            # the daemon's ProcessingTime trigger fires on wall-clock
            # multiples of its interval (1 s): start a measured burst
            # mid-interval, so the whole burst is pushed before the next
            # trigger reads the channel
            start = time.time() if plan is warm else int(time.time()) + 1.5
            if plan is warm:
                # the warm-up pipeline must deliver everything before it
                # stops, or its redeliveries would reach the next lifetime
                run.drive(port, start, RELAY["warm_drain_s"])
                if run.delivered().sum() < (run.status == 1).sum():
                    raise Failed("relay warm-up did not drain within %.0f s"
                                 % RELAY["warm_drain_s"])
            else:
                run.drive(port, start, RELAY["drain_s"])
                runs.append(run)
            # the engine samples its backlog in the rate phase only
            p.stdin.write("DONE %d\n" % int((start + RELAY["rate_start_s"]) * 1000))
            p.stdin.flush()
        p.wait(timeout=120)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        err.close()
        for ls in listeners.values():
            ls.close()
    res = finish_engine(work, p.returncode)
    s = relaygen.summary(runs)
    log("relay: %s" % json.dumps(s))
    log("relay: msgs/s per lifetime %s" % ", ".join("%.0f" % x for x in s["burst_msgs_per_s"]))
    errors = list(res["errors"])
    if s["misrouted"]:
        errors.append("relay: %d messages reached the wrong sink" % s["misrouted"])
    if s["corrupt"]:
        errors.append("relay: %d payloads arrived damaged" % s["corrupt"])
    if s["undelivered"]:
        errors.append("relay: %d accepted messages never arrived" % s["undelivered"])
    rejected = s["throttled"] + s["refused"]
    e2e = {
        "throughput_per_s": s["msgs_per_s"],
        "latency_p50_ms": s["latency_p50_ms"],
        "latency_tail_ms": s["latency_p99_ms"],
        "success_ratio": s["delivered"] / s["offered"]}
    layer = dict(res["layer"])
    batches = max(1.0, layer.get("streaming.batches", 1.0))  # per lifetime
    layer.update({
        "relay.msgs_per_s": s["msgs_per_s"],
        "relay.latency_p50_ms": s["latency_p50_ms"],
        "relay.latency_p99_ms": s["latency_p99_ms"],
        "relay.failed_ratio": (rejected + s["undelivered"]) / s["offered"],
        "relay.duplicates": s["dups"] + s["stale"],
        "sources.rejected": rejected / s["lifetimes"],
        "sources.ack_p50_ms": s["ack_p50_ms"],
        "operators.misrouted": s["misrouted"],
        "streaming.sink_connects": s["sink_connects"] / (batches * s["lifetimes"]),
        "gen.late_p99_ms": s["late_p99_ms"],
        "gen.late_max_ms": s["late_max_ms"]})
    if ceiling is not None:
        layer["gen.ceiling_msgs_per_s"] = ceiling
        if ceiling < 3 * s["msgs_per_s"]:
            errors.append("relay: generator ceiling %.0f msg/s is under 3x the "
                          "measured %.0f msg/s" % (ceiling, s["msgs_per_s"]))
    # attempted: messages offered; failed: messages the relay accepted but
    # lost, damaged or misrouted. Rejections (THROTTLED, refused) are the
    # receiver's answer, reported in success_ratio and sources.rejected.
    failed = s["undelivered"] + s["corrupt"] + s["misrouted"]
    return res, e2e, layer, s["offered"], failed, errors


def curate(a, cp, work):
    import inputs
    crawl, warm = os.path.join(work, "crawl"), os.path.join(work, "warm")
    want = inputs.crawl(crawl, a.seed, CURATE["docs"], CURATE["files"])
    inputs.crawl(warm, a.seed + 7919, CURATE["warm_docs"], 2)
    expected = os.path.join(work, "expected.txt")
    with open(expected, "w") as fh:
        fh.write("\n".join(sorted(want)))
    res = run_engine(cp, work, CURATE["heap"], common_args(a, work) + [
        "--crawl", crawl, "--warm_crawl", warm, "--out", os.path.join(work, "out"),
        "--docs", CURATE["docs"], "--expected", expected,
        "--setup_reps", CURATE["setup_reps"]], timeout=170)
    return res, res["e2e"], res["layer"], res["attempted"], res["failed"], res["errors"]


WORKLOADS = {"relay": relay, "curate": curate}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        cp = build(build_dir)
    except (Failed, subprocess.TimeoutExpired, OSError) as e:
        log("error: %s" % e)
        return 2
    work = os.path.join(build_dir, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, e2e, layer, attempted, failed, errors = WORKLOADS[a.workload](a, cp, work)
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, "%s-%d" % (a.workload, a.seed))
            shutil.copy(os.path.join(work, "spans.json"), stem + ".spans.json")
            with open(stem + ".layers.json", "w") as fh:
                json.dump(layer, fh, indent=1, sort_keys=True)
    except subprocess.TimeoutExpired as e:
        log("error: engine timed out after %.0f s" % e.timeout)
        return 1
    except Failed as e:
        log("error: %s" % e)
        return 1
    finally:
        if not os.environ.get("FLOWBENCH_KEEP_WORK"):
            shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        log("check failed: %s" % e)
    e2e = dict(e2e, setup_s=res["e2e"]["setup_s"], peak_rss_mb=res["e2e"]["peak_rss_mb"])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layer if a.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not errors and failed == 0,
                      "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
