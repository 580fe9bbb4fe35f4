#!/usr/bin/env python3
"""The repository benchmark. One run of one workload:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (README.md says why each exists and which layers it stresses):
  registry_sf01     pinned registry entries on an sf0.1-shaped table set
  serve_read        REST/GraphQL reads against a static store (no writes)
  serve_live        catch-up, then ingest of an advancing chain with ws
                    subscribers
  serve_live_reads  serve_live plus REST readers beside ingest; not in
                    BENCHMARK.json (README.md, "Findings")

Builds the program (`sbt compile`) and the harness (perfbench/build.sbt) on
first use, generates its inputs under perfbench/.work, runs the JVM harness
(and for serve_* the load generator as a second process), checks outputs,
and prints one JSON object as the last line of stdout. --trace 1 reports the
per-layer metrics instead of the end-to-end ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170.0  # a run must end within 180 s once the checkout is built

# serve_* sizing for a 4-core host (README.md, "Sizing")
HISTORY = 2999            # the prepared store: sim-chain blocks 0..2999 (2,969 present)
LIVE_BACKLOG = 300        # serve_live: the head starts this far beyond the store
LIVE_RATE = 5.0           # serve_live: head advance, blocks/s, after catch-up
LIVE_READ_RATE = 2.0      # serve_live_reads: open-loop reads/s beside ingest

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpus():
    return os.cpu_count() or 1


def heap_gb():
    """A quarter of MemTotal, clamped to 2..8 GB: the host is shared. The
    heap is fixed (-Xms = -Xmx) so that G1's heap growth does not make the
    footprint and the GC load differ from run to run."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(8, round(kb / (4 * 1024 * 1024))))


# ---- build -----------------------------------------------------------------

def source_fingerprint():
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src", "perfbench/build.sbt", "perfbench/project",
                 "perfbench/src"):
        p = os.path.join(ROOT, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) if "target" not in d for f in fs)
        for q in paths:
            st = os.stat(q)
            h.update(f"{q}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt(cwd):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = "-Dsbt.offline=true -Xmx3g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env["SBT_OPTS"] = opts
    with open(os.path.join(WORK, "build.log"), "a") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed in {cwd}; see perfbench/.work/build.log")


def build():
    stamp = os.path.join(WORK, "build.stamp")
    fp = source_fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    log("building the program and the harness")
    sbt(ROOT)
    sbt(HERE)
    with open(stamp, "w") as f:
        f.write(fp)


def tables():
    """The sf0.1-shaped table set, generated once per checkout by the
    repository's own generator at scale 1.0 (deterministic: the scalars
    pinned in registry.json hold only for its output)."""
    out = os.path.join(WORK, "sf0.1")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.check_call([sys.executable, os.path.join(ROOT, "tools", "gen_sf.py"), out, "1.0"],
                              stdout=subprocess.DEVNULL)
        open(os.path.join(out, "_done"), "w").close()
    return out


def store_snapshot():
    """The store every serve run starts from, built once per checkout by the
    program itself: Serve.run ingests blocks 0..HISTORY, then stops."""
    out = os.path.join(WORK, "store")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        jvm = Jvm(["--workload", "prepare_store", "--seed", "0", "--seconds", "0", "--trace", "0",
                   "--work", out, "--history", str(HISTORY)], out)
        res = jvm.expect("RESULT")
        jvm.stop()
        if not res.get("synced"):
            fail(f"could not prepare the serve store: {res}")
        open(os.path.join(out, "_done"), "w").close()
    return os.path.join(out, "serve")


# ---- the JVM under test ----------------------------------------------------

class Jvm:
    def __init__(self, args, run_dir):
        cp = ":".join([os.path.join(HERE, "target/scala-2.13/classes"),
                       os.path.join(ROOT, "target/scala-2.13/classes"), "/opt/spark/jars/*"])
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, GRAFT_EVM_FIXTURES=os.path.join(ROOT, "fixtures/evm"))
        cmd = (["java", f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
               ["-cp", cp, "perfbench.Harness", "--cpus", str(cpus())] + args)
        self.log = open(os.path.join(run_dir, "jvm.log"), "w")
        # cwd: the program's artifact caches default to ./artifacts
        self.proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log, text=True, bufsize=1)

    def expect(self, tag):
        """Read protocol lines until `PB <tag> {json}`; returns the json."""
        for line in self.proc.stdout:
            if line.startswith(f"PB {tag} "):
                return json.loads(line[len(tag) + 4:])
            if line.startswith("PB RESULT "):
                raise RuntimeError(f"harness ended early: {line.strip()[:400]}")
        raise RuntimeError(f"harness exited before {tag}; see perfbench/.work/run/jvm.log")

    def send(self, cmd):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def stop(self):
        if self.proc.poll() is None:
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def kill_all(procs):
    for p in procs:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()


# ---- workloads -------------------------------------------------------------

def run_registry(a, run_dir, data):
    jvm = Jvm(["--workload", "registry_sf01", "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--work", run_dir, "--data", data,
               "--registry", os.path.join(HERE, "registry.json"),
               "--trace-file", os.path.join(run_dir, "trace_jvm.jsonl")], run_dir)
    procs.append(jvm.proc)
    spawned = time.monotonic()
    jvm.expect("SETUP_DONE")
    setup_s = time.monotonic() - spawned
    res = jvm.expect("RESULT")
    jvm.stop()
    if "error" in res:
        raise RuntimeError(res["error"])
    return {"setup_s": setup_s, "retained_heap_mb": res["retained_heap_mb"], "attempted": res["attempted"],
            "failed": res["failed"], "failures": res["failures"],
            "latency_p50_ms": res["latency_p50_ms"], "latency_p90_ms": res["latency_p90_ms"],
            "throughput_per_s": res["throughput_per_s"], "jvm": res,
            "summary": {"registry_total_s": res["registry_total_s"], "entries": res["entries"],
                        "passes": res["passes"], "samples": res["samples"],
                        "warmup_ms": res["warmup_ms"], "timed_ms": res["timed_ms"]}}


def run_serve(a, run_dir, snapshot):
    live = a.workload.startswith("serve_live")
    reads = a.workload != "serve_live"
    rate = LIVE_RATE if live else 0.0
    backlog = LIVE_BACKLOG if live else 0
    shutil.copytree(snapshot, os.path.join(run_dir, "serve"))
    jvm = Jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--work", run_dir, "--history", str(HISTORY),
               "--backlog", str(backlog), "--rate", str(rate),
               "--trace-file", os.path.join(run_dir, "trace_jvm.jsonl")], run_dir)
    procs.append(jvm.proc)
    spawned = time.monotonic()
    ready = jvm.expect("READY")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), "--mode", "live" if live else "read",
         "--rest", str(ready["rest"]), "--ws", str(ready["ws"]), "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--head", str(HISTORY + backlog), "--rate", str(rate),
         "--clients", str(cpus()), "--open-rate", str(LIVE_READ_RATE if live and reads else 0),
         "--trace-file", os.path.join(run_dir, "trace_loadgen.jsonl") if a.trace else ""],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1)
    procs.append(gen)
    armed = None
    for line in gen.stdout:
        if line.startswith("ARMED "):
            armed = json.loads(line[6:])
            break
    if armed is None:
        raise RuntimeError("load generator exited before arming")
    setup_s = time.monotonic() - spawned
    jvm.send("GO")
    t0 = jvm.expect("T0")
    gen.stdin.write(f"{t0['t0_ms']}\n")
    gen.stdin.flush()
    out = gen.stdout.read().strip().splitlines()
    gen.wait()
    if gen.returncode != 0 or not out:
        raise RuntimeError(f"load generator failed (exit {gen.returncode})")
    lg = json.loads(out[-1])
    with open(os.path.join(run_dir, "loadgen.json"), "w") as f:
        f.write(out[-1])
    jvm.send("STOP")
    res = jvm.expect("RESULT")
    jvm.stop()
    if "error" in res:
        raise RuntimeError(res["error"])
    failures, failed, attempted = list(lg["failures"]), lg["failed"], lg["attempted"]
    if live:  # the catch-up itself is one op
        attempted += 1
        if not res["synced"]:
            failures.append("catch-up did not reach the backlog head")
            failed += 1
    if live:
        p50, p90 = lg["notify"]["p50_ms"], lg["notify"]["p90_ms"]
        throughput = res["sync_blocks_per_s"]
    else:
        p50, p90 = lg["api"]["p50_ms"], lg["api"]["p90_ms"]
        throughput = lg["api_saturation_rps"]
    summary = {"boot_s": ready["boot_s"], "sync_s": ready["sync_s"], "settled_s": ready["settled_s"],
               "warmup_s": armed["warmup_s"],
               "api_p50_ms": lg["api"]["p50_ms"], "api_p90_ms": lg["api"]["p90_ms"],
               "api_requests": lg["api"]["n"], "store_bytes_per_block": res["store_bytes_per_block"],
               "segments": res["segments"], "v1_synced": lg.get("synced"),
               "stored_blocks": res["stored_blocks"]}
    if live:
        summary.update({"sync_blocks_per_s": throughput, "notify_p50_ms": p50, "notify_p90_ms": p90,
                        "notify_samples": lg["notify"]["received"]})
    else:
        summary["api_saturation_rps"] = throughput
    return {"setup_s": setup_s, "retained_heap_mb": res["retained_heap_mb"], "attempted": attempted,
            "failed": failed, "failures": failures,
            "latency_p50_ms": p50, "latency_p90_ms": p90, "throughput_per_s": throughput,
            "jvm": res, "loadgen": lg, "summary": summary}


# ---- metrics ---------------------------------------------------------------

E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
             "throughput_per_s": "1/s", "retained_heap_mb": "MB", "ops_ok_ratio": "ratio"}


def per_layer(r):
    """Every per-layer metric; a layer the workload does not run reports 0."""
    jvm, lg = r["jvm"], r.get("loadgen", {})
    api = lg.get("api", {})
    m = {}
    for cls in ("point", "range", "topk", "graphql"):
        m[f"api.{cls}.p50_ms"] = api.get(f"{cls}.p50_ms", 0.0)
        m[f"api.{cls}.p90_ms"] = api.get(f"{cls}.p90_ms", 0.0)
    reqs = api.get("n", 0)
    plan_total = jvm.get("server.api_plan_ms_total", 0.0)
    exec_total = jvm.get("server.api_exec_ms_total", 0.0)
    mean_latency = api.get("service_mean_ms", 0.0)
    m["api.plan_ms"] = plan_total / reqs if reqs else 0.0
    m["api.exec_ms"] = exec_total / reqs if reqs else 0.0
    m["api.http_ms"] = max(0.0, mean_latency - m["api.plan_ms"] - m["api.exec_ms"]) if reqs else 0.0
    m["api.jobs_per_req"] = jvm.get("server.api_jobs", 0) / reqs if reqs else 0.0
    m["api.tasks_per_req"] = jvm.get("server.api_tasks", 0) / reqs if reqs else 0.0
    m["api.gen_late_ms"] = api.get("gen_late_ms", 0.0)
    m["api.requests"] = reqs
    m["api.failed"] = lg.get("api_failed", 0)
    for k in ("store.view_ms", "store.segments", "store.hot_blocks", "store.bytes", "store.bytes_per_block",
              "ingest.batches", "ingest.blocks_per_batch", "ingest.batch_p50_ms", "ingest.batch_p90_ms",
              "ingest.store_ms", "ingest.publish_ms", "ingest.promote_ms", "ingest.other_ms",
              "ingest.jobs_per_batch", "ingest.tasks_per_batch", "ingest.bytes_written_per_block",
              "stream.latest_offset_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
              "stream.trigger_ms", "stream.lag_blocks_start", "stream.lag_blocks_end",
              "fanout.publish_ms",
              "registry.analysis_ms", "registry.optimization_ms", "registry.planning_ms",
              "registry.execution_ms", "registry.jobs", "registry.stages", "registry.tasks",
              "registry.shuffle_read_bytes", "registry.shuffle_write_bytes", "registry.floor_ms",
              "registry.floor_bound_entries",
              "jvm.gc_ms", "jvm.peak_heap_mb"):
        m[k] = jvm.get(k, 0)
    for g in ("evm", "operators", "pipeline"):
        for k in ("total_s", "planning_ms", "jobs"):
            m[f"registry.{g}.{k}"] = jvm.get(f"registry.{g}.{k}", 0)
    notify = lg.get("notify", {})
    m["fanout.messages"] = notify.get("received", 0)
    m["fanout.missing"] = notify.get("missing", 0)
    m["fanout.duplicates"] = notify.get("duplicates", 0)
    for k in ("setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s", "retained_heap_mb"):
        m[f"traced.{k}"] = r[k]
    return m


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "B"
    return "count"


procs = []


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["registry_sf01", "serve_read", "serve_live", "serve_live_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        fail("no program sources next to perfbench/ (build.sbt, src/)")
    os.makedirs(WORK, exist_ok=True)
    build()
    data = tables() if a.workload == "registry_sf01" else None
    snapshot = store_snapshot() if a.workload != "registry_sf01" else None
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    def on_timeout():
        log(f"run exceeded {DEADLINE_S:.0f} s; stopping")
        kill_all(procs)
        os._exit(3)
    timer = threading.Timer(DEADLINE_S, on_timeout)
    timer.daemon = True
    timer.start()
    try:
        r = run_registry(a, run_dir, data) if a.workload == "registry_sf01" else run_serve(a, run_dir, snapshot)
    except Exception as e:
        kill_all(procs)
        fail(f"{a.workload} failed: {e}", 1)
    finally:
        timer.cancel()
    kill_all(procs)

    r["ops_ok_ratio"] = 1.0 - r["failed"] / max(1, r["attempted"])
    log(f"{a.workload} seed={a.seed}: " + json.dumps(r["summary"]))
    log(f"ops attempted={r['attempted']} failed={r['failed']} "
        f"ops_failed_ratio={r['failed'] / max(1, r['attempted']):.6f}")
    for f in r["failures"][:10]:
        log(f"  failed op: {f}")
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer(r).items()}
    else:
        metrics = {k: {"value": r[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
