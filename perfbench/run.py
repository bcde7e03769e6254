#!/usr/bin/env python3
"""Benchmark of the graft engine on 4 cores.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
that build while the sources are unchanged. Everything a run writes goes
under .bench_build/. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.
Why each workload exists, and which layer metric should move which
end-to-end metric, is in perfbench/NOTES.md.

    python3 perfbench/run.py --self-test       harness self-tests
    python3 perfbench/run.py --record <dir>    re-record the expected outputs
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
import harness  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
TABLES = os.path.join(HERE, "data", "tables")
EXPECTED = os.path.join(HERE, "expected.json")
HEAP = "3g"
JVM_TIMEOUT_S = 160

# The gates workload: after one untimed pass, seed-shuffled passes over two
# kinds of gate. Loop-bound gates (a fixpoint loop, a micro-batch
# stream): many rounds of small jobs, so the driver, per-round planning and
# Lineage checkpoints cost most.
LOOP_GATES = ["q_dbscan", "q_dedup_inc_stream"]
# Broad gates: sub-second gates from several query modules, the custom
# as-of join plan and native expressions, where Catalyst planning and
# whole-stage codegen cost most.
BROAD_GATES = [
    "q_anomaly", "q_jaro", "q_agg", "q_tpch_q12", "q_asof_native", "q_dedup_minhash",
]
ETL_ROWS = 500_000
TRAIN_ROWS = 20_000
SCORE_CALLS = 10          # in-process default-path scoring calls
DISTINCT_REQUESTS = 200
FAST_RATE = 50.0          # requests/s on the FastScorer server
FAST_SECONDS = 2.0
DEFAULT_WARMUP = 15       # sequential requests before the default server is timed
NOMINAL_RATE = 4.0        # requests/s on the default server, for its p50/tail
NOMINAL_SECONDS = 4.0
LADDER = [8.0, 16.0]      # higher default-server rates, for capacity
RUNG_SECONDS = 1.0
TAIL_LIMIT_MS = 250.0
CONNECTIONS = 4

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    log("building program and harness (sbt compile)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "compile"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=840)
    if res.returncode != 0:
        fail("build failed")
    os.makedirs(OUT, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log("built in %.0f s" % (time.time() - t0))


# ---- the JVM side ---------------------------------------------------------

def java_command(main, args, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must name a Spark 4.1 install")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")]),
            main]
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    return cmd


def jvm_env(work):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def start_jvm(main, args, work):
    log_path = os.path.join(work, "jvm.log")
    err = open(log_path, "w")
    proc = subprocess.Popen(java_command(main, args, work), cwd=work, env=jvm_env(work),
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err,
                            text=True)
    return proc, err, log_path


def jvm_tail(log_path, n=30):
    with open(log_path, errors="replace") as fh:
        lines = [l for l in fh.read().splitlines() if " INFO " not in l]
    return "\n".join(lines[-n:])


def stop(proc):
    if proc.poll() is None:
        proc.kill()
    proc.wait()


# ---- workloads ------------------------------------------------------------

def gate_order(names, seed):
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def scoring_requests(seed):
    """The request mix: distinct 5-field records, a few with a payment_type
    the model never saw (the handleInvalid=keep path)."""
    rng = random.Random(seed * 7919 + 1)
    reqs = []
    for _ in range(DISTINCT_REQUESTS):
        dist = round(0.3 + 25.0 * rng.random() * rng.random(), 2)
        reqs.append({
            "trip_distance": dist,
            "trip_duration_min": round(dist * rng.uniform(2.5, 7.5) + 2.0, 1),
            "passenger_count": rng.randint(1, 6),
            "pickup_hour": rng.randrange(24),
            "payment_type": rng.choices([1, 2, 3, 4, 5], [60, 30, 7, 2, 1])[0],
        })
    return reqs


def poisson_schedule(rate, seconds, payloads, start, rng):
    out, t = [], start
    i = 0
    while t < start + seconds:
        t += rng.expovariate(rate)
        out.append((t, payloads[i % len(payloads)]))
        i += 1
    return out


def drive(port, rate, seconds, payloads, rng):
    transport = harness.HttpTransport(port, CONNECTIONS)
    try:
        plan = poisson_schedule(rate, seconds, payloads, harness.now() + 0.05, rng)
        return harness.open_loop(plan, transport, harness.now)
    finally:
        transport.close()


def warm(port, payloads, n):
    transport = harness.HttpTransport(port, 1)
    try:
        t = harness.now()
        harness.open_loop([(t, payloads[i % len(payloads)]) for i in range(n)],
                          transport, harness.now)
    finally:
        transport.close()


def serve_load(ports, reqs, expected, seed):
    """Open-loop traffic against both servers. Returns (metrics, attempted,
    failures)."""
    rng = random.Random(seed * 104729 + 2)
    payloads = [json.dumps(r) for r in reqs]
    want = {p: e for p, e in zip(payloads, expected)}
    failures, attempted = [], 0

    def run(port, rate, seconds, path):
        """Requests that failed or answered wrong count as failed and are
        left out of the latency samples."""
        nonlocal attempted
        plan_rng = random.Random(rng.random())
        order = list(payloads)
        plan_rng.shuffle(order)
        samples = drive(port, rate, seconds, order, plan_rng)
        good = []
        for i, s in enumerate(samples):
            attempted += 1
            p = order[i % len(order)]
            got = json.loads(s.body).get("prediction_total_amount") if s.ok else None
            if not s.ok:
                failures.append("%s /predict error: %s" % (path, s.body[:200]))
            elif got is None or float(got) != want[p]:
                failures.append("%s answer %r != FastScorer.predict %r for %s"
                                % (path, got, want[p], p))
            else:
                good.append(s)
        return good, samples

    m = {}
    warm(ports["fast_port"], payloads, 10)
    warm(ports["default_port"], payloads, DEFAULT_WARMUP)
    fast_ok, fast_all = run(ports["fast_port"], FAST_RATE, FAST_SECONDS, "fast")
    lat = harness.latency_ms(fast_ok)
    m["serve.fast_p50_ms"] = harness.median(lat)
    t, pct, n = harness.tail(lat)
    m["serve.fast_tail_ms"] = t if t is not None else max(lat or [0.0])
    m["serve.fast_tail_pct"] = pct or 100.0
    lags = harness.lag_ms(fast_all)
    capacity = 0.0
    rungs = {}
    for rate in [NOMINAL_RATE] + LADDER:
        seconds = NOMINAL_SECONDS if rate == NOMINAL_RATE else RUNG_SECONDS
        ok, samples = run(ports["default_port"], rate, seconds, "default")
        lags += harness.lag_ms(samples)
        lat = harness.latency_ms(ok)
        t, pct, n = harness.tail(lat)
        tail_v = t if t is not None else max(lat or [float("inf")])
        rungs[rate] = (harness.median(lat), tail_v, pct or 100.0, len(samples))
        if (len(ok) == len(samples) and tail_v <= TAIL_LIMIT_MS
                and not harness.backlog_grows(samples, TAIL_LIMIT_MS)):
            capacity = rate
    p50, tail_v, pct, n = rungs[NOMINAL_RATE]
    m["serve.p50_ms"] = p50
    m["serve.tail_ms"] = tail_v
    m["serve.tail_pct"] = pct
    m["serve.capacity_rps"] = capacity
    m["serve.gen_lag_ms"] = harness.median(lags)
    for rate, (p50r, tr, pr, nr) in rungs.items():
        log("default path at %g rps: p50 %.2f ms, p%.0f %.2f ms, n=%d" % (rate, p50r, pr, tr, nr))
    return m, attempted, failures


def plan_args(workload, seed, seconds, trace, work):
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "work": work, "data": TABLES, "loop_gates": ",".join(LOOP_GATES),
            "trace_out": os.path.join(OUT, "traces", "%s-seed%d.jsonl" % (workload, seed))}
    if workload == "etl_batch":
        args["etl_rows"] = ETL_ROWS
    elif workload == "gates":
        args["gates"] = ",".join(gate_order(LOOP_GATES + BROAD_GATES, seed))
    elif workload == "train_serve":
        args["train_rows"] = TRAIN_ROWS
        args["score_calls"] = SCORE_CALLS
        args["requests"] = os.path.join(work, "requests.csv")
    return args


def run_workload(workload, seed, seconds, trace):
    work = os.path.join(OUT, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = plan_args(workload, seed, seconds, trace, work)
    reqs = []
    if workload == "train_serve":
        reqs = scoring_requests(seed)
        with open(args["requests"], "w") as fh:
            for r in reqs:
                fh.write("%r,%r,%d,%d,%d\n" % (r["trip_distance"], r["trip_duration_min"],
                                                r["passenger_count"], r["pickup_hour"],
                                                r["payment_type"]))
    proc, err, log_path = start_jvm("perfbench.Main", args, work)
    serve_metrics, serve_attempted, serve_failures = {}, 0, []
    deadline = time.time() + JVM_TIMEOUT_S
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    out_lines = []
    try:
        while True:
            line = proc.stdout.readline()
            if not line:
                break
            out_lines.append(line)
            ready = harness.parse_json_line(line, "PERFBENCH-READY ")
            if ready is not None:
                with open(os.path.join(work, "expected_answers.txt")) as fh:
                    expected = [float(x) for x in fh.read().split()]
                try:
                    serve_metrics, serve_attempted, serve_failures = serve_load(
                        ready, reqs, expected, seed)
                finally:
                    proc.stdin.write("done\n")
                    proc.stdin.flush()
        proc.wait(timeout=max(1, deadline - time.time()))
    finally:
        watchdog.cancel()
        stop(proc)
        err.close()
    with open(log_path, errors="replace") as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    res = harness.parse_json_line("".join(out_lines), "PERFBENCH-RESULT ")
    if proc.returncode != 0 or res is None:
        log(jvm_tail(log_path))
        fail("JVM run failed with exit code %s" % proc.returncode, 1)
    return res, serve_metrics, serve_attempted, serve_failures


def check_outputs(workload, res, expected):
    problems = []
    info = res["info"]
    if workload == "gates":
        want = {k: expected["fingerprints"][k] for k in LOOP_GATES + BROAD_GATES}
        bad = harness.fingerprint_mismatches(want, info.get("fingerprints", {}))
        problems += ["%s: fingerprint %s != recorded %s" % (k, fp, want[k]) for k, fp in bad]
    if workload == "train_serve":
        for k in ("rmse_bits", "mae_bits"):
            if info.get(k) != expected["train"][k]:
                problems.append("train %s %s != pinned %s" % (k, info.get(k), expected["train"][k]))
    return problems


def steal_pct(a, b):
    da = [y - x for x, y in zip(a, b)]
    total = sum(da)
    return 100.0 * da[7] / total if total > 0 and len(da) > 7 else 0.0


def cpu_stat():
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record")
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        fail("no program sources at %s: run from the root of a checkout" % PROGRAM_SRC)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.self_test:
        sys.exit(self_test())
    if a.record:
        sys.exit(record(a.record))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %r" % a.workload)
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    build()

    stat0 = cpu_stat()
    res, serve_m, serve_attempted, serve_failures = run_workload(
        a.workload, a.seed, a.seconds, a.trace)
    steal = steal_pct(stat0, cpu_stat())
    failures = res["failures"] + serve_failures + check_outputs(a.workload, res, expected)
    for f in failures[:20]:
        log("FAILED " + f)
    attempted = res["attempted"] + serve_attempted
    failed = len(failures)

    values = dict(res["end_to_end"])
    layer = dict(res["per_layer"])
    if a.workload == "train_serve":
        values["op_p50_ms"] = serve_m.get("serve.fast_p50_ms", 0.0)
        layer.update(serve_m)
        for path, key in (("serve.transport_ms", "serve.p50_ms"),
                          ("serve.fast_transport_ms", "serve.fast_p50_ms")):
            inproc = layer.get("serve.score_ms", 0.0) if key == "serve.p50_ms" \
                else layer.get("serve.fast_score_us", 0.0) / 1000.0
            layer[path] = serve_m.get(key, 0.0) - inproc
    layer["ml.rmse"] = float(res["info"].get("rmse", 0.0))
    layer["host.steal_pct"] = steal

    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in want:
        v = values.get(m["name"]) if not a.trace else layer.get(m["name"])
        metrics[m["name"]] = {"value": float(v) if v is not None else 0.0, "unit": m["unit"]}
    summary = ", ".join("%s=%.4g %s" % (k, v["value"], v["unit"]) for k, v in metrics.items())
    log("%s seed %d: %s; attempted %d, failed %d, steal %.2f%%, info %s"
        % (a.workload, a.seed, summary, attempted, failed, steal,
           json.dumps({k: v for k, v in res["info"].items() if k != "fingerprints"})))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(os.path.join(OUT, "work"), ignore_errors=True)
    sys.exit(0 if failed == 0 else 1)


def self_test():
    """Harness logic (tail rule, open-loop accounting, fingerprint compare),
    then the fingerprint itself against a one-row perturbation in Spark."""
    res = subprocess.run([sys.executable, os.path.join(HERE, "test_harness.py")])
    if res.returncode != 0:
        return res.returncode
    build()
    work = os.path.join(OUT, "work", "self_test")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    proc = subprocess.run(java_command("perfbench.SelfTest", {}, work), cwd=work,
                          env=jvm_env(work), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=JVM_TIMEOUT_S)
    print(proc.stdout, end="")
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode


def record(dump):
    """Run every benchmark gate once, dump each result as parquet with the
    oracle SQL beside it (check with tools/check.py against the tables), fit
    the reference model, and write what a run must reproduce to
    perfbench/expected.json."""
    build()
    work = os.path.join(OUT, "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = os.path.abspath(dump)
    args = {"data": TABLES, "out": dump, "gates": ",".join(LOOP_GATES + BROAD_GATES),
            "train_rows": TRAIN_ROWS}
    proc = subprocess.run(java_command("perfbench.Record", args, work), cwd=work,
                          env=jvm_env(work), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    rec = harness.parse_json_line(proc.stdout, "PERFBENCH-RECORD ")
    if proc.returncode != 0 or rec is None:
        fail("record failed", 1)
    with open(EXPECTED, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log("wrote %s; now check the dump: python3 tools/check.py %s %s" % (EXPECTED, TABLES, dump))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    main()
