#!/usr/bin/env python3
"""Benchmark of the incremental CO2 pipeline.

    python3 perfbench/run.py --workload daily_increment --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the project's main sources and
the harness in `perfbench/src` with the Scala compiler that ships with
Spark (no change to the project's build), generates the feed from the
seed, runs one workload in one JVM for `--seconds`, checks the outputs and
prints one JSON object as its last line: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Everything it writes
goes under `.bench_build/perfbench`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pathlib
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import feedgen  # noqa: E402
import stats  # noqa: E402

CPUS = 4  # local[4]; fixed so that runs compare across hosts of any size
EXTRA_DAYS = 2000  # more new days than any run can consume
JVM_TIMEOUT_S = 170
IDLE_WAIT_S = 10
IDLE_BUSY_SHARE = 0.25

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

WORKLOADS = ("daily_increment", "warehouse_sql")


class BenchError(Exception):
    pass


def build_dir():
    base = pathlib.Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not base.is_absolute():
        base = ROOT / base
    return base / "perfbench"


def spark_jars():
    """The Spark jar directory the project's build compiles against."""
    build_sbt = ROOT / "build.sbt"
    if not build_sbt.exists():
        raise BenchError("no build.sbt: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt.read_text())
    if not m:
        raise BenchError("build.sbt names no Spark jar directory (unmanagedBase)")
    jars = pathlib.Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BenchError("no Spark jars with a Scala compiler at %s" % jars)
    return jars


def scalac(jars, out, classpath, sources, tmp):
    out.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=%s" % tmp,
           "-cp", str(jars / "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", str(out), "-classpath", classpath] + [str(s) for s in sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Compile the project and the harness unless sources are unchanged."""
    main_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench_src = sorted((HERE / "src").rglob("*.scala"))
    if not main_src:
        raise BenchError("no project sources under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for f in main_src + bench_src:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = build_dir() / "classes"
    stamp = out / "stamp"
    cp = [out / "bench", out / "main", jars / "*"]
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    t = time.time()
    scalac(jars, out / "main", str(jars / "*"), main_src, tmp)
    scalac(jars, out / "bench", "%s:%s" % (out / "main", jars / "*"),
           bench_src, tmp)
    stamp.write_text(h.hexdigest())
    print("built in %.1f s" % (time.time() - t), file=sys.stderr)
    return cp


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    return sum(v) - idle, sum(v), v[7] if len(v) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def calibrate():
    """Seconds a fixed single-threaded loop takes: the host's speed now."""
    t = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return round(time.perf_counter() - t, 4)


def wait_for_idle():
    """Wait up to IDLE_WAIT_S for a one-second window in which other
    processes keep less than IDLE_BUSY_SHARE of the CPUs busy."""
    t0 = time.time()
    busy = steal = 1.0
    while time.time() - t0 < IDLE_WAIT_S:
        b0, a0, s0 = cpu_times()
        time.sleep(1.0)
        b1, a1, s1 = cpu_times()
        busy = (b1 - b0) / max(1, a1 - a0)
        steal = (s1 - s0) / max(1, a1 - a0)
        if busy < IDLE_BUSY_SHARE:
            break
    return {"idle": busy < IDLE_BUSY_SHARE, "waited_s": round(time.time() - t0, 2),
            "busy_share": round(busy, 3), "steal_share": round(steal, 3)}


def run_jvm(cp, args, run_dir, trace):
    tmp = run_dir / "tmp"
    tmp.mkdir()
    heap = "2g"
    cmd = ["java", "-Xms" + heap, "-Xmx" + heap, "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=%s" % tmp,
            "-Dspark.local.dir=%s" % tmp,
            "-Dspark.sql.warehouse.dir=%s" % (run_dir / "spark-warehouse"),
            "-Dspark.ui.enabled=false"]
    if trace:
        cmd.append("-Dspark.hadoop.fs.file.impl=perfbench.CountingFs")
    cmd += ["-cp", ":".join(str(c) for c in cp), "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=run_dir)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("JVM did not finish within %d s" % JVM_TIMEOUT_S)
    failures = [line for line in log.read_text().splitlines()
                if "failed:" in line]
    for line in failures[:20]:
        print(line, file=sys.stderr)
    if code != 0 or not (run_dir / "result.json").exists():
        tail = log.read_text().splitlines()[-40:]
        raise BenchError("JVM exited with %d:\n%s" % (code, "\n".join(tail)))
    return json.loads((run_dir / "result.json").read_text())


def end_to_end(res, gen_s):
    lat = [op[0] for op in res["ops"]]
    t, pct, n = stats.tail(lat)
    setup = gen_s + res["session_s"] + res["setup_s"] + res["prepare_s"]
    metrics = {
        "ops_per_s": {"value": len(lat) / res["timed_s"], "unit": "1/s"},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "op_tail_s": {"value": t, "unit": "s"},
        "setup_s": {"value": setup, "unit": "s"},
    }
    by_class = {}
    for op in res["ops"]:
        if op[3]:
            by_class.setdefault(op[3], []).append(op[0])
    detail = {"tail_percentile": pct, "samples": n}
    if by_class:
        detail["class_p50_s"] = {c: statistics.median(v)
                                 for c, v in sorted(by_class.items())}
    return metrics, detail


def per_layer(res, spec):
    untraced = [op[0] for op in res["ops"] if not op[2]]
    traced = [op[0] for op in res["ops"] if op[2]]
    layer = dict(res["layer"])
    layer["trace.overhead"] = statistics.median(traced) / statistics.median(untraced)
    metrics = {}
    for m in spec["per_layer"]:
        if m["name"] not in layer:
            raise BenchError("traced run did not measure %s" % m["name"])
        metrics[m["name"]] = {"value": layer[m["name"]], "unit": m["unit"]}
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cp = build()
    run_dir = build_dir() / ("run-%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    host = {"nproc": os.cpu_count(), "spark_cpus": CPUS,
            "loadavg_before": loadavg()}
    host["wait_for_idle"] = wait_for_idle()
    host["calibration_s"] = calibrate()

    t = time.time()
    feed = run_dir / "feed.txt"
    feedgen.write_feed(feed, a.seed, EXTRA_DAYS)
    gen_s = time.time() - t

    records = build_dir() / "records"
    records.mkdir(exist_ok=True)
    name = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    cpu0 = cpu_times()
    try:
        res = run_jvm(cp, ["--workload", a.workload, "--run-dir", str(run_dir),
                           "--feed", str(feed), "--seconds", str(a.seconds),
                           "--trace", str(a.trace), "--seed", str(a.seed),
                           "--history-days", str(feedgen.history_days())],
                      run_dir, a.trace)
        if a.trace:
            shutil.copy(run_dir / "spans.json", records / (name + ".spans.json"))
    finally:
        if (run_dir / "jvm.log").exists():
            shutil.copy(run_dir / "jvm.log", records / (name + ".log"))
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu1 = cpu_times()
    host["run_steal_share"] = round((cpu1[2] - cpu0[2]) / max(1, cpu1[1] - cpu0[1]), 4)
    host["loadavg_after"] = loadavg()
    host["calibration_after_s"] = calibrate()

    attempted = len(res["ops"])
    failed = sum(1 for op in res["ops"] if not op[1])
    if res["errors"]:
        failed = attempted  # the final state is wrong, so no op can be trusted
    if a.trace:
        metrics, detail = per_layer(res, spec), {}
    else:
        metrics, detail = end_to_end(res, gen_s)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "host": host, "detail": detail, "errors": res["errors"],
              "session_s": res["session_s"], "setup_s": res["setup_s"],
              "prepare_s": res["prepare_s"], "gen_s": gen_s,
              "ops": res["ops"],
              "metrics": metrics}
    (records / (name + ".json")).write_text(json.dumps(record, indent=1))

    print(json.dumps({"host": host, "detail": detail, "errors": res["errors"]}))
    correct = failed == 0 and not res["errors"]
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(2)
