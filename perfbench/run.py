#!/usr/bin/env python3
"""perfbench: seeded end-to-end benchmark of the excelstreamspark engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload export --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt), makes
the workload's inputs from the seed (cached by seed), runs one benchmark
JVM on local[nproc], checks every answer independently and prints, as the
last line, one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The line before it is a JSON detail record: host sentinel,
the per-workload named metrics and any failed checks.

`--all` runs every workload in turn for one seed and prints each one's
detail and result lines.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["export", "import", "neardup_retrieval"]
HEAP = "3g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
# java.base packages Spark needs opened when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint(root):
    """Hash of everything the build reads: engine sources and build
    definition, and the harness."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", os.path.join("src", "main"),
            os.path.join("perfbench", "harness", "build.sbt"),
            os.path.join("perfbench", "harness", "project", "build.properties"),
            os.path.join("perfbench", "harness", "src")]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(dp, f) for dp, dns, fs in os.walk(p)
            for f in fs if "target" not in os.path.relpath(dp, p).split(os.sep))
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, root).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_build(root, base):
    """Compile engine + harness with sbt once per source state and return
    the runtime classpath."""
    fp = source_fingerprint(root)
    stamp = os.path.join(base, "build", "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("fingerprint") == fp:
            return s["classpath"], fp
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(base, "build", "sbt.log")
    with open(log, "w") as lf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env, stdout=subprocess.PIPE,
            stderr=lf, stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if os.pathsep in l and ".jar" in l]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, fp


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(cp, workload, inputs, work, manifest, seconds, trace, cores, seed):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    params = ",".join(f"{k}={v}" for k, v in manifest["params"].items())
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs,
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--params", params, "--result", result,
            "--run", f"{workload}-seed{seed}-{os.getpid()}"]
    launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM failed ({rc}):\n{tail}")
    with open(result) as f:
        return json.load(f), launch


def kinds_round(ops):
    """Per operation kind: (items, median ms). One 'round' is one operation
    of each kind."""
    by = {}
    for o in ops:
        if o["kind"] != "error":
            by.setdefault(o["kind"], []).append(o)
    return {k: (v[0]["items"], median([o["ms"] for o in v])) for k, v in by.items()}


def named_metrics(workload, ops, extra):
    """The per-workload named metrics, for the detail line. A kind with no
    successful operation reads 0."""
    r = kinds_round(ops)
    rate = lambda k: r[k][0] / (r[k][1] / 1000) if k in r else 0.0
    m = {}
    if workload == "export":
        m["export_xlsx_rows_per_s"] = (rate("xlsx"), "rows/s")
        m["export_xlsx_1file_rows_per_s"] = (rate("xlsx1"), "rows/s")
        m["export_csv_zst_1file_rows_per_s"] = (rate("csvzst"), "rows/s")
        sizes = [extra[i] / o["items"] for i, o in enumerate(ops) if o["kind"] == "xlsx" and i in extra]
        m["export_xlsx_bytes_per_row"] = (median(sizes), "B/row")
    elif workload == "import":
        m["import_xlsx_rows_per_s"] = (rate("parts"), "rows/s")
        m["import_xlsx_1file_rows_per_s"] = (rate("single"), "rows/s")
    else:
        m["neardup_docs_per_s"] = (rate("neardup"), "docs/s")
        lat = sorted(o["ms"] for o in ops if o["kind"] == "request")
        n = len(lat)
        k = math.ceil(0.9 * n)  # nearest-rank p90; n - k samples lie beyond it
        m["retrieval_p50_ms"] = (median(lat), "ms")
        m["retrieval_p90_ms"] = (lat[k - 1] if n else 0.0, "ms")
        m["retrieval_p90_samples_beyond"] = (n - k, "count")
        m["retrieval_samples"] = (n, "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def bench(root, workload, seed, seconds, trace):
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp, fp = ensure_build(root, base)
    cores = len(os.sched_getaffinity(0))
    inputs = gen.ensure(workload, seed, os.path.join(base, "inputs"), cores)
    with open(os.path.join(inputs, "manifest.json")) as f:
        manifest = json.load(f)
    work = os.path.join(base, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_start, cpu_start = loadavg(), cpu_times()
    try:
        res, launch = run_jvm(cp, workload, inputs, work, manifest, seconds, trace, cores, seed)
        ops = res["traced_ops"] if trace else res["ops"]
        failed, problems, extra = check.check(workload, ops, inputs, manifest)
        if trace:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{workload}-seed{seed}.jsonl")
            shutil.move(res["spans_file"], spans)
    finally:
        load_end, cpu_end = loadavg(), cpu_times()
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(ops)
    ready_s = res["ready_epoch_ms"] / 1000 - launch
    setup_s = ready_s + res["warmup_s"] + median(res["prepare_s"])
    r = kinds_round(ops)
    round_ms = sum(ms for _, ms in r.values())
    items = sum(n for n, _ in r.values())
    steal = (cpu_end[0] - cpu_start[0]) / max(1, cpu_end[1] - cpu_start[1])
    host = {
        "nproc": cores, "loadavg_start": load_start, "loadavg_end": load_end,
        "cpu_steal_share": steal,
        "heap_max": HEAP, "seed": seed, "git_commit": git_commit(root), "source_fingerprint": fp,
        # this run adds at most about nproc runnable threads, so a higher
        # 1-minute load, or CPU time the hypervisor gave to other guests,
        # means other work shared the cores: discard the run
        "contaminated": load_end[0] > 1.5 * cores or steal > 0.05,
    }
    detail = {
        "workload": workload, "trace": trace, "host": host,
        "named_metrics": named_metrics(workload, ops, extra),
        "setup": {"ready_s": ready_s, "warmup_s": res["warmup_s"], "prepare_s": res["prepare_s"]},
        "ops_by_kind": {k: {"n": sum(1 for o in ops if o["kind"] == k), "median_ms": ms}
                        for k, (_, ms) in r.items()},
        "failed_checks": problems[:20],
    }
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (items / (round_ms / 1000) if round_ms else 0.0, "1/s"),
            "peak_live_heap_mb": (max(res["live_heap_mb"]), "MB"),
        }
    else:
        per_item = lambda xs: sum(o["ms"] for o in xs) / max(1, sum(o["items"] for o in xs))
        untraced, traced = per_item(res["ops"]), per_item(ops)
        layers = dict(res["layers"])
        layers["trace.overhead_share"] = traced / untraced - 1 if untraced else 0.0
        layers["trace.overhead_ms"] = (traced - untraced) * items / max(1, len(r))
        layers["failed_ops_ratio"] = failed / attempted
        detail["span_self_ms_per_op"] = res["span_self_ms_per_op"]
        detail["spans"] = os.path.relpath(spans, root)
        metrics = {}
        for spec in load_spec(root)["per_layer"]:
            metrics[spec["name"]] = (float(layers.get(spec["name"], 0.0)), spec["unit"])
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return detail, out


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload for the seed")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of an excelstreamspark source checkout (build.sbt, src/ missing)")
    for w in (WORKLOADS if a.all else [a.workload]):
        detail, out = bench(root, w, a.seed, a.seconds, a.trace)
        print(json.dumps(detail))
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
