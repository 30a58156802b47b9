#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repo. One run:

 1. builds the program and the driver if their sources changed
    (perfbench/build.py, output under .bench_build/), then trains a
    class-data-sharing archive for the new jar with one untimed pass of
    every benchmarked operation on small inputs, so each later JVM
    starts with its classes pre-parsed;
 2. generates the workload's inputs from --seed (perfbench/gen.py;
    its time is reported apart as gen_s);
 3. runs the JVM driver (perfbench/src/PerfBench.scala) at local[N],
    N = the usable cores: a warm-up pass that also saves every result
    for the check, two more warm-up passes through the real sinks, then
    timed passes for S seconds (at least three);
 4. compares every operation's checked result with its
    SparkEntry.oracleSql query in DuckDB via tools/check_parity.py
    --strict;
 5. writes the full report (per pass, per operation, host controls,
    oracle verdicts, layers and spans when traced) under .bench_out/,
    and prints as the last stdout line one JSON object with `correct`,
    `attempted`, `failed` and `metrics`: the end-to-end metrics with
    --trace 0, the per-layer metrics with --trace 1.

Exits nonzero without a result line when the program sources are not
there or the driver fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

LAYERS = ("construct", "catalyst", "exec", "sink")
TOLERANCE = 0.10  # layer self-times must cover >= 90% of an op's wall
HEAP = "3g"
YOUNG = "256m"
RUN_LIMIT_S = 170
# untimed warm-up passes per run (the first also saves the results
# for the check); fewer leave the timed passes still speeding up as the
# JIT compiles
WARM_PASSES = 3
# timed passes per run at least: each metric is a median over them
MIN_PASSES = 3
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_driver(root, cp, spec_path, log_path, limit_s, env, jvm_flags=()):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    # a fixed young generation makes collections happen inside every
    # pass at a steady rate, so the post-GC heap mark sees in-pass memory
    cmd = ([java if os.path.exists(java) else "java",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m",
            *jvm_flags] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={env['PERFBENCH_TMP']}",
            "-Dderby.system.home=" + env["PERFBENCH_TMP"],
            "-cp", cp, "perfbench.PerfBench", spec_path])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=log,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    return code


def write_spec(path, workload, data_dir, out_dir, seconds, trace, ops,
               warm=WARM_PASSES, min_passes=MIN_PASSES):
    with open(path, "w") as f:
        f.write(f"workload {workload}\ndata {data_dir}\nout {out_dir}\n"
                f"seconds {seconds}\ntrace {trace}\nwarm {warm}\n"
                f"min_passes {min_passes}\n")
        for name, sink in ops:
            f.write(f"op {name} {sink}\n")


def driver_env(out_dir):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
                SPARK_LOCAL_DIRS=os.path.join(out_dir, "spark-local"),
                PERFBENCH_TMP=tmp)


def tidy(data_dir, out_dir):
    """Keep a run's report, trace, spec and logs; drop its inputs and
    bulky intermediates."""
    shutil.rmtree(data_dir, ignore_errors=True)
    for d in ("check", "sink", "spark-local", "tmp", "io", "ck"):
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)


def train_archive(root, cp, jsa, workloads, names):
    """Dump the class-data-sharing archive from one untimed run over
    every operation of the benchmarked workloads (one warm-up pass, on
    small inputs).
    A run never goes on without it: set-up time with and without the
    archive differs by about a third, so two commits must not differ in
    having one."""
    ops = list(dict.fromkeys(tuple(o) for n in names
                             for o in workloads[n]["ops"]))
    data_dir = os.path.join(root, ".bench_data", "train")
    out_dir = os.path.join(root, ".bench_out", "train")
    for d in (data_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out_dir)
    gen.generate(0, "star", data_dir)
    spec = os.path.join(out_dir, "spec.txt")
    write_spec(spec, "train", data_dir, out_dir, 0, 0, ops, warm=1,
               min_passes=0)
    code = run_driver(root, cp, spec, os.path.join(out_dir, "driver.log"),
                      RUN_LIMIT_S, driver_env(out_dir),
                      [f"-XX:ArchiveClassesAtExit={jsa}"])
    tidy(data_dir, out_dir)
    if code != 0 or not os.path.exists(jsa):
        if os.path.exists(jsa):
            os.remove(jsa)
        with open(os.path.join(out_dir, "driver.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"class archive training failed (driver exit {code})")


def oracle_check(root, data_dir, check_dir):
    """tools/check_parity.py --strict over the checked results:
    {op: None if it matched, else the mismatch text}."""
    r = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_parity.py"),
         "--strict", data_dir, check_dir],
        cwd=root, capture_output=True, text=True)
    verdict = {}
    for line in r.stdout.splitlines():
        line = line.strip()
        if line.startswith("pass "):
            verdict[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            verdict[name] = why or "FAIL"
        elif line.startswith("NO-ORACLE "):
            verdict[line.split()[1].rstrip(":")] = "no oracle"
    return verdict, r.stdout[-4000:] + r.stderr[-2000:]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_parity.py")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the repo root")
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload.startswith("_") or a.workload not in workloads:
        fail(f"unknown workload {a.workload}; have {sorted(workloads)}")
    w = workloads[a.workload]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = build.ensure_built(root)
    jsa = build.archive_path(root)
    if not os.path.exists(jsa):
        train_archive(root, cp, jsa, workloads,
                      [x["name"] for x in bench["workloads"]])
    cds = [f"-XX:SharedArchiveFile={jsa}"]
    build_s = time.time() - t_start

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    data_dir = os.path.join(root, ".bench_data", tag)
    out_dir = os.path.join(root, ".bench_out", tag)
    for d in (data_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out_dir)
    t0 = time.time()
    manifest = gen.generate(a.seed, w["profile"], data_dir)
    gen_s = time.time() - t0

    spec_path = os.path.join(out_dir, "spec.txt")
    write_spec(spec_path, a.workload, data_dir, out_dir, a.seconds, a.trace,
               w["ops"])
    limit = max(30.0, RUN_LIMIT_S - (time.time() - t_start) + build_s)
    log_path = os.path.join(out_dir, "driver.log")
    t0 = time.time()
    code = run_driver(root, cp, spec_path, log_path, limit,
                      driver_env(out_dir), cds)
    driver_s = time.time() - t0
    res_path = os.path.join(out_dir, "result.json")
    if code != 0 or not os.path.exists(res_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"driver exited with {code}")
    with open(res_path) as f:
        res = json.load(f)

    t0 = time.time()
    verdict, parity_log = oracle_check(root, data_dir,
                                       os.path.join(out_dir, "check"))
    parity_s = time.time() - t0
    mismatched = {}
    for c in res["checks"]:
        name = c["name"]
        why = c["error"] or (verdict[name] if name in verdict
                             else "no checked result")
        if why is not None:
            mismatched[name] = why

    untraced = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    timed_ops = [o for p in res["passes"] for o in p["ops"]]
    attempted = len(timed_ops)
    failed = sum(1 for o in timed_ops
                 if o["error"] or o["name"] in mismatched)
    warm_errors = sorted({o["name"] for p in res["warm"] for o in p["ops"]
                          if o["error"]})
    lat = [o["total_s"] for p in untraced for o in p["ops"]]
    per_op = {name: median([o["total_s"] for p in untraced
                            for o in p["ops"] if o["name"] == name])
              for name, _ in w["ops"]}
    slowest = max(per_op, key=per_op.get)
    e2e = {
        "run_s": median([p["run_s"] for p in untraced]),
        "op_p50_s": median(lat),
        "op_tail_s": per_op[slowest],
        "setup_s": res["setup_s"],
        "peak_heap_mb": median([p["peak_heap_mb"] for p in untraced]),
    }
    host = {"calib_ms": statistics.mean(res["host"]["calib_ms"]),
            "io_mbs": statistics.mean(res["host"]["io_mbs"])}

    layers = {}
    if traced:
        keys = sorted({k for p in traced for k in p["layers"]})
        layers = {k: median([p["layers"].get(k, 0.0) for p in traced])
                  for k in keys}
        layers["trace.overhead_s"] = (
            median([p["run_s"] for p in traced]) - e2e["run_s"])
        wall = layers.get("op.wall_s", 0.0)
        covered = sum(layers.get(f"{k}.s", 0.0) for k in LAYERS)
        layers["trace.coverage"] = covered / wall if wall else 0.0
        layers["trace.ops_over_run"] = (
            wall / median([p["run_s"] for p in traced]))
        layers["host.calib_ms"] = host["calib_ms"]
        layers["host.io_mbs"] = host["io_mbs"]

    reconciliation = None
    if traced:
        op_recs = {}
        for p in traced:
            for o in p["op_layers"]:
                op_recs.setdefault(o["name"], []).append(o)
        ops = {}
        for name, recs in op_recs.items():
            wall = median([r["wall_ms"] for r in recs])
            self_ms = {k: median([r["self_ms"][k] for r in recs])
                       for k in LAYERS + ("other",)}
            cov = sum(self_ms[k] for k in LAYERS) / wall if wall else 1.0
            ops[name] = {"wall_ms": wall, "self_ms": self_ms,
                         "coverage": cov}
        shares = {k: layers.get(f"{k}.s", 0.0) /
                  max(layers.get("op.wall_s", 0.0), 1e-9)
                  for k in LAYERS + ("other",)}
        dominant = max(LAYERS, key=lambda k: shares[k])
        reconciliation = {
            "tolerance": TOLERANCE,
            "ops": ops,
            "ops_outside_tolerance": sorted(
                n for n, o in ops.items() if o["coverage"] < 1 - TOLERANCE),
            "ops_over_run": layers["trace.ops_over_run"],
            "layer_shares": shares,
            "dominant_layer": dominant,
            "predicted_dominant": w.get("predicted_dominant"),
            "prediction_holds": dominant == w.get("predicted_dominant"),
        }

    correct = not mismatched and not warm_errors and failed == 0
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": res["cores"], "correct": correct,
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "mismatched": mismatched, "warm_errors": warm_errors,
        "end_to_end": e2e,
        "op_tail": {"slowest_op": slowest, "samples": len(lat)},
        "passes": {"untraced": len(untraced), "traced": len(traced),
                   "run_s": [p["run_s"] for p in res["passes"]],
                   "peak_heap_mb": [p["peak_heap_mb"] for p in res["passes"]],
                   "retained_heap_mb": [p["heap_mb"] for p in res["passes"]],
                   "gcs": [p["gcs"] for p in res["passes"]]},
        "per_op_p50_s": per_op,
        "host": {**res["host"], **{f"{k}_mean": v for k, v in host.items()}},
        "gen_s": gen_s, "inputs": manifest,
        "harness_s": {"build": build_s, "gen": gen_s, "driver": driver_s,
                      "parity": parity_s, "total": time.time() - t_start},
        "layers": layers,
        "reconciliation": reconciliation,
    }
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    with open(os.path.join(out_dir, "parity.log"), "w") as f:
        f.write(parity_log)
    tidy(data_dir, out_dir)

    kind = "per_layer" if a.trace else "end_to_end"
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in bench[kind]}
    for name, why in sorted(mismatched.items()):
        print(f"MISMATCH {name}: {why}")
    print(f"{a.workload} seed={a.seed} passes={len(res['passes'])} "
          f"setup_s={e2e['setup_s']:.2f} gen_s={gen_s:.2f} "
          f"run_s={e2e['run_s']:.3f} host={host}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])
