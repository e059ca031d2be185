#!/usr/bin/env python3
"""The repo benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (``perfbench/build.sbt``, which compiles against the
engine's own build); later runs reuse the build while the sources are
unchanged. Each run then

1. generates its inputs from the seed (``gen.py``) under ``perfbench/out``;
2. starts one JVM (``perfbench.Main``) with one Spark session at
   ``local[<cores>]``, shaped like ``graft.Bench``'s, and waits until it
   is warmed up — the warm-up runs the op set once untimed and keeps the
   registry ops' outputs for the checks: the time
   from the end of the build check to that point is ``setup_s``;
3. times the op set round after round in a closed loop with one client,
   for a fixed number of rounds sized to ``--seconds``;
4. checks every output against DuckDB (``check.py``);
5. prints one line per metric, then the result as one JSON object on the
   last line. It exits 1 on a wrong result or a failed op.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` registers the
harness's Spark and streaming listeners and reports the per-layer metrics,
a self-time table per layer, and the tracing overhead against the latest
untraced run of the same workload in this checkout.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
# The host-speed probe (perfbench.Calib, a fixed plain-Spark job timed
# after the warm-up and after each timed round) takes this long at the
# reference speed. On a shared host whole runs swing by 1.3-1.6 times, so
# every reported time is scaled by this over the run's median probe: times
# are in seconds at the reference speed. Heap and counts are not scaled.
REF_PROBE_MS = 500.0
ENGINE_DEADLINE_S = 150  # the engine run must end within this, leaving time for the checks
sys.path.insert(0, HERE)

# registry_mix runs this fixed op set; the seed makes the inputs and the
# order. It holds the reference's own query shapes (the ExportConfig-driven
# analytic query, the content-date rewrite and the transform chain), two
# more latency-bound analytic queries, one multi-job build chain (IVF index:
# codebook collect, then assignment) and one streaming drain (watermarked
# dedup on the RocksDB state store). Seven ops, so the median op is one op
# rather than the mean of two unlike ones. A sampled op
# set would make every seed a different workload, and the run-to-run
# spread of its medians wider than any bound worth keeping.
REGISTRY_MIX = ["q_analytic_exec", "q_content_rewrite", "q_transform_chain", "q_dim_join",
                "q_cohort_retention", "ann_ivf_topk", "q_stream_dedup"]
REGISTRY_TABLES = ("region", "nation", "customer", "orders", "events", "embeddings")
# A run times this many seconds of work per round, nominally, so the
# number of timed rounds (and with it the op count behind each percentile)
# is fixed for a given --seconds.
NOMINAL_ROUND_S = {"etl_export": 8.0, "registry_mix": 8.5}
WORKLOADS = ("etl_export", "registry_mix")
CORES = os.cpu_count()  # local[CORES], shuffle partitions = CORES, as graft.Bench runs
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp_file = os.path.join(HERE, "target", "perfbench-classpath.json")
    stamp = source_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def make_plan(workload, seed, seconds, trace, cores, work, data):
    import gen
    plan = {"workload": workload, "data": data, "work": work, "cores": cores, "trace": trace}
    if workload == "etl_export":
        gen.write_content(seed, data)
        doc, etl_plan = gen.export_configs(seed)
        plan["configs_path"] = os.path.join(work, "configs.json")
        with open(plan["configs_path"], "w") as f:
            f.write(doc)
        plan["etl_plan"] = etl_plan
        plan["today"] = gen.TODAY
        plan["stub"] = gen.stub_spec(seed)
    else:
        gen.write_tables(seed, data, REGISTRY_TABLES)
        plan["ops"] = gen.shuffled(seed, REGISTRY_MIX)
    plan["rounds"] = max(2, math.ceil(seconds / NOMINAL_ROUND_S[workload]))
    return plan


def tail_percentile(xs):
    """Highest whole percentile with at least ten samples beyond it, and
    the value there (nearest rank). With fewer than 20 samples that
    percentile would not be above the median; then it is the highest
    percentile with one sample beyond it, the second-slowest op, because
    the slowest alone swings with any single stalled op."""
    n = len(xs)
    s = sorted(xs)
    beyond = 10 if n >= 20 else 1
    p = math.floor(100 * (n - beyond) / n)
    return p, s[max(0, math.ceil(p / 100 * n) - 1)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    t0 = time.time()  # set-up starts once the (one-time) build is done
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, run_id)
    data = os.path.join(work, "data")
    for d in (data, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    code = run(args, classpath, work, data, t0)
    if code == 0:
        shutil.rmtree(work, ignore_errors=True)
    else:
        print(f"perfbench: inputs, outputs and logs kept in {work}", file=sys.stderr)
    sys.exit(code)


def run(args, classpath, work, data, t0):
    import check
    plan = make_plan(args.workload, args.seed, args.seconds, args.trace, CORES, work, data)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", plan_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    ready = False
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env)
        # the whole command must end within 180 s: stop a stuck engine
        watchdog = threading.Timer(ENGINE_DEADLINE_S, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                ready = ready or line.startswith("READY ")
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not ready or not os.path.isfile(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"engine run failed (exit {proc.returncode})")
    with open(result_path) as f:
        result = json.load(f)

    ops = result["ops"]
    if args.workload == "etl_export":
        with open(plan["configs_path"]) as f:
            configs = json.load(f)
        errors = check.check_export(data, work, result, configs, plan["etl_plan"], plan["stub"])
        bad = {(r, d) for r, d in (k.split(" ")[1:] for k in errors)}
        dest_of = {e["config_id"]: e["dest"] for e in plan["etl_plan"]}
        failed_ops = [o for o in ops if not o["ok"] or (str(o["round"]), dest_of[o["name"]]) in bad]
    else:
        errors = check.check_registry(data, work, result)
        failed_ops = [o for o in ops if not o["ok"] or o["name"] in errors]
    for k, v in errors.items():
        print(f"check failed: {k}: {v}")
    for o in ops:
        if o["error"]:
            print(f"op failed: {o['name']} round {o['round']}: {o['error']}")

    # every time is scaled to the reference host speed
    probe_ms = statistics.median(c["ms"] for c in result["calib"])
    scale = REF_PROBE_MS / probe_ms
    raw = [(o["end_ms"] - o["start_ms"]) / 1000 for o in ops]
    lat = [x * scale for x in raw]
    # a round's wall: the time its ops took, end to end, without the
    # harness's untimed work between them
    per_round = len(plan["ops"]) if "ops" in plan else len(plan["etl_plan"])
    rounds = {}
    for o, x in zip(ops, lat):
        rounds.setdefault(o["round"], []).append(x)
    walls = [sum(xs) for xs in rounds.values() if len(xs) == per_round]
    p, tail = tail_percentile(lat)
    setup_raw = result["ready_ms"] / 1000 - t0
    e2e = {
        "setup_s": (setup_raw * scale, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "heap_peak_mb": (result["heap_peak_mb"], "MB"),
    }
    for o, x, y in zip(ops, raw, lat):
        print(f"op {o['name']} round {o['round']}: {x:.3f} s measured, {y:.3f} s at reference speed")
    print(f"setup {setup_raw:.3f} s measured; host speed probe {probe_ms:.1f} ms median of "
          f"{[round(c['ms']) for c in result['calib']]}, reference {REF_PROBE_MS} ms")
    print(f"workload {args.workload} seed {args.seed}: {len(ops)} ops, {len(walls)} whole "
          f"rounds of {per_round}, {len(failed_ops)} failed")
    print(f"op_tail_s is p{p} of {len(lat)} op latencies")
    # the latest run of each kind outlives the work directory
    last = os.path.join(OUT, "last")
    os.makedirs(last, exist_ok=True)
    if args.trace == 0:
        metrics = e2e
        with open(os.path.join(last, f"{args.workload}.json"), "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
    else:
        metrics = layer_metrics(result, lat, args.workload)
        print_self_times(result)
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(last, f"{args.workload}-spans.json"))
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    out = {"correct": not errors and not failed_ops, "attempted": len(ops),
           "failed": len(failed_ops),
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def layer_metrics(result, lat, workload):
    layers = result["layers"]
    out = {k: (layers[k], unit_of(k)) for k in sorted(layers)}
    out["spec.parse_ms"] = (result.get("spec_parse_ms", 0.0), "ms")
    op_p50 = statistics.median(lat)
    out["trace.op_p50_s"] = (op_p50, "s")
    last = os.path.join(OUT, "last", f"{workload}.json")
    if os.path.isfile(last):
        with open(last) as f:
            base = json.load(f)["op_p50_s"]
        print(f"tracing overhead: op_p50_s {op_p50:.4f} s traced vs {base:.4f} s untraced "
              f"({(op_p50 / base - 1) * 100:+.1f}% of the untraced median)")
    else:
        print("tracing overhead: no untraced run of this workload in this checkout to compare")
    return out


def unit_of(metric):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffixes, unit in ((("bytes_per_row",), "bytes/row"), (("_ms", ".ms"), "ms"),
                           (("_bytes", ".bytes"), "bytes"), (("_s",), "s"),
                           (("_share", "_util", "_ratio", "_frac"), "ratio")):
        if metric.endswith(suffixes):
            return unit
    return "count"


def print_self_times(result):
    print("layer self time (ms per op, share of op wall):")
    for row in sorted(result["self_time"], key=lambda r: -r["self_ms_per_op"]):
        print(f"  {row['layer']:<10} {row['self_ms_per_op']:10.2f} ms  "
              f"{row['share_of_op_wall'] * 100:6.1f}%")


if __name__ == "__main__":
    main()
