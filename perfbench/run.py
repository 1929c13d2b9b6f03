"""graft benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload <api_mix|gate_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The launcher builds the engine
from `src/main/scala` and the benchmark from `perfbench/src` with the
Scala compiler that ships with Spark (cached under $CARGO_TARGET_DIR,
default `.bench_build`), makes the run's inputs from the seed
(perfbench/gen.py), runs the workload in a plain JVM and prints the
metrics as the last line of standard output. Everything the run writes
stays in a directory under the build directory that is deleted at the
end.

--trace 0 prints the end-to-end metrics; --trace 1 prints the
per-layer metrics, measured in a separate traced run.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
from stats import percentile, tail_percentile, median, geomean  # noqa: E402

WORKLOADS = ("api_mix", "gate_batch")

# workload sizes; recorded in BENCHMARK.json's `why` lines
API_REPLICAS = 2          # R copies of the 54 fixture ledgers
API_WARMUP = len(gen.ENDPOINTS)  # one untimed block of requests
API_BLOCK_S = 3.0         # nominal seconds of one timed block; blocks = seconds / this
GATE_DATA = "perfbench/data/sf0.01"
GATE_DIGESTS = "DIGESTS_sf0.01.json"
GATE_LIST = "perfbench/gates.txt"
GATE_WARM_REPS = 1        # untimed noop reps after the cold pass
GATE_REP_S = 5.0          # nominal seconds of one timed rep; reps = seconds / this

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]



def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt"), encoding="utf-8") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        die("cannot find the Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp_of(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(jars, files, out, classpath, stamp, log):
    """Compile `files` into `out` unless `out` already holds `stamp`."""
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd + ["@" + argfile], stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"compile failed: {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build(root, bdir, jars):
    """Engine classes and benchmark classes, rebuilt only when sources change."""
    lib_src = sources(os.path.join(root, "src", "main", "scala"))
    if not lib_src:
        die("no engine sources under src/main/scala: run from a source checkout")
    lib = os.path.join(bdir, "lib-classes")
    lib_stamp = stamp_of(lib_src)
    compile_scala(jars, lib_src, lib, None, lib_stamp, os.path.join(bdir, "lib-compile.log"))
    bench_src = sources(os.path.join(HERE, "src"))
    bench = os.path.join(bdir, "bench-classes")
    compile_scala(jars, bench_src, bench, lib, stamp_of(bench_src, lib_stamp),
                  os.path.join(bdir, "bench-compile.log"))
    return [lib, bench, os.path.join(root, "src", "main", "resources")]


def make_inputs(root, workload, seed, seconds, inputs):
    os.makedirs(inputs)
    if workload == "api_mix":
        blocks = max(1, round(seconds / API_BLOCK_S))
        m = gen.gen_api_mix(root, seed, inputs, API_REPLICAS,
                            API_WARMUP + blocks * len(gen.ENDPOINTS))
        m.update(warmup=API_WARMUP, block=len(gen.ENDPOINTS), timed_blocks=blocks)
    else:
        gates = gen.read_gate_list(os.path.join(root, GATE_LIST))
        m = gen.gen_gate_batch(seed, gates, max(1, round(seconds / GATE_REP_S)))
        m.update(data=GATE_DATA, digests=GATE_DIGESTS, warm_reps=GATE_WARM_REPS)
    with open(os.path.join(inputs, "manifest.json"), "w") as fh:
        json.dump(m, fh)
    return m


def run_jvm(root, cp, jars, workload, run_dir, trace, launch_ms, cores):
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    for d in (work, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", os.pathsep.join(cp + [os.path.join(jars, "*")]),
        "graft.perfbench.Main", workload, inputs, work, out, str(trace),
        str(launch_ms), str(cores), root]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as lf:
            sys.stderr.write(lf.read()[-6000:])
        die(f"{workload} JVM failed ({rc})")
    with open(out) as fh:
        return json.load(fh)


def op_kinds(workload, m):
    """Sample keys of the workload's operation kinds: endpoints or gates."""
    if workload == "api_mix":
        return [f"api.{ep}.ms" for ep in gen.ENDPOINTS]
    return [f"gate.{g}.ms" for g in m["gates"]]


def end_to_end(r, workload, m):
    kinds = [r["samples"].get(k) for k in op_kinds(workload, m)]
    if not all(kinds):
        die("an operation kind has no successful timed sample")
    return {
        "setup_s": r["setup_s"],
        # a pooled median of a mix of kinds jumps between the kinds'
        # clusters; the geometric mean of per-kind medians does not
        "op_ms": geomean([median(k) for k in kinds]),
        "items_per_s": r["items"] / r["timed_s"],
        "cached_mb": r["values"].get("cached_bytes", 0.0) / 2**20,
    }


def sizes(workload, m):
    if workload == "api_mix":
        return {"R": API_REPLICAS, "warmup": API_WARMUP,
                "timed_blocks": m["timed_blocks"], "input_bytes": m["input_bytes"]}
    return {"gates": len(m["gates"]), "warm_reps": GATE_WARM_REPS, "reps": len(m["order"]),
            "data": GATE_DATA}


def per_layer(r, m, workload, cores, root):
    """Every per-layer metric; a layer the workload does not use reads 0."""
    v = r["values"]
    val = lambda k: float(v.get(k, 0.0))
    p50 = lambda k: median(r["samples"].get(k, [])) or 0.0
    per = lambda k, n: val(k) / n if n else 0.0
    out = {"session.build_s": val("session.build_s")}
    # write side: the ingest at api_mix set-up
    out["parse.ms"] = p50("parse.ms")
    out["parse.ledgers"] = val("parse.ledgers")
    out["parse.txs"] = val("parse.txs")
    out["store.write_ms"] = p50("store.write.ms")
    out["store.files_written"] = val("store.files_written")
    out["store.bytes_written"] = val("store.bytes_written")
    out["store.bytes_per_input_byte"] = per("store.bytes_written", val("store.input_bytes"))
    out["candles.ms"] = p50("candles.ms")
    out["daemon.ms"] = p50("daemon.ms")
    for d in ("live", "stats"):
        out[f"daemon.{d}.batch_ms"] = val(f"daemon.{d}.batch_ms")
        out[f"daemon.{d}.add_batch_ms"] = val(f"daemon.{d}.add_batch_ms")
    out["daemon.state_rows"] = val("daemon.state_rows")
    out["daemon.state_bytes"] = val("daemon.state_bytes")
    out["etl.ledgers_per_s"] = val("etl.ledgers_per_s")
    # read side: traced store-backed requests
    out["store.read_files"] = per("store.read_files", val("store.read_requests"))
    out["store.read_bytes"] = per("store.read_bytes", val("store.read_requests"))
    # api layer
    ops = r["ops_ms"] if workload == "api_mix" else []
    out["api.build_ms"] = p50("api.build_ms")
    out["api.plan_ms"] = p50("api.plan_ms")
    out["api.exec_ms"] = p50("api.exec_ms")
    out["api.empty_ratio"] = per("api.empty", len(ops))
    out["api.p50_ms"] = median(ops) or 0.0
    out["api.p90_ms"] = percentile(ops, 90) if ops else 0.0
    tail_q, tail_ms = tail_percentile(ops)
    out["api.tail_q"] = tail_q or 0.0
    out["api.tail_ms"] = tail_ms or 0.0
    for ep in gen.ENDPOINTS:
        out[f"api.{ep}.p50_ms"] = p50(f"api.{ep}.ms")
    # gate layer: construction (eager jobs included), planning, execution
    evals = len(r["ops_traced_ms"]) if workload == "gate_batch" else 0
    for k in ("construct", "plan", "exec"):
        out[f"gate.{k}_ms"] = 1000 * per(f"gate.{k}_s", evals)
    out["gate.construct_jobs"] = per("gate.construct_jobs", evals)
    meds = [p50(f"gate.{g}.ms") for g in m.get("gates", [])] if evals else []
    out["batch.total_s"] = sum(meds) / 1000
    out["batch.geomean_ms"] = geomean(meds) if meds and min(meds) > 0 else 0.0
    for g in gen.read_gate_list(os.path.join(root, GATE_LIST)):
        out[f"gate.{g}.ms"] = p50(f"gate.{g}.ms")
    for x in ("GlobalCumsum", "RangeForwardFill", "TopKPerKey"):
        out[f"gate.custom.{x}"] = float(sum(1 for k in v if k.startswith("tag.") and k.endswith("." + x)))
    # scheduler, executors, shuffle and memory over the timed phase
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "peak_exec_mem_bytes"):
        out[f"exec.{k}"] = val(f"exec.{k}")
    out["exec.task_busy_s"] = val("exec.task_busy_ms") / 1000
    out["exec.core_util"] = out["exec.task_busy_s"] / (r["timed_s"] * cores)
    # tracing overhead: this run's traced against its untraced operations
    traced = r["ops_traced_ms"]
    untraced = list(r["ops_ms"])
    for x in traced:
        untraced.remove(x)
    out["trace.op_p50_ms"] = median(traced) or 0.0
    out["trace.overhead_pct"] = (100 * (median(traced) / median(untraced) - 1)
                                 if traced and untraced else 0.0)
    out["machine.steal_pct"] = r["machine"]["steal_pct"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        die("run from the root of a graft source checkout (src/main/scala, build.sbt)")
    jars = spark_jars(root)
    bdir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build(root, bdir, jars)
    cores = len(os.sched_getaffinity(0))

    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        m = make_inputs(root, a.workload, a.seed, a.seconds, os.path.join(run_dir, "inputs"))
        # build and input generation are not set-up of the engine: the
        # set-up clock starts when the JVM is launched
        r = run_jvm(root, cp, jars, a.workload, run_dir, a.trace,
                    int(time.time() * 1000), cores)
        if r["attempted"] < 1:
            die(f"{a.workload}: no operation completed in the timed phase")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    got = per_layer(r, m, a.workload, cores, root) if a.trace else end_to_end(r, a.workload, m)
    if set(got) != {x["name"] for x in spec}:
        die(f"metrics {sorted(set(got) ^ {x['name'] for x in spec})} disagree with BENCHMARK.json")
    metrics = {x["name"]: {"value": got[x["name"]], "unit": x["unit"]} for x in spec}
    # context lines first; the result line is last
    print(json.dumps({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                      "trace": a.trace, "sizes": sizes(a.workload, m),
                      "phases": {k: x for k, x in list(r["values"].items()) + list(r["samples"].items())
                                 if k.startswith(("setup.", "check_s"))},
                      "timed_s": r["timed_s"],
                      "machine": {"steal_pct": r["machine"]["steal_pct"],
                                  "loadavg_before": r["machine"]["before"]["loadavg"],
                                  "loadavg_after": r["machine"]["after"]["loadavg"]},
                      "errors": r["errors"][:5]}))
    if a.trace and a.workload == "gate_batch":
        print(json.dumps({"custom_exec_gates": sorted(
            k[len("tag."):] for k in r["values"] if k.startswith("tag."))}))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
