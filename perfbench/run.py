"""The repository benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload pipeline_backfill|dedup_pairs \
      --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in one
JVM through perfbench.Harness, checks the outputs (perfbench/check.py) and
prints one JSON object as the last line of standard output. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/NOTES.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout's sources

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
with open(os.path.join(HERE, "queries.json")) as _f:
    QUERIES = json.load(_f)

CORES = max(1, min(4, os.cpu_count() or 1))  # local[k], k <= nproc
HEAP = "3g"
JVM_TIMEOUT_S = 160
DATA_SEED = 42      # the query tables are fixed; the workload seed orders the queries
QUERY_SF = 0.01     # 500 documents, 500 embeddings
PASS_DAYS = 6       # first-load days per pipeline pass (plus their replays)
WARM_DAYS = 1

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

OP_KIND = {"pipeline_backfill": "day", "dedup_pairs": "query"}           # what op_* time
PASS_KINDS = {"pipeline_backfill": ("day", "replay"), "dedup_pairs": ("build", "query")}


def query_data(sf):
    """Query tables, generated once per checkout from a fixed seed (and
    again whenever the generator changes)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build.build_dir(), "data", f"sf{sf}-seed{DATA_SEED}-{version}")
    if not os.path.exists(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.tables(tmp, sf, DATA_SEED)
        os.rename(tmp, d)
    return d


def make_inputs(workload, seed, inputs):
    """Generate the workload's inputs; return the harness arguments."""
    os.makedirs(inputs)
    if workload == "pipeline_backfill":
        gen.weather(inputs, seed, PASS_DAYS)
        return ["--pass-days", str(PASS_DAYS), "--warm-days", str(WARM_DAYS)]
    reads = {c["query"]: ",".join(c["builders"]) for c in QUERIES["dedup_consumers"]}
    order = gen.query_order(QUERIES["dedup_pairs"], seed)
    with open(os.path.join(inputs, "consumers.tsv"), "w") as f:
        f.write("".join(f"{q}\t{reads[q]}\n" for q in order))
    return ["--data", query_data(QUERY_SF)]


def run_jvm(classpath, workload, seconds, trace, inputs, work, args, timeout=JVM_TIMEOUT_S):
    out = os.path.join(work, "result.json")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classpath), "perfbench.Harness",
            "--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
            "--inputs", inputs, "--work", work, "--out", out] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS=f"{work}/spark-local")
    log = open(os.path.join(work, "jvm.log"), "w")
    try:
        subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                       timeout=timeout, check=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"harness JVM exceeded {timeout} s (log: {log.name})")
    except subprocess.CalledProcessError as e:
        log.close()
        sys.stderr.write(open(log.name).read()[-4000:])
        raise SystemExit(f"harness JVM failed (exit {e.returncode})")
    finally:
        log.close()
    with open(out) as f:
        return json.load(f)


def end_to_end(workload, res):
    """Bound-gated metrics, plus wall-clock and whole-JVM CPU figures that
    are printed but not declared: the machine's CPUs are shared, and both
    move with the other tenants' load far more than the CPU time of the
    program's own threads does (see NOTES.md)."""
    ops = [o for o in res["ops"] if o["pass"] > 0]
    timed = [o for o in ops if o["kind"] == OP_KIND[workload]]
    passes = sorted({o["pass"] for o in ops})

    def per_pass(field):
        return statistics.median(sum(o[field] for o in ops if o["pass"] == p and
                                     o["kind"] in PASS_KINDS[workload]) for p in passes)
    walls = [o["wall_s"] for o in timed]
    setup = res["setup"]
    gated = {
        "setup_s": setup["session_cpu_s"] + setup["warm_cpu_s"],
        "op_cpu_s": statistics.mean(o["app_cpu_s"] for o in timed),
        "pass_cpu_s": per_pass("app_cpu_s"),
    }
    wall = {"op_p50_s": statistics.median(walls), "ops_per_s": len(walls) / sum(walls),
            "pass_s": per_pass("wall_s"), "jvm_cpu_s": per_pass("cpu_s"),
            "setup_s": setup["session_s"] + setup["warm_s"],
            "samples": len(walls), "passes": len(passes)}
    return gated, wall


def per_layer(workload, res):
    """The traced run's layer numbers, plus its end-to-end numbers measured
    with tracing on: compared with the untraced runs they give the tracing
    overhead."""
    layers = dict(res["layers"])
    gated, wall = end_to_end(workload, res)
    layers["trace.op_p50_s"] = wall["op_p50_s"]
    layers["trace.pass_s"] = wall["pass_s"]
    layers["trace.op_cpu_s"] = gated["op_cpu_s"]
    layers["trace.pass_cpu_s"] = gated["pass_cpu_s"]
    layers["jvm.pass_cpu_s"] = wall["jvm_cpu_s"]
    return layers


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OP_KIND) + ["discover"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("build.sbt", "src/main/scala", "tools/validate_oracle.py"):
        if not os.path.exists(need):
            sys.exit(f"run from the repository root: {need} not found")
    classpath = build.build()
    work = os.path.join(build.build_dir(), "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        if args.workload == "discover":
            return discover(classpath, work, inputs)
        jvm_args = make_inputs(args.workload, args.seed, inputs)
        res = run_jvm(classpath, args.workload, args.seconds, args.trace, inputs, work, jvm_args)
        data = query_data(QUERY_SF) if args.workload == "dedup_pairs" else None
        failed, attempted, notes = check.check(
            args.workload, res, inputs, data, os.path.join(work, "dump"),
            os.path.join(build.build_dir(), "oracle-cache"))
        if args.trace:
            metrics = per_layer(args.workload, res)
            spans = os.path.join(build.build_dir(), "traces",
                                 f"{args.workload}-seed{args.seed}.spans.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), spans)
            notes.append(f"spans: {spans}")
        else:
            metrics, wall = end_to_end(args.workload, res)
            notes.append(f"{wall['samples']} {OP_KIND[args.workload]} samples in "
                         f"{wall['passes']} passes; wall clock: op_p50_s = {wall['op_p50_s']:.4f}, "
                         f"ops_per_s = {wall['ops_per_s']:.4f}, pass_s = {wall['pass_s']:.3f}, "
                         f"setup_s = {wall['setup_s']:.3f}; "
                         f"whole-JVM CPU per pass {wall['jvm_cpu_s']:.2f} s")
        # a layer the workload does not exercise reads 0
        declared = BENCH["per_layer" if args.trace else "end_to_end"]
        values = {m["name"]: float(metrics.get(m["name"], 0.0)) for m in declared}
        for n in notes:
            print(f"# {n}")
        for m in declared:
            print(f"{m['name']} = {values[m['name']]:.6g} {m['unit']}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in declared}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def discover(classpath, work, inputs):
    """List the queries whose executed plans read a dedup frame."""
    os.makedirs(inputs)
    res = run_jvm(classpath, "discover", 0, 0, inputs, work, ["--data", query_data(QUERY_SF)],
                  timeout=3600)
    found = {}
    for q, b in res["check"]["consumers"]:
        found.setdefault(q, []).append(b)
    print(json.dumps([{"query": q, "builders": b} for q, b in found.items()], indent=1))
    print("errors:", json.dumps(res["errors"]), file=sys.stderr)


if __name__ == "__main__":
    main()
