#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run, measured from outside.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source tree. The first run compiles graft and the
benchmark's Scala files into $CARGO_TARGET_DIR (default .bench_build);
later runs reuse the classes while the sources are unchanged. A run
starts two JVMs one after the other: one that only sets up, then the
measured one; setup_s is the median (the mean) of the two set-ups, each
timed from launch. Each JVM works under .bench_run/, which is wiped before and
after.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics named in BENCHMARK.json (end-to-end ones with --trace 0,
per-layer ones with --trace 1). The line before it carries every metric
of the workload, with units and sample counts. The full artifact, with
host, config, every operation and the trace spans, is written to
.bench_run/artifacts/.

    python3 perfbench/run.py --record-expected

regenerates expected/digests.json from the current tree.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["short_queries", "curate_write"]
# set-ups timed from launch per run, each in its own JVM; setup_s is their
# median. Two, not more: each costs a JVM start, and a run must fit the budget
SETUPS = 2
HEAP = "2g"
# the JVMs of one run, builds apart, must end within this
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
MB = 1048576.0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --- build -----------------------------------------------------------------

def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_tree(name, sources, classpath, build_dir, log):
    """Compiles `sources` into build_dir/name unless the stamp matches."""
    h = hashlib.sha256()
    for f in sources + classpath:
        h.update(f.encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir, name)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.pathsep.join(classpath + [os.path.join(spark_jars(), "*")])
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=850)
    if r.returncode != 0:
        fail(f"compiling {name} failed (see {log.name})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: compiled {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out, stamp


def build(root, build_dir, log):
    src = os.path.join(root, "src", "main", "scala")
    main_sources = scala_sources(src)
    if not main_sources:
        fail(f"no graft sources under {src}; run from the root of a graft source tree")
    os.makedirs(build_dir, exist_ok=True)
    graft, stamp = compile_tree("graft-classes", main_sources, [], build_dir, log)
    bench, _ = compile_tree("perfbench-classes", scala_sources(os.path.join(BENCH, "src")),
                            [graft], build_dir, log)
    return [bench, graft], stamp


# --- one run ----------------------------------------------------------------

def cpu_ticks():
    """(steal, total) clock ticks of all CPUs from /proc/stat, or None
    where there is none."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal; guest time is in user
    return f[7], sum(f[:8])


def run_jvm(classes, workload, seed, seconds, trace, run_dir, deadline, setup_only=False):
    """Runs Main in a fresh JVM under run_dir and returns its artifact,
    with the share of CPU time the host gave to other guests meanwhile."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "raw.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join(classes + [os.path.join(spark_jars(), "*")]),
              "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--data", os.path.join(BENCH, "data", "sf0.01"),
              "--work", os.path.join(run_dir, "work"), "--out", out,
              "--setup-only", "1" if setup_only else "0"])
    log_path = run_dir + ".log"
    with open(log_path, "w") as log:
        ticks0 = cpu_ticks()
        cmd += ["--launch-ms", repr(time.time() * 1000.0)]
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=run_dir)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s (log: {log_path})")
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"{workload} exited {rc} (log: {log_path})")
    ticks1 = cpu_ticks()
    with open(out) as fh:
        a = json.load(fh)
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        a["steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    return a


# --- checks and metrics --------------------------------------------------------

def load_expected():
    with open(os.path.join(BENCH, "expected", "digests.json")) as fh:
        return json.load(fh)["digests"]


def check(op, expected):
    """None when the operation's result is right, else the reason."""
    if op["error"]:
        return op["error"]
    c = op["check"]
    if "effect" in c:
        return None
    if "stored" in c:
        want = expected.get(c["stored"])
        if want is None:
            return f"no expected digest for {c['stored']}"
    else:
        want = c
    if op["rows"] != want["rows"]:
        return f"rows {op['rows']} != {want['rows']}"
    if want["digest"] is not None and op["digest"] != want["digest"]:
        return f"digest {op['digest']} != {want['digest']}"
    return None


def wall_s(op):
    return (op["t1"] - op["t0"]) / 1000.0


def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(a, ops, bad):
    warm = [o for o in ops if o["round"] >= a["warm"]["first_warm_round"] and not o["traced"]]
    cold = [o for o in ops if o["round"] == 0]
    cold_round = next(r for r in a["rounds"] if r["round"] == 0)
    ok_warm = [o for o in warm if id(o) not in bad]
    # the warm rounds' own time, without building their operation lists
    secs = a["warm"]["op_s"]
    # failed operations have no latency; an all-failed run still reports
    walls = [wall_s(o) for o in (ok_warm or warm)]
    m = {
        "setup_s": (statistics.median(a["setups_s"]), "s", len(a["setups_s"])),
        # every run times the same warm rounds, so the mean is over the
        # same operations each time
        "op_mean_s": (mean(walls), "s", len(walls)),
        "op_p50_s": (statistics.median(walls), "s", len(walls)),
        # CPU time of the whole process, JIT and GC threads too, per
        # operation; the kernel leaves out time the host gave to other
        # guests (steal), which the wall-clock figures take in
        "op_cpu_s": (a["warm"]["cpu_s"] / len(warm), "s", len(warm)),
        "cold_op_cpu_s": (cold_round["cpu_ms"] / 1000 / len(cold), "s", len(cold)),
        "cold_op_p50_s": (statistics.median(wall_s(o) for o in cold), "s", len(cold)),
        "cold_op_mean_s": (mean([wall_s(o) for o in cold]), "s", len(cold)),
        "ops_per_s": (len(ok_warm) / secs, "1/s", len(ok_warm)),
        "peak_heap_mb": (a["warm"]["heap_peak_mb"], "MB", 1),
        "failed_share": (len(bad) / len(ops), "ratio", len(ops)),
    }
    # the highest percentile with ten samples beyond it
    if len(walls) >= 100:
        m["op_p90_s"] = (quantile(walls, 0.9), "s", len(walls))
    f = a["facts"]
    if a["workload"] == "curate_write":
        # the DAG and the curation keys each process the whole corpus
        corpus_ops = [o for o in ok_warm if o["name"] == "curate_dag" or o["check"].get("stored", "").startswith("corpus_")]
        m["docs_per_s"] = (f["corpus_docs"] * len(corpus_ops) / secs, "docs/s", len(corpus_ops))
        stored = f["user_bytes"] - a["facts_at_warm_start"]["user_bytes"]
        m["write_amp"] = (a["warm"]["local_bytes_written"] / stored, "ratio", 1)
    return m


def per_layer(a, ops):
    t = a["trace"]
    win = [w for w in t["windows"] if w["round"] >= a["warm"]["first_warm_round"]]
    first = a["warm"]["first_warm_round"]
    traced = [o for o in ops if o["traced"] and o["round"] >= first]
    untraced = [o for o in ops if not o["traced"] and o["round"] >= first]
    n_ops = len(win)

    def per_op(k):
        return sum(w[k] for w in win) / n_ops

    rounds = {r["round"]: r for r in a["rounds"]}
    warm_rounds = [r for r in a["rounds"] if r["round"] >= first and not r["traced"]]
    cold_round = rounds[0]
    # tracing overhead: per operation, mean traced over mean untraced wall
    pairs = {}
    for o in traced + untraced:
        pairs.setdefault(o["name"], ([], []))[0 if o["traced"] else 1].append(wall_s(o))
    overhead = statistics.median(mean(t) / mean(u) for t, u in pairs.values() if t and u and mean(u) > 0) - 1
    m = {
        "operators.build_s": (mean([(o["tb"] - o["t0"]) / 1000 for o in traced]), "s"),
        "operators.build_jobs": (per_op("build_jobs"), "count"),
        "catalyst.analysis_ms": (per_op("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (per_op("optimization_ms"), "ms"),
        "catalyst.planning_ms": (per_op("planning_ms"), "ms"),
        "catalyst.executions": (per_op("executions"), "count"),
        "codegen.compile_ms": (cold_round["compile_ms"] / cold_round["ops"], "ms"),
        "codegen.compiles": (cold_round["compiles"] / cold_round["ops"], "count"),
        # what a warm operation still compiles: Spark's code cache holds 100 classes
        "codegen.warm_compile_ms": (per_op("compile_ms"), "ms"),
        "scheduler.jobs": (per_op("jobs"), "count"),
        "scheduler.stages": (per_op("stages"), "count"),
        "scheduler.tasks": (per_op("tasks"), "count"),
        "scheduler.gap_ms": (per_op("gap_ms"), "ms"),
        "executor.run_ms": (per_op("run_ms"), "ms"),
        "executor.cpu_ms": (per_op("cpu_ms"), "ms"),
        "executor.offcpu_ms": (per_op("offcpu_ms"), "ms"),
        "executor.task_skew": (max(w["task_skew"] for w in win), "ratio"),
        "shuffle.write_mb": (per_op("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (per_op("shuffle_read_mb"), "MB"),
        "shuffle.fetch_wait_ms": (per_op("fetch_wait_ms"), "ms"),
        "shuffle.spill_mem_mb": (per_op("spill_mem_mb"), "MB"),
        "shuffle.spill_disk_mb": (per_op("spill_disk_mb"), "MB"),
        "jvm.gc_ms": (per_op("gc_ms"), "ms"),
        # the JIT compiler threads' share of the process CPU, over the
        # untraced warm rounds
        "jvm.jit_cpu_ms": (sum(r["jit_cpu_ms"] for r in warm_rounds) / sum(r["ops"] for r in warm_rounds), "ms"),
        "jvm.heap_peak_mb": (statistics.median(w["heap_peak_mb"] for w in win), "MB"),
        "sources.input_mb": (per_op("input_mb"), "MB"),
        "sources.input_rows": (per_op("input_rows"), "count"),
        "sources.output_mb": (per_op("output_mb"), "MB"),
        "sources.output_files": (per_op("output_files"), "count"),
        "sources.tmp_left_mb": (a["warm"]["tmp_left_bytes"] / MB, "MB"),
        "residual_ms": (per_op("residual_ms"), "ms"),
        "trace.overhead": (overhead, "ratio"),
        "trace.ledger_max_err_ms": (t["ledger_max_err_ms"], "ms"),
        "trace.dropped_events": (t["dropped_events"], "count"),
    }
    by_name = {}
    for o in traced:
        by_name.setdefault(o["name"], []).append(o)
    if a["workload"] == "curate_write":
        for k in ["store", "alias", "get", "export_archive", "import_archive"]:
            m[f"registries.{k}_s"] = (statistics.median(wall_s(o) for o in by_name[f"registries.{k}"]), "s")
        stream = [w for w in win if w["stream_batches"] > 0]
        m["streaming.batches"] = (sum(w["stream_batches"] for w in stream) / max(1, len(stream)), "count")
        for k in ["add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "query_planning_ms"]:
            m[f"streaming.{k}"] = (sum(w[k] for w in stream) / max(1, len(stream)), "ms")
        m["streaming.state_rows"] = (max([w["state_rows"] for w in stream] + [0]), "count")
        m["streaming.state_mem_mb"] = (max([w["state_mem_mb"] for w in stream] + [0]), "MB")
        dag = [o for o in traced if o["name"] == "curate_dag"]
        m["plans.run_s"] = (statistics.median((o["marks"]["plans"] - o["t0"]) / 1000 for o in dag), "s")
        m["plans.steps"] = (a["facts"]["dag_steps"], "count")
        for k in a["kernels"]:
            m[f"graftext.{k['kernel']}_rows_per_s"] = (k["rows"] / k["s"], "rows/s")
    queued = [o for o in traced if "queued" in o["marks"]]
    if queued:
        m["api.submit_to_plan_s"] = (statistics.median(
            (o["tb"] - o["marks"]["queued"]) / 1000 for o in queued), "s")
        m["api.action_s"] = (statistics.median((o["t1"] - o["tb"]) / 1000 for o in queued), "s")
    return m


def run(args, root):
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    run_root = os.path.join(root, ".bench_run")
    os.makedirs(run_root, exist_ok=True)
    with open(os.path.join(run_root, "build.log"), "w") as log:
        classes, stamp = build(root, build_dir, log)
    setups = []
    deadline = time.time() + RUN_TIMEOUT_S
    # the set-up-only JVM first, then the measured one, whose set-up is the last
    for i in range(SETUPS):
        run_dir = os.path.join(run_root, args.workload if i == SETUPS - 1 else f"{args.workload}-setup{i}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        try:
            a = run_jvm(classes, args.workload, args.seed, args.seconds, args.trace,
                        run_dir, deadline, setup_only=i < SETUPS - 1)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        setups.append(a["setup_s"])
    a["setups_s"] = setups
    a["host"]["steal_share"] = a.pop("steal_share", None)
    return a, stamp


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-expected", action="store_true")
    args = p.parse_args()
    # a runner that stops us with SIGTERM gets the JVM stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if args.record_expected:
        return record_expected(args, root)
    if not args.workload:
        fail("--workload is required")

    a, stamp = run(args, root)
    expected = load_expected()
    ops = a["ops"]
    bad = {}
    for o in ops:
        why = check(o, expected)
        if why:
            bad[id(o)] = why
            print(f"perfbench: FAILED {o['name']} (round {o['round']}): {why}", file=sys.stderr)
    bench_spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if args.trace:
        full = per_layer(a, ops)
        wanted = [m["name"] for m in bench_spec["per_layer"]]
        traced_ok = (a["trace"]["dropped_events"] == 0 and a["trace"]["ledger_max_err_ms"] <= 1.0)
        if not traced_ok:
            print("perfbench: traced run invalid: dropped events or an open ledger", file=sys.stderr)
    else:
        e2e = end_to_end(a, ops, bad)
        full = {k: (v, u) for k, (v, u, _) in e2e.items()}
        counts = {k: n for k, (_, _, n) in e2e.items()}
        wanted = [m["name"] for m in bench_spec["end_to_end"]]
        traced_ok = True

    a["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in full.items()}
    a["code"] = {"git_commit": git_commit(root), "source_sha256": stamp}
    a["host"]["python"] = platform.python_version()
    a["failures"] = sorted(set(bad.values()))
    art_dir = os.path.join(root, ".bench_run", "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(art, "w") as fh:
        json.dump(a, fh)

    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "artifact": os.path.relpath(art, root), "steal_share": a["host"]["steal_share"],
               "metrics": {k: {"value": v, "unit": u, **({"n": counts[k]} if not args.trace else {})}
                           for k, (v, u) in full.items()}}
    print(json.dumps(summary))
    result = {"correct": not bad and traced_ok, "attempted": len(ops), "failed": len(bad),
              "metrics": {k: {"value": full[k][0], "unit": full[k][1]} for k in wanted}}
    print(json.dumps(result))


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def record_expected(args, root):
    """Runs every workload on two seeds and stores each operation's
    result. A digest that differs between observations is stored as
    null: that operation is then checked by row count only."""
    seen = {}
    for w in WORKLOADS:
        for seed in (1, 2):
            args.workload, args.seed, args.seconds, args.trace = w, seed, 1, 0
            a, _ = run(args, root)
            for o in a["ops"]:
                if o["error"]:
                    fail(f"{w}: {o['name']} failed: {o['error']}")
                if "stored" in o["check"]:
                    seen.setdefault(o["check"]["stored"], set()).add((o["rows"], o["digest"]))
    digests, rows_only = {}, []
    for k, obs in sorted(seen.items()):
        if len({r for r, _ in obs}) != 1:
            fail(f"{k}: row count differs between runs: {sorted(obs)}")
        digest = next(iter(obs))[1] if len(obs) == 1 else None
        if digest is None:
            rows_only.append(k)
        digests[k] = {"rows": next(iter(obs))[0], "digest": digest}
    out = {"note": "generated by run.py --record-expected; digest null = checked by row count only",
           "row_count_only": rows_only, "digests": digests}
    with open(os.path.join(BENCH, "expected", "digests.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(digests)} digests, {len(rows_only)} by row count only")


if __name__ == "__main__":
    main()
