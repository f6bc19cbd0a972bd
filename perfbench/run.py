#!/usr/bin/env python3
"""Benchmark of the engine: one seeded workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Steps:

1. build: compile src/main/scala and perfbench/scala with the Scala
   compiler shipped in the Spark jars, into $CARGO_TARGET_DIR (default
   .bench_build); skipped when the sources are unchanged;
2. setup: generate the workload's inputs from the seed (three times, the
   median is kept and the files must be byte-identical), start one JVM
   with fixed flags, open a session and run the untimed warm-up pass, which
   also writes every qid result for the correctness gate;
3. measure: the JVM runs whole timed passes, as many as fill --seconds at
   the workload's nominal pass time (at least one; two when traced);
4. check: each qid result against DuckDB running SparkEntry.oracleSql on
   the same input directory (canonical compare of tools/check_oracle.py),
   each timed count against the checked row count, MfTrainer losses
   (strictly decreasing, bitwise equal in every pass), PaTrainer accuracy
   (>= 0.95 on its separable data);
5. report: context lines, then one JSON line with the end-to-end metrics
   (--trace 0) or the per-layer metrics (--trace 1).

Artifacts of the last run of each workload (result.json, context.json,
spans.jsonl) stay under .perfbench_work/last/<workload>/.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"
# young generation capped as build.sbt does: min(heap / 3, 8g / 3)
YOUNG_CAP_MB = min(2048 // 3, 8192 // 3)
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             f"-XX:MaxNewSize={YOUNG_CAP_MB}m", "-Xss4m"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
GEN_REPS = 3
DEADLINE_S = 170
PA_MIN_ACCURACY = 0.95
TRAINERS = ("MfTrainer.train", "PaTrainer.train")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def scala_sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("no Spark jars: set SPARK_HOME")
    return m.group(1)


def build():
    """Compile the program and the benchmark driver; returns the classpath."""
    program = scala_sources("src/main/scala")
    if not program:
        fail("no program sources under src/main/scala: run from a checkout root")
    sources = program + scala_sources("perfbench/scala")
    jars_dir = spark_jars()
    jars = [os.path.join(jars_dir, f"scala-{m}-2.13.17.jar")
            for m in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in jars):
        fail(f"Scala compiler jars not found under {jars_dir}")
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(target, "classes")
    stamp_file = os.path.join(target, "stamp")
    classpath = f"{classes}:{jars_dir}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    log(f"perfbench: compiling {len(sources)} Scala sources")
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", f"{jars_dir}/*"] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: compiled in {time.time() - t0:.1f} s")
    return classpath


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, data):
    """Generate the inputs into ``data`` GEN_REPS times; returns (median s,
    props)."""
    times, digests, props = [], set(), None
    for _ in range(GEN_REPS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        props = datagen.generate(data, workload, seed)
        times.append(time.perf_counter() - t0)
        digests.add(tree_digest(data))
    if len(digests) != 1:
        fail("input generation is not deterministic for this seed")
    return statistics.median(times), props


def timed_passes(spec, seconds, trace):
    """Whole passes that fill about ``seconds`` at the workload's nominal
    pass time: a fixed count per workload, so every run has the same
    shape. A traced run alternates untraced and traced passes and makes
    at least three (untraced, traced, untraced), so that the overhead
    ratio is not biased by the warm-up still going on."""
    return max(3 if trace else 1, int(seconds // spec["pass_estimate_s"]))


def run_jvm(classpath, workload, data, out, spec, seconds, trace, deadline):
    ops = spec["ops"]
    ops_file = os.path.join(out, "ops.txt")
    with open(ops_file, "w") as f:
        f.write("\n".join(ops) + "\n")
    for d in ("tmp", "local", "scratch", "warehouse"):
        os.makedirs(os.path.join(out, d))
    cores = os.cpu_count() or 4
    cmd = (["java"] + JVM_FLAGS +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Djava.io.tmpdir={out}/tmp", f"-Dspark.local.dir={out}/local",
            f"-Dspark.sql.warehouse.dir={out}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Driver",
            "--workload", workload, "--data", data, "--ops", ops_file,
            "--out", out, "--passes", str(timed_passes(spec, seconds, trace)),
            "--trace", str(trace), "--cores", str(cores),
            "--warmups", str(spec["warmup_passes"])])
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(out, "scratch"))
    log_path = os.path.join(out, "jvm.log")
    launched = time.time()
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:  # timed out, or this process is stopping
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            log("".join(f.readlines()[-40:]))
        fail("JVM timed out" if code is None else f"JVM exited with {code}", 1)
    return launched


def check_oracle(data, out, qids):
    """Compare each qid's result with DuckDB running SparkEntry.oracleSql(qid)
    on the same input directory. Returns (qid -> error for every mismatch,
    qid -> result row count)."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad, rows = {}, {}
    for q in qids:
        if q not in oracle:
            bad[q] = "no oracle SQL"
            continue
        try:
            sdf = co.canonical(con.sql(
                f"SELECT * FROM read_parquet('{out}/results/{q}/*.parquet')").df())
            rows[q] = len(sdf)
            odf = co.canonical(con.sql(oracle[q]).df())
        except Exception as e:  # noqa: BLE001 - any harness error is a failure
            bad[q] = f"error: {e}"
            continue
        if list(sdf.columns) != list(odf.columns):
            bad[q] = f"schema {list(sdf.columns)} vs {list(odf.columns)}"
        elif len(sdf) != len(odf):
            bad[q] = f"rows {len(sdf)} vs {len(odf)}"
        elif any(sdf[c].dtype != odf[c].dtype for c in sdf.columns):
            bad[q] = "dtype mismatch"
        elif not pd.util.hash_pandas_object(sdf, index=False).equals(
                pd.util.hash_pandas_object(odf, index=False)):
            bad[q] = "row hash mismatch"
    return bad, rows


def pa_accuracy(data, w):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(data, "labelled.parquet"))
    x = np.array(t.column("x").to_pylist())
    y = t.column("y").to_numpy()
    return float(np.mean(np.sign(x @ np.array(w)) == y))


def check(result, data, out):
    """Mark every op execution ok or failed; returns (attempted, failed,
    failure notes, PaTrainer accuracy per pass)."""
    passes = result["warmups"] + result["passes"]
    qids = [op["name"] for op in result["warmups"][0]["ops"] if op["name"] not in TRAINERS]
    bad, rows = check_oracle(data, out, qids)
    notes = [f"{q}: {e}" for q, e in sorted(bad.items())]
    for op in result["warmups"][0]["ops"]:
        rows.setdefault(op["name"], op["rows"])
    losses = result["mf_losses"]
    mf_ok = bool(losses) and all(l == losses[0] for l in losses) and \
        all(b < a for a, b in zip(losses[0], losses[0][1:]))
    if losses and not mf_ok:
        notes.append(f"MfTrainer losses not strictly decreasing or not repeated: {losses}")
    acc = [pa_accuracy(data, w) for w in result["pa_weights"]]
    if any(a < PA_MIN_ACCURACY for a in acc):
        notes.append(f"PaTrainer accuracy below {PA_MIN_ACCURACY}: {acc}")
    attempted = failed = 0
    for p in passes:
        for op in p["ops"]:
            attempted += 1
            name = op["name"]
            # the correctness pass writes results instead of counting them
            counted = p is result["warmups"][0] or op["rows"] == rows[name]
            ok = op["ok"] and counted and name not in bad
            if name == "MfTrainer.train":
                ok = ok and mf_ok
            if name == "PaTrainer.train":
                ok = ok and all(a >= PA_MIN_ACCURACY for a in acc)
            if not op["ok"]:
                notes.append(f"{p['label']}/{name}: {op['error']}")
            elif not counted:
                notes.append(f"{p['label']}/{name}: {op['rows']} rows, checked {rows[name]}")
            failed += not ok
    return attempted, failed, notes, acc


def end_to_end(result, setup_s, attempted, failed):
    # passes the JVM repeated because other tenants loaded the host are
    # left out, unless no pass was quiet
    passes = [p for p in result["passes"] if p["quiet"]] or result["passes"]
    lat = [op["construct_s"] + op["action_s"] for p in passes for op in p["ops"]]
    med = statistics.median
    return {
        "pass_s": (med([p["wall_s"] for p in passes]), "s"),
        "op_p50_s": (med(lat), "s"),
        "task_cpu_s": (med([p["task_cpu_s"] for p in passes]), "s"),
        "process_cpu_s": (med([p["process_cpu_s"] for p in passes]), "s"),
        "heap_live_peak_mb": (max(p["heap_live_mb"] for p in passes), "MB"),
        "setup_s": (setup_s, "s"),
        "op_ok_ratio": ((attempted - failed) / attempted, "ratio"),
    }


def per_layer(result, spans, cores):
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    per_pass = []
    for p in traced:
        jobs = [s for s in spans if s["kind"] == "job" and s["key"].startswith(p["label"] + "/")]
        per_pass.append(metrics.layer_metrics(p, result["op_layers"], jobs, cores,
                                              result["mf_iters"], result["pa_iters"]))
    m = {k: (statistics.median([pp[k] for pp in per_pass]), unit_of(k)) for k in per_pass[0]}
    m["trace.overhead_ratio"] = (
        statistics.median([p["wall_s"] for p in traced]) /
        statistics.median([p["wall_s"] for p in untraced]), "ratio")
    return m


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share") or name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_per_iter"):
        return "count/iter"
    return "count"


def main():
    t_start = time.time()
    # SIGTERM unwinds like an exception, so the JVM is stopped with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    deadline = t_start + DEADLINE_S
    classpath = build()
    out = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        data = os.path.join(out, "data")
        gen_s, props = generate(a.workload, a.seed, data)
        print("inputs " + json.dumps({"workload": a.workload, "seed": a.seed, **props}))
        launched = run_jvm(classpath, a.workload, data, out, workloads[a.workload],
                           a.seconds, a.trace, deadline)
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        # JVM launch -> first timed pass: boot, session, warm-up passes, JIT settle
        setup_s = gen_s + result["passes"][0]["start_ms"] / 1e3 - launched
        attempted, failed, notes, acc = check(result, data, out)
        for n in notes[:20]:
            log(f"perfbench: FAILED {n}")
        spans = []
        if a.trace:
            with open(os.path.join(out, "spans_raw.jsonl")) as f:
                spans = [json.loads(line) for line in f if line.strip()]
            selfs = metrics.self_times(spans)
            for s in spans:
                s["self_ms"] = selfs[s["id"]]
        context = {
            "workload": a.workload, "seed": a.seed, "ops": workloads[a.workload]["ops"],
            "cores": result["cores"], "jvm": result["jvm"], "jvm_cmd_flags": JVM_FLAGS,
            "gen_s": gen_s, "boot_s": result["boot_s"], "session_s": result["session_s"],
            "window_s": result["window_s"], "jit_settle_s": result["jit_settle_s"],
            "mf_losses": result["mf_losses"][:1],
            "pa_accuracy": acc,
            "passes": [{k: p[k] for k in ("label", "traced", "quiet", "wall_s", "task_cpu_s",
                                          "process_cpu_s", "gc_s", "heap_live_mb", "host")}
                       for p in result["warmups"] + result["passes"]],
        }
        lat = [op["construct_s"] + op["action_s"] for p in result["passes"] for op in p["ops"]]
        context["op_latency"] = {"samples": len(lat),
                                 "p90_s": metrics.tail_percentile(lat, 90)}
        print("context " + json.dumps(context))
        if a.trace:
            m = per_layer(result, spans, result["cores"])
        else:
            m = end_to_end(result, setup_s, attempted, failed)
        last = os.path.join(WORK, "last", a.workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        shutil.copy(os.path.join(out, "result.json"), last)
        with open(os.path.join(last, "context.json"), "w") as f:
            json.dump(context, f, indent=1)
        if spans:
            with open(os.path.join(last, "spans.jsonl"), "w") as f:
                f.writelines(json.dumps(s) + "\n" for s in spans)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
