#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload tag|kg_chain --seed N \
        --seconds S --trace 0|1

Builds the engine and this benchmark from source with sbt (once per source
fingerprint, into .bench_build/), runs one JVM (perfbench.Main) that makes
the workload's inputs from the seed, checks every answer (in the JVM against
generator gold and graph invariants, here against the engine's DuckDB oracle
SQL), and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones. The full record of the run (every sample, host
facts, quartiles) is kept in .bench_build/results/. Exits non-zero without a
result line when the directory is not a checkout of the engine.

--inject drop_triple|edge_weight|q18_score corrupts one answer before it is
checked; `perfbench/selftest.py` uses it to show the checks catch it.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
MODEL = os.path.join(ROOT, "models", "ner-conllnotags-v1.gz")
# The traced run's battery of headline queries reads the engine's fixed
# seed-42 sf0.01 test tables, copied here: the benchmark reads nothing
# outside its checkout.
BATTERY_DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ----- build -----

def fingerprint():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "models", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p) for f in fs
            if "target" not in os.path.relpath(d, p).split(os.sep))
        for f in files:
            if os.path.isfile(f) and "/target/" not in f:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def jvm_cmd(cp, main_args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + ["-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=4",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(cmd, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, GRAFT_MODEL_PATH=MODEL, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return -9


def steal_ticks():
    """CPU time (ticks, all CPUs) the hypervisor gave to other guests."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def build():
    """Classpath and oracle SQL of a build of the current sources."""
    fp = fingerprint()
    info_path = os.path.join(BUILD, "build.json")
    if os.path.isfile(info_path):
        with open(info_path) as f:
            info = json.load(f)
        if info.get("fingerprint") == fp:
            return info
    log("building engine and benchmark with sbt")
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, timeout=800)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    sys.stderr.write(out.stdout[-4000:])
    if out.returncode != 0 or not lines:
        die(f"sbt build failed ({out.returncode})", 3)
    cp = lines[-1].strip()
    work = os.path.join(BUILD, "oracle-dump")
    os.makedirs(work, exist_ok=True)
    oracle_path = os.path.join(BUILD, "oracle_sql.json")
    if run_jvm(jvm_cmd(cp, ["--dump-oracles", oracle_path], work), work, 600) != 0:
        die("dumping the oracle SQL failed", 3)
    shutil.rmtree(work, ignore_errors=True)
    info = {"fingerprint": fp, "classpath": cp, "oracle_sql": oracle_path}
    with open(info_path, "w") as f:
        json.dump(info, f)
    return info


# ----- answers checked in DuckDB -----

def corrupt_first_float(df):
    """Self-test fault: nudges one score of the answer."""
    col = next(c for c in df.columns if str(df[c].dtype).startswith("float"))
    df = df.reset_index(drop=True)
    df.loc[0, col] = df.loc[0, col] + 1e-9
    return df


def oracle_failures(rec, oracle_sql, inject):
    """{query: reason} for each written answer that differs from its oracle."""
    import oracle
    bc = rec.get("battery_check")
    if not bc:
        return {}
    checks = [(q, oracle_sql[q], os.path.join(bc["dir"], q),
               corrupt_first_float if (inject == "q18_score" and q == "q18_jaccard_pairs") else None)
              for q in bc["queries"]]
    return oracle.check_all(checks, bc["sf_dir"], os.path.join(BUILD, "oracle-answers"))


# ----- metrics -----

def timed_ops(ops, name=None):
    return [o for o in ops if o.get("timed", True) and not o.get("traced")
            and (name is None or o["op"] == name)]


def end_to_end(workload, rec, ops):
    return {"op_s": [o["sec"] for o in timed_ops(ops, workload)],
            "setup_s": rec["setup_s"], "peak_rss_mb": [rec["peak_rss_mb"]]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["drop_triple", "edge_weight", "q18_score"])
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "models/ner-conllnotags-v1.gz", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a checkout of the engine: {need} is missing")
    sp = spec()
    if a.workload not in [w["name"] for w in sp["workloads"]]:
        die(f"unknown workload {a.workload}")
    info = build()
    with open(info["oracle_sql"]) as f:
        oracle_sql = json.load(f)

    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec_path = os.path.join(work, "record.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", rec_path, "--work", work, "--data", BATTERY_DATA]
        if a.inject:
            args += ["--inject", a.inject]
        t0 = time.time()
        steal0 = steal_ticks()
        code = run_jvm(jvm_cmd(info["classpath"], args, work), work, JVM_TIMEOUT_S)
        steal = steal_ticks() - steal0
        if code != 0 or not os.path.isfile(rec_path):
            die(f"benchmark JVM exited with {code}", 1)
        with open(rec_path) as f:
            rec = json.load(f)
        bad = oracle_failures(rec, oracle_sql, a.inject)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = rec["ops"]
    errors = list(rec["errors"])
    for q, why in sorted(bad.items()):
        errors.append(f"{q}: oracle mismatch: {why}")
        for o in ops:  # every run of a query whose checked answer is wrong is wrong
            if o["op"] == q:
                o["ok"] = False
        if not any(o["op"] == q for o in ops):
            ops.append({"op": q, "sec": 0.0, "ok": False, "timed": False})
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    for e in errors:
        log(f"check failed: {e}")

    metrics = {}
    summary = {}
    if a.trace:
        layers = rec.get("layers", {})
        for m in sp["per_layer"]:
            if m["name"] not in layers:
                errors.append(f"per-layer metric {m['name']} not measured")
                continue
            metrics[m["name"]] = {"value": layers[m["name"]], "unit": m["unit"]}
    else:
        samples = end_to_end(a.workload, rec, ops)
        for m in sp["end_to_end"]:
            xs = samples.get(m["name"])
            if not xs:
                errors.append(f"end-to-end metric {m['name']} has no samples")
                continue
            metrics[m["name"]] = {"value": stats.median(xs), "unit": m["unit"]}
            summary[m["name"]] = {"n": len(xs), "median": stats.median(xs),
                                  "quartiles": stats.quartiles(xs) if len(xs) > 1 else None,
                                  "samples": xs}
    result = {"correct": failed == 0 and not errors, "attempted": max(attempted, 1),
              "failed": failed if attempted else 1, "metrics": metrics}

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    wall = time.time() - t0
    host = dict(rec["host"], steal_share=steal / (100.0 * wall * rec["host"]["nproc"]))
    full = dict(result, workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                host=host, summary=summary, errors=errors, ops=ops, wall_s=wall,
                turns=rec.get("turns"))
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-' + a.inject if a.inject else ''}.json"
    with open(os.path.join(BUILD, "results", name), "w") as f:
        json.dump(full, f, indent=1)
    log("host " + json.dumps(host))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
