#!/usr/bin/env python3
"""The graft benchmark: one command, one workload per run.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the benchmark
(graftbench/build.sbt: graft's sources plus the driver in
graftbench/src) into `.bench_build/`; later runs reuse the build while the
sources are unchanged. Each run makes its inputs from the seed with
graftbench/gen.py, runs the workload in one JVM (graftbench.Main), checks
the outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics. Details of the run (the per-query and per-rate
figures, problems found) go to `.bench_build/last-<workload>.json`; a
traced run also writes its spans to `.bench_build/spans-<workload>.json`.
See graftbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("replay-builtin", "live-sigma")
JVM_TIMEOUT_S = 165
REPLAY_EVENTS, REPLAY_FILES = 3000, 6
LIVE_RULES, RULE_REPO_SEED, WARMUP_EVENTS, BACKLOG_EVENTS = 250, 1, 300, 12000
TABLE_SCALE = 0.25

ADD_OPENS = [o for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for o in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def log(msg):
    print("[graftbench] " + msg, file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def run(cmd, timeout, **kw):
    """Run a child to completion; on timeout kill its process group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die("timed out after %ss: %s" % (timeout, " ".join(cmd[:4])))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def sources_fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the driver once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources not found under %s/src/main/scala/graft" % ROOT)
    os.makedirs(BUILD, exist_ok=True)
    fp = sources_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "classpath.fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    code, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], 850, cwd=HERE, env=env,
                    stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        die("build failed")
    cp = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        die("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    log("built in %.0f s" % (time.time() - t0))
    return cp[-1]


def gen(*args):
    code, out = run([sys.executable, os.path.join(HERE, "gen.py")] + [str(a) for a in args],
                    300, stdout=subprocess.PIPE, text=True)
    if code != 0:
        die("generator failed: %s" % " ".join(map(str, args[:1])))
    return json.loads(out.strip().splitlines()[-1])


def make_inputs(workload, seed, trace, inputs):
    """Everything the workload reads, from the seed, before any timing."""
    shutil.rmtree(inputs, ignore_errors=True)
    os.makedirs(inputs)
    if workload == "replay-builtin":
        gen("corpus", "--seed", seed, "--out", os.path.join(inputs, "corpus"),
            "--events", REPLAY_EVENTS, "--files", REPLAY_FILES)
    else:
        # the rule repository is the deployment, the same in every run; the
        # events come from the seed
        gen("rules", "--seed", RULE_REPO_SEED, "--out", os.path.join(inputs, "rules"),
            "--rules", LIVE_RULES)
        for i in range(3):
            gen("corpus", "--seed", seed * 10 + i, "--out", os.path.join(inputs, "warmup-%d" % i),
                "--events", WARMUP_EVENTS, "--files", 1)
        gen("corpus", "--seed", seed * 10 + 7, "--out", os.path.join(inputs, "backlog"),
            "--events", BACKLOG_EVENTS, "--files", BACKLOG_EVENTS // 500)
        if trace:
            gen("tables", "--seed", seed, "--out", os.path.join(inputs, "tables"),
                "--scale", TABLE_SCALE)


# ---- batch oracle check ----------------------------------------------------

def canon(v):
    """One cell in an engine-neutral form: numbers compare by value (1 ==
    1.0), timestamps as naive UTC ISO text, nested values recursively."""
    import numpy as np
    import pandas as pd
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return [canon(x) for x in list(v)]
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items())}
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        return int(f) if f.is_integer() and abs(f) < 2 ** 53 else repr(f)
    if isinstance(v, (pd.Timestamp,)) or hasattr(v, "isoformat"):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(df):
    """(row count, order-insensitive hash) of a frame, columns by name."""
    cols = sorted(df.columns)
    rows = sorted(json.dumps([canon(v) for v in r], sort_keys=True)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def oracle_check(results_dir, tables_dir):
    """Compare every query result with its DuckDB oracle. Returns
    (mismatched queries, problems); includes the planted wrong-result
    self-test."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, p))
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    bad, problems, planted = [], [], False
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(os.path.join(results_dir, name))
            want = con.execute(sql).df()
        except Exception as e:  # an oracle that cannot run is a mismatch
            bad.append(name)
            problems.append("%s: %s" % (name, str(e)[:200]))
            continue
        if digest(got) != digest(want):
            bad.append(name)
            problems.append("%s: result differs from the oracle (%d vs %d rows)"
                            % (name, len(got), len(want)))
        elif not planted and len(got) > 0:
            planted = True
            wrong = got.iloc[1:] if len(got) > 1 else got.iloc[0:0]
            if digest(wrong) == digest(want):
                problems.append("self-test: a wrong batch result matched its oracle")
    if not planted:
        problems.append("self-test: no non-empty result to perturb")
    return bad, problems


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--lat-limit-ms", type=float, default=5000.0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    classpath = build()

    inputs = os.path.join(BUILD, "inputs", a.workload)
    work = os.path.join(BUILD, "work", a.workload)
    make_inputs(a.workload, a.seed, a.trace, inputs)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    spans = os.path.join(BUILD, "spans-%s.json" % a.workload)
    cores = os.cpu_count() or 1
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2-bench.properties"),
           "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS + [
        "-cp", classpath, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--work", work, "--inputs", inputs,
        "--gen", "%s %s" % (sys.executable, os.path.join(HERE, "gen.py")),
        "--lat-limit-ms", str(a.lat_limit_ms), "--out", out, "--spans", spans]
    code, _ = run(cmd, JVM_TIMEOUT_S, stdout=sys.stderr)
    if code != 0 or not os.path.exists(out):
        die("workload JVM failed (exit %s)" % code)
    res = json.load(open(out))

    if "results_dir" in res["info"]:
        bad, problems = oracle_check(res["info"]["results_dir"], os.path.join(inputs, "tables"))
        res["failed"] += len(bad)
        res["info"]["oracle_mismatch"] = bad
        for p in problems:
            if p.startswith("self-test"):
                res["correct"] = False
            res["problems"].append(p)
    res["per_layer"]["failed_frac"] = res["failed"] / max(1, res["attempted"])
    res["info"]["cpus"] = cores
    with open(os.path.join(BUILD, "last-%s.json" % a.workload), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    for p in res["problems"]:
        log("problem: " + p)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    # a traced run also measures the workload untraced first; the latency
    # figures it reports come from that part
    source = dict(res["end_to_end"], **res["per_layer"]) if a.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None and a.trace:
            v = 0.0  # a layer this workload does not exercise
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            res["correct"] = False
            log("metric %s missing" % m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": int(max(1, res["attempted"])), "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
