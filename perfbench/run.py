#!/usr/bin/env python3
"""Benchmark runner for graft's sync -> enrich -> serve loop and its
analytics queries.

    python3 perfbench/run.py --workload {analytics,serve,sync} --seed N \
        --seconds S --trace {0,1} [--receipt FILE]
    python3 perfbench/run.py --smoke

Run from the root of a source checkout. The first run builds the engine
and the harness from source with sbt (offline) into the checkout; later
runs reuse the build while the sources are unchanged. Inputs are generated
from --seed; the engine only sees the generated files. The last line of
stdout is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
The full receipt (every layer, every check, the environment) goes to
--receipt when given.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import personal  # noqa: E402

CORES = 4
HEAP = "2g"
RUN_LIMIT_S = 160

# scored runs time a subset of `SparkEntry.benchQueries` that fits the run
# budget: entry/plans (q01, q09), graph (q14, q121), dedup (q16), text
# similarity (q19), spatial (q39), operators (q133) and ANN (q199),
# including the serial-driver targets q121, q133 and q199
QUERIES = [
    "q01_agg", "q09_range_join", "q14_components", "q16_dedup_exact",
    "q19_ngram_jaccard", "q39_stays", "q121_pagerank", "q133_setsim_join",
    "q199_knn_join"]

# workload sizes: full runs and the smoke test. The personal corpus (people,
# mails, days of location history) is an assumption sized to fit the run
# budget, not taken from a measured mailbox. `setups` is how many Spark
# session bring-ups analytics times; the smoke test runs every headline
# query but q207 (the harness's default list when `queries` is absent).
SIZES = {
    "full": {"sf": 0.01, "people": 30, "msgs": 120, "days": 3, "rounds": 6,
             "queries": QUERIES, "setups": 3},
    "smoke": {"sf": 0.001, "people": 8, "msgs": 20, "days": 1, "rounds": 1,
              "setups": 1},
}
# serve requests per template; the mix weights the 7 templates equally,
# which is an assumption, not a measured traffic model
PER_TEMPLATE = 3

# smoke-test checks that fail on the engine as it is (README, Known
# defects): reported as FAIL lines but left out of the exit status, so a new
# failure anywhere else still exits 1. Workload and full check name.
KNOWN_DEFECTS = [
    ("sync", r"JSON SELECT keeps ORDER BY"),
    ("sync", r"round \d+ has set semantics"),
    ("sync", r"round \d+ (stays|same_as|event_stay) count"),
]

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "read_p50_ms": "ms", "read_qps": "1/s",
    "peak_rss_mb": "MB"}
PER_LAYER = {
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.jobs": "count",
    "op.build_ms": "ms", "op.plan_ms": "ms", "op.exec_ms": "ms"}
# sync is not a scored workload (see README): it reports its own metrics
SYNC_END_TO_END = {"setup_s": "s", "freshness_p50_s": "s",
                   "update_p50_ms": "ms", "peak_rss_mb": "MB"}
SYNC_PER_LAYER = {
    "convert.ms": "ms", "streaming.apply_delta_ms": "ms",
    "streaming.eager_jobs": "count", "enrich.ifp.ms": "ms",
    "enrich.stays.ms": "ms", "enrich.event_stay.ms": "ms",
    "rdf.commit_ms": "ms", "endpoint.refresh_to_visible_ms": "ms",
    "rdf.update_parse_ms": "ms", "rdf.update_apply_ms": "ms",
    "store.quads": "count", "store.dup_quads": "count"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, so a rebuild happens exactly
    when the engine or the harness changed."""
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    files += [os.path.join(HERE, "harness", "build.sbt"),
              os.path.join(HERE, "harness", "project", "build.properties")]
    files += glob.glob(os.path.join(HERE, "harness", "src", "**", "*"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(x for x in files if os.path.isfile(x)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_proc(cmd, cwd, env, timeout, log):
    """Run a child in its own process group; on timeout kill the group.
    Always waits for the child to end."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"], digest
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(BUILD, "build.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export harness/Runtime/fullClasspath"],
                  os.path.join(HERE, "harness"), env, 850, log)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if not ln.startswith("[") and "perfbench" in ln and ":" in ln]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip(), digest


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def harness(cp, cfg, rundir, deadline):
    """Run the JVM harness on one config; returns its result dict."""
    cfg_path = os.path.join(rundir, "config.json")
    res_path = os.path.join(rundir, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # a fixed heap and young generation under the serial collector keep the
    # resident set a function of the work, not of adaptive heap sizing
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:+UseSerialGC",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={os.path.join(rundir, 'spark')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(rundir, 'warehouse')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(rundir, 'hadoop')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", cfg_path, res_path]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    log = os.path.join(rundir, "harness.log")
    rc = run_proc(cmd, rundir, env, deadline - time.time(), log)
    if rc != 0 or not os.path.exists(res_path):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness exit {rc} on {cfg['workload']}:\n{tail}")
    with open(res_path) as f:
        return json.load(f)


def make_config(workload, seed, seconds, trace, size, rundir):
    """Generate the seeded inputs for one workload; returns (config, digest)."""
    data = os.path.join(rundir, "data")
    sf = size["sf"]
    digest = gen.write(gen.tables(seed, sf), data)
    cfg = {"workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
           "data": data, "out": rundir, "sf": sf}
    if workload == "analytics":
        cfg["setups"] = size["setups"]
        if "queries" in size:
            cfg["queries"] = size["queries"]
        return cfg, digest
    docs, expect, people, box = personal.snapshot(
        seed, size["people"], size["msgs"], size["days"])
    cfg.update(docs=docs, expect=expect)
    if workload == "serve":
        cfg["requests"] = personal.requests(seed, data, people, box, PER_TEMPLATE)
    else:
        cfg["order_probe"] = personal.ordered_probe(data)
        cfg["rounds"] = personal.rounds(seed, size["rounds"], people, box, expect, size["days"])
    h = hashlib.sha256(digest.encode())
    h.update(json.dumps(cfg.get("docs")).encode())
    h.update(json.dumps(cfg.get("rounds") or cfg.get("requests")).encode())
    return cfg, h.hexdigest()[:16]


def oracle_checks(rundir, data, deadline):
    """(query, ok, detail) for every answer that has oracle SQL, from the
    repository's DuckDB oracle script `tools/check_correctness.py`."""
    answers = os.path.join(rundir, "answers")
    with open(os.path.join(answers, "oracle_sql.json")) as f:
        queries = sorted(json.load(f))
    log = os.path.join(rundir, "oracle.log")
    script = os.path.join(ROOT, "tools", "check_correctness.py")
    rc = run_proc([sys.executable, script, answers, data], rundir, dict(os.environ),
                  deadline - time.time(), log)
    lines = {}
    with open(log) as f:
        for ln in f:
            word, _, rest = ln.strip().partition(" ")
            name, _, detail = rest.partition(":")
            lines[name] = (word, detail.strip())
    for q in queries:
        word, detail = lines.get(q, (None, f"no verdict (oracle exit {rc})"))
        yield q, word == "PASS", detail if word is None else f"{word} {detail}".strip()


def one_run(workload, seed, seconds, trace, size, cp, src_digest, deadline,
            receipt_path=None):
    rundir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        cfg, digest = make_config(workload, seed, seconds, trace, size, rundir)
        res = harness(cp, cfg, rundir, deadline)
        checks = list(res["checks"])
        attempted, failed = res["attempted"], res["failed"]
        if workload == "analytics":
            for name, ok, detail in oracle_checks(rundir, cfg["data"], deadline):
                checks.append({"name": f"{name} matches the oracle", "ok": ok, "detail": detail})
                attempted += 1
                failed += 0 if ok else 1
        layers = dict(res["layers"])
        metrics = dict(res["metrics"])
        metrics["peak_rss_mb"] = res["env"]["peak_rss_mb"]
        spans = os.path.join(rundir, "spans.jsonl")
        receipt = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "sf": cfg["sf"], "input_digest": digest, "source_digest": src_digest,
            "git_commit": git_commit(), "env": dict(res["env"], cores_used=CORES, heap=HEAP),
            "metrics": metrics, "layers": layers, "attempted": attempted, "failed": failed,
            "failed_share": failed / max(attempted, 1),
            "correct": all(c["ok"] for c in checks) and failed == 0,
            "checks": checks,
            "spans": sum(1 for _ in open(spans)) if os.path.exists(spans) else 0}
        if receipt_path and os.path.exists(spans):
            shutil.copy(spans, os.path.splitext(receipt_path)[0] + ".spans.jsonl")
        return receipt
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def result_line(receipt):
    wl, trace = receipt["workload"], receipt["trace"]
    names = (SYNC_PER_LAYER if trace else SYNC_END_TO_END) if wl == "sync" else \
        (PER_LAYER if trace else END_TO_END)
    source = dict(receipt["metrics"], **receipt["layers"])
    metrics = {n: {"value": source[n], "unit": u} for n, u in names.items() if n in source}
    missing = [n for n in names if n not in source]
    return {"correct": receipt["correct"] and not missing, "attempted": receipt["attempted"],
            "failed": receipt["failed"], "metrics": metrics}


def smoke(cp, src_digest):
    """The benchmark's own test: all three workloads at sf0.001, traced,
    analytics and serve twice so listener counts must repeat exactly."""
    size = SIZES["smoke"]
    start = time.time()
    runs = {}
    for wl, times in (("analytics", 2), ("serve", 2), ("sync", 1)):
        runs[wl] = [one_run(wl, 7, 2, 1, size, cp, src_digest, time.time() + 600)
                    for _ in range(times)]
    fails, known = [], []
    for wl, rs in runs.items():
        for rc in rs:
            bad = [c for c in rc["checks"] if not c["ok"]]
            print(f"{wl}: {len(rc['checks']) - len(bad)}/{len(rc['checks'])} checks pass, "
                  f"{rc['failed']}/{rc['attempted']} operations failed")
            for c in bad:
                line = f"{wl}: {c['name']} ({c['detail']})"
                if any(w == wl and re.fullmatch(pat, c["name"]) for w, pat in KNOWN_DEFECTS):
                    known.append(line)
                else:
                    fails.append(line)
    for wl, key in (("analytics", "q.q01_agg.jobs"), ("serve", "endpoint.jobs.ask")):
        a, b = (r["layers"].get(key) for r in runs[wl])
        print(f"{wl}: {key} = {a} and {b} in two runs")
        if a is None or a != b:
            fails.append(f"{wl}: {key} does not repeat ({a} vs {b})")
    for f in known:
        print("FAIL (known defect)", f)
    for f in fails:
        print("FAIL", f)
    print(json.dumps({"smoke": "fail" if fails else "pass", "failures": len(fails),
                      "known_defect_failures": len(known),
                      "seconds": round(time.time() - start, 1)}))
    return 1 if fails else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["analytics", "serve", "sync"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--receipt")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft source checkout at {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp, src_digest = build()
    deadline = time.time() + RUN_LIMIT_S  # the run's own budget, after any build
    if a.smoke:
        sys.exit(smoke(cp, src_digest))
    if not a.workload:
        fail("--workload is required")
    receipt = one_run(a.workload, a.seed, a.seconds, a.trace, SIZES["full"], cp,
                      src_digest, deadline, a.receipt)
    if a.receipt:
        with open(a.receipt, "w") as f:
            json.dump(receipt, f, indent=1, sort_keys=True)
    print(json.dumps(result_line(receipt)))


if __name__ == "__main__":
    main()
