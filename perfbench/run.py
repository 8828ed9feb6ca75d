#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload lloyd|queries|snapshot_write|all \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine's
main sources together with the harness under perfbench/src (sbt, offline)
into perfbench/target; later runs reuse the build while the sources are
unchanged. Each run then:

  1. makes its inputs from --seed (untimed): the lloyd points file, the
     snapshot_write op script, the queries run order;
  2. starts one JVM that sets up a Spark session (timed as setup_s), runs
     the workload as a closed loop with a single client, and writes a
     JSON record (metrics, per-layer split, run conditions);
  3. checks outputs outside the timed section: for queries every pass's
     results against the DuckDB oracle (oracle.py, which defers to
     scripts/check_oracle.py on any difference); the JVM checks lloyd and
     snapshot_write itself;
  4. prints a readable summary, then as its last line one JSON object:
     {"correct", "attempted", "failed", "metrics"} with the end-to-end
     metrics of BENCHMARK.json (--trace 0) or its per-layer ones
     (--trace 1).

Everything it writes stays under perfbench/ (target/, out/, .work/); the
per-run work dir is removed at the end. Full records are appended to
perfbench/out/history.jsonl; compare them with perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ["lloyd", "queries", "snapshot_write"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


CHILDREN = []


def stop_children(*_):
    """Kill whatever this run started, wait for it, and leave."""
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(130)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(src_hash):
    """Compile the engine + harness once per source state."""
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == src_hash:
        return classes
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    tmp = os.path.join(BENCH, "out", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BENCH, "out", "build.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "Compile/products"],
                             cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        CHILDREN.append(p)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"build timed out, see {log}", 3)
    if rc != 0:
        die(f"build failed, see {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(src_hash)
    return classes


def spark_home():
    """$SPARK_HOME, else the install that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install: set SPARK_HOME", 3)
    return home


def heap():
    """Half the machine's memory, 2..8 GB — the engine's test-suite rule."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except Exception:
        g = 2
    return f"{min(8, max(2, g))}g"


def head_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except Exception:
        return "unknown"


def run_jvm(classes, workload, seed, seconds, trace, work, out, sha):
    spark_jars = os.path.join(spark_home(), "jars")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{spark_jars}/*", "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--out", out, "--sha", sha]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(BENCH, "out", f"{workload}-s{seed}-t{trace}.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        CHILDREN.append(p)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{workload} timed out after {JVM_TIMEOUT_S}s, see {log}", 4)
    if rc != 0 or not os.path.exists(out):
        die(f"{workload} exited {rc}, see {log}", 4)
    with open(out) as fh:
        return json.load(fh)


def oracle_failures(record):
    """(query, pass) pairs whose dumped result differs from the oracle."""
    sys.path.insert(0, BENCH)
    import oracle
    return oracle.check(record["detail"]["oracle_dumps"], record["detail"]["order"],
                        os.path.join(BENCH, "data", "sf0.01"),
                        os.path.join(BENCH, "out", "oracle"),
                        os.path.join(ROOT, "scripts", "check_oracle.py"))


def one(workload, seed, seconds, trace, classes, sha, src_hash):
    work = os.path.join(BENCH, ".work", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(BENCH, "out", f"{workload}-s{seed}-t{trace}.json")
        if os.path.exists(out):
            os.remove(out)
        rec = run_jvm(classes, workload, seed, seconds, trace, work, out, sha)
        failures = list(rec["failures"])
        failed = len(failures)
        if workload == "queries":
            bad = oracle_failures(rec)
            # a query that threw has no dump; it is already counted
            thrown = {f.split(":")[0] for f in failures}
            extra = {b for b in bad if b[0] not in thrown}
            failures += [f"{q} (pass {p}): oracle mismatch" for q, p in sorted(extra)]
            failed += len(extra)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["failures"] = failures
    rec["failed"] = failed
    rec["ts"] = time.time()
    rec["conditions"]["src_hash"] = src_hash
    rec["named"]["failed_frac"] = {"value": failed / max(1, rec["attempted"]),
                                   "unit": "ratio"}
    if trace:
        rec["layers"]["trace.overhead_pct"] = overhead(workload, rec)
    else:
        with open(os.path.join(BENCH, "out", f"last-{workload}.json"), "w") as fh:
            json.dump(rec, fh)
    with open(os.path.join(BENCH, "out", "history.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    return rec


def overhead(workload, rec):
    """Traced minus untraced pass_s, as % of the untraced one, against the
    latest untraced run of this workload in this checkout (0 if none)."""
    try:
        with open(os.path.join(BENCH, "out", f"last-{workload}.json")) as fh:
            base = json.load(fh)
        if base["conditions"]["nproc"] != rec["conditions"]["nproc"]:
            raise ValueError("core counts differ")
        u = base["e2e"]["pass_s"]["value"]
        t = rec["e2e"]["pass_s"]["value"]
        return {"value": 100.0 * (t - u) / u, "unit": "%"}
    except Exception:
        return {"value": 0.0, "unit": "%"}


def summary(rec):
    c = rec["conditions"]
    print(f"[{rec['workload']}] seed={rec['seed']} trace={int(rec['trace'])} "
          f"nproc={c['nproc']} heap={c['heap_mb']}MB spark={c['spark_version']} "
          f"sha={c['sha'][:12]} steal={c['run_steal_pct']:.1f}% "
          f"cpu={c['run_cpu_s']:.1f}s wall={c['run_wall_s']:.1f}s")
    for k, m in sorted(rec["named"].items()):
        extra = (f"  (cpu {m['cpu_s']:.2f} s, steal {m['steal_pct']:.1f}%)"
                 if "cpu_s" in m else "")
        print(f"  {k:<16} {m['value']:.6g} {m['unit']}{extra}")
    for f in rec["failures"][:20]:
        print(f"  FAILED {f}")


def metrics_for(rec, names, trace):
    src = rec["layers"] if trace else rec["e2e"]
    out = {}
    for n in names:
        m = src.get(n)
        if m is None:
            if not trace:
                die(f"{rec['workload']} did not report {n}", 5)
            m = {"value": 0.0, "unit": None}  # layer not on this workload
        out[n] = {"value": m["value"], "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    for need in ["src/main/scala/graft/SparkEntry.scala",
                 "scripts/check_oracle.py", "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the root of a source checkout: {need} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
    src_hash = source_hash()
    classes = build(src_hash)
    sha = head_sha()

    kind = "per_layer" if a.trace else "end_to_end"
    names = [m["name"] for m in spec[kind]]
    units = {m["name"]: m["unit"] for m in spec[kind]}
    recs = [one(w, a.seed, a.seconds, a.trace, classes, sha, src_hash)
            for w in (WORKLOADS if a.workload == "all" else [a.workload])]
    for r in recs:
        summary(r)
    attempted = sum(r["attempted"] for r in recs)
    failed = sum(r["failed"] for r in recs)
    if a.workload == "all":
        # each workload's own metrics; the shared ones as the worst case
        metrics = {}
        for r in recs:
            for k, m in r["named"].items():
                if k not in metrics or m["value"] > metrics[k]["value"]:
                    metrics[k] = {"value": m["value"], "unit": m["unit"]}
        metrics["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    else:
        metrics = metrics_for(recs[0], names, a.trace)
        for n, m in metrics.items():
            m["unit"] = m["unit"] or units[n]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
