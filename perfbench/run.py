#!/usr/bin/env python3
"""graft's fresh-JVM workload benchmark.

Builds the library together with the harness (perfbench/build.sbt),
checks the committed sf0.1 input tables (perfbench/data/sf0.1, a copy of
the repository's bench test data), then for one workload:

  * launches SETUP_REPEATS fresh JVMs; the first also runs the timed
    passes (a cold pass, then warm passes), the others only set up, so
    `setup_s` is a median;
  * times every key as build / plan / drain (see src/main/scala/perfbench);
  * checks each key's last result against its DuckDB oracle with the
    repository's tools/check.py;
  * prints one line per metric and, last, one JSON object.

  python3 perfbench/run.py --workload etl_olap --seed 1 --seconds 16 --trace 0

`--trace 0` reports the end-to-end metrics, `--trace 1` runs the same
passes with listeners attached and reports the per-layer metrics; both
write a detailed report (per-key breakdown, failures, provenance and,
traced, the span tree) to `--report` or to .bench_build/perfbench/runs/.
Run it from anywhere; it works in the checkout that contains it.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

DEFAULT_SEED = 1
SETUP_REPEATS = 2
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
# A fixed heap (-Xms = -Xmx), so the collector's sizing choices do not
# differ from run to run.
JVM_HEAP = "2g"
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 90

# Each workload: its keys (trimmed from the full lists so a run fits its
# time budget, see README.md), whether the invoice staging view is rebuilt
# inside each pass, and the nominal warm-pass seconds that turn --seconds
# into a fixed number of warm passes (the same --seconds always gives the
# same number of passes, so pooled percentiles keep their rank).
WORKLOADS = {
    "etl_olap": {
        "keys": ["etl_clean", "etl_category", "etl_uom", "etl_document_id", "q1_agg",
                 "q3_topk", "semi_anti_join"],
        "stage_invoice": True, "warm_s": 11,
    },
    "streaming": {
        "keys": ["stream_events", "stream_dedup", "stream_upsert"],
        "stage_invoice": False, "warm_s": 7,
    },
    "iterative": {
        "keys": ["sssp_cost", "communities_lpa", "kn_logprob"],
        "stage_invoice": False, "warm_s": 11,
    },
}

# Spark on JDK 17 outside spark-submit needs these opened (the repository's
# build.sbt passes the same list to forked runs).
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def work_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def preflight():
    need = [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
            os.path.join(ROOT, "tools", "check.py")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        die("not inside a graft checkout; missing " + ", ".join(
            os.path.relpath(p, ROOT) for p in missing))
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"`{tool}` is not on PATH")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set (the build takes Spark's jars from it)")


def check_data():
    """The input tables, checked against their committed digests; returns
    the digest of the digest list (recorded as provenance)."""
    sums = os.path.join(DATA_DIR, "SHA256SUMS")
    if not os.path.exists(sums):
        die(f"missing {os.path.relpath(sums, ROOT)}")
    listing = open(sums, "rb").read()
    for line in listing.decode().splitlines():
        want, name = line.split()
        path = os.path.join(DATA_DIR, name)
        if not os.path.exists(path):
            die(f"missing input table {os.path.relpath(path, ROOT)}")
        with open(path, "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                die(f"input table {name} does not match its digest")
    return hashlib.sha256(listing).hexdigest()


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(work, digest):
    """Compile once per source digest; returns the runtime classpath."""
    stamp, cp_file = os.path.join(work, "build.stamp"), os.path.join(work, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    os.makedirs(work, exist_ok=True)
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(work, "sbt-target"))
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building harness and library (sbt)")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if not lines:
        die("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


def warm_passes(spec, seconds):
    """Warm passes sized to fill --seconds; the cold pass comes on top."""
    return max(2, int(round(seconds / spec["warm_s"])))


def run_jvm(cp, work, tag, args, setup_only=False):
    """Launch one harness JVM; returns (its parsed result.json, or None for
    a set-up-only JVM; seconds from launch to its `PB READY` line; its
    output directory)."""
    out = os.path.join(work, "jvm", tag)
    tmp = os.path.join(work, "tmp", tag)
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # -UsePerfData: no hsperfdata file outside the checkout
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
        "--out", out] + args
    err_path = os.path.join(work, "jvm", f"{tag}.stderr.log")
    ready = None
    with open(err_path, "w") as err:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            for line in proc.stdout:
                if ready is None and line.startswith("PB READY"):
                    ready = time.monotonic() - t0
            proc.wait(timeout=max(1.0, JVM_TIMEOUT_S - (time.monotonic() - t0)))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    res_path = os.path.join(out, "result.json")
    if proc.returncode != 0 or ready is None or not (setup_only or os.path.exists(res_path)):
        tail = open(err_path).read()[-3000:]
        die(f"harness JVM {tag} failed (exit {proc.returncode}):\n{tail}")
    return None if setup_only else json.load(open(res_path)), ready, out


def oracle_check(data, results, keys):
    """key -> reason for every key whose result does not match its oracle."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data,
                        results, ",".join(keys)], cwd=ROOT, capture_output=True,
                       text=True, timeout=CHECK_TIMEOUT_S, stdin=subprocess.DEVNULL)
    passed = set(re.findall(r"^PASS (\S+)", p.stdout, re.M))
    fails = {m.group(1): m.group(2).strip()
             for m in re.finditer(r"^FAIL (\S+?):? (.*)$", p.stdout, re.M)}
    for k in keys:
        if k not in passed and k not in fails:
            fails[k] = "no oracle verdict"
    return fails


def provenance(digest, data_digest, seed, result, load_before, load_after):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {
        "git_sha": sha, "source_sha256": digest,
        "data_dir": os.path.relpath(DATA_DIR, ROOT), "data_sha256": data_digest, "seed": seed,
        "nproc": len(os.sched_getaffinity(0)), "cpus": result["cpus"],
        "jvm_max_heap_mb": result["max_heap_bytes"] / 2**20,
        "host_load": dict(result["load"], loadavg_1m_before=load_before,
                          loadavg_1m_after=load_after,
                          cpu_per_wall=result["load"]["pass_cpu_s"] /
                          max(result["load"]["pass_wall_s"], 1e-9)),
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="where to write the detailed JSON report")
    ap.add_argument("--fail-key", default="",
                    help="make this key throw in its build phase (tests the failure path)")
    a = ap.parse_args(argv)

    preflight()
    spec = WORKLOADS[a.workload]
    work = work_dir()
    digest = source_digest()
    cp = build(work, digest)
    data_digest = check_data()
    n_warm = warm_passes(spec, a.seconds)

    load_before = os.getloadavg()[0]
    common = ["--data", DATA_DIR]
    main_res, main_ready, main_out = run_jvm(cp, work, "main", common + [
        "--mode", "run", "--keys", ",".join(spec["keys"]), "--seed", str(a.seed),
        "--warm-passes", str(n_warm), "--trace", str(a.trace),
        "--stage-invoice", "1" if spec["stage_invoice"] else "0",
        "--fail-key", a.fail_key])
    load_after = os.getloadavg()[0]
    log(f"main JVM: {n_warm} warm passes, set-up {main_ready:.1f} s")
    setups = [main_ready] + [
        run_jvm(cp, work, f"setup{i}", common + ["--mode", "setup"], setup_only=True)[1]
        for i in range(1, SETUP_REPEATS)]

    t0 = time.monotonic()
    oracle_fails = oracle_check(DATA_DIR, os.path.join(main_out, "results"), spec["keys"])
    log(f"oracle check in {time.monotonic() - t0:.1f} s")
    failed = metrics.failed_keys(main_res, oracle_fails)
    report = {
        "workload": a.workload, "keys": spec["keys"], "warm_passes": n_warm,
        "seconds": a.seconds, "trace": a.trace, "run_id": main_res["run_id"],
        "provenance": provenance(digest, data_digest, a.seed, main_res,
                                 load_before, load_after),
        "failed_keys": failed,
        "fail_frac": len(failed) / len(spec["keys"]),
        "setup_runs_s": setups, "setup_main": main_res["setup"],
        "end_to_end": metrics.end_to_end(main_res, setups, failed),
        "passes": main_res["passes"], "key_spans": main_res["key_spans"],
        "steps": main_res["steps"],
    }
    if a.trace:
        trace = json.load(open(os.path.join(main_out, "trace.json")))
        report["per_layer"] = metrics.per_layer(trace, main_res, failed)
        report["per_key"] = metrics.per_key(trace, failed)
        report["resolves"] = trace["resolves"]
        report["spans"] = metrics.spans(trace)
    shown = report["per_layer"] if a.trace else report["end_to_end"]
    exported = metrics.EXPORTED_PER_LAYER if a.trace else list(metrics.END_TO_END)

    path = a.report or os.path.join(work, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, separators=(",", ":"))

    for name, m in shown.items():
        extra = f" n={m['n']}" if "n" in m else ""
        if "percentile" in m:
            extra += f" p{m['percentile']}"
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}{extra}")
    print(f"{a.workload} fail_frac = {report['fail_frac']:.6g} "
          f"({len(failed)} of {len(spec['keys'])} keys)")
    for k, why in sorted(failed.items()):
        print(f"{a.workload} FAILED {k}: {why}")
    print(f"report: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": not failed, "attempted": len(spec["keys"]), "failed": len(failed),
        "metrics": {k: {"value": shown[k]["value"], "unit": shown[k]["unit"]}
                    for k in exported if k in shown},
    }))


if __name__ == "__main__":
    main()
