#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark driver with sbt (perfbench/build.sbt) and stores the classpath;
later runs launch the driver JVM directly. See perfbench/README.md for the
workloads, metrics and the layer-to-metric map.

Prints every metric as `name value unit`, then, as the last line, one JSON
object with the keys correct, attempted, failed and metrics. --trace 0
gives the end-to-end metrics, --trace 1 the per-layer ones (and writes the
spans and a top-queries table under perfbench/out/).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import k8sgen  # noqa: E402
import stats  # noqa: E402

CORES = 4
DATA = os.path.join("perfbench", "data", "sf0.01")
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within 180 s
BUILD_LIMIT_S = 840

# Fixed query lists, each with the time one pass took on a 4-core host when
# the benchmark was added. A run makes round(seconds / that) passes (at
# least 2), so every run of a workload does the same work and its
# percentiles are taken over the same mix of queries. relational takes
# every eighth `q*` query in name order (a stride sample of the 94: scan-,
# aggregate- and join-heavy queries all appear); README.md says why the
# others were chosen.
RELATIONAL = [
    "q01_project_filter", "q09_json_access", "q17_union_all",
    "q25_cross_join", "q33_date_funcs", "q41_pivot", "q49_variant_json",
    "q57_locf_fill", "q65_asof_nearest", "q73_robust_outliers", "q81_rfm",
    "q89_seasonal_anomaly"]
ITERATIVE = ["gr05_bfs_levels", "gr19_scc_audit"]
INDEX_LIFECYCLE = ["dd35_persisted_bands", "pp42_publish_lifecycle"]
WORKLOADS = {
    "k8s-api": (None, None),
    "relational": (RELATIONAL, 5.5),
    "iterative": (ITERATIVE, 8.0),
    "index-lifecycle": (INDEX_LIFECYCLE, 6.0),
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
              ("throughput_rps", "req/s"), ("latency_p50_ms", "ms"),
              ("latency_p90_ms", "ms"), ("success_rate", "ratio"),
              ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("sources.load_ms", "ms"), ("tables.register_ms", "ms"),
    ("sources.scan_ms", "ms"), ("dialect.rewrite_us", "us"),
    ("dialect.analyze_ms", "ms"), ("sinks.collect_ms", "ms"),
    ("sinks.json_ms", "ms"), ("sinks.response_bytes", "bytes"),
    ("server.self_ms", "ms"), ("server.wait_ms", "ms"),
    ("server.keepalive_p90_ms", "ms"), ("server.keepalive_max_ms", "ms"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("operators.exec_s", "s"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.core_util", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("bucketing.warehouse_bytes", "bytes"),
    ("bucketing.warehouse_files", "count"),
    ("jvm.heap_retained_mb", "MB"), ("jvm.offheap_peak_mb", "MB"),
    ("trace.overhead_pct", "%")]

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, log, timeout, env=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns the exit code."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_key(root):
    """Hash of the root path and of the name, size and mtime of every file
    the build reads: build.sbt, project/ and src/ of the program and of the
    benchmark. A change to any of them makes classpath() rebuild."""
    h = hashlib.sha256(os.path.abspath(root).encode())
    for base in (root, os.path.join(root, "perfbench")):
        paths = [os.path.join(base, "build.sbt")]
        for top in ("project", "src"):
            for d, dirs, files in os.walk(os.path.join(base, top)):
                dirs[:] = sorted(x for x in dirs
                                 if x not in ("target", "project"))
                paths += [os.path.join(d, f) for f in sorted(files)]
        for path in paths:
            if os.path.isfile(path):
                st = os.stat(path)
                h.update(("%s\0%d\0%d\n" % (os.path.relpath(path, root),
                                              st.st_size, st.st_mtime_ns))
                         .encode())
    return h.hexdigest()


def inside(root, path):
    root = os.path.realpath(root)
    return os.path.commonpath([root, os.path.realpath(path)]) == root


def classpath(root):
    """Builds the program and the driver when their sources changed since
    the last build in this checkout; returns the driver's runtime
    classpath."""
    target = os.path.join(root, "perfbench", "target")
    cp_file = os.path.join(target, "classpath.txt")
    key_file = os.path.join(target, "classpath.key")
    key = source_key(root)
    if os.path.exists(cp_file) and os.path.exists(key_file):
        cp = open(cp_file).read().strip()
        entries = cp.split(os.pathsep)
        # class directories and anything under a target/ directory must be
        # this checkout's own build output
        own = all(inside(root, e) for e in entries
                  if os.path.isdir(e) or "%starget%s" % (os.sep, os.sep) in e)
        if (open(key_file).read().strip() == key and own
                and all(os.path.exists(e) for e in entries)):
            return cp
    os.makedirs(target, exist_ok=True)
    for f in (cp_file, key_file):
        if os.path.exists(f):
            os.remove(f)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(target, "build.log")
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     os.path.join(root, "perfbench"), log, BUILD_LIMIT_S, env)
    classes = os.path.join("perfbench", "target", "scala-2.13", "classes")
    lines = [l.strip() for l in open(log, errors="replace")
             if classes in l and os.pathsep in l]
    if code != 0 or not lines:
        fail("build failed, see " + log)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(key_file, "w") as f:
        f.write(key)
    return lines[-1]


def run_jvm(root, cp, work, args, deadline):
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in JVM_OPENS
              for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-cp", cp, "perfbench.Main", "--work", work,
              "--cores", str(CORES)] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    code = run_group(cmd, root, log, max(1, deadline - time.time()))
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        tail = open(log, errors="replace").read()[-3000:]
        fail("driver JVM exited with %s:\n%s" % (code, tail))
    return json.load(open(result))


# ---------------------------------------------------------------- checks

def canon(v):
    """Canonical text of one value: floats to 6 significant digits, so the
    fingerprint ignores last-bit differences in parallel float sums."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "%.6g" % (v + 0.0) if v == v else "nan"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(k + ":" + canon(x)
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    if type(v).__name__ == "Decimal":
        return canon(float(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return json.dumps(str(v))


def fingerprint(rows):
    """Row count plus an order-independent hash (sum of row hashes)."""
    h = 0
    for r in rows:
        d = hashlib.blake2b("\x1f".join(canon(v) for v in r).encode(),
                            digest_size=8).digest()
        h = (h + int.from_bytes(d, "big")) % (1 << 64)
    return {"rows": len(rows), "hash": "%016x" % h}


def parquet_rows(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = [t.column(i).to_pylist() for i in range(t.num_columns)]
    return list(zip(*cols)) if cols else []


def check_batch(work, queries, failed_check):
    """Names of the queries whose check-pass output does not match the
    recorded fingerprint."""
    recorded = json.load(open(os.path.join(HERE, "fingerprints.json")))
    bad = []
    for q in queries:
        if q in failed_check:
            bad.append(q)
            continue
        got = fingerprint(parquet_rows(os.path.join(work, "out", q)))
        if recorded.get(q) != got:
            print("perfbench: %s fingerprint %s, recorded %s"
                  % (q, got, recorded.get(q)), file=sys.stderr)
            bad.append(q)
    return bad


def check_k8s(work, requests, mix):
    """Count of requests that failed or returned wrong rows."""
    verdict = {}
    bad = 0
    for r in requests:
        key = "q%d_%s" % (r["q"], r["body"])
        if key not in verdict:
            body = open(os.path.join(work, "bodies", key), "rb").read()
            verdict[key] = k8sgen.matches(body, mix[r["q"]][1])
        if r["status"] != 200 or not verdict[key]:
            bad += 1
    return bad


# --------------------------------------------------------------- metrics

def peak_mem_mb(r):
    """Peak resident memory the program needs: VmHWM without the fixed,
    pre-touched heap, plus the heap it retains (HeapWatch). A heap that
    grows with demand made VmHWM follow the collector's sizing decisions;
    a fixed heap hides the program's heap growth in VmHWM."""
    return r["vm_hwm_mb"] - r["heap_committed_mb"] + r["heap_retained_mb"]


def batch_metrics(r):
    untraced = [p for p in r["passes"] if not p["traced"]]
    samples = [s for s in r["samples"] if not s["traced"]]
    ok = [s["build_s"] + s["exec_s"] for s in samples if s["ok"]]
    timed = sum(p["s"] for p in untraced)
    return {
        "setup_s": r["session_s"] + stats.median(r["register_s"])
        + r["check_s"] + r["warm_s"],
        "pass_s": stats.median([p["s"] for p in untraced]),
        "query_p50_s": stats.median(ok),
        "throughput_rps": len(ok) / timed,
        "latency_p50_ms": 1000 * stats.quantile(ok, 0.5),
        "latency_p90_ms": 1000 * stats.quantile(ok, 0.9),
        "peak_rss_mb": peak_mem_mb(r),
    }


def k8s_metrics(r):
    c4 = [q for q in r["requests"] if q["phase"] == "c4"]
    lat = [q["lat_ns"] / 1e6 for q in c4 if q["status"] == 200]
    window = max(q["start_ns"] + q["lat_ns"] for q in c4) / 1e9
    rps = len(lat) / window
    return {
        "setup_s": r["session_s"] + stats.median(r["load_s"]) + r["warm_s"],
        # a client's mean time per cycle through the mix
        "pass_s": CORES * r["mix_len"] / rps,
        "query_p50_s": stats.quantile(lat, 0.5) / 1000,
        "throughput_rps": rps,
        "latency_p50_ms": stats.quantile(lat, 0.5),
        "latency_p90_ms": stats.quantile(lat, 0.9),
        "peak_rss_mb": peak_mem_mb(r),
    }


def per_pass_counters(spark, reqs_by_pass):
    """{counter: median over passes of the pass total}."""
    keys = ["jobs", "build_jobs", "stages", "tasks", "task_ns",
            "shuffle_write_bytes", "spill_bytes", "input_bytes",
            "output_bytes"]
    totals = {k: [] for k in keys}
    for reqs in reqs_by_pass:
        for k in keys:
            totals[k].append(sum(spark.get(q, {}).get(k, 0) for q in reqs))
    return {k: stats.median(v) if v else 0 for k, v in totals.items()}


def layer_metrics(r, spans, workload):
    m = {name: 0.0 for name, _ in PER_LAYER}
    by_name = stats.self_time_by_name(spans)
    med_ms = lambda name: (stats.median(by_name[name]) / 1e6
                           if by_name.get(name) else 0.0)
    spark = r["spark"]
    if workload == "k8s-api":
        # Direct-call layers: each query's median over the repetitions,
        # summed over the mix (one pass of the mix, as a client sends it).
        reqs = r["requests"]
        lat = lambda ph, q=None: [x["lat_ns"] / 1e6 for x in reqs
                                  if x["phase"] == ph and x["status"] == 200
                                  and (q is None or x["q"] == q)]
        mix = sorted({d["q"] for d in r["direct"]})
        self_ns = stats.self_times(spans)
        per_mix = lambda name: sum(stats.median(
            [self_ns[s["id"]] / 1e6 for s in spans
             if s["name"] == name and s["req"].endswith(":q%d" % q)])
            for q in mix)
        direct_ms = lambda q: stats.median(
            [d["s"] * 1000 for d in r["direct"] if d["q"] == q])
        reps = sorted({d.split(":")[0] for d in spark
                       if d.startswith("direct")})
        by_rep = [[d for d in spark if d.startswith(rep + ":")]
                  for rep in reps]
        c = per_pass_counters(spark, by_rep)
        m.update({
            "sources.load_ms": 1000 * stats.median(r["load_s"]),
            "sources.scan_ms": med_ms("sources.scan"),
            "dialect.rewrite_us": 1000 * per_mix("dialect.rewrite"),
            "dialect.analyze_ms": per_mix("dialect.analyze"),
            "sinks.collect_ms": per_mix("sinks.collect"),
            "sinks.json_ms": per_mix("sinks.json"),
            "sinks.response_bytes": sum(stats.median(
                [d["response_bytes"] for d in r["direct"] if d["q"] == q])
                for q in mix),
            "server.self_ms": sum(stats.median(lat("c1", q)) - direct_ms(q)
                                  for q in mix if lat("c1", q)),
            "server.wait_ms": stats.median(lat("c4t"))
            - stats.median(lat("c1")),
            # keep-alive clients: the stalls the closed-connection windows
            # cannot see
            "server.keepalive_p90_ms": stats.quantile(lat("ka"), 0.9),
            "server.keepalive_max_ms": max(lat("ka")),
            "trace.overhead_pct": 100 * (stats.median(lat("c4t"))
                                         / stats.median(lat("c4")) - 1),
        })
        wall = sum(direct_ms(q) / 1000 for q in mix)
    else:
        traced = [p for p in r["passes"] if p["traced"]]
        untraced = [p for p in r["passes"] if not p["traced"]]
        by_pass = [[s for s in spark if s.endswith("#%d" % p["pass"])]
                   for p in traced]
        c = per_pass_counters(spark, by_pass)
        per_pass = lambda name: stats.median([
            sum(x["%s_s" % name] for x in r["samples"]
                if x["pass"] == p["pass"]) for p in traced])
        wh = r["warehouse_after"]
        m.update({
            "tables.register_ms": 1000 * stats.median(r["register_s"]),
            "operators.build_s": per_pass("build"),
            "operators.build_jobs": c["build_jobs"],
            "operators.exec_s": per_pass("exec"),
            "bucketing.warehouse_bytes": wh[-1]["bytes"] if wh else 0,
            "bucketing.warehouse_files": wh[-1]["files"] if wh else 0,
            "trace.overhead_pct": 100 * (
                stats.median([p["s"] for p in traced])
                / stats.median([p["s"] for p in untraced]) - 1),
        })
        wall = stats.median([p["s"] for p in traced])
    m.update({
        "jvm.heap_retained_mb": r["heap_retained_mb"],
        "jvm.offheap_peak_mb": r["vm_hwm_mb"] - r["heap_committed_mb"],
        "spark.jobs": c["jobs"], "spark.stages": c["stages"],
        "spark.tasks": c["tasks"], "spark.task_s": c["task_ns"] / 1e9,
        "spark.core_util": c["task_ns"] / 1e9 / (wall * CORES),
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
        "spark.input_bytes": c["input_bytes"],
        "spark.output_bytes": c["output_bytes"],
    })
    return m


def top_table(spark, workload):
    """Markdown: the top 20 queries (or requests) by jobs and by shuffle
    bytes, summed over the traced passes or direct calls."""
    per = {}
    for req, c in spark.items():
        if not req or "#" not in req and ":" not in req:
            continue
        name = req.split("#")[0] if "#" in req else req.split(":", 1)[1]
        agg = per.setdefault(name, {"jobs": 0, "shuffle_write_bytes": 0})
        agg["jobs"] += c["jobs"]
        agg["shuffle_write_bytes"] += c["shuffle_write_bytes"]
    out = ["# %s: top 20 by spark.jobs and by spark.shuffle_write_bytes"
           % workload, ""]
    for key in ("jobs", "shuffle_write_bytes"):
        out += ["| query | %s |" % key, "|---|---:|"]
        for name, agg in sorted(per.items(), key=lambda kv: -kv[1][key])[:20]:
            out.append("| %s | %d |" % (name, agg[key]))
        out.append("")
    return "\n".join(out)


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still kills and waits for its JVM (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt")) and os.path.exists(
            os.path.join(root, "src", "main", "scala", "graft",
                         "SparkEntry.scala"))):
        fail("run from the root of a ksqlspark checkout (no program here)")
    if not os.path.isdir(os.path.join(root, DATA)):
        fail("missing " + DATA)
    cp = classpath(root)
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(root, "perfbench", "work",
                        "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.workload == "k8s-api":
            files, mix = k8sgen.generate(a.seed)
            snap = os.path.join(work, "snapshot")
            os.makedirs(snap)
            for name, data in files.items():
                with open(os.path.join(snap, name), "wb") as f:
                    f.write(data)
            with open(os.path.join(work, "mix.sql"), "w") as f:
                f.write("\n".join(sql for sql, _ in mix) + "\n")
            r = run_jvm(root, cp, work, args + [
                "--snapshot", snap, "--mix", os.path.join(work, "mix.sql")],
                deadline)
            r["mix_len"] = len(mix)
            attempted = len(r["requests"])
            failed = check_k8s(work, r["requests"], mix)
            e2e = k8s_metrics
        else:
            queries, nominal_s = WORKLOADS[a.workload]
            passes = max(2, round(a.seconds / nominal_s))
            r = run_jvm(root, cp, work, args + [
                "--data", os.path.join(root, DATA), "--passes", str(passes),
                "--queries", ",".join(queries)], deadline)
            bad = check_batch(work, queries, set(r["check_failed"]))
            attempted = len(queries) + len(r["samples"])
            failed = len(bad) + sum(1 for s in r["samples"] if not s["ok"])
            e2e = batch_metrics

        if a.trace:
            spans = [json.loads(l) for l in open(os.path.join(work,
                                                              "spans.jsonl"))]
            metrics = layer_metrics(r, spans, a.workload)
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            stem = os.path.join(out, "%s-seed%d" % (a.workload, a.seed))
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + "-spans.jsonl")
            with open(stem + "-top20.md", "w") as f:
                f.write(top_table(r["spark"], a.workload))
            units = dict(PER_LAYER)
        else:
            metrics = e2e(r)
            metrics["success_rate"] = 1 - failed / attempted
            units = dict(END_TO_END)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, unit in units.items():
        print("%-28s %14.6g %s" % (name, metrics[name], unit))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()}}))


if __name__ == "__main__":
    main()
