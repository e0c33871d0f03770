#!/usr/bin/env python3
"""kgbench: end-to-end and per-layer benchmark of the graft engine.

    python3 kgbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark's JVM runner with sbt (the build is reused while no source changes);
each run then generates its inputs from the seed, drives the workload in
one JVM, checks every answer and prints the metrics. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones and the tracing overhead.
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
sys.dont_write_bytecode = True  # leave no caches in the checkout

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_BUDGET_S = 170     # a run (build excluded) must end well inside 180 s
# Set-ups per run; setup_s is their median. The serve KG build takes
# ~20 s cold, so serve sets up once to leave room for its measured window
# inside the benchmark's time budget; ingest sets up twice.
SETUP_REPS = {"serve": 1, "ingest": 2}
JVM_HEAP = "3g"

# Layers each workload calls; the traced run reports every layer of both
# workloads and reads 0 for those the workload does not call.
SPAN_STATS = ("ms", "jobs", "plan_ms", "driver_ms", "shuffle_bytes", "stored_bytes")
FULL_SPANS = ("similarity.search", "graph.related", "graph.related_filtered",
              "graph.find_path", "graph.find_paths", "analysis.concept_details",
              "similarity.fuse_query", "streaming.batch", "core.compact")
READER_SPANS = ("core.read", "similarity.search_fresh", "graph.related_fresh")
STREAM_PHASES = {"streaming.add_batch_ms": ("addBatch",),
                 "streaming.wal_commit_ms": ("walCommit",),
                 "streaming.query_planning_ms": ("queryPlanning",),
                 "streaming.get_offsets_ms": ("latestOffset", "getOffset")}
OVERHEAD = ("ops_per_s", "mix_p50_ms")
READ_KINDS = {"count": 1, "search": 1, "related": 1}  # one of each per reader round
# Layer figures only one workload produces.
WORKLOAD_LAYERS = {
    "serve": ("graph.accel_loads", "graph.accel_hit_ratio"),
    "ingest": ("ingest.commit_p50_s", "ingest.bytes_per_input_byte", "ingest.match_ratio",
               "core.files", "core.versions", "core.bytes") + tuple(STREAM_PHASES),
}
# The per-workload names each workload prints, mapped to the value they
# show: (source metric, unit).
NAMED = {
    "serve": {"setup_s": ("setup_s", "s"), "failed_ratio": ("failed_ratio", "ratio"),
              "serve.mix_p50_ms": ("mix_p50_ms", "ms"),
              "serve.ops_per_s": ("ops_per_s", "1/s"), "serve.p50_ms": ("latency.p50_ms", "ms"),
              "serve.p90_ms": ("latency.p90_ms", "ms"), "peak_rss_mb": ("peak_rss_mb", "MB")},
    "ingest": {"setup_s": ("setup_s", "s"), "failed_ratio": ("failed_ratio", "ratio"),
               "ingest.read_mix_p50_ms": ("mix_p50_ms", "ms"),
               "ingest.docs_per_s": ("ops_per_s", "1/s"),
               "ingest.commit_p50_s": ("ingest.commit_p50_s", "s"),
               "ingest.read_p50_ms": ("latency.p50_ms", "ms"), "ingest.read_p90_ms": ("latency.p90_ms", "ms"),
               "ingest.bytes_per_input_byte": ("ingest.bytes_per_input_byte", "ratio"),
               "peak_rss_mb": ("peak_rss_mb", "MB")},
}


def fail(msg):
    print("kgbench: " + msg, file=sys.stderr)
    sys.exit(2)


def _sources():
    """Every file the build reads, for the rebuild decision."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile the engine and the runner once per source state; returns
    the runtime classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("engine sources not found next to the benchmark (run from a full checkout)")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["digest"] == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                             "compile", "export kgbench/Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as fh:
        lines = [x.strip() for x in fh]
    cps = [x for x in lines if ".jar" in x and os.pathsep in x and not x.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed (log in %s)" % log)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1]}, fh)
    return cps[-1]


def java_cmd(classpath, run_dir, args):
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    return cmd + ["-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp,
                  "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-Dderby.system.home=" + tmp,
                  "-cp", classpath, "kgbench.Main"] + args


def run_jvm(classpath, run_dir, args, deadline):
    log = os.path.join(run_dir, "jvm.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=args[args.index("--cpus") + 1])
    with open(log, "w") as fh:
        p = subprocess.Popen(java_cmd(classpath, run_dir, args), cwd=run_dir, env=env,
                             stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("benchmark JVM exited with %s" % rc)


def load_records(path):
    recs = {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            recs.setdefault(r["type"], []).append(r)
    return recs


def phase_of(recs, name):
    return next(p for p in recs.get("phase", []) if p["name"] == name)


# ---------------------------------------------------------------- serve

def serve_result(recs, inputs):
    """Check every request against the oracle; returns the counts, the
    end-to-end metrics per phase and the serve-only layer counts."""
    subsets = [line.strip().split(",") for line in open(os.path.join(inputs, "rel_subsets.tsv"))]
    clients = [[line.rstrip("\n").split("\t") for line in open(os.path.join(inputs, "client%d.tsv" % c))]
               for c in range(gen.CLIENTS)]
    orc = oracle.ServeOracle(recs["kg"][0]["dir"], subsets)
    ops = recs.get("op", [])
    errors = []
    for o in ops:
        why = o.get("error") if not o["ok"] else orc.check(clients[o["client"]][o["idx"]], o["result"])
        if why:
            errors.append("%s[%d/%d]: %s" % (o["op"], o["client"], o["idx"], why))
    if len(orc.edges) != gen.N_CONCEPTS * 5:
        errors.append("k-NN edges: %d, expected %d" % (len(orc.edges), gen.N_CONCEPTS * 5))

    def e2e(phase):
        """Throughput is the sum of the clients' own rates, each over the
        time until its last request returned, so a client never counts
        as idle while the other finishes its last request."""
        p = phase_of(recs, phase)
        mine = [o for o in ops if o["phase"] == phase]
        rate = 0.0
        for c in range(gen.CLIENTS):
            done = [o["end_ms"] for o in mine if o["client"] == c]
            rate += len(done) / ((max(done) - p["start_ms"]) / 1000.0)
        by_op = {}
        for o in mine:
            by_op.setdefault(o["op"], []).append(o["end_ms"] - o["start_ms"])
        return {"ops_per_s": rate, "mix_p50_ms": stats.mix_median(by_op, gen.SERVE_MIX)}, by_op

    phases = {ph: e2e(ph) for ph in ("untraced", "traced") if any(p["name"] == ph for p in recs["phase"])}
    loads = [c["value"] for c in recs.get("counter", []) if c["name"] == "graph.accel_load"]
    layers = {"graph.accel_loads": sum(loads),
              "graph.accel_hit_ratio": 1 - sum(loads) / len(loads) if loads else 0.0}
    return len(ops) + 1, errors, phases, layers


# --------------------------------------------------------------- ingest

def ingest_result(recs, manifest):
    """Check the store invariants and every reader round; returns the
    counts, the end-to-end metrics per phase and the ingest-only layers."""
    errors = ["%s: %s" % (c["name"], c["detail"]) for c in recs.get("check", []) if not c["ok"]]
    reads = recs.get("read", [])
    errors += ["read %s/%s: %s" % (r["phase"], r["batch"], r["error"]) for r in reads if not r["ok"]]
    errors += ["commit %s/%s: %s" % (c["phase"], c["batch"], c["error"])
               for c in recs.get("commit", []) if not c["ok"]]
    last = {}
    for r in sorted(recs.get("read_result", []), key=lambda r: (r["phase"], r["batch"], r["round"])):
        why = oracle.check_ingest_read(r)
        before = last.get(r["phase"], (None, 0))
        if why is None and r["concepts"] < before[1]:
            why = "concept count went down"
        if why is None and before[0] == r["batch"] and r["concepts"] != before[1]:
            why = "concept count changed between rounds on one snapshot"
        last[r["phase"]] = (r["batch"], r["concepts"])
        if why:
            errors.append("read result %s/%d/%d: %s" % (r["phase"], r["batch"], r["round"], why))

    def e2e(phase):
        p = phase_of(recs, phase)
        by_kind = {}
        for r in reads:
            if r["phase"] == phase:
                by_kind.setdefault(r["kind"], []).append(r["end_ms"] - r["start_ms"])
        return {"ops_per_s": p["batches"] * gen.BATCH_DOCS / ((p["end_ms"] - p["start_ms"]) / 1000.0),
                "mix_p50_ms": stats.mix_median(by_kind, READ_KINDS)}, by_kind

    phases = {ph: e2e(ph) for ph in ("untraced", "traced") if any(p["name"] == ph for p in recs["phase"])}
    main = "traced" if "traced" in phases else "untraced"
    store = next(s for s in recs["store"] if s["phase"] == main)
    batches = phase_of(recs, main)["batches"]
    text = manifest["warmup_text_bytes"] + sum(manifest["batch_text_bytes"][:batches])
    commits = [(c["end_ms"] - c["start_ms"]) / 1000.0 for c in recs["commit"] if c["phase"] == "untraced"]
    layers = {"ingest.commit_p50_s": stats.percentile(commits, 50),
              "ingest.bytes_per_input_byte": store["bytes"] / text,
              "ingest.match_ratio": store["matched"] / max(1, store["matched"] + store["created"]),
              "core.files": store["files"], "core.versions": store["versions"],
              "core.bytes": store["bytes"]}
    for name, keys in STREAM_PHASES.items():
        layers[name] = stats.median([sum(p["duration_ms"].get(k, 0) for k in keys)
                                     for p in recs.get("progress", [])])
    attempted = len(recs.get("commit", [])) + len(reads) + len(recs.get("check", []))
    return attempted, errors, phases, layers


def traced_layers(recs):
    """Per-layer stats of the traced phase; layers not called read 0."""
    ls = stats.layer_stats(recs.get("span", []), recs.get("job", []), recs.get("plan", []))
    out = {}
    for name in FULL_SPANS:
        for s in SPAN_STATS:
            out["%s.%s" % (name, s)] = ls.get(name, {}).get(s, 0)
    for name in READER_SPANS:
        for s in ("ms", "jobs"):
            out["%s.%s" % (name, s)] = ls.get(name, {}).get(s, 0)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build()
    deadline = time.time() + RUN_BUDGET_S
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(run_dir, "inputs")
        clock = [time.time()]
        manifest = gen.write_inputs(a.workload, a.seed, inputs)
        clock.append(time.time())
        out = os.path.join(run_dir, "records.jsonl")
        cpus = str(len(os.sched_getaffinity(0)))
        run_jvm(classpath, run_dir, [
            "--workload", a.workload, "--inputs", inputs, "--work", os.path.join(run_dir, "work"),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--setup-reps", str(SETUP_REPS[a.workload]),
            "--read-rounds", str(gen.READ_ROUNDS),
            "--cpus", cpus, "--out", out], deadline)
        clock.append(time.time())
        recs = load_records(out)
        if a.workload == "serve":
            res = serve_result(recs, inputs)
        else:
            res = ingest_result(recs, manifest)
        clock.append(time.time())
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, "%s-seed%d.jsonl" % (a.workload, a.seed)), "w") as fh:
                for kind in ("span", "job", "plan", "progress", "counter"):
                    fh.writelines(json.dumps(r) + "\n" for r in recs.get(kind, []))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, errors, phases, extra = res
    m, by_kind = phases["untraced"]
    lat = [x for v in by_kind.values() for x in v]
    setup = stats.median([x["s"] for x in recs["setup"]])
    e2e = {"setup_s": setup, "ops_per_s": m["ops_per_s"], "mix_p50_ms": m["mix_p50_ms"]}
    layers = {}
    for w in ("serve", "ingest"):  # every layer of both workloads; 0 = not called
        layers.update({k: 0 for k in WORKLOAD_LAYERS[w]})
    layers.update(traced_layers(recs))
    layers.update(extra)
    layers["peak_rss_mb"] = recs["final"][0]["vm_hwm_kb"] / 1024.0
    layers["latency.p50_ms"] = stats.percentile(lat, 50)
    layers["latency.p90_ms"] = stats.percentile(lat, 90)
    if "traced" in phases:
        for k in OVERHEAD:
            layers["trace_overhead." + k] = phases["traced"][0][k] - m[k]

    for e in errors[:20]:
        print("check failed: " + e)
    tail = stats.tail_percentile(lat)
    print("%s: seed %d, %d samples (%s), cpus %s, set-up runs %s s" % (
        a.workload, a.seed, len(lat), "p%g has >=10 beyond" % tail[0] if tail else "no tail",
        cpus, " ".join("%.2f" % x["s"] for x in recs["setup"])))
    marks = [x["ms"] for x in recs["mark"]]
    print("wall: inputs %.1f s, jvm %.1f s (session +%.1f s, set-up done +%.1f s), checks %.1f s" % (
        clock[1] - clock[0], clock[2] - clock[1], (marks[0] - clock[1] * 1000) / 1000,
        (marks[1] - clock[1] * 1000) / 1000, clock[3] - clock[2]))
    print("per kind (n, p50 ms): " + ", ".join(
        "%s %d %.0f" % (k, len(v), stats.percentile(v, 50)) for k, v in sorted(by_kind.items())))
    named = dict(NAMED[a.workload])
    values = dict(e2e, **layers)
    values["failed_ratio"] = len(errors) / attempted
    for k, (src, unit) in sorted(named.items()):
        print("%-34s %14.4f %s" % (k, values[src], unit))
    if tail and tail[0] > 50:
        print("%-34s %14.4f ms" % ("%s.p%g_ms" % (a.workload, tail[0]), tail[1]))
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items()}
    for k, v in sorted(metrics.items()):
        print("%-44s %16.4f %s" % (k, v["value"], v["unit"]))
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": len(errors),
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s") and not name.endswith("per_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("bytes") or name.endswith(".bytes"):
        return "bytes"
    if name.endswith("ratio") or name.endswith("per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
