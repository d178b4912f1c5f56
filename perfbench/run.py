#!/usr/bin/env python3
"""Engine-verb benchmark for graft: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
driver (sbt, offline) and caches the classpath under perfbench/.build/; a
run whose sources match the cached stamp skips the build. The run then
generates the workload's inputs from the seed (gen.py), starts one JVM
(graftbench.Main) that sets up, drives the engine's public verbs from one
client thread in a closed loop for --seconds, and checks every result. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See BENCH.md for the workloads and the metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
OUT_DIR = os.path.join(HERE, ".out")
# a run must end within 180 s once built; the JVM gets what is left of that
RUN_BUDGET_S = 170
CORES = max(1, min(4, os.cpu_count() or 1))

# Input sizes per workload; BENCH.md records why each is this size.
SIZES = {
    "query-mix": {"files": 1000, "edit_files": 2, "pool": 200, "ops": 4000, "setup_reps": 1},
    "curate": {"docs": 2500, "setup_reps": 3},
}
# query-mix mode shares (gen.CYCLE): the weights of the mix latency
MIX = {"semantic": 0.25, "keyword": 0.20, "hybrid": 0.30, "graph": 0.25}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the engine's and the driver's build
    definitions and main sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + driver once per source stamp; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    # never resolve anything from the network: offline coursier + sbt
    env["COURSIER_MODE"] = "offline"
    sbt_opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in sbt_opts:
        sbt_opts = (sbt_opts + " -Dsbt.offline=true").strip()
    env["SBT_OPTS"] = sbt_opts
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def generate(workload, seed, work):
    """Write the workload's inputs under `work`; return its manifest."""
    size = SIZES[workload]
    if workload == "curate":
        c = gen.corpus(seed, size["docs"])
        with open(os.path.join(work, "corpus.jsonl"), "w") as f:
            for d in c["docs"]:
                f.write(json.dumps(d) + "\n")
        return {"n_docs": len(c["docs"]), "distinct_texts": c["distinct_texts"],
                "near_pairs": c["near_pairs"], "stopwords": c["stopwords"]}
    tree = gen.code_tree(os.path.join(work, "tree"), seed, size["files"], size["edit_files"])
    m = {"files": tree["files"], "source_bytes": tree["source_bytes"],
         "edits": gen.edit_script(tree, seed)}
    m.update(gen.query_stream(tree, seed, size["pool"], size["ops"]))
    return m


def run_jvm(cp, workload, work, seconds, trace, budget_s):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", workload, work, str(seconds), str(trace),
            str(CORES), str(SIZES[workload]["setup_reps"]), str(budget_s - 5)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"driver JVM failed ({rc}):\n{tail}", 4)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def end_to_end(workload, r, gen_s):
    """The end-to-end metrics of an untraced run (BENCH.md defines each)."""
    s = r["samples"]
    setup = r["setup"]
    builds = setup.get("store_build") or setup["corpus_load"]
    setup_s = gen_s + setup["session_s"] + statistics.median(builds) + setup.get("warmup_s", 0.0)
    if workload == "query-mix":
        # mix latency: the per-mode mean latencies weighted by the mode
        # shares, so a run's number does not depend on where in the cycle
        # it stopped, and a cheaper repeated query lowers it
        op_ms = stats.mix_latency(s, MIX)
    else:
        op_ms = statistics.median(s["curate"])
    return {
        "setup_s": (setup_s, "s"),
        "op_ms": (op_ms, "ms"),
        "success_rate": (1.0 - r["failed"] / max(1, r["attempted"]), "ratio"),
        "peak_rss_mb": (r["counters"]["peak_rss_mb"], "MB"),
    }


def summary(r):
    """Each timing's median, tail percentile and sample count, for stderr."""
    out = []
    for name, xs in sorted(r["samples"].items()):
        if name not in WALLS and not name.endswith("_ms"):
            continue
        tail = stats.tail_percentile(xs)
        t = f", p{tail[0]:g} {tail[1]:.1f} ms" if tail else ""
        out.append(f"{name}: median {statistics.median(xs):.1f} ms{t}, n={len(xs)}")
    return out


WALLS = ("semantic", "keyword", "hybrid", "graph", "curate", "index_full", "reindex",
         "watch_batch", "read_after_write")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from a checkout of the repository")

    cp = build()
    t_start = time.perf_counter()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        manifest = generate(a.workload, a.seed, work)
        with open(os.path.join(work, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        gen_s = time.perf_counter() - t_start
        r = run_jvm(cp, a.workload, work, a.seconds, a.trace,
                    RUN_BUDGET_S - (time.perf_counter() - t_start))
        os.makedirs(OUT_DIR, exist_ok=True)
        shutil.copy(os.path.join(work, "result.json"),
                    os.path.join(OUT_DIR, f"result-{a.workload}-{a.seed}-{a.trace}.json"))
        if a.trace:
            metrics = layers.per_layer(a.workload, r, manifest, work, OUT_DIR, a.seed, MIX)
        else:
            metrics = end_to_end(a.workload, r, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in summary(r):
        print(f"perfbench: {line}", file=sys.stderr)
    for n in r["notes"]:
        print(f"perfbench: {n}", file=sys.stderr)
    for f in r["failures"]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
