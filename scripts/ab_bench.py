#!/usr/bin/env python3
"""Interleaved same-window A/B of two engine jars through graft.Bench.

    scripts/ab_bench.py <outDir> <armA>=<jarA> <armB>=<jarB> [sessions]
        runs `sessions` (default 2) graft.Bench sessions per arm in ABBA
        order (A B, B A, A B, ...), copies each session's bench_out.json to
        <outDir>/<arm>_s<k>.json, then prints the report below
    scripts/ab_bench.py <outDir>
        prints the report for the sessions already in <outDir>

Report: each session's total, each arm's session-to-session spread (of the
totals, and the median per-gate max/min over sessions), every gate's
min-over-sessions ratio B/A, and the min-merged totals over shared gates.

Sessions inherit SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS and
SPARK_GRAFT_BENCH_RUNS; the heap is SPARK_DRIVER_MEM (default 8g) and
Spark's jars come from $SPARK_HOME/jars.
"""
import glob
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_session(out_dir, arm, jar, k):
    cp = os.path.join(os.environ["SPARK_HOME"], "jars", "*") + ":" + os.path.abspath(jar)
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    with tempfile.TemporaryDirectory(prefix="ab_bench_") as work:
        print(f"[ab] {arm} session {k} ({jar})", flush=True)
        with open(os.path.join(work, "bench_stdout.log"), "w") as log:
            subprocess.run(["java", *ADD_OPENS, f"-Xmx{heap}", "-cp", cp, "graft.Bench"],
                           cwd=work, stdout=log, stderr=subprocess.STDOUT, check=True)
        shutil.copy(os.path.join(work, "bench_out.json"),
                    os.path.join(out_dir, f"{arm}_s{k}.json"))


def load_sessions(out_dir):
    """{arm: [per-session {gate: seconds}]}, arms in name order."""
    arms = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*_s*.json"))):
        m = re.fullmatch(r"(.+)_s(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                arms.setdefault(m.group(1), []).append(json.load(f)["queries"])
    return arms


def spread(xs):
    return max(xs) / min(xs) - 1 if min(xs) > 0 else float("nan")


def report(arms, order):
    a, b = order
    per_arm_min = {}
    for arm in order:
        sessions = arms[arm]
        gates = set.intersection(*(set(k for k, v in s.items() if v >= 0) for s in sessions))
        totals = [sum(s[g] for g in gates) for s in sessions]
        gate_spreads = [spread([s[g] for s in sessions]) for g in gates if min(s[g] for s in sessions) > 0.02]
        print(f"{arm}: {len(sessions)} sessions, totals over {len(gates)} gates "
              f"[{', '.join(f'{t:.1f}' for t in totals)}] s; spread of totals {spread(totals):.3f}, "
              f"median per-gate spread {statistics.median(gate_spreads) if len(sessions) > 1 else 0:.3f}")
        per_arm_min[arm] = {g: min(s[g] for s in sessions) for g in gates}
    shared = sorted(set(per_arm_min[a]) & set(per_arm_min[b]))
    ratios = sorted((per_arm_min[b][g] / per_arm_min[a][g], g) for g in shared if per_arm_min[a][g] > 0)
    print(f"\nper-gate min-over-sessions ratio {b}/{a} ({a} s -> {b} s):")
    for r, g in ratios:
        print(f"  {r:6.3f}  {g}  {per_arm_min[a][g]:.3f} -> {per_arm_min[b][g]:.3f}")
    ta = sum(per_arm_min[a][g] for g in shared)
    tb = sum(per_arm_min[b][g] for g in shared)
    big = [r for r, g in ratios if per_arm_min[a][g] > 0.02]
    print(f"\nshared gates: {len(shared)}; min-merged total {a} {ta:.1f} s, {b} {tb:.1f} s, "
          f"ratio {tb / ta:.3f}")
    print(f"median per-gate ratio (gates > 20 ms): {statistics.median(big):.3f}; "
          f"in [0.9, 1.1]: {sum(0.9 <= r <= 1.1 for r in big)}/{len(big)}")


def main(argv):
    if len(argv) not in (1, 3, 4):
        sys.exit(__doc__)
    out_dir = argv[0]
    if len(argv) == 1:
        arms = load_sessions(out_dir)
        if len(arms) != 2:
            sys.exit(f"want sessions of exactly two arms in {out_dir}, found {sorted(arms)}")
        return report(arms, sorted(arms))
    (arm_a, jar_a), (arm_b, jar_b) = (x.split("=", 1) for x in argv[1:3])
    sessions = int(argv[3]) if len(argv) == 4 else 2
    os.makedirs(out_dir, exist_ok=True)
    for k in range(1, sessions + 1):
        pair = [(arm_a, jar_a), (arm_b, jar_b)]
        for arm, jar in (pair if k % 2 else pair[::-1]):
            run_session(out_dir, arm, jar, k)
    report(load_sessions(out_dir), (arm_a, arm_b))


if __name__ == "__main__":
    main(sys.argv[1:])
