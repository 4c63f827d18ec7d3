#!/usr/bin/env python3
"""Cold/warm workload benchmark of the thrivespark engine.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark from source (perfbench/build.sbt); later runs reuse the classes
while the sources are unchanged. Each run then:

  1. removes the /tmp stages the engine writes (the /tmp/graft_* names its
     sources spell out), so every run starts from the same /tmp state, and
     counts what it removed;
  2. starts one JVM that sets up (setup_s: JVM launch -> session ready,
     warm-up done and registry loaded), makes a cold pass over the
     workload's keys in seeded order and warm passes until --seconds are
     used (at least two), and checks every key's output against
     perfbench/expected.json untimed;
  3. removes the engine's /tmp stages again.

A pinned CPU probe before and after the passes, and the CPU time the
hypervisor stole from the machine during the run, label a run made on a
contended box.

With --trace 0 the last line carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics; the lines before it
print every metric by name. `--record-expected` rewrites expected.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.01"
EXPECTED = BENCH / "expected.json"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
RUNS = ROOT / ".bench_run"
JVM_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file the compiled classes depend on."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for src in (ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return files


def build():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT / 'src/main/scala'}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    RUNS.mkdir(exist_ok=True)
    log = RUNS / "build.log"
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (sbt exit {rc}), log in {log}")
    STAMP.write_text(stamp)


def engine_stages():
    """The /tmp/graft_* name prefixes the engine's sources write to."""
    found = set()
    for f in (ROOT / "src" / "main" / "scala").rglob("*.scala"):
        found.update(re.findall(r"/tmp/(graft_[a-z][a-z_]*)", f.read_text()))
    return tuple(sorted(found))


def clean_tmp(prefixes):
    """Remove the /tmp directories named by the engine's stage prefixes;
    returns how many were removed."""
    removed = 0
    for p in Path("/tmp").glob("graft_*"):
        if p.name.startswith(prefixes) and p.is_dir() and not p.is_symlink():
            shutil.rmtree(p, ignore_errors=True)
            removed += 1
    return removed


def stolen_cpu_s():
    """CPU time the hypervisor gave to other guests so far, summed over this
    machine's CPUs (the steal column of /proc/stat); 0 where it is absent."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def jvm(mode, work, out, extra):
    """Run one benchmark JVM to completion; returns its JSON result."""
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    cp = f"{CLASSES}:{os.environ['SPARK_HOME']}/jars/*"
    cmd = ["java", *ADD_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", "--mode", mode, "--data", str(DATA),
           "--work", str(work), "--cpus", str(len(os.sched_getaffinity(0))),
           "--expected", str(EXPECTED), "--out", str(out), *extra,
           "--launch-ms", repr(time.time() * 1000)]
    with open(work / f"{mode}.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{mode} JVM exceeded {JVM_TIMEOUT_S} s, log in {work / (mode + '.log')}")
    if rc != 0 or not out.exists():
        sys.stderr.write((work / f"{mode}.log").read_text()[-4000:])
        fail(f"{mode} JVM failed (exit {rc})")
    return json.loads(out.read_text())


def measure(args):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")
    work = RUNS / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    stages = engine_stages()
    cleaned = clean_tmp(stages)
    steal0 = stolen_cpu_s()
    try:
        out = jvm("run", work, work / "result.json",
                  ["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)])
        steal = stolen_cpu_s() - steal0
    finally:
        clean_tmp(stages)
        shutil.rmtree(work / "spark-local", ignore_errors=True)
    res, setup = out["result"], out["setup"]
    metrics = {"setup_s": {"value": setup["registry"], "unit": "s"}, **res["metrics"]}
    layers = dict(res["layers"])
    layers["host.tmp_stages_removed"] = {"value": cleaned, "unit": "count"}
    layers["host.steal_s"] = {"value": steal, "unit": "s"}
    # set-up split into its steps: each step's end minus the previous one's
    ends = [0.0] + [setup[n] for n in SETUP_STEPS]
    for n, a, b in zip(SETUP_STEPS, ends, ends[1:]):
        layers[f"setup.{n}_s"] = {"value": b - a, "unit": "s"}

    print(f"perfbench {args.workload} seed={args.seed} cpus={res['cpus']} "
          f"trace={args.trace} warm_passes={res['warm_passes']} "
          f"timed={res['timed_s']:.1f}s check={res['check_s']:.1f}s "
          f"setup={ {n: round(v, 3) for n, v in setup.items()} }")
    print("order: " + " ".join(res["order"]))
    for name, m in list(metrics.items()) + list(layers.items()):
        print(f"  {name:32s} {m['value']:14.4f} {m['unit']}")
    for key, why in res["failed"].items():
        print(f"  FAILED {key}: {why}")
    if args.trace:
        print_first_touch(res["keys"])
    print(f"spans: {res['spans']}")

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    have = layers if args.trace else metrics
    missing = [m["name"] for m in want if m["name"] not in have]
    if missing:
        fail(f"metrics not produced: {missing}")
    out = {m["name"]: {"value": have[m["name"]]["value"], "unit": m["unit"]} for m in want}
    failed = len(res["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": out}))


SETUP_STEPS = ("jvm", "session", "warmup", "registry")
SPLIT = ("ops.build_s", "shared.build_s", "codegen.compile_s", "plan.optimizer_s",
         "exec.task_s", "exec.driver_only_s")


def print_first_touch(keys):
    """Per key: cold minus warm wall time, and the same difference of the
    layer counters that may explain it (shared.build_s is cold-only)."""
    print("first touch (cold - warm) by key: " + " ".join(SPLIT))
    for key, k in keys.items():
        if not k["warm_s"] or not k["layers_cold"] or not k["layers_warm"]:
            continue
        gap = k["cold_s"] - statistics.median(k["warm_s"])
        parts = " ".join(f"{k['layers_cold'][n] - k['layers_warm'][n]:8.3f}" for n in SPLIT)
        print(f"  {key:28s} {gap:8.3f} = {parts}")


def record_expected():
    """Run every workload key in two fresh JVMs with different orders. A key
    whose fingerprint differs between them is checked by row count only."""
    work = RUNS / "record"
    shutil.rmtree(work, ignore_errors=True)
    stages = engine_stages()
    runs = []
    for seed in (1, 2):
        clean_tmp(stages)
        runs.append(jvm("record", work / f"seed{seed}", work / f"seed{seed}.json",
                        ["--seed", str(seed)]))
    clean_tmp(stages)
    keys = {}
    for key in sorted(runs[0]):
        a, b = runs[0][key], runs[1][key]
        if a["error"] or b["error"] or a["rows"] != b["rows"]:
            fail(f"{key} cannot be recorded: {a} / {b}")
        keys[key] = {"rows": a["rows"], "fp": a["fp"],
                     "rows_only": None if a["fp"] == b["fp"] else
                     "fingerprint differs between two runs of the seed commit"}
    EXPECTED.write_text(json.dumps({"data": str(DATA.relative_to(BENCH)), "keys": keys},
                                   indent=1, sort_keys=True) + "\n")
    print(f"wrote {EXPECTED}: {len(keys)} keys, "
          f"{sum(1 for k in keys.values() if k['rows_only'])} rows-only")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-expected", action="store_true")
    args = p.parse_args()
    build()
    if args.record_expected:
        record_expected()
    elif args.workload:
        measure(args)
    else:
        fail("--workload is required")


if __name__ == "__main__":
    main()
