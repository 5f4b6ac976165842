#!/usr/bin/env python3
"""The repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload indicators --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15   # every metric

Run from the root of a checkout. The run
  1. builds the engine and the harness from source with sbt (once per
     checkout, cached under .bench_build/ by a digest of the sources),
  2. generates the seeded input tables (gen.py; cached per seed),
  3. makes every workload's reference once per checkout, on the seed-0
     inputs (the seed changes row order and file split, not content): the
     engine's results are checked against SparkEntry.oracleSql in DuckDB
     (oracle.py) and only results that pass are recorded,
  4. measures in a fresh JVM at local[4] (perfbench.Main measure) and
     prints one JSON line: correct, attempted, failed and the metrics of
     BENCHMARK.json (end_to_end with --trace 0, per_layer with --trace 1).

See perfbench/README.md for the workloads and the metrics.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")

WORKLOADS = {"indicators": "base", "corpus_serve": "corpus4x"}
ORACLE_TIMEOUT_S = 60
RUN_BUDGET_S = 175
FIRST_RUN_BUDGET_S = 880
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    return env


def build():
    """Compile engine + harness; returns the runtime classpath and the
    digest of the sources it was built from."""
    stamp = sources_digest()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["stamp"] == stamp:
            return c["classpath"], stamp
    log("building engine and harness with sbt")
    t0 = time.time()
    logf = os.path.join(BUILD, "logs", "build.log")
    with open(logf, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE, stderr=lf, text=True,
            stdin=subprocess.DEVNULL, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-3000:])
        die(f"sbt build failed (rc={p.returncode}); see {logf}", 1)
    classpath = lines[-1].strip()
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath, "build_s": time.time() - t0}, f)
    return classpath, stamp


def generate(kind, seed):
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(BUILD, "data", f"{kind}-{gen}-s{seed}")
    manifest = os.path.join(out, "manifest.json")
    if not os.path.isfile(manifest):
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--kind", kind,
                        "--seed", str(seed), "--out", out],
                       check=True, stdout=subprocess.DEVNULL, timeout=120)
    with open(manifest) as f:
        return out, json.load(f)


def java(classpath, args, logname, timeout):
    cmd = ["java", *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:+UseG1GC", "-Djava.awt.headless=true", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false",
           "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
           "-Dspark.local.dir=" + os.path.join(BUILD, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(BUILD, "warehouse"),
           "-cp", classpath, "perfbench.Main", *args]
    logf = os.path.join(BUILD, "logs", logname)
    with open(logf, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=lf,
                               stdin=subprocess.DEVNULL, text=True, timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            die(f"{args[0]} JVM exceeded {timeout:.0f}s; see {logf}", 1)
    if p.returncode != 0:
        with open(logf) as lf:
            sys.stderr.write(lf.read()[-3000:])
        die(f"{args[0]} JVM failed (rc={p.returncode}); see {logf}", 1)
    return p.stdout


def reference(classpath, workload, data, manifest, deadline):
    """The validated reference for (workload, input content): made once,
    from engine results that pass the DuckDB oracle."""
    ref = os.path.join(BUILD, "ref", f"{workload}-{manifest['content_key']}.tsv")
    if os.path.isfile(ref):
        return ref
    log(f"making the {workload} reference for content {manifest['content_key']}")
    t0 = time.time()
    dump = os.path.join(BUILD, "refwork", f"{workload}-{manifest['content_key']}")
    shutil.rmtree(dump, ignore_errors=True)
    java(classpath, ["reference", "--workload", workload, "--data", data, "--out", dump],
         f"{workload}-s{manifest['seed']}-reference.log", deadline - time.time())
    t1 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), data, dump,
                        str(ORACLE_TIMEOUT_S)], stdout=subprocess.PIPE, text=True,
                       check=True, timeout=max(deadline - time.time(), 1))
    verdict = json.loads(p.stdout)
    rows, notes = [], {}
    with open(os.path.join(dump, "engine.tsv")) as f:
        for line in f.read().splitlines():
            name, status, *rest = line.split("\t")
            v = verdict.get(name, "no oracle")
            if status == "ok" and v == "ok":
                rows.append("\t".join([name, *rest]))
            else:
                notes[name] = rest[0] if status != "ok" else v
    for name, why in sorted(notes.items()):
        log(f"no reference for {name}: {why}")
    os.makedirs(os.path.dirname(ref), exist_ok=True)
    with open(ref + ".notes.json", "w") as f:
        json.dump({"engine_s": t1 - t0, "oracle_s": time.time() - t1,
                   "no_reference": notes}, f, indent=1)
    with open(ref, "w") as f:
        f.write("\n".join(rows) + "\n")
    shutil.rmtree(dump, ignore_errors=True)
    return ref


def measure(classpath, runs, workload, seed, seconds, trace, data, ref, deadline):
    tag = f"{workload}-s{seed}-t{trace}"
    out = java(classpath, ["measure", "--workload", workload, "--data", data, "--ref", ref,
                           "--seconds", str(seconds), "--trace", str(trace),
                           "--spans", os.path.join(runs, f"{tag}-spans.json")],
               f"{tag}.log", deadline - time.time())
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        die("the measure JVM printed no result", 1)
    res = json.loads(lines[-1][len("PERFBENCH "):])
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(res, f)
    return res


def untraced_walls(runs, workload):
    """wall_s of the untraced runs of `workload` kept in `runs`, the run
    directory of one build of the sources."""
    walls = []
    for name in os.listdir(runs):
        if name.startswith(f"{workload}-s") and name.endswith("-t0.json"):
            with open(os.path.join(runs, name)) as f:
                walls.append(json.load(f)["metrics"]["wall_s"]["value"])
    return walls


def report(seed, seconds):
    """--workload all: every workload untraced and traced, one metric a line."""
    for wl in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", wl,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", str(trace)], stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                die(f"{wl} (trace {trace}) failed", p.returncode)
            res = json.loads(p.stdout.splitlines()[-1])
            print(f"{wl} trace={trace} attempted={res['attempted']} failed={res['failed']}")
            for name, m in res["metrics"].items():
                print(f"  {name:28s} {m['value']:14.4f} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if a.workload == "all":
        return report(a.seed, a.seconds)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))
            and os.path.isfile(os.path.join(HARNESS, "build.sbt"))):
        die("run from the root of a checkout of the engine (build.sbt and "
            "src/main/scala/graft/SparkEntry.scala not found)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for d in ("logs", "tmp", "spark-local", "warehouse", "ref"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)

    # First run in a checkout: build, then every workload's reference.
    first = not os.path.isfile(os.path.join(BUILD, "classpath.json"))
    classpath, stamp = build()
    runs = os.path.join(BUILD, "runs", stamp[:16])
    os.makedirs(runs, exist_ok=True)
    deadline = t_start + (FIRST_RUN_BUDGET_S if first else RUN_BUDGET_S)
    refs = {}
    for wl, kind in sorted(WORKLOADS.items(), key=lambda kv: kv[0] != a.workload):
        d0, m0 = generate(kind, 0)
        refs[wl] = reference(classpath, wl, d0, m0, deadline)
        if not first:
            break
    data, manifest = generate(WORKLOADS[a.workload], a.seed)
    if manifest["content_key"] != generate(WORKLOADS[a.workload], 0)[1]["content_key"]:
        die("seeded inputs differ in content from the reference inputs", 1)
    if first:
        deadline = time.time() + RUN_BUDGET_S
    ref = refs[a.workload]

    if a.trace and not untraced_walls(runs, a.workload):
        log(f"no untraced {a.workload} run of this build yet: measuring one for the overhead")
        measure(classpath, runs, a.workload, a.seed, a.seconds, 0, data, ref, deadline)
    res = measure(classpath, runs, a.workload, a.seed, a.seconds, a.trace, data, ref, deadline)

    got = res["metrics"]
    if a.trace:
        got["sources.gen_s"] = {"value": manifest["gen_s"], "unit": "s"}
        base = statistics.median(untraced_walls(runs, a.workload))
        got["trace.overhead_s"] = {"value": got["trace.wall_s"]["value"] - base, "unit": "s"}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {}).get("value")
        if not isinstance(v, (int, float)):
            die(f"metric {m['name']} missing from the run", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in res["failures"]:
        log(f"failed: {f}")
    log(f"{a.workload} seed {a.seed}: {res['passes']} pass(es), run took {time.time() - t_start:.1f}s")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
