#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload crawl|ops --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (sbt, cached under
.bench_build/ by a fingerprint of the sources), generates the workload's
inputs from the seed, runs one benchmark JVM (perfbench.Main), checks the
program's outputs and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import checks  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SF = 0.01          # corpus scale for ops
HEAP = "3g"
DEADLINE_S = 170   # the whole run, build excluded

def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every build input: the program's and the benchmark's sources
    and build definitions (build outputs under target/ excluded)."""
    h = hashlib.sha256()
    for r in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
              "perfbench/project", "perfbench/src"]:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else []
        for d, ds, fs in os.walk(p):
            ds[:] = sorted(x for x in ds if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark; returns (classpath, jvm options)."""
    launch = os.path.join(BUILD, "launch.txt")
    fp = fingerprint()
    stamp = os.path.join(BUILD, "fingerprint")
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == fp):
        os.makedirs(BUILD, exist_ok=True)
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=os.path.join(ROOT, "perfbench"), stdout=sys.stderr,
                           stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            die("build failed", 3)
        shutil.copy(os.path.join(ROOT, "perfbench", "target", "launch.txt"), launch)
        with open(stamp, "w") as f:
            f.write(fp)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l and not l.startswith("-Xmx")]


def generate(workload, seed, work):
    """Write the workload's inputs; returns (seconds, crawl spec or None)."""
    t0 = time.perf_counter()
    spec = None
    if workload == "crawl":
        spec = gen.crawl_spec(seed)
        gen.write_site(os.path.join(work, "site.tsv"), spec)
    else:
        gen.corpus(os.path.join(work, "corpus"), SF)
    return time.perf_counter() - t0, spec


def median(xs):
    return statistics.median(xs)


def setup_times(raw, gen_s, launch_ms):
    """Set-up samples: input generation plus, for the first, process
    start to the end of its warm-up pass, for the others, session start
    to the end of theirs."""
    return [gen_s + (s["end_ms"] - (launch_ms if i == 0 else s["start_ms"])) / 1e3
            for i, s in enumerate(raw["setups"])]


def metrics(raw, setup, trace, layer_names):
    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    passes = sorted({o["pass"] for o in timed})
    ok = [o for o in timed if o["ok"]]  # a failed check shows in `correct`
    pass_s = [sum(o["wall_s"] for o in ok if o["pass"] == p) for p in passes]
    cpu_s = [sum(o["cpu_s"] for o in ok if o["pass"] == p) for p in passes]
    by_op = {}
    for o in ok:
        by_op.setdefault(o["op"], []).append(o["wall_s"])
    if trace:
        stats = [p["layers"] for p in raw["passes"] if p["phase"] == "timed"]
        out = {n: (median([s.get(n, 0.0) for s in stats]), u) for n, u in layer_names}
        out["trace.pass_s"] = (median(pass_s), "s")
        out["setup.first_s"] = (setup[0], "s")
        last_setup = [p for p in raw["passes"] if p["phase"] == f"setup{len(setup)}"][0]
        out["setup.artifact_builds"] = (float(last_setup["artifact_builds"]), "count")
        return out
    return {
        "setup_s": (median(setup), "s"),
        "pass_s": (median(pass_s), "s"),
        "op_p50_s": (median([median(v) for v in by_op.values()]), "s"),
        "cpu_s": (median(cpu_s), "s"),
    }


def summarize(raw, setup, wall):
    """Set-up samples, per-operation medians and pass count, to stderr,
    for people."""
    timed = [o for o in raw["ops"] if o["phase"] == "timed" and o["ok"]]
    by_op = {}
    for o in timed:
        by_op.setdefault(o["op"], []).append(o["wall_s"])
    print(f"perfbench: run {wall:.1f} s; set-ups " + " ".join(f"{x:.2f}" for x in setup)
          + f" s; {len({o['pass'] for o in timed})} timed passes; per-op median s: "
          + " ".join(f"{k}={median(v):.3f}" for k, v in sorted(by_op.items())), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["crawl", "ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("run from the repository root: the program's build.sbt and src/ are missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    layer_names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    cp, jvm_opts = build()

    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t_begin = time.time()
    try:
        gen_s, spec = generate(a.workload, a.seed, work)
        cores = max(1, min(4, os.cpu_count() or 1))
        out = os.path.join(work, "raw.json")
        cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.sql.warehouse.dir={work}/warehouse",
                f"-Dderby.system.home={work}/derby"] + jvm_opts +
               ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace),
                "--cores", str(cores), "--work", work,
                "--corpus", os.path.join(work, "corpus"),
                "--site", os.path.join(work, "site.tsv"), "--out", out])
        env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"))
        log = open(os.path.join(work, "jvm.log"), "w")
        launch_ms = time.time() * 1000.0
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - t_begin)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "a timeout"
        log.close()
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            die(f"benchmark JVM ended with {rc}", 5)
        raw = json.load(open(out))
        t_check = time.perf_counter()
        if a.workload == "crawl":
            problems = checks.check_crawl(raw, spec)
        else:
            problems = checks.check_catalog(raw, os.path.join(work, "corpus"), cores)
        print(f"perfbench: output checks took {time.perf_counter() - t_check:.1f} s", file=sys.stderr)
        setup = setup_times(raw, gen_s, launch_ms)
        summarize(raw, setup, time.time() - t_begin)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"] or o.get("check_failed"))
    unexpected = [o for o in ops if (not o["ok"] or o.get("check_failed"))
                  and not o.get("expected_failure")]
    for o in ops:
        if o.get("expected_failure"):
            print(f"expected failure: {a.workload} {o['phase']} pass {o['pass']} {o['op']}: "
                  f"poison code {raw['extra']['poison']} exhausts HttpPageFetcher retries: "
                  f"{o['error'][:300]}")
            break
    for p in problems[:20]:
        print(f"check failed: {p}")
    for o in unexpected[:10]:
        print(f"operation failed: {o['phase']} pass {o['pass']} {o['op']}: {o['error'][:300]}")
    if not any(o["ok"] for o in ops if o["phase"] == "timed"):
        die("no timed operation ran to its end, so there is nothing to time", 6)
    values = metrics(raw, setup, a.trace, layer_names)
    correct = not problems and not unexpected
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()
