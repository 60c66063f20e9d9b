"""Pipeline benchmark: one command per workload, outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark driver from source with sbt (offline) into `.bench_build`; later
runs reuse the build while no source file changed.

A run generates the workload's inputs from the seed, starts one JVM
(`local[4]`, one driver thread), sets up a Spark session several times,
runs the pipeline once cold and then warm in a closed loop for `--seconds`
(at least one warm run; another starts only if it fits the budget),
and checks the last run's outputs with the DuckDB oracle (`oracle.py`).
The last line of standard output is the result, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer ones with `--trace 1`. Everything else (input
record, samples, spans, gate details) goes to
`.bench_build/artifacts/<workload>-seed<seed>-trace<t>.json`.

Tests of the generators and the gate (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
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

WORKLOADS = ("statement_archive", "stage_bulk")
SETUPS = 3  # set-ups per run; setup_s is their median
RUN_LIMIT_S = 170  # a run must end within 180 s once built
BUILD_LIMIT_S = 840
JVM_FLAGS = [
    "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "peak_rss_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")] + [
        os.path.join(d, f) for d in (ROOT, HERE)
        for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp = os.path.join(build_dir, "classpath.json")
    fingerprint = sources_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fingerprint:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_LIMIT_S)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fingerprint, "classpath": classpath}, f)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    build_dir = os.path.join(ROOT, ".bench_build")  # perfbench/build.sbt's target too
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)
    started = time.monotonic()

    import gen
    import oracle

    run_dir = os.path.join(build_dir, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, out_dir, tmp_dir = (os.path.join(run_dir, d) for d in ("input", "out", "tmp"))
    for d in (out_dir, tmp_dir):
        os.makedirs(d)
    gen_s = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        record = gen.generate(args.workload, args.seed, input_dir)
        gen_s.append(time.perf_counter() - t0)

    result_path = os.path.join(run_dir, "result.json")
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp_dir}", "-cp", classpath,
                                   "org.apache.spark.perfbench.BenchMain", args.workload,
                                   input_dir, out_dir, str(args.seconds), str(args.trace),
                                   str(SETUPS), result_path])
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"driver JVM exceeded the run limit; see {log_path}")
    if code != 0 or not os.path.exists(result_path):
        fail(f"driver JVM exited {code}; see {log_path}")
    with open(result_path) as f:
        jvm = json.load(f)

    try:
        verdict = oracle.gate(out_dir, os.path.join(input_dir, "configs"), record["rows"])
    except Exception as e:  # a broken output is a failed check, not a crash
        verdict = {"ok": False, "error": f"{type(e).__name__}: {e}", "groups": {}}
    attempted = jvm["attempted"]
    failed = min(attempted, jvm["failed"] + (0 if verdict["ok"] else 1))

    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in jvm["per_layer"].items()}
    else:
        values = {
            "setup_s": statistics.median(gen_s) + statistics.median(jvm["setup_samples_s"]),
            # a run that threw has no time; it is counted in `failed`
            "cold_s": jvm["cold_s"] or 0.0,
            "warm_s": statistics.median(jvm["warm_samples_s"] or [0.0]),
            "peak_rss_mb": jvm["peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": record, "generate_s": gen_s, "gate": verdict,
        # PandasRank.pctRankScalableAll switches to prefix sums above 2^17 rows
        "merchant_rank_path": "prefix-sum" if verdict["groups"].get("merchant", 0) > 1 << 17
        else "window",
        "driver": jvm, "metrics": metrics,
        "warm_samples": len(jvm["warm_samples_s"]),
    }
    art_dir = os.path.join(build_dir, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    with open(os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(artifact, f, indent=1, ensure_ascii=False)

    print(f"perfbench: {args.workload} seed={args.seed} runs={attempted} "
          f"warm_samples={len(jvm['warm_samples_s'])} gate={'ok' if verdict['ok'] else 'FAIL'} "
          f"groups={verdict.get('groups')}", file=sys.stderr)
    print(json.dumps({"correct": verdict["ok"] and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    return "s" if name.endswith("_s") else "bytes" if "bytes" in name else "count"


if __name__ == "__main__":
    main()
