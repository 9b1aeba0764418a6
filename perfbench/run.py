#!/usr/bin/env python3
"""graft benchmark: builds the engine with the harness, runs one workload.

Run from the root of a checkout:

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
      One run. Builds first when the sources changed (perfbench/target).
      The last stdout line is the result JSON; a table of every metric
      with its unit, the failed fraction and how the tail was taken goes
      to stderr. Exits non-zero without a result when anything fails.

  python3 perfbench/run.py steady [--runs 10] [--workload W ...]
                                  [--seed-base 1] [--save FILE] [--against FILE]
      Steadiness: runs every workload --runs times, one seed each, and
      prints each metric's median, quartiles and spread (IQR / median)
      against its bound in BENCHMARK.json. --save keeps the figures;
      --against compares the medians with a saved earlier set.

  python3 perfbench/run.py selftest
      The harness's own tests (perfbench/src/test).

  python3 perfbench/run.py goldens [--seed 42 ...]
      Rewrite perfbench/goldens/v<variant>.json from the engine's
      current outputs and dump them for perfbench/oracle.py.

Workloads: etl_normalize, queries (see BENCHMARK.json and perfbench/metrics.json).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
BUILD_INFO = os.path.join(TARGET, "perfbench-build.json")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
WORKLOADS = ["etl_normalize", "queries"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to ROOT, sorted."""
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(BENCH, "src", "main")]
    out = [os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(os.path.relpath(p, ROOT) for p in out)


def check_checkout():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; "
             "run from the root of a full checkout")
    for p in ("build.sbt", os.path.join("project", "build.properties")):
        if not os.path.isfile(os.path.join(BENCH, p)):
            fail(f"missing perfbench/{p}")


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt(args, env, timeout):
    sbt_bin = shutil.which("sbt")
    if not sbt_bin:
        fail("sbt not found on PATH")
    proc = subprocess.Popen(
        [sbt_bin, "-batch", "-Dsbt.log.noformat=true"] + args,
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"sbt {' '.join(args)} timed out after {timeout}s")
    return proc.returncode, out


def build(env):
    """Compile engine + harness when the sources changed; the runtime
    classpath is cached beside the classes."""
    want = stamp()
    try:
        with open(BUILD_INFO) as f:
            info = json.load(f)
        if info["stamp"] == want and all(os.path.exists(p) for p in info["classpath"]):
            return info["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    t0 = time.time()
    code, out = sbt(["compile", "export Runtime/fullClasspath"], env, BUILD_TIMEOUT_S)
    lines = out.splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail(f"build failed (sbt exit {code})")
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build printed no classpath")
    classpath = cps[-1].strip().split(os.pathsep)
    os.makedirs(TARGET, exist_ok=True)
    with open(BUILD_INFO, "w") as f:
        json.dump({"stamp": want, "classpath": classpath}, f)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classpath


def java_cmd(classpath, main_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else (shutil.which("java") or fail("java not found"))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC"] + opens + [
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", os.pathsep.join(classpath), "perfbench.Main"] + main_args + ["--root", ROOT]


def prepare():
    check_checkout()
    env = dict(os.environ, SPARK_HOME=spark_home())
    return env, build(env)


def run_jvm(env, classpath, main_args):
    """Run the harness JVM; returns (exit code, stdout lines)."""
    proc = subprocess.Popen(java_cmd(classpath, main_args), cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run timed out after {RUN_TIMEOUT_S}s", file=sys.stderr)
        return 1, []
    return proc.returncode, out.splitlines()


def parse_result(lines):
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    ok = (set(r) == {"correct", "attempted", "failed", "metrics"}
          and isinstance(r["attempted"], int) and r["attempted"] >= 1)
    return r if ok else None


def cmd_run(a):
    env, cp = prepare()
    code, lines = run_jvm(env, cp, ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace)])
    result = parse_result(lines)
    if code != 0 or result is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    for l in lines:
        print(l)
    return 0


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spreads(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def cmd_steady(a):
    sys.stdout.reconfigure(line_buffering=True)  # progress of a long command
    spec = load_spec()
    metrics = spec["end_to_end"]
    bounds = {m["name"]: m["bound"] for m in metrics}
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    saved = {}
    if a.against:
        with open(a.against) as f:
            saved = json.load(f)
    figures, bad = {}, 0
    for w in workloads:
        per_metric, walls = {}, []
        for i in range(a.runs):
            seed = a.seed_base + i
            t0 = time.time()
            os.makedirs(os.path.join(WORK, "steady"), exist_ok=True)
            with open(os.path.join(WORK, "steady", f"{w}-{seed}.err"), "w") as err:
                p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                    "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                    "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                                   stderr=err, text=True)
            walls.append(time.time() - t0)
            r = parse_result(p.stdout.splitlines())
            if p.returncode != 0 or r is None or not r["correct"]:
                print(f"{w} seed {seed}: FAILED (exit {p.returncode}, result {r})")
                bad += 1
                continue
            for k, v in r["metrics"].items():
                per_metric.setdefault(k, []).append(v["value"])
        print(f"\n{w}: {a.runs} runs, run wall median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s")
        figures[w] = per_metric
        for name, vals in per_metric.items():
            if len(vals) < 4:
                print(f"  {name:28s} too few runs ({len(vals)})")
                continue
            med, q1, q3, spread = spreads(vals)
            b = bounds[name]
            verdict = ("steady" if spread < b / 3 else "within") if spread <= b else "OUT"
            if verdict == "OUT":
                bad += 1
            line = (f"  {name:28s} median {med:12.6g} q1 {q1:12.6g} q3 {q3:12.6g} "
                    f"spread {spread:7.3f} bound {b:.2f} {verdict}")
            old = saved.get(w, {}).get(name)
            if old and len(old) >= 4:
                omed = statistics.median(old)
                worse = (med - omed) / omed
                if next(m for m in metrics if m["name"] == name)["better"] == "higher":
                    worse = -worse
                line += f" | vs saved median {omed:.6g}: {worse:+.3f}"
                if worse > b:
                    line += " WORSE"
                    bad += 1
            print(line)
    if a.save:
        with open(a.save, "w") as f:
            json.dump(figures, f, indent=1)
    print("\nsteadiness:", "ok" if bad == 0 else f"{bad} problem(s)")
    return 0 if bad == 0 else 1


def cmd_selftest(_):
    env, _cp = prepare()
    code, out = sbt(["test"], env, BUILD_TIMEOUT_S)
    print(out)
    return code


def cmd_goldens(a):
    env, cp = prepare()
    status = 0
    for seed in a.seed:
        code, _ = run_jvm(env, cp, ["--workload", "queries", "--seed", str(seed),
                                    "--write-goldens", "1"])
        status |= code
    return status


def main(argv):
    sub = argv[0] if argv and argv[0] in ("steady", "selftest", "goldens") else None
    p = argparse.ArgumentParser(description="graft benchmark")
    if sub == "steady":
        p.add_argument("--runs", type=int, default=10)
        p.add_argument("--workload", action="append", choices=WORKLOADS)
        p.add_argument("--seed-base", type=int, default=1)
        p.add_argument("--save")
        p.add_argument("--against")
        return cmd_steady(p.parse_args(argv[1:]))
    if sub == "selftest":
        return cmd_selftest(p.parse_args(argv[1:]))
    if sub == "goldens":
        p.add_argument("--seed", type=int, action="append")
        a = p.parse_args(argv[1:])
        a.seed = a.seed or [42, 1, 2, 3]
        return cmd_goldens(a)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return cmd_run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
