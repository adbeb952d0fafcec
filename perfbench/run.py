"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload dag --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
the build while its sources are unchanged. Each run then

  1. makes the input files once per checkout (perfbench/gen_data.py, fixed
     data seed, so outputs can be checked against committed digests;
     `--seed` draws the order of each pass's independent tasks);
  2. starts one harness JVM (graftbench.Harness) in a fresh run directory:
     its own warehouse, scratch and Spark local dirs, nothing kept from
     earlier runs;
  3. checks every set-up round's op digests against perfbench/expected;
  4. writes the full per-op record (and, with `--trace 1`, the per-layer
     record) under .bench_build/results/, prints a capped summary line and
     then the result line.

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
The JVM and Spark settings (`--slots`, `--heap`, `--young`, `--jit-threads`,
`--gc-threads`) are fixed in BENCHMARK.json's command. Exit status is 0
only when a result line was printed. Only one run may use a checkout at a
time: a second concurrent run exits with status 3.

`--write-expected` records the set-up digests of the workload's ops as the
expected ones (after a deliberate change of an op's output).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["dag", "curate"]
DATA_SEED = 42
# Two set-up rounds (the cold one and a warm one) give set-up time as their
# median. Each costs 1.5-4 passes, so a third would leave too few timed
# passes: the 48 runs a benchmark check makes, builds included, must end
# within an hour. One untimed warm-up pass follows: the first pass after the
# set-up rounds still ran 10-20% slower than the third (JIT). A run times
# at least three passes, so that the median pass is never a mean of two.
SETUP_ROUNDS = 2
WARMUP_PASSES = 1
MIN_PASSES = 3
# A call gets at most OP_BUDGET_S, cut to what is left before the run's
# deadline; no call starts after it, and an op that failed once is skipped
# (and counted failed) for the rest of the run. So the harness ends within
# the deadline plus one cancelled call's clean-up (up to 20 s) plus session
# stop, whatever the ops do; HARNESS_KILL_S is the safety net beyond that,
# and the whole run stays under 180 s once built.
OP_BUDGET_S = 30.0
HARNESS_DEADLINE_S = 140.0
HARNESS_KILL_S = 170.0
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def lock():
    os.makedirs(BUILD, exist_ok=True)
    fh = open(os.path.join(BUILD, "run.lock"), "w")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fail("another benchmark run is using this checkout; concurrent runs would "
             "share the build and the CPUs, so this one stops", 3)
    return fh


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "lib"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources next to perfbench/ (src/main/scala/graft); nothing to build")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") +
                       f" -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    log("building program and harness (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(proc.stdout + proc.stderr)
    cp = [ln for ln in proc.stdout.splitlines() if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join((proc.stdout + proc.stderr).splitlines()[-40:]) + "\n")
        fail(f"build failed (exit {proc.returncode}); see .bench_build/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def inputs():
    """The input files, made once per checkout (they are read-only)."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"seed{DATA_SEED}-{version}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        import gen_data  # numpy and pyarrow load only when the inputs are made
        gen_data.write(tmp, DATA_SEED)
        os.replace(tmp, d)
    return d


def jvm_command(classpath, cfg_path, run_dir, args):
    """The harness JVM: a fixed heap that is not pre-touched, with a fixed
    young generation, so peak RSS moves with what the program keeps rather
    than with G1's sizing; capped JIT-compiler and GC threads, so a burst of
    compilation or collection takes a core, not every task slot."""
    return (["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", f"-Xmn{args.young}",
             "-XX:-UsePerfData",
             f"-XX:CICompilerCount={args.jit_threads}",
             f"-XX:ParallelGCThreads={args.gc_threads}", "-XX:ConcGCThreads=1"]
            + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}/derby",
               "-cp", classpath, "graftbench.Harness", cfg_path])


def run_harness(classpath, cfg, args):
    run_dir = cfg["run_dir"]
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    for sub in ("tmp", "derby"):
        os.makedirs(os.path.join(run_dir, sub))
    # GRAFT_* variables are the program's A/B switches: measure its defaults.
    # SPARK_LOCAL_DIRS would override the run's own spark.local.dir.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(jvm_command(classpath, cfg_path, run_dir, args), cwd=run_dir,
                                env=env, stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        code = "killed"
        try:
            code = proc.wait(timeout=HARNESS_KILL_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.isfile(cfg["out"]):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {code}")
    with open(cfg["out"]) as f:
        return json.load(f)


def harness_config(args, run_dir, **extra):
    cfg = {
        "mode": "run", "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "slots": args.slots, "data": inputs(), "run_dir": run_dir,
        "out": os.path.join(run_dir, "result.json"), "budget_s": OP_BUDGET_S,
        "deadline_s": HARNESS_DEADLINE_S, "setup_rounds": SETUP_ROUNDS,
        "warmup_passes": WARMUP_PASSES, "min_passes": MIN_PASSES,
    }
    cfg.update(extra)
    return cfg


def fresh_run_dir():
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    return run_dir


def parser():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--slots", type=int, default=2, help="Spark task slots (local[N])")
    ap.add_argument("--heap", default="2g")
    ap.add_argument("--young", default="256m")
    ap.add_argument("--jit-threads", type=int, default=2)
    ap.add_argument("--gc-threads", type=int, default=2)
    ap.add_argument("--write-expected", action="store_true")
    return ap


def load_expected():
    path = os.path.join(HERE, "expected", "digests.json")
    if not os.path.isfile(path):
        return {}
    with open(path) as f:
        return json.load(f)


def write_expected(workload, result):
    expected = load_expected()
    ops = {}
    for s in result["rounds"][0]["ops"]:
        if s["ok"]:
            ops[s["op"]] = {"rows": s["rows"], "digest": s["digest"]}
    expected[workload] = dict(sorted(ops.items()))
    with open(os.path.join(HERE, "expected", "digests.json"), "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")


def main(argv=None):
    args = parser().parse_args(argv)
    # a terminated run still stops its harness JVM (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {WORKLOADS}")
    held = lock()
    classpath = build()
    run_dir = fresh_run_dir()
    result = run_harness(classpath, harness_config(args, run_dir), args)

    if args.write_expected:
        write_expected(args.workload, result)
    problems = metrics.check_outputs(result, load_expected().get(args.workload, {}))
    failures = metrics.failures_by_op(result, problems)
    attempted, failed = metrics.call_counts(result, failures)
    layers = metrics.per_layer(result, failures) if args.trace else None
    chosen = layers if args.trace else metrics.end_to_end(result)
    line = metrics.result_line(not problems and failed == 0, attempted, failed, chosen)

    results_dir = os.path.join(BUILD, "results", args.workload)
    os.makedirs(results_dir, exist_ok=True)
    record = os.path.join(results_dir, time.strftime("%Y%m%dT%H%M%S") +
                          f"-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump({"result_line": json.loads(line), "problems": problems,
                   "per_layer": layers, "harness": result}, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    held.close()
    log(f"record: {os.path.relpath(record, ROOT)}; host steal "
        f"{result['host']['run']['steal_s']:.2f} s, other-process CPU "
        f"{result['host']['run']['other_cpu_s']:.2f} s during the run")
    print(metrics.summary_line(problems, result, attempted, failed))
    print(line, flush=True)


if __name__ == "__main__":
    main()
