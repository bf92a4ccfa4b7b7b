"""One benchmark run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It
  1. builds the program and the harness (perfbench/harness) with sbt, once
     per source state, and then launches the JVM directly on the compiled
     classpath, so no build-tool start is measured;
  2. generates the workload's inputs from the seed (perfbench/gen.py),
     once per (workload, seed, input spec), before any JVM starts;
  3. starts one JVM that only sets up a session and is killed, then the
     measured JVM, each in a fresh run directory that also holds its temp
     files; setup_s is the median of their set-up times;
  4. checks every query execution's output (see below) and prints one JSON
     line: {"correct", "attempted", "failed", "metrics"}.

An execution fails when it throws, when its result digest differs from the
same query's digest in the run's cold pass, when the cold digest differs
from the one recorded in perfbench/expected.json for this seed, or when
its query's sketch-bound check fails (then every execution of it fails).

Everything the run writes goes under $CARGO_TARGET_DIR (default
.bench_build)/perfbench and the sbt builds' target directories.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
DEADLINE_S = 175          # the whole run, build excepted
SETUP_SAMPLES = 2         # JVM starts per run; setup_s is their median
# a fixed heap and few malloc arenas keep the JVM's footprint, and so
# peak_rss_mb, steady from run to run
HEAP = ["-Xms1g", "-Xmx1g"]
READY = "PERFBENCH READY"

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def work_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(os.path.abspath(os.path.join(ROOT, base)), "perfbench")


def source_files():
    """Every file whose change calls for a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build(wd):
    """Compile with sbt when the sources changed; return (classpath, jvm opts)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    spec = os.path.join(wd, "launch.json")
    if os.path.exists(spec):
        with open(spec) as f:
            launch = json.load(f)
        if launch["stamp"] == stamp and all(
                os.path.exists(p) for p in launch["classpath"].split(os.pathsep)):
            return launch["classpath"], launch["jvm"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.perf_counter()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(os.path.join(HARNESS, "target", "launch.txt")) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    launch = {"stamp": stamp, "classpath": lines[0],
              "jvm": [o for o in lines[1:] if not o.startswith("-Xmx")]}
    with open(spec, "w") as f:
        json.dump(launch, f)
    print(f"perfbench: built in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return launch["classpath"], launch["jvm"]


def inputs(wd, workload, spec, seed):
    """Generate (or reuse) the workload's tables; return (dir, rows, seconds)."""
    key = hashlib.sha256(json.dumps(spec["gen"], sort_keys=True).encode()).hexdigest()[:12]
    root = os.path.join(wd, "data")
    out = os.path.join(root, f"{workload}-{seed}-{key}")
    done = os.path.join(out, "rows.json")
    t0 = time.perf_counter()
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        rows = gen.generate(workload, seed, out)
        with open(done, "w") as f:
            json.dump(rows, f)
    with open(done) as f:
        rows = json.load(f)
    os.utime(out)
    # keep the few most recently used input sets
    sets = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for old in sets[4:]:
        shutil.rmtree(old, ignore_errors=True)
    return out, rows, time.perf_counter() - t0


class Jvm:
    """One harness JVM in its own process group and run directory."""

    def __init__(self, classpath, jvm_opts, run_dir, args, deadline):
        os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
        self.err = open(os.path.join(run_dir, "stderr.log"), "w")
        cmd = ["java", *HEAP, *jvm_opts, f"-Djava.io.tmpdir={run_dir}/tmp",
               f"-Dderby.system.home={run_dir}", "-cp", classpath,
               "perfbench.Main", "--run-dir", run_dir, *args]
        self.t0 = time.perf_counter()
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        self.p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                  stderr=self.err, text=True, start_new_session=True)
        # a JVM still alive at the deadline is killed, whatever it is doing
        self.watchdog = threading.Timer(max(0.0, deadline - time.perf_counter()), self.stop)
        self.watchdog.daemon = True
        self.watchdog.start()

    def wait_ready(self):
        """Seconds from process start to a ready session."""
        for line in self.p.stdout:
            if line.strip() == READY:
                return time.perf_counter() - self.t0
        self.stop()
        die(f"JVM never became ready (exit {self.p.poll()}); see {self.err.name}")

    def finish(self):
        # drain stdout on the side so a chatty program cannot block on it
        threading.Thread(target=self.p.stdout.read, daemon=True).start()
        self.p.wait()
        self.watchdog.cancel()
        self.err.close()
        if self.p.returncode < 0:
            die(f"JVM killed at the run's time limit; see {self.err.name}")
        if self.p.returncode != 0:
            die(f"JVM exited with {self.p.returncode}; see {self.err.name}")

    def stop(self):
        if self.p.poll() is None:
            os.killpg(self.p.pid, signal.SIGKILL)
        self.p.wait()
        self.watchdog.cancel()


def evaluate(result, expected):
    """(attempted, failed, problems) over every query execution of the run."""
    attempted = failed = 0
    problems = []
    for q, r in result["queries"].items():
        digests = [d for p in r["digests"] for d in p]
        errors = [e for p in r["errors"] for e in p]
        cold = r["digests"][0][0]
        attempted += len(digests)
        bad = [bool(e) or d != cold for e, d in zip(errors, digests)]
        want = expected.get(q)
        if r["check"]:
            problems.append(f"{q}: {r['check']}")
            bad = [True] * len(bad)
        elif want is not None and cold != want:
            problems.append(f"{q}: digest {cold} differs from the recorded {want}")
            bad = [True] * len(bad)
        if any(bad):
            failed += sum(bad)
            problems += [f"{q}: {e}" for e in sorted(set(errors)) if e]
            if len(set(digests)) > 1:
                problems.append(f"{q}: digests differ across passes {sorted(set(digests))}")
    return attempted, failed, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("no program sources next to perfbench/ (run from a checkout of the repository)")
    spec = gen.load_spec(a.workload)
    wd = work_dir()
    os.makedirs(wd, exist_ok=True)
    classpath, jvm_opts = build(wd)

    start = time.perf_counter()
    deadline = start + DEADLINE_S
    data, rows, gen_s = inputs(wd, a.workload, spec, a.seed)
    cores = len(os.sched_getaffinity(0))
    runs = os.path.join(wd, "runs")
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.isdir(runs):  # keep the latest few run directories
        for old in sorted((os.path.join(runs, d) for d in os.listdir(runs)),
                          key=os.path.getmtime, reverse=True)[8:]:
            shutil.rmtree(old, ignore_errors=True)

    setups = []
    for i in range(SETUP_SAMPLES - 1):
        jvm = Jvm(classpath, jvm_opts, os.path.join(run_dir, f"setup{i}"),
                  ["--setup-only", "--cores", str(cores)], deadline)
        setups.append(jvm.wait_ready())
        jvm.stop()  # a set-up-only JVM has nothing left to do
    jvm = Jvm(classpath, jvm_opts, run_dir, [
        "--data", data, "--queries", ",".join(spec["queries"]),
        "--tables", ",".join(spec["tables"]), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--seed", str(a.seed)], deadline)
    setups.append(jvm.wait_ready())
    jvm.finish()
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)

    exp_path = os.path.join(HERE, "expected.json")
    expected = {}
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            expected = json.load(f).get(a.workload, {}).get(str(a.seed), {})
    attempted, failed, problems = evaluate(result, expected)
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)

    input_rows = sum(rows[t] for t in spec["tables"])
    # a typical warm pass: each query's median over the warm passes, summed
    warm = sum(statistics.median(t for p in r["seconds"][1:] for t in p)
               for r in result["queries"].values())
    print(f"perfbench: {a.workload} seed {a.seed}: inputs {input_rows} rows "
          f"(generated in {gen_s:.2f} s), cold {result['cold_pass_s']:.3f} s, "
          f"{len(result['warm_passes_s'])} warm passes "
          f"{[round(x, 3) for x in result['warm_passes_s']]}", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if a.trace:
        values = result["layers"]
    else:
        values = {"setup_s": statistics.median(setups),
                  "cold_pass_s": result["cold_pass_s"],
                  "warm_pass_s": warm,
                  "rows_per_s": input_rows / warm,
                  "peak_rss_mb": result["peak_rss_mb"]}
    # a missing value, or NaN (a median of nothing; Jackson writes it as
    # the string "NaN"), is no measurement
    missing = [m["name"] for m in declared
               if not isinstance(values.get(m["name"]), (int, float))
               or math.isnan(values[m["name"]])]
    if missing:
        die(f"no value for declared metrics {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
