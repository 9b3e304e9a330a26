#!/usr/bin/env python3
"""The repository benchmark: one command for every workload.

    python3 perfbench/run.py --workload serve|graph-iterate \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in Spark's jars directory, into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are
unchanged. The JVM generates its inputs from the seed under a work
directory inside the build directory, which is removed when the run ends.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A readable summary, including the failure fraction, the
tail percentile and its sample count, goes to standard error.
See perfbench/NOTES.md for what each workload and metric means.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("serve", "graph-iterate")
DEFAULT_SEED = 42
PINS = os.path.join(HERE, "pins.json")
JARS = os.environ.get("SPARK_JARS_DIR") or os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def classpath(extra):
    jars = sorted(glob.glob(os.path.join(JARS, "*.jar")))
    if not jars:
        raise BenchError(f"no jars under {JARS}")
    return os.pathsep.join(extra + jars)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError("program sources not found (src/main/scala): run from a checkout root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(deadline):
    """Compile program + benchmark unless classes for these sources exist.
    Returns (classes dir, whether a build ran)."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.key")
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return out, False
    tmp = out + ".new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
           "-cp", classpath([]), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath([])] + files
    rc = run_child(cmd, ROOT, deadline)
    if rc != 0:
        raise BenchError(f"compilation failed (exit {rc})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(key)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out, True


def run_child(cmd, cwd, deadline):
    """Run a child in its own process group, output to our stderr; kill
    the group if it outlives the deadline. Returns its exit code."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise BenchError("child process timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def check_pins(workload, answers):
    """Compare a default-seed run's answers with the pinned ones.
    Returns a list of mismatch descriptions."""
    if not os.path.exists(PINS):
        return ["no pinned answers (perfbench/pins.json)"]
    with open(PINS) as fh:
        pins = json.load(fh)
    want = pins["answers"].get(workload)
    if want is None:
        return [f"no pinned answers for {workload}"]
    return metrics.compare_answers(want, answers, pins["tolerance"])


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-raw", help="also copy the JVM's raw record to this file")
    ap.add_argument("--write-pins", action="store_true",
                    help="record this default-seed run's answers as the pinned ones")
    args = ap.parse_args(argv)

    start = time.time()
    classes, built = build(start + 840)
    # a run may take 180 s; the first one in a checkout also compiles
    deadline = (start + 880) if built else (start + 170)

    work = os.path.join(build_dir(), f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_file = os.path.join(work, "raw.json")
    try:
        # no hsperfdata file outside the checkout: -XX:-UsePerfData
        cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + ADD_OPENS
               + ["-cp", classpath([classes]), "perfbench.Main", args.workload,
                  str(args.seed), str(args.seconds), str(args.trace),
                  "1" if args.seed == DEFAULT_SEED else "0", work, raw_file])
        rc = run_child(cmd, work, deadline)
        if rc != 0 or not os.path.exists(raw_file):
            raise BenchError(f"benchmark JVM failed (exit {rc})")
        with open(raw_file) as fh:
            raw = json.load(fh)
        if args.keep_raw:
            shutil.copyfile(raw_file, args.keep_raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = raw["attempted"], raw["failed"]
    problems = [f"{c['where']}: {c['detail']}" for c in raw["failures"]]
    if args.seed == DEFAULT_SEED:
        if args.write_pins:
            metrics.write_pins(PINS, args.workload, raw["answers"])
        mism = check_pins(args.workload, raw["answers"])
        attempted += 1
        if mism:
            failed += 1
            problems += [f"pinned answer: {m}" for m in mism]

    e2e, extra = metrics.end_to_end(raw)
    extra["failed_frac"] = metrics.failed_frac(attempted, failed)
    chosen = metrics.per_layer(raw) if args.trace else e2e
    for p in problems:
        log(f"CHECK FAILED {p}")
    log(f"{args.workload} seed={args.seed} sf={raw['scale_factor']} cpus={raw['cpus']} "
        f"inputs_s={raw['inputs_s']:.2f} fixture_s={raw['fixture_s']:.2f} "
        f"attempted={attempted} failed={failed} "
        f"failed_frac={extra['failed_frac']:.4f} "
        f"tail: p{extra['tail_percentile']:g} of {extra['samples']} untraced operations "
        f"= {extra['tail_ms']:.1f} ms, {extra['ops_per_s']:.4g} operations/s")
    log(f"held: {extra['bench_held_mb']:.4g} MB pinned by the benchmark, "
        f"{extra['program_held_mb']:.4g} MB by the program")
    for name, (value, unit) in chosen.items():
        log(f"  {name} = {value:.6g} {unit}")
    if args.trace:
        for call, st in metrics.stability(raw).items():
            log(f"  counters over {st['calls']} calls of {call}: jobs {st['jobs']} "
                f"(not succeeded {st['unsucceeded_jobs']}) tasks {st['tasks']} "
                f"shuffle bytes {st['shuffle_bytes']}")
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    # on SIGTERM, unwind so run_child's cleanup kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
