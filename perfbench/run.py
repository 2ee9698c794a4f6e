#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload <ingest_bulk|ingest_live|curate> \
      --seed <n> --seconds <s> --trace <0|1>

Builds the program from src/main/scala and the harness from perfbench/src
(cached under .bench_build/ by source hash), stages seeded inputs, runs the
workload in one JVM (perfbench.Main), checks the outputs and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones from BENCHMARK.json, with --trace 1 the
per-layer ones; a traced run also writes its span file under
.bench_build/trace/ and reports its overhead against earlier untraced runs.
Everything a run stages or writes is removed when it ends.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175.0
CHECK_RESERVE_S = 20.0
# curate corpus size: documents, embeddings, events
CORPUS_ROWS = (2000, 1000, 40000)

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark installation whose
    bin/spark-submit is on the PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    fail(f"no Spark jars (set SPARK_HOME; looked in {homes})")


def sources(*dirs, ext=(".scala", ".avsc")):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def heap():
    """Half of MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def scalac(jars, out, classpath, files, deadline):
    os.makedirs(out, exist_ok=True)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", ":".join(classpath)] + files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True,
                       timeout=max(10, deadline - time.monotonic()))
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"compile failed: {out}")


def build(jars, deadline):
    """Compile the program and the harness unless the cached build matches
    the current sources."""
    prog = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "src"), os.path.join(HERE, "resources"))
    if not prog:
        fail("program sources (src/main/scala) not found")
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, "classes")
    harness = os.path.join(BUILD, "harness")
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    return classes, harness
        t0 = time.monotonic()
        # untraced results of an older build are no baseline for this one
        for d in (classes, harness, os.path.dirname(history_path(""))):
            shutil.rmtree(d, ignore_errors=True)
        scalac(jars, classes, jars, prog, deadline)
        scalac(jars, harness, [classes] + jars,
               sources(os.path.join(HERE, "src"), ext=(".scala",)), deadline)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built program and harness in {time.monotonic() - t0:.1f} s")
    return classes, harness


def check_oracles(corpus_dir, out_dir, deadline):
    """Compare the curate results under out_dir with their DuckDB oracles
    (out_dir/oracle_sql.json) using the repository's own checker,
    tools/check_oracle.py; its report goes to standard error."""
    checker = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.isfile(checker):
        log(f"oracle checker {os.path.relpath(checker, ROOT)} not found")
        return False
    t0 = time.monotonic()
    try:
        r = subprocess.run([sys.executable, checker, corpus_dir, out_dir], cwd=out_dir,
                           capture_output=True, text=True,
                           timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        log("oracle check timed out")
        return False
    sys.stderr.write(r.stdout + r.stderr)
    log(f"oracle check took {time.monotonic() - t0:.1f} s")
    return r.returncode == 0


def history_path(workload):
    return os.path.join(BUILD, "history", f"{workload}.jsonl")


def trace_overhead(workload, seconds, traced):
    """Traced end-to-end values against the median of earlier untraced runs."""
    try:
        with open(history_path(workload)) as f:
            past = [json.loads(l) for l in f if l.strip()]
    except OSError:
        return {}
    past = [p["end_to_end"] for p in past if p.get("seconds") == seconds]
    out = {}
    for k, v in traced.items():
        vals = sorted(p[k] for p in past if p.get(k) is not None)
        if vals and v is not None:
            med = vals[len(vals) // 2] if len(vals) % 2 else (vals[len(vals) // 2 - 1] + vals[len(vals) // 2]) / 2
            if med:
                out[k] = {"traced": v, "untraced_median": med, "untraced_runs": len(vals),
                          "overhead": v / med - 1}
    return out


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run's files are removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest_bulk", "ingest_live", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()
    t_start = time.monotonic()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    jars = spark_jars()
    build_deadline = t_start + 880
    classes, harness = build(jars, build_deadline)
    # a run that had to build gets its full time limit after the build
    deadline = max(t_start, time.monotonic() - 5.0) + DEADLINE_S

    # a killed run cannot clean up after itself; the next one does
    for stale in glob.glob(os.path.join(BUILD, "work", "*-*")):
        try:
            os.kill(int(stale.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
        except (ValueError, PermissionError):
            pass
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        corpus_dir = None
        if a.workload == "curate" or a.trace:
            corpus_dir = os.path.join(work, "corpus")
            corpus.write(corpus_dir, a.seed, *CORPUS_ROWS)
        # the JVM leaves CHECK_RESERVE_S for the oracle check (about 11 s) and clean-up
        jvm_deadline_ms = int((time.time() + deadline - time.monotonic() - CHECK_RESERVE_S) * 1000)
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dperfbench.deadline={jvm_deadline_ms}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
               ["-cp", ":".join([classes, harness, os.path.join(HERE, "resources")] + jars),
                "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                work, str(a.cores)] + ([corpus_dir] if corpus_dir else []))
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, 9)
                proc.wait()
                fail("workload timed out", 3)
        res_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(res_path):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"workload JVM exited with {proc.returncode} and no result", 3)
        with open(res_path) as f:
            res = json.load(f)
        errors = list(res["errors"])

        out_dir = os.path.join(work, "curate_out")
        if os.path.exists(os.path.join(out_dir, "oracle_sql.json")) and \
                not check_oracles(corpus_dir, out_dir, deadline):
            errors.append("curate results differ from their DuckDB oracles")

        for e in errors:
            log(f"CHECK FAILED: {e}")
        for w in res["warnings"]:
            log(f"RUN INVALID: {w}")
        log("notes: " + json.dumps(res["notes"]))
        e2e = res["end_to_end"]
        if a.trace:
            over = trace_overhead(a.workload, a.seconds, e2e)
            for k, v in over.items():
                log(f"trace overhead {k}: {v['overhead']:+.1%} "
                    f"(traced {v['traced']:.6g} vs untraced median {v['untraced_median']:.6g}, "
                    f"{v['untraced_runs']} runs)")
            spans = os.path.join(work, "spans.json")
            if os.path.exists(spans):
                dest = os.path.join(BUILD, "trace")
                os.makedirs(dest, exist_ok=True)
                with open(spans) as f:
                    doc = json.load(f)
                doc["trace_overhead"] = over
                target = os.path.join(dest, f"{a.workload}-seed{a.seed}.spans.json")
                with open(target, "w") as f:
                    json.dump(doc, f)
                log(f"span file: {os.path.relpath(target, ROOT)}")
        elif not errors:
            os.makedirs(os.path.dirname(history_path(a.workload)), exist_ok=True)
            with open(history_path(a.workload), "a") as f:
                f.write(json.dumps({"seed": a.seed, "seconds": a.seconds, "end_to_end": e2e}) + "\n")

        values = res["per_layer"] if a.trace else e2e
        missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
        if missing or res["attempted"] < 1:
            fail(f"no operation attempted or metrics not measured: {missing}", 4)
        print(json.dumps({
            "correct": not errors,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
        }), flush=True)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, 9)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
