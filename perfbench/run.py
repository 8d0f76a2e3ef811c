#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program from
src/main/scala and the benchmark harness from perfbench/scala with the
Scala compiler that ships in $SPARK_HOME/jars, into the build directory
($CARGO_TARGET_DIR, default .bench_build, under perfbench/). Analytics
fixtures are generated once per build directory with graft.tools.DataGen.

Each run generates its inputs from the seed, starts one JVM (local[4],
FTP pool 4, in-process FakeFtpServer), checks the program's outputs and
prints one JSON line last: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Nothing is written outside the build directory,
and the run's work directory is deleted at the end.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

REFERENCE_FILES_PER_S = 21.73  # the reference's published FTP→FTP figure
FIXTURE_SF = "0.01"
JVM_HEAP = "2g"
# Pass modes of a traced run, cycled (graftbench.Mode): plain passes run the
# program untraced, engine passes run it with the Spark and streaming
# listeners attached, spans passes run the re-composed transfer topology
# that times the steps the program has no seam for. Untraced runs make
# plain passes only.
TRACED_MODES = {"stream-small-files": ["plain", "engine", "spans"],
                "analytics-mix": ["plain", "engine"]}
# Rough walls on a 4-core host, (set-up, one timed pass) in seconds; they
# only size the time limit that stops a hung JVM.
EXPECTED_S = {"stream-small-files": (40, 5), "analytics-mix": (45, 15)}
DATAGEN_TIMEOUT_S = 600
DLQ_TYPES = ("not_found", "parse", "config", "io", "timeout", "type")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def info(msg):
    print(f"[perfbench] {msg}", flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: Spark jars with a Scala compiler not found (set SPARK_HOME)")
    return jars


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, out, classpath, sources):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{p}-*.jar"))[0]
                        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + sources
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit(f"perfbench: compile failed for {out}")
    return tmp


def _install(tmp, out, stamp):
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _current(out, stamp):
    try:
        with open(os.path.join(out, ".stamp")) as f:
            return f.read() == stamp
    except OSError:
        return False


def build(bdir, jars):
    """Compile the program and the harness when their sources changed."""
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    res = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not prog or not bench:
        sys.exit("perfbench: program or harness sources missing; run from the repository root")
    classes, bench_classes = os.path.join(bdir, "classes"), os.path.join(bdir, "bench-classes")
    stamp = _stamp(prog + res)
    if not _current(classes, stamp):
        t0 = time.time()
        tmp = _scalac(jars, classes, os.path.join(jars, "*"), prog)
        for r in res:
            dst = os.path.join(tmp, os.path.relpath(r, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        _install(tmp, classes, stamp)
        info(f"built program in {time.time() - t0:.1f} s")
    bstamp = _stamp(bench) + stamp
    if not _current(bench_classes, bstamp):
        tmp = _scalac(jars, bench_classes, classes + ":" + os.path.join(jars, "*"), bench)
        _install(tmp, bench_classes, bstamp)
    return bench_classes + ":" + classes + ":" + os.path.join(jars, "*")


def jvm_timeout(workload, seconds, modes):
    """Three times the expected wall of a run: set-up, then passes until
    `seconds` have elapsed (the last one overruns) or the minimum number of
    passes is made, whichever takes longer."""
    setup, per_pass = EXPECTED_S[workload]
    min_passes = 2 * len(modes) if len(modes) > 1 else 1
    return 3 * (setup + max(seconds + per_pass, min_passes * per_pass))


def java(cp, tmpdir, args, log, timeout):
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main"] + args
    os.makedirs(tmpdir, exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        sys.exit(f"perfbench: JVM {args[0]} failed ({code})")


def fixtures(bdir, cp):
    """DataGen fixtures, generated once per build of the program."""
    out = os.path.join(bdir, "fixtures", "sf" + FIXTURE_SF)
    stamp = os.path.join(bdir, "classes", ".stamp")
    with open(stamp) as f:
        want = f.read() + FIXTURE_SF
    if _current(out, want):
        return out
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    java(cp, os.path.join(bdir, "fixtures", "tmp"), ["datagen", out, FIXTURE_SF],
         os.path.join(bdir, "fixtures", "datagen.log"), DATAGEN_TIMEOUT_S)
    with open(os.path.join(out, ".stamp"), "w") as f:
        f.write(want)
    info(f"generated sf{FIXTURE_SF} fixtures in {time.time() - t0:.1f} s")
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def transfer_metrics(harness, manifest, work):
    """End-to-end figures of the plain passes and the failure count over
    every timed pass. Adds the DLQ counts of the program's own passes to
    their per-layer figures."""
    digests, attempted, failed, rows = {}, 0, 0, []
    for p in harness["passes"]:
        f, resolved, payload, dlq = check.check_transfer_pass(
            p, manifest, os.path.join(work, "in", "src"), digests)
        f += len(p["errors"])
        attempted += len(manifest["jobs"])
        failed += f
        rows.append((p, resolved / p["wall_s"], payload / 1e6 / p["wall_s"]))
        if p["mode"] != "spans":
            p["layer"].update({f"pipeline.dlq.{k}": dlq.get(k, 0) for k in DLQ_TYPES})
    plain = [r for r in rows if r[0]["mode"] == "plain"]
    e2e = {"pass_s": median([r[0]["wall_s"] for r in plain]),
           "ops_per_s": median([r[1] for r in plain]),
           "mb_per_s": median([r[2] for r in plain])}
    return attempted, failed, e2e


def analytics_metrics(harness, manifest, work, fixture_dir):
    queries = manifest["queries"]
    bad = check.check_analytics(os.path.join(work, "out"), fixture_dir, queries)
    for q, why in sorted(bad.items()):
        info(f"FAIL {q}: {why}")
    passes = harness["passes"]
    attempted = len(queries) * (1 + len(passes))
    failed = len(bad) + sum(len(p["errors"]) for p in passes)
    plain = [p["wall_s"] for p in passes if p["mode"] == "plain"]
    fixture_mb = sum(os.path.getsize(f) for f in glob.glob(os.path.join(fixture_dir, "*.parquet"))) / 1e6
    e2e = {"pass_s": median(plain),
           "ops_per_s": median([len(queries) / s for s in plain]),
           "mb_per_s": median([fixture_mb / s for s in plain])}
    return attempted, failed, e2e


def main():
    # a terminated run still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bdir = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                        "perfbench"))
    cp = build(bdir, spark_jars())
    fixture_dir = fixtures(bdir, cp) if a.workload == "analytics-mix" else None

    modes = TRACED_MODES[a.workload] if a.trace else ["plain"]
    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    manifest = gen.generate(a.workload, a.seed, work)
    info(f"generated inputs in {time.time() - t0:.2f} s")
    try:
        java(cp, os.path.join(work, "tmp"),
             ["run", a.workload, work, str(a.seconds), ",".join(modes)]
             + ([fixture_dir] if fixture_dir else []),
             os.path.join(work, "jvm.log"), jvm_timeout(a.workload, a.seconds, modes))
        with open(os.path.join(work, "out", "harness.json")) as f:
            harness = json.load(f)
        if harness["errors"] or not harness["passes"]:
            sys.stderr.write("\n".join(harness["errors"]) + "\n")
            sys.exit("perfbench: harness failed")
        if a.workload == "analytics-mix":
            attempted, failed, e2e = analytics_metrics(harness, manifest, work, fixture_dir)
        else:
            attempted, failed, e2e = transfer_metrics(harness, manifest, work)
        if a.trace:
            traces = os.path.join(bdir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copyfile(os.path.join(work, "out", "spans.jsonl"),
                            os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e.update(setup_s=harness["setup_s"], peak_rss_mb=harness["peak_rss_mb"])
    passes = harness["passes"]
    info(f"set-up {harness['setup_s']:.3f} s; warm-up passes: "
         + " ".join(f"{w:.3f}" for w in harness["warm_s"]))
    mark = {"engine": "E", "spans": "S"}
    info(f"{len(passes)} timed passes (E engine, S spans): " + " ".join(
        f"{p['wall_s']:.3f}{mark.get(p['mode'], '')}" for p in passes))
    info(f"failed_share = {failed}/{attempted} = {failed / attempted:.4f}")
    if a.workload != "analytics-mix":
        info(f"files/s = {e2e['ops_per_s']:.2f} (reference: {REFERENCE_FILES_PER_S} files/s, "
             "information only)")
    if a.trace:
        layer = {}
        for p in passes:
            for k, v in p["layer"].items():
                layer.setdefault(k, []).append(v)
        layer = {k: median(v) for k, v in layer.items()}
        plain = median([p["wall_s"] for p in passes if p["mode"] == "plain"])
        engine = median([p["wall_s"] for p in passes if p["mode"] == "engine"])
        layer["trace.overhead_pct"] = 100 * (engine - plain) / plain
        layer["failed_share"] = failed / attempted
        info(f"tracing overhead: engine {engine:.3f} s - plain {plain:.3f} s per pass")
        spans = {}
        for p in passes:
            for name, n in p["span_counts"].items():
                spans[name] = spans.get(name, 0) + n
        info("spans: " + " ".join(f"{k}={v}" for k, v in sorted(spans.items())))
        wanted = spec["per_layer"]
    else:
        layer = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
