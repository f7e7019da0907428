"""The repository's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload registry|dashboard \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record    # rewrite expected/registry.json

Run it from the root of a checkout. The first run builds the program from
source with sbt (perfbench/build.sbt); later runs reuse the build while no
source file changed. Everything a run writes stays under .bench_work/ and is
removed when it ends.

Workloads (Spark on local[<cores>], one client thread, closed loop):
  registry   a fixed sample of 8 registry queries (Workload.RegistrySample,
             all five modules) over perfbench/data/sf0.01, each into the
             noop sink; SessionMemo is cleared before every pass and the
             seed sets the query order. Each result is checked by row count
             and content hash against perfbench/expected/registry.json.
  dashboard  the reference system over a seeded generated corpus (gen.py).
             Each pass runs the batch job -- read through T,
             Annotate.annotated, per-source JSON results, the parity A1,
             A2/A3 and A4 queries (flatten inside),
             ReportSink.writeFlaggedReports -- then one client's block of 10
             Dashboard interactions (4 issue distributions and 3 record
             distributions, one of each for "All" and the rest for seeded
             languages, 2 language lists, 1 refresh plus its first read) in
             seeded order. Every result is checked
             against gen.py's answers. The run ends with one
             append-then-refresh check.

A pass is one sweep of the registry sample, or one batch job plus one block
of interactions. A run makes one warm-up pass, then measures passes until
--seconds have passed and at least three have run. The latency samples are
the registry queries (construct + noop write, less any SessionMemo build the
query triggered, which the pass time keeps) and the dashboard's read
interactions (Refresh is timed on its own). End-to-end metrics (--trace 0):

  setup_s      process start: from launching the JVM to the Spark session
               up and the program's query registry loaded (input
               generation not included)
  pass_s       mean wall time of the measured passes
  op_p50_ms    median query or interaction latency

A failed or wrong operation counts in `failed` and as slower than every
latency percentile. With --trace 1 the measured passes alternate untraced and
traced; the result carries the per-layer metrics of the traced passes
(medians per pass), trace.overhead_s (a traced pass minus the mean of the
untraced passes on either side) and jvm.peak_rss_mb. Spans go to
.bench_work/spans-<workload>-<seed>.json. Before the result line, a line
starting `perfbench ` carries the metrics under their descriptive names
(registry_s, query_p50_s, query_p90_s, lines_per_s, dash_p50_ms,
dash_p95_ms, refresh_s, error_rate, peak_rss_mb, with the latency sample
count) and CPU/IO load probes taken before and after the run, as context
only; perfbench/compare.py reads saved outputs of both lines.

The one known failure: Dashboard.refresh() re-reads through the memoized
table loader and misses a newly appended file, so every dashboard run counts
one failed operation. It is counted, never worked around. `correct` stays
true while the only failures are reads that equal the stale pre-append
answer, which BenchMain tags `stale-refresh`; any other failure, including
any other wrong answer after the append, makes it false.
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
WORK = os.path.join(ROOT, ".bench_work")
BUILD_INFO = os.path.join(HERE, "target", "perfbench-build.json")

CORPUS_DOCS = 10000
APPEND_DOCS = 250
# every run ends within this many seconds of its start, build excluded
RUN_LIMIT_S = 170
# tag BenchMain gives a failure only when the read equals the stale answer
KNOWN_FAILURES = {"dashboard": ["stale-refresh:"]}

# -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>,
# outside the checkout
JVM_FLAGS = [
    "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for f in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark; returns the classpath."""
    stamp = source_stamp()
    if os.path.exists(BUILD_INFO):
        with open(BUILD_INFO) as f:
            info = json.load(f)
        if info.get("stamp") == stamp and os.path.isdir(info.get("classes", "")):
            return info["classpath"]
    log("building with sbt (first run in this checkout)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Compile / fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=850)
    lines = [l for l in out.stdout.splitlines() if os.path.join(HERE, "target") in l and ":" in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    info = {"stamp": stamp, "classpath": classpath, "classes": classpath.split(os.pathsep)[0]}
    with open(BUILD_INFO, "w") as f:
        json.dump(info, f)
    return info["classpath"]


def launch(classpath, work, args, timeout):
    """Starts the JVM; returns (seconds from start to READY, stdout lines)."""
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
                                  "perfbench.BenchMain", "--work", work] + args
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=work)
    timer = threading.Timer(timeout, proc.kill)
    timer.start()
    ready, lines = None, []
    try:
        for line in proc.stdout:
            if ready is None and line.strip() == "READY":
                ready = time.monotonic() - t0
            else:
                lines.append(line.rstrip("\n"))
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if ready is None or proc.returncode != 0:
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    return ready, lines


def nearest_rank(values, p):
    """The p-th percentile by nearest rank; inf stands for a failed operation."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def finite(v):
    # a percentile landing on a failed operation is reported as 1e9
    return v if math.isfinite(v) else 1e9


def main():
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["registry", "dashboard"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected/registry.json from this checkout's results")
    a = ap.parse_args()
    if not a.record and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no program sources at src/main/scala; "
                         "run from the root of a full checkout")
    classpath = build()
    if a.record:
        work = os.path.join(WORK, f"record-{os.getpid()}")
        os.makedirs(os.path.join(work, "tmp"))
        try:
            launch(classpath, work, ["--mode", "record", "--data",
                                     os.path.join(HERE, "data", "sf0.01"), "--expected",
                                     os.path.join(HERE, "expected", "registry.json")], 1800)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return

    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.workload == "registry":
            data = os.path.join(HERE, "data", "sf0.01")
            expected = os.path.join(HERE, "expected", "registry.json")
        else:
            data = os.path.join(work, "input")
            expected = os.path.join(data, "expected.json")
            subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), data, str(a.seed),
                            str(CORPUS_DOCS), str(APPEND_DOCS)], check=True,
                           timeout=deadline - time.monotonic())
        spans = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.json")
        ready, lines = launch(classpath, work, [
            "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--expected", expected, "--spans", spans], deadline - time.monotonic())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = json.loads(next(l for l in lines if l.startswith("RESULT "))[len("RESULT "):])
    ops = [float(v) for v in res["op_ms"]]
    passes = res["passes_s"]
    attempted, failed = res["attempted"], res["failed"]
    known = KNOWN_FAILURES.get(a.workload, [])
    known_failed = sum(1 for f in res["failures"] if any(f.startswith(k) for k in known))
    # the mean, not the median: consecutive passes still speed up as the JIT
    # warms, and the middle pass moved more between runs than the mean did
    pass_s = statistics.mean(passes)

    named = {"setup_s": ready,
             "error_rate": failed / attempted, "peak_rss_mb": res["peak_rss_mb"]}
    if a.trace == 0:
        p50, p90 = nearest_rank(ops, 50), nearest_rank(ops, 90)
        if a.workload == "registry":
            named.update(registry_s=pass_s, query_p50_s=p50 / 1e3, query_p90_s=p90 / 1e3)
        else:
            named.update(lines_per_s=CORPUS_DOCS / statistics.median(res["pipeline_s"]),
                         dash_p50_ms=p50, dash_p95_ms=nearest_rank(ops, 95),
                         refresh_s=statistics.median(res["refresh_ms"]) / 1e3)
        named.update(latency_samples=len(ops), ops_per_pass=res["ops_per_pass"])
        values = {"setup_s": ready, "pass_s": pass_s, "op_p50_ms": finite(p50)}
    else:
        values = res["layers"]
        log(f"spans written to {spans}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["end_to_end" if a.trace == 0 else "per_layer"]}

    context = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "named": {k: (finite(v) if isinstance(v, float) else v) for k, v in named.items()},
               "probes": res["probes"], "passes_s": passes,
               "traced_passes_s": res["traced_passes_s"], "failures": res["failures"]}
    print("perfbench " + json.dumps(context))
    print(json.dumps({
        "correct": failed == known_failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
