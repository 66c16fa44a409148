#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload quickstart --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt, offline sbt); later runs reuse the build while
the sources are unchanged. Every run writes under perfbench/out/: the JVM
log, the harness report, the run stamp and, traced, the span file.

With --trace 0 the printed metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics, taken from a
run with listeners attached. See perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
BUILD = OUT / "build"
CORPUS = HERE / "corpus" / "sf0.01"
# The whole run, build excluded, must end well inside three minutes.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_proc(cmd, timeout, log_path, cwd, env=None):
    """Run `cmd` in its own process group, output to `log_path`; on timeout
    the whole group is killed and waited for."""
    with open(log_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(digest):
    """Compile engine + harness with sbt unless this source digest is built."""
    stamp = BUILD / "digest"
    cp_file = BUILD / "classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
        f"-Djava.io.tmpdir={BUILD}"]))
    log("building engine and harness (sbt compile)")
    t = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, BUILD / "sbt.log", HERE, env)
    lines = (BUILD / "sbt.log").read_text(errors="replace").splitlines()
    cps = [l for l in lines if not l.startswith("[") and "scala-library" in l]
    if rc != 0 or not cps:
        log(f"build failed (exit {rc}); see {BUILD / 'sbt.log'}")
        sys.exit(3)
    cp_file.write_text(cps[-1])
    stamp.write_text(digest)
    log(f"built in {time.time() - t:.0f} s")
    return cps[-1]


def measured(value):
    return isinstance(value, (int, float)) and math.isfinite(value) and value != 0


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return []


def cpu_times():
    """Aggregate CPU jiffies: (steal, total), or None off Linux."""
    try:
        v = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        log(f"unknown workload {a.workload}")
        sys.exit(2)
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no engine sources under {ROOT / 'src'}: run from the root of a checkout")
        sys.exit(2)
    if not CORPUS.is_dir():
        log(f"missing corpus {CORPUS}")
        sys.exit(2)

    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "nproc": os.cpu_count(), "loadavg_start": loadavg(), "commit": commit()}
    digest = source_digest()
    stamp["source_digest"] = digest
    classpath = build(digest)

    run_dir = OUT / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", str(run_dir), "--corpus", str(CORPUS)]
    t = time.time()
    cpu0 = cpu_times()
    rc = run_proc(cmd, RUN_TIMEOUT_S, run_dir / "jvm.log", ROOT)
    stamp["jvm_s"] = round(time.time() - t, 3)
    # CPU time the host took from this machine while the harness ran: a
    # run hit by a neighbour's burst labels itself
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        stamp["steal_share"] = round((cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 4)
    report_file = run_dir / "report.json"
    if rc != 0 or not report_file.exists():
        log(f"harness failed (exit {rc}); see {run_dir / 'jvm.log'}")
        sys.exit(4)
    report = json.loads(report_file.read_text())

    sys.path.insert(0, str(HERE))
    import oracle
    checked, oracle_failures = oracle.check(str(run_dir / "results"), str(CORPUS))
    failures = report["failures"] + oracle_failures
    failed = report["failed"] + len(oracle_failures)
    attempted = report["attempted"]
    stamp["loadavg_end"] = loadavg()
    stamp.update({k: report["info"][k] for k in ("spark_version", "java_version", "cores")})

    kind = "per_layer" if a.trace else "end_to_end"
    wanted = [(m["name"], m["unit"]) for m in bench[kind]]
    got = report["metrics"]
    # a metric that is missing, not finite or 0 has no usable value: a
    # relative change against it is undefined
    missing = [n for n, _ in wanted if not measured(got.get(n, {}).get("value"))]
    for n in missing:
        failures.append(f"metric {n} not measured or 0: {got.get(n, {}).get('value')}")
    metrics = {n: {"value": got[n]["value"], "unit": u} for n, u in wanted if n not in missing}

    # tracing overhead: this traced run's end-to-end figures against the
    # last untraced run of the same workload, seed and sources in this checkout
    e2e = {m["name"]: got[m["name"]]["value"] for m in bench["end_to_end"]
           if measured(got.get(m["name"], {}).get("value"))}
    last_untraced = OUT / f"untraced-{a.workload}.json"
    same_run = {"seed": a.seed, "source_digest": digest}
    if a.trace == 0:
        last_untraced.write_text(json.dumps({**same_run, "metrics": e2e}))
    else:
        base = json.loads(last_untraced.read_text()) if last_untraced.exists() else {}
        if all(base.get(k) == v for k, v in same_run.items()):
            overhead = {k: v / base["metrics"][k] - 1 for k, v in e2e.items()
                        if k in base["metrics"]}
            (run_dir / "trace_overhead.json").write_text(json.dumps(overhead, indent=1))
            log("tracing overhead (traced / untraced - 1): " +
                ", ".join(f"{k} {v:+.1%}" for k, v in overhead.items()))
        else:
            log("no tracing overhead: no untraced run of this workload, seed and sources")

    summary = {"stamp": stamp, "attempted": attempted, "failed": failed,
               "failed_share": failed / attempted if attempted else None,
               "oracle_checked": checked, "failures": failures[:20], "info": report["info"]}
    (run_dir / "summary.json").write_text(json.dumps(summary, indent=1))
    log(f"stamp {json.dumps(stamp)}")
    log(f"failed {failed} of {attempted} attempted; oracle checked {checked} queries")
    for f in failures[:10]:
        log(f"FAIL {f}")
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed + len(missing), "metrics": metrics}))


if __name__ == "__main__":
    main()
