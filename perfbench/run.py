#!/usr/bin/env python3
"""Serving benchmark of the two-stage engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark harness from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Generated inputs are
cached under .bench_build/data, keyed by seed and size.

Each run writes its full record to .bench_build/results/<workload>-s<seed>-t<trace>.json
and prints every metric by name with its unit, then, as the last stdout
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones from the traced layer profile.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

WORKLOADS = ("pruned_interactive", "scan_reduce")
HEAP = "3g"
# The client-compiler tier only. With tiered compilation, C2 keeps
# compiling the request path for over a minute on a busy 4-core host:
# pruned_interactive's latency fell steadily from 1.85 s to 0.83 s across a
# 60 s measured phase, so a run's median read how far the JIT had got, not
# the program. With C1 alone it is flat after the warm-up. A run cannot
# afford a warm-up long enough for C2 to settle.
JIT_OPTS = ["-XX:TieredStopAtLevel=1"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 172


def source_stamp():
    """Digest of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src"):
        inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        st = p.stat()
        h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(log):
    launch = BUILD / "launch.txt"
    stamp_file = BUILD / "launch.stamp"
    stamp = source_stamp()
    if launch.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    with open(log, "w") as out:
        rc = run_group(cmd + ["writeLaunch"], HERE, out, BUILD_TIMEOUT_S, env)
    if rc != 0 or not launch.is_file():
        sys.exit(f"build failed (exit {rc}); see {log}")
    stamp_file.write_text(stamp)


def benchmark_metrics(section):
    """Names of the metrics BENCHMARK.json declares in `section`."""
    return [m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())[section]]


def run_group(cmd, cwd, out, timeout, env=None):
    """Run `cmd` in its own process group; on timeout, or when this runner
    is terminated, kill the whole group and wait for it, so no process
    outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        sys.exit(f"{cmd[0]} stopped (timeout or signal); see {out.name}")

    previous = signal.signal(signal.SIGTERM, kill)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
    except KeyboardInterrupt:
        kill()
    finally:
        signal.signal(signal.SIGTERM, previous)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        sys.exit(f"no engine sources next to {HERE.name}/: nothing to build or measure")

    for d in ("logs", "runs", "results", "data", "tmp"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    t0 = time.time()
    build(BUILD / "logs" / "build.log")
    build_s = time.time() - t0

    lines = (BUILD / "launch.txt").read_text().splitlines()
    classpath, jvm_opts = lines[0], [line for line in lines[1:] if line]
    deadline = time.time() + RUN_TIMEOUT_S
    log = BUILD / "logs" / f"{tag}.log"
    outputs = {}
    with open(log, "w") as out:
        # inputs first, in their own JVM, so the measuring JVM does the
        # same work whether or not this seed was cached
        for phase in ("prepare", "measure"):
            path = outputs[phase] = BUILD / "runs" / f"{tag}.{phase}.json"
            path.unlink(missing_ok=True)
            # no perf-data file in the system temp directory; JIT_OPTS: see
            # its definition
            cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *JIT_OPTS,
                    f"-Djava.io.tmpdir={BUILD / 'tmp'}"] + jvm_opts +
                   ["-cp", classpath, "perfbench.Main", "--phase", phase,
                    "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", a.trace, "--data", str(BUILD / "data"), "--out", str(path)])
            out.flush()
            rc = run_group(cmd, ROOT, out, max(1.0, deadline - time.time()))
            if rc != 0 or not path.is_file():
                sys.exit(f"benchmark JVM ({phase}) failed (exit {rc}); see {log}")
    raw = json.loads(outputs["measure"].read_text())

    if a.trace == "1":
        metrics, extra = stats.per_layer(raw), {}
    else:
        metrics, extra = stats.end_to_end(raw)
    # the result line carries exactly the metrics BENCHMARK.json declares;
    # anything else measured goes to the artifact's details
    declared = benchmark_metrics("per_layer" if a.trace == "1" else "end_to_end")
    missing = [k for k in declared if metrics.get(k, (None,))[0] is None]
    if missing:
        sys.exit(f"metrics not measured: {', '.join(missing)}")
    extra.update({k: v for k, (v, _) in metrics.items() if k not in declared})
    metrics = {k: metrics[k] for k in declared}

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace == "1",
        "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "details": extra,
        "setup_runs_s": raw["setup_s"],
        "host": dict(raw["host"], heap=HEAP),
        "data": json.loads(outputs["prepare"].read_text()),
        "build_s": build_s,
        "raw": str(outputs["measure"].relative_to(ROOT)),
    }
    result = BUILD / "results" / f"{tag}.json"
    result.write_text(json.dumps(artifact, indent=1))

    for k, (v, u) in metrics.items():
        print(f"metric {k} {v} {u}")
    for k, v in extra.items():
        print(f"detail {k} {v}")
    h = raw["host"]
    print(f"host nproc={h['nproc']} master={h['master']} shuffle_partitions={h['shuffle_partitions']} "
          f"xmx_mb={h['xmx_mb']} calibration_s={h['calibration_before_s']:.3f}/{h['calibration_after_s']:.3f} "
          f"loadavg={h['loadavg_before']:.2f}/{h['loadavg_after']:.2f}")
    print(f"artifact {result.relative_to(ROOT)}")
    print(json.dumps({
        "correct": raw["failed"] == 0 and raw["attempted"] > 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
