#!/usr/bin/env python3
"""Benchmark of the engine's daily contact-network run.

Run from the root of an engine checkout:

    python3 perfbench/run.py --workload daily-contacts --seed 1 \
        --seconds 15 --trace 0

It builds the engine and the harness from source (once per source
state, into .bench_build/), generates the workload's input from the
seed, runs the workload in its own JVM, checks the outputs against the
DuckDB oracle, and prints one JSON result as the last line of stdout.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json,
`--trace 1` its per-layer metrics (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
HARNESS = HERE / "harness"

# devices x days x pings per day over `blocks` blocks; why each exists
# is in README.md
WORKLOADS = {
    "daily-contacts": {"kind": "daily", "devices": 1600, "blocks": 5,
                       "days": 1, "pings": 24},
    "daily-blocks": {"kind": "daily", "devices": 320, "blocks": 16,
                     "days": 2, "pings": 20},
    # not in BENCHMARK.json: a known failure, and an input from outside
    # the checkout; both may take longer than a listed workload
    "daily-metro": {"kind": "daily", "devices": 20000, "blocks": 1000,
                    "days": 2, "pings": 20, "budget_s": 600},
    "query-suite": {"kind": "suite", "budget_s": 900},
}

# a run of a BENCHMARK.json workload ends within this many seconds
# after its build
RUN_BUDGET_S = 170
# what `Sessions` and Spark 4 on JDK 17 need outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions), as in build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt"]
    files += sorted((ROOT / "src" / "main").rglob("*"))
    files += sorted(p for p in HARNESS.rglob("*")
                    if "target" not in p.relative_to(HARNESS).parts)
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    stamp, cp_file = BUILD / "build.sha256", BUILD / "classpath.txt"
    want = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    t0 = time.monotonic()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, capture_output=True, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    cp = next(line for line in reversed(r.stdout.splitlines())
              if ".bench_build" in line and ":" in line).strip()
    cp_file.write_text(cp)
    stamp.write_text(want)
    log(f"built engine + harness in {time.monotonic() - t0:.1f} s")
    return cp


def heap():
    """The Tier-1 heap: half the machine's memory, clamped to 2..8 GB."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_harness(cp, args, run_dir, log_file, deadline):
    cmd = (["java", f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness"] + args)
    # Spark's local dir and warehouse stay inside this run's directory,
    # which is deleted at exit
    env = dict(os.environ, GRAFT_LOCAL_DIR=str(run_dir / "spark-local"),
               GRAFT_WAREHOUSE=str(run_dir / "warehouse"))
    (run_dir / "tmp").mkdir()
    with open(log_file, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # also reached when SIGTERM interrupts the wait
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        tail = log_file.read_text()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: harness "
                         f"{'timed out' if rc is None else f'exited {rc}'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", help="table directory (query-suite only)")
    args = ap.parse_args()
    # a terminated benchmark still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = ROOT / "BENCHMARK.json"
    if not ((ROOT / "build.sbt").is_file()
            and (ROOT / "src" / "main" / "scala" / "graft").is_dir()
            and bench.is_file()):
        raise SystemExit("perfbench: run from the root of an engine "
                         "checkout (build.sbt, src/, BENCHMARK.json)")
    spec = WORKLOADS[args.workload]
    if spec["kind"] == "suite" and not args.data:
        raise SystemExit("perfbench: query-suite needs --data <table dir>")
    metric_defs = json.loads(bench.read_text())
    # a listed workload reports exactly BENCHMARK.json's metrics, any
    # other workload everything it measured
    listed = args.workload in {w["name"] for w in metric_defs["workloads"]}
    wanted = metric_defs["per_layer" if args.trace else "end_to_end"]

    cp = build()
    deadline = time.monotonic() + spec.get("budget_s", RUN_BUDGET_S)
    run_dir = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        harness_args = ["--seconds", str(args.seconds),
                        "--trace", str(args.trace),
                        "--cpus", str(os.cpu_count() or 1),
                        "--out", str(run_dir / "out"),
                        "--result", str(run_dir / "result.json"),
                        "--run-id", f"{args.workload}-{args.seed}"]
        if args.trace:
            (BUILD / "traces").mkdir(exist_ok=True)
            harness_args += ["--spans", str(
                BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl")]
        # set-up runs from here (input generation) until the harness has
        # a session, its input and its warm-up runs behind it
        setup_start = time.time()
        if spec["kind"] == "daily":
            data = run_dir / "data"
            data.mkdir()
            t0 = time.monotonic()
            desc = gen.generate(data / "events.parquet", args.seed,
                                spec["devices"], spec["blocks"],
                                spec["days"], spec["pings"])
            log(f"input {desc} in {time.monotonic() - t0:.2f} s")
            harness_args += ["--workload", "daily", "--data", str(data),
                             "--pair-candidates", str(desc["pair_candidates"])]
            check = checks.daily
        else:
            data = Path(args.data).resolve()
            harness_args += ["--workload", "suite", "--data", str(data)]
            check = checks.suite
        (BUILD / "logs").mkdir(exist_ok=True)
        run_harness(cp, harness_args, run_dir,
                    BUILD / "logs" / f"{args.workload}-seed{args.seed}.log",
                    deadline)
        res = json.loads((run_dir / "result.json").read_text())
        errors = []
        if res["failed"] == 0:
            errors = check(data, run_dir / "tmp", res["info"])
        for e in errors:
            log(f"CHECK FAILED {e}")
        if res["failures"]:
            log(f"failures: {res['failures']}")
        got = res["metrics"]
        if "ready_epoch_s" in res["info"]:
            got["setup_s"] = res["info"]["ready_epoch_s"] - setup_start
        units = {m["name"]: m["unit"] for m in wanted}
        metrics = {name: {"value": got[name], "unit": units[name]}
                   for name in units if got.get(name) is not None}
        if not listed:
            metrics = {name: {"value": v, "unit": units.get(name, "")}
                       for name, v in got.items() if v is not None}
        if res["failed"]:
            metrics["failed_frac"] = {
                "value": res["failed"] / res["attempted"], "unit": "ratio"}
        for name, v in got.items():
            log(f"{name} = {v}")
        print(json.dumps({"correct": res["failed"] == 0 and not errors,
                          "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
