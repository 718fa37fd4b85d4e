#!/usr/bin/env python3
"""The repository benchmark: one command, every metric, with output checks.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_mix --seed 1 --seconds 20 --trace 0

Builds the client if needed (perfbench/build.py), runs one workload in one
JVM on local[N] with N = the usable cores, checks its outputs, and prints one
line per metric followed by one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of a
separate traced run. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import fixtures  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
HERE = Path(__file__).resolve().parent
GOLDEN = HERE / "golden.json"
WORKLOADS = ("etl_mix", "xlsx_arrivals")

# Fixed benchmark settings. Changing any of them changes what the
# benchmark measures: re-record the golden values and the baseline.
LINEITEM_ROWS = 60000     # sf0.01-sized star schema (FIXTURES.md ratios)
BACKLOG = 10              # notifications in each xlsx_arrivals backlog drain
OPEN_RATE = 0.5           # open-loop notifications per second (xlsx_arrivals)
OPEN_COUNT = 4            # notifications in the xlsx_arrivals open loop
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_stat():
    """The machine's aggregate CPU jiffies (/proc/stat), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(a, b):
    """Share of CPU time the hypervisor gave to other guests between a and b."""
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--record-golden", action="store_true",
                   help="write the warm pass's output checksums to golden.json")
    return p.parse_args(argv)


def java_command(work):
    """The JVM invocation (up to the main class) used for every client run."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}"]
    for pkg in ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"):
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return cmd + ["-cp", build.classpath()]


def run_client(args, work):
    raw = work / "raw.json"
    log = work / "client.log"
    cmd = java_command(work) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work),
        "--tables", str(work / "tables"), "--out", str(raw), "--cores", str(cores()),
        "--open-rate", str(OPEN_RATE), "--open-count", str(OPEN_COUNT), "--backlog", str(BACKLOG)]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on interruption: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not raw.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        raise SystemExit(f"perfbench: client failed ({code})")
    return json.loads(raw.read_text())


def main(argv):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    args = parse_args(argv)
    build.build()
    work = ROOT / ".bench_run" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.perf_counter()
        fixtures.write_tables(work / "tables", LINEITEM_ROWS)
        gen_s = time.perf_counter() - t0
        stat0 = cpu_stat()
        raw = run_client(args, work)
        raw["gen_s"] = gen_s
        raw["steal_share"] = steal_share(stat0, cpu_stat())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    golden = json.loads(GOLDEN.read_text()) if GOLDEN.is_file() else {}
    if args.record_golden:
        golden.update({c["name"]: {"rows": c["rows"], "hash": c["hash"]} for c in raw.get("checks", [])})
        GOLDEN.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    result = metrics.evaluate(raw, golden, traced=bool(args.trace))
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    if args.trace:
        (out_dir / f"trace-{args.workload}-seed{args.seed}.json").write_text(
            json.dumps(metrics.trace_document(raw), indent=1))
    for line in result["report"]:
        print(line)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
