#!/usr/bin/env python3
"""Cross-checks the benchmark's queries against the DuckDB oracle.

Usage (from the root of a checkout): python3 perfbench/oracle_crosscheck.py

Generates the benchmark's tables, runs graft.Verify on the etl_mix queries
over them, and hands the outputs to
tools/oracle_check.py, which compares each one with its oracle SQL in DuckDB.
golden.json holds the checksums of these same outputs, so a clean pass here
means the golden values are oracle-correct. A query without oracle SQL is
reported as SKIP.
"""
import re
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402

MAIN = build.ROOT / "perfbench" / "src" / "perfbench" / "Main.scala"


def benchmark_queries():
    """The query names listed for etl_mix in Main.scala."""
    text = MAIN.read_text()
    block = text[text.index('"etl_mix" ->'):text.index('"xlsx_arrivals" ->')]
    return re.findall(r'"([a-z0-9_]+)"', block.replace('"etl_mix"', ""))


def main():
    build.build()
    work = build.ROOT / ".bench_run" / "oracle-crosscheck"
    shutil.rmtree(work, ignore_errors=True)
    tables, out = work / "tables", work / "out"
    fixtures.write_tables(tables, run.LINEITEM_ROWS)
    queries = benchmark_queries()
    cmd = run.java_command(work) + ["graft.Verify", str(tables), str(out), ",".join(queries)]
    subprocess.run(cmd, cwd=work, check=True, env=dict(run.os.environ, SPARK_GRAFT_CPUS=str(run.cores())))
    res = subprocess.run([sys.executable, str(build.ROOT / "tools" / "oracle_check.py"), str(tables), str(out)])
    shutil.rmtree(work, ignore_errors=True)
    return res.returncode


if __name__ == "__main__":
    sys.exit(main())
