"""Seeded benchmark of the graft engine.

    python3 perfbench/run.py --workload cf_ingest --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/NOTES.md for inputs, metrics and layers):
  cf_ingest      raw CloudFront log files through the streaming store commit
  cf_dashboard   two closed-loop clients running Timestream-style queries
  corpus_ingest  batches deduped against growing fingerprint/MinHash stores

Builds the engine and the benchmark program from source on first use (build.py),
runs one JVM with local[N] Spark in a fresh work directory under
.bench_build/, and prints the program's JSON lines; the last line is the
result: {"correct", "attempted", "failed", "metrics"}. --trace 1 reports
the per-layer metrics instead and writes the spans to
.bench_build/traces/. The exit code is 0 only when every operation
completed and every answer matched its reference.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cf_ingest", "cf_dashboard", "corpus_ingest")
# one run must end within this many seconds, the build excepted
RUN_LIMIT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="local[N] Spark; default min(4, nproc)")
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes")
    ap.add_argument("--perturb", action="store_true",
                    help="perturb the reference answers (negative test)")
    a = ap.parse_args()

    try:
        classpath, flags = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = build.OUT.parent
    work = out / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = out / "traces" / f"{a.workload}-seed{a.seed}.spans.jsonl"
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = build.jvm(classpath, mem, work / "tmp", *flags) + ["perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work), "--cores", str(a.cores),
            "--spans", str(spans), "--tiny", "1" if a.tiny else "0",
            "--perturb", "1" if a.perturb else "0"]
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {a.workload} did not finish within {RUN_LIMIT_S} s",
              file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(stdout)
        print(f"perfbench: no result from perfbench.Main (exit {proc.returncode})",
              file=sys.stderr)
        return proc.returncode or 4
    for ln in lines:
        print(ln)
    print(f"perfbench: {a.workload} seed {a.seed} took {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
