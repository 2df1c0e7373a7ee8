"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (Q3 - Q1 as a share of the median,
quartiles as statistics.quantiles(values, n=4) gives them) next to the
bound BENCHMARK.json fixes for it.

    python3 perfbench/spread.py --workload cf_ingest --seeds 1-5

The raw result lines are appended to .bench_build/spread.jsonl.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = ROOT / ".bench_build" / "spread.jsonl"
    log.parent.mkdir(exist_ok=True)
    ok = True
    for w in a.workload:
        values = {}
        for s in seeds(a.seeds):
            cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last)
            with log.open("a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "exit": p.returncode,
                                    "result": res}) + "\n")
            if p.returncode != 0 or not res.get("correct"):
                print(f"{w} seed {s}: FAILED (exit {p.returncode})")
                ok = False
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
                flush=True)
        for k, vs in sorted(values.items()):
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            b = bounds.get(k)
            flag = "" if b is None or k == "setup_s" or spread < b / 3 else "  <-- above bound/3"
            print(f"{w:14s} {k:28s} median={med:.5g} spread={spread:.4f} "
                  f"bound={b}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
