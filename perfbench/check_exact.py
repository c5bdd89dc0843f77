"""Run two traced runs of one workload and seed, and compare the per-layer
counters marked exact: they must repeat to the last digit.

    python3 perfbench/check_exact.py --workload kv_lifecycle --seed 1

Prints each exact counter with both values and exits 1 if any differs.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

#: per-layer counters that depend only on the seed and the code: jobs,
#: exchanges, reconcile aggregates, shuffle records, rows, files and bytes
EXACT = re.compile(
    r"^(read\.[a-z_]+\.(jobs|shuffle_records)"
    r"|reconcile\.[a-z_]+\.sort_aggregates"
    r"|read\.range\.(exchanges|rows_scanned_per_row)"
    r"|cellstore\.(commit_jobs|files_written|bytes_written|delta_files|rowcache_hit_ratio)"
    r"|maintenance\.(minor_runs|files_after|bytes_rewritten)"
    r"|queries\.[a-z_]+\.(jobs|shuffle_write_bytes)"
    r"|write_amp|space_amp|failed_ratio)$"
)


def traced_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    args = p.parse_args()
    a = traced_run(args.workload, args.seed, args.seconds)
    b = traced_run(args.workload, args.seed, args.seconds)
    differ = 0
    for name in sorted(n for n in a if EXACT.match(n)):
        va, vb = a[name]["value"], b[name]["value"]
        differ += va != vb
        print(f"{'SAME' if va == vb else 'DIFF'} {name} {va!r} {vb!r}")
    print(f"{differ} exact counters differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
