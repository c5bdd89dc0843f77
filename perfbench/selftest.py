"""Self-test of the benchmark's output checks: each must accept the
expected rows and reject the same rows with one deliberately corrupted.
Needs no Spark session; runs in a second.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from analytics import digest  # noqa: E402
from kv import KVLifecycle  # noqa: E402


def as_rows(cells) -> list[dict]:
    """Model cells in the shape the engine's reads collect."""
    return [{"key": k, "sc": None, "column": bytearray(c), "value": bytearray(v), "ts": ts} for k, c, v, ts in cells]


def corrupt(rows: list[dict]) -> list[dict]:
    bad = [dict(r) for r in rows]
    v = bytearray(bad[0]["value"])
    v[0] ^= 0x01
    bad[0]["value"] = v
    return bad


def check_kv() -> list[str]:
    errors = []
    with tempfile.TemporaryDirectory() as tmp:
        wl = KVLifecycle(None, tmp, seed=1)
        wl.enter_phase("write")
        wl.next_op("write")  # model-only: the op's call is never made
        key = wl.recent[0]
        cases = {
            "get_slice": (wl.op_get_slice(key), wl.model.live_row(key)),
            "multiget": (wl.op_multiget(wl.recent[:5]), set().union(*map(wl.model.live_row, wl.recent[:5]))),
        }
        wl.enter_phase("read")
        tok = "8" * 32
        rng_keys = [k for _, k in sorted(wl.ring) if _ > tok][:100]
        cases["range"] = (wl.op_range(tok), set().union(*map(wl.model.live_row, rng_keys)))
        for name, ((_call, check), cells) in cases.items():
            rows = as_rows(sorted(cells))
            if not check(rows):
                errors.append(f"kv {name}: the check rejected the model's own rows")
            if check(corrupt(rows)):
                errors.append(f"kv {name}: the check accepted a corrupted row")
            if check(rows[1:]):
                errors.append(f"kv {name}: the check accepted a missing row")
    return errors


def check_analytics() -> list[str]:
    cols = ["user_id", "score"]
    rows = [(1, 0.5), (2, 1.25), (3, float("nan"))]
    errors = []
    if digest(cols, rows) != digest(list(reversed(cols)), [(s, u) for u, s in reversed(rows)]):
        errors.append("analytics: the digest depends on row or column order")
    if digest(cols, rows) == digest(cols, [(1, 0.5), (2, 1.26), (3, float("nan"))]):
        errors.append("analytics: the digest accepted a corrupted row")
    return errors


def main() -> int:
    errors = check_kv() + check_analytics()
    for e in errors:
        print(f"FAIL {e}")
    print("selftest: ok" if not errors else f"selftest: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
