"""Run every registered query against its DuckDB oracle — the local
replica of the driver's correctness gate.

Usage::

    python tools/verify_all.py [sf_dir] [query ...]

Compares values exactly (tests/oracle_utils.compare) AND pandas dtype
kinds, because the driver's value hash is type-sensitive: in round 2,
q64 was value-identical but red purely because DuckDB's COUNT_IF
HUGEINT arrived as float64 while Spark emitted int64.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from osm_changesets_to_parquet_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import compare_frames, fetch_frames  # noqa: E402
import __spark_entry__ as entry  # noqa: E402


def dtype_problems(sp, du, name: str) -> list[str]:
    # full frames, not samples: Arrow infers int64 vs float64 from the
    # nulls actually present, so a sample can report a phantom drift
    probs = []
    for c in sorted(set(sp.columns) & set(du.columns)):
        ks, kd = sp[c].dtype.kind, du[c].dtype.kind
        # object (strings/arrays/decimals) compares by value only;
        # int-vs-float or bool-vs-int drift is what flips driver hashes.
        if ks != kd and "O" not in (ks, kd):
            probs.append(f"{name}: dtype drift col={c} spark={sp[c].dtype} duck={du[c].dtype}")
    return probs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify-all")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = [n for n in qs if not only or n in only]
    failed, skipped = [], []
    for i, name in enumerate(names):
        if name not in oracles:
            skipped.append(name)
            print(f"[{i+1}/{len(names)}] {name}: SKIP (rows-only by design)")
            continue
        t0 = time.time()
        try:
            # one execution per side: the frames feed both the value
            # compare and the dtype check (streaming queries re-run an
            # entire availableNow job per execution)
            sp, du = fetch_frames(qs[name](spark, sf_dir), oracles[name], sf_dir)
            probs = compare_frames(sp, du, name)
            probs += dtype_problems(sp, du, name)
        except Exception as e:  # noqa: BLE001
            probs = [f"{name}: EXCEPTION {type(e).__name__}: {e}"]
        dt = time.time() - t0
        if probs:
            failed.append(name)
            for p in probs:
                print(f"[{i+1}/{len(names)}] FAIL ({dt:.1f}s) {p}")
        else:
            print(f"[{i+1}/{len(names)}] {name}: MATCH ({dt:.1f}s)")
    print(f"\n{len(names) - len(failed) - len(skipped)} MATCH, {len(failed)} FAIL, {len(skipped)} rows-only")
    if failed:
        print("FAILED:", " ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
