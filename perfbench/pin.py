#!/usr/bin/env python3
"""Pin the expected outputs of every workload for a range of seeds.

    python3 perfbench/pin.py --seeds 0-63 [--scale 1.0]

Run from the repository root.  Writes perfbench/expected.json (merged with
what is already there): per seed, the row count and order-insensitive
content hash of the bulk triples, of every ingest batch's triples together
with its SPARQL row count, and of the closure and coreness outputs.  The
closure pins are computed by DuckDB from the same inputs, so they are an
independent oracle; the bulk and ingest pins record the current program's
outputs, so a later change that alters them shows up as a failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="a seed or an inclusive range, e.g. 0-63")
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()

    import run
    import workloads as W

    work = run.prepare_work_dir("pin", 0)
    spark = run.start_session(work)
    expected = W.load_expected()
    try:
        for seed in seed_range(args.seeds):
            for cls in W.WORKLOADS.values():
                wl = cls(seed, args.scale, work)
                wl.setup(spark)
                expected.setdefault(wl.size_key, {})[str(seed)] = wl.pin(spark)
            run.log(f"pinned seed {seed}")
            tmp = W.EXPECTED_PATH + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(expected, f, indent=0, sort_keys=True)
                f.write("\n")
            os.replace(tmp, W.EXPECTED_PATH)
    finally:
        spark.stop()
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
