"""Single-node baseline: the pandas oracle (architectural twin of the
reference's sequential single-process pipeline) on the same bench corpus.
The Spark build must match-or-beat this at equal data scale (BASELINE.md).

Usage: python BENCH/oracle_baseline.py [--turns 1000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=1_000_000)
    args = ap.parse_args()

    from kgpipe import oracle, synth

    c = synth.generate(n_convs=synth.scale_for_turns(args.turns))
    t0 = time.time()
    out = oracle.run_pipeline(c.transcripts, c.entity_dict)
    wall = time.time() - t0
    n = len(out.drop_duplicates())
    print(
        json.dumps(
            {
                "engine": "pandas-oracle-single-process",
                "turns": len(c.transcripts),
                "wall_s": round(wall, 2),
                "triples": n,
                "triples_per_sec": round(n / wall, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
