"""CLI entry point. Local runs build their own session; on a cluster
(BASELINE.json north_rule: "run via spark-submit --py-files on a
multi-executor cluster") spark-submit runs tools/submit_run.py (DEPLOY.md
§1), since it takes a script, not a module, and that script hands `main`
the session spark-submit built:
  spark-submit --py-files kgpipe.zip tools/submit_run.py run \
      --input /path/transcripts.parquet --dict /path/entity_dict.parquet \
      --work /path/workdir [--resume]

Usage (sandbox, local master picked from env/--master):
  python -m kgpipe.cli run --input ... --dict ... --work ...
  python -m kgpipe.cli synth --out /tmp/corpus --convs 400   # test corpus
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession

from . import pipeline, schemas
from .session import get_spark


def cmd_synth(args: argparse.Namespace) -> int:
    from . import synth

    c = synth.generate(n_convs=args.convs)
    import os

    os.makedirs(args.out, exist_ok=True)
    c.transcripts.to_parquet(f"{args.out}/transcripts.parquet", index=False)
    c.entity_dict.to_parquet(f"{args.out}/entity_dict.parquet", index=False)
    c.expected_triples.to_parquet(f"{args.out}/expected_triples.parquet", index=False)
    print(
        json.dumps(
            {
                "turns": len(c.transcripts),
                "entities": len(c.entity_dict),
                "expected_triples": len(c.expected_triples),
                "out": args.out,
            }
        )
    )
    return 0


def cmd_run(args: argparse.Namespace, spark: SparkSession | None) -> int:
    if spark is None:
        spark = get_spark("kgpipe-run", master=args.master)
        spark.sparkContext.setLogLevel("ERROR")
    transcripts = spark.read.schema(schemas.TRANSCRIPTS).parquet(args.input)
    entity_dict = spark.read.schema(schemas.ENTITY_DICT).parquet(args.dict)
    # the input's files, sizes and footer row counts (the path if it is no
    # parquet scan): an input rewritten in place is rebuilt on --resume
    footers = pipeline.input_footers(transcripts) or args.input
    cfg = pipeline.PipelineConfig(work_dir=args.work, input_fingerprint=json.dumps(footers))
    t0 = time.time()
    p = pipeline.Pipeline(cfg)
    n = p.run(spark, transcripts, entity_dict, resume=args.resume)["rows"]
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "triples": n,
                "wall_s": round(wall, 2),
                "triples_per_sec": round(n / wall, 1),
                "stages": p.metrics,
                "work": args.work,
            }
        )
    )
    return 0


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    """Parse argv and run its subcommand; `run` uses `spark` when given
    (the spark-submit session) and builds a local one otherwise."""
    ap = argparse.ArgumentParser(prog="kgpipe")
    sub = ap.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="generate a deterministic test corpus")
    s.add_argument("--out", required=True)
    s.add_argument("--convs", type=int, default=400)

    r = sub.add_parser("run", help="run the full Stage A..E pipeline")
    r.add_argument("--input", required=True, help="transcripts parquet path/table")
    r.add_argument("--dict", required=True, help="entity dictionary parquet path")
    r.add_argument("--work", required=True, help="work dir for checkpoints + sink")
    r.add_argument("--master", default=None)
    r.add_argument("--resume", action="store_true")

    args = ap.parse_args(argv)
    if args.cmd == "run":
        return cmd_run(args, spark)
    return cmd_synth(args)


if __name__ == "__main__":
    sys.exit(main())
