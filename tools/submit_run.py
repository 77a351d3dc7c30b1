"""spark-submit entry script (the cluster twin of `python -m kgpipe.cli`):

  spark-submit --master <cluster> --py-files kgpipe.zip tools/submit_run.py \
      run --input <parquet path> --dict <parquet path> --work <path> [--resume]

Uses the session spark-submit provides instead of building its own.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> int:
    from kgpipe import pipeline, schemas

    spark = SparkSession.builder.getOrCreate()
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["run"])
    ap.add_argument("--input", required=True)
    ap.add_argument("--dict", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--fingerprint", default=None)
    ns = ap.parse_args()

    transcripts = spark.read.schema(schemas.TRANSCRIPTS).parquet(ns.input)
    entity_dict = spark.read.schema(schemas.ENTITY_DICT).parquet(ns.dict)
    cfg = pipeline.PipelineConfig(
        work_dir=ns.work, input_fingerprint=ns.fingerprint or ns.input
    )
    sink = pipeline.Pipeline(cfg).run(spark, transcripts, entity_dict, resume=ns.resume)
    print("TRIPLES", sink["rows"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
