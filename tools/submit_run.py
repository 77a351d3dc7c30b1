"""spark-submit entry script: `python -m kgpipe.cli`'s `main`, run with
the session spark-submit provides instead of one built by the CLI.

  spark-submit --master <cluster> --py-files kgpipe.zip tools/submit_run.py \
      run --input <parquet path> --dict <parquet path> --work <path> [--resume]
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    from kgpipe import cli

    return cli.main(argv, SparkSession.builder.getOrCreate())


if __name__ == "__main__":
    sys.exit(main())
