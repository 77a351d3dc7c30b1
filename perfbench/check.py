"""Output check, run after every measured run and outside the clock.

The sink is read with pyarrow, not Spark, so the check shares no code path
with the pipeline under test. A run passes when the sink's rows are exactly
the expected distinct (subj, pred, obj, conv_id, turn_idx, rule_id) set with
no duplicate row, its lineage ids are unique, and the manifest row count
equals the rows in the parquet files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from workloads import KEY


def row_hashes(df: pd.DataFrame) -> np.ndarray:
    """Sorted 64-bit hashes of the KEY columns, one per row."""
    t = df[KEY].astype({"turn_idx": "int32"})
    return np.sort(pd.util.hash_pandas_object(t, index=False).to_numpy())


def read_sink(sink: str) -> pd.DataFrame:
    return ds.dataset(sink, format="parquet", partitioning="hive").to_table(
        columns=KEY + ["lineage_id"]
    ).to_pandas()


def check_sink(sink: str, expected_hashes: np.ndarray) -> list[str]:
    """Problems found in the sink at `sink`; empty when it is correct."""
    problems = []
    got = read_sink(sink)
    h = row_hashes(got)
    if len(np.unique(h)) != len(h):
        problems.append(f"{len(h) - len(np.unique(h))} duplicate triple rows")
    if not np.array_equal(np.unique(h), expected_hashes):
        missing = len(np.setdiff1d(expected_hashes, h))
        extra = len(np.setdiff1d(h, expected_hashes))
        problems.append(f"triple set differs: {missing} missing, {extra} unexpected")
    if got["lineage_id"].nunique() != len(got):
        problems.append("lineage ids are not unique")
    with open(os.path.join(sink, "_MANIFEST.json")) as f:
        manifest_rows = json.load(f)["rows"]
    if manifest_rows != len(got):
        problems.append(f"manifest says {manifest_rows} rows, parquet holds {len(got)}")
    return problems
