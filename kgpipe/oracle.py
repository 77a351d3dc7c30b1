"""Single-process pandas oracle for the KG pipeline (SURVEY.md §5.2.3).

Mirrors the reference's sequential row-at-a-time architecture (scoregraph is
a single-machine Python script pipeline, SURVEY.md §0.3 [P/High]) while
executing the SAME declarative rule set (kgpipe/rules.py) as the Spark
pipeline. Differences between this oracle's triple set and the Spark
pipeline's therefore expose distributed-machinery bugs, not rule drift.

Also doubles as the single-node throughput baseline the Spark build must
match-or-beat (BASELINE.md: the reference publishes no numbers).
"""

from __future__ import annotations

import pandas as pd

from .rules import UnionFind  # noqa: F401  (re-exported: the oracle's union-find)
from .rules import (
    extract_triples_batch,
    normalize_series,
    normalize_surface,
    similar_pair_labels,
)


def cluster_surfaces(surfaces: list[str]) -> pd.DataFrame:
    """Exact O(n²) Jaccard clustering — ground truth for LSH+CC (small n)."""
    uniq = sorted(set(surfaces))
    rep = similar_pair_labels(uniq)
    return pd.DataFrame({"node": uniq, "component": [rep.get(s, s) for s in uniq]})


def link_map(entity_dict: pd.DataFrame) -> dict[str, str]:
    """normalized alias -> lowest entity_id carrying it (aliases are unique
    by construction; link.alias_table keeps the same one regardless)."""
    m: dict[str, str] = {}
    for eid, aliases in zip(entity_dict["entity_id"], entity_dict["aliases"]):
        for a in aliases:
            k = normalize_surface(a)
            m[k] = min(m.get(k, eid), eid)
    return m


def run_pipeline(transcripts: pd.DataFrame, entity_dict: pd.DataFrame) -> pd.DataFrame:
    """Full Stage A..E semantics in pandas; returns final triple rows
    (subj, pred, obj, conv_id, turn_idx, rule_id), not yet deduplicated."""
    t = transcripts.copy()
    # Stage A: stable turn ordering — sort by (conv_id, turn_idx); per-turn
    # text equality invariant means `text` passes through untouched.
    t = t.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    t["text_norm"] = normalize_series(t["text"])

    # Stage B: extraction (shared rule set)
    raw = extract_triples_batch(t[["conv_id", "turn_idx", "role", "text_norm"]])

    # Stage C: linking via exact alias-norm match
    lm = link_map(entity_dict)
    raw["subj_link"] = raw["subj_raw"].map(lm)
    raw["obj_link"] = raw["obj_raw"].map(lm)

    # Stage D: canonicalize unlinked surfaces (kind == surface, no link)
    unl = pd.concat(
        [
            raw.loc[(raw["subj_kind"] == "surface") & raw["subj_link"].isna(), "subj_raw"],
            raw.loc[(raw["obj_kind"] == "surface") & raw["obj_link"].isna(), "obj_raw"],
        ]
    ).unique().tolist()
    comp = cluster_surfaces(unl)
    rep = dict(zip(comp["node"], comp["component"]))

    def resolve(value: str, kind: str, link: str | None) -> str:
        if kind == "node":
            return value
        if isinstance(link, str):
            return link
        return rep.get(value, value)

    raw["subj"] = [
        resolve(v, k, l) for v, k, l in zip(raw["subj_raw"], raw["subj_kind"], raw["subj_link"])
    ]
    raw["obj"] = [
        resolve(v, k, l) for v, k, l in zip(raw["obj_raw"], raw["obj_kind"], raw["obj_link"])
    ]
    return raw[["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id"]]


def precision_recall(
    emitted: pd.DataFrame, expected: pd.DataFrame
) -> tuple[float, float]:
    """Set-wise P/R on distinct (subj, pred, obj) — BASELINE.json metric."""
    e = set(map(tuple, emitted[["subj", "pred", "obj"]].drop_duplicates().itertuples(index=False)))
    x = set(map(tuple, expected[["subj", "pred", "obj"]].drop_duplicates().itertuples(index=False)))
    if not e or not x:
        return 0.0, 0.0
    tp = len(e & x)
    return tp / len(e), tp / len(x)
