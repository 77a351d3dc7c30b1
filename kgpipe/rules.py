"""Declarative extraction rule set — the single source of truth.

The reference encodes XML-field->RDF mapping rules inside per-field Python
script logic (SURVEY.md §0.3, provenance [P/High]; BASELINE.json north_star:
"the analog of scoregraph's XML-field-to-RDF mapping rules"). Here the rules
are DATA, executed by two engines:

  * the Spark pipeline (kgpipe/extract.py) via vectorized pandas/Arrow UDFs,
  * the single-process pandas oracle (kgpipe/oracle.py) that produces the
    golden triple fixture (SURVEY.md §5.2.3).

Both call the batch functions below, so P/R vs the fixture measures the
distributed machinery (ordering, shuffles, joins, CC), not rule drift. The
oracle's name clustering and Stage D's all-pairs path likewise share one
union-find (UnionFind / component_labels at the end of this module).

Everything in this module is pure pandas/regex — no Spark imports — so it is
importable on executors without a session.
"""

from __future__ import annotations

import re
from collections.abc import Iterable
from dataclasses import dataclass

import pandas as pd

# --------------------------------------------------------------------------
# Text normalization. Mirrored exactly by the Spark-builtin expression in
# extract.normalize_text_col (lower ∘ trim ∘ collapse-whitespace) — keep the
# two in lockstep; tests/test_rules.py asserts equality on random text.
# --------------------------------------------------------------------------
_WS = re.compile(r"\s+")


def normalize_surface(s: str) -> str:
    return _WS.sub(" ", s).strip().lower()


def normalize_series(s: pd.Series) -> pd.Series:
    return s.str.replace(_WS, " ", regex=True).str.strip().str.lower()


# --------------------------------------------------------------------------
# Rules. Patterns run against NORMALIZED text. Capture groups are named; the
# `emits` tuples reference group names, or the sentinel "@turn" meaning the
# per-turn node id f"{conv_id}#{turn_idx}" (used_tool provenance triples).
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class Rule:
    rule_id: str
    roles: tuple[str, ...]  # roles this rule applies to
    pattern: str  # regex over normalized text, named groups
    emits: tuple[tuple[str, str, str], ...]  # (subj_group, pred, obj_group)
    # a literal substring of every text the pattern can match — the pushdown
    # key: checked JVM-side (one anchor regex, extract.ANCHOR_RE) before any
    # text reaches Python, and as a C-substring gate before the regex runs.
    # INVARIANT (tested): pattern matches text => anchor in text.
    anchor: str = ""


RULES: tuple[Rule, ...] = (
    Rule(
        "R1",
        ("user", "assistant"),
        r"^(?P<a>[a-z0-9 .'-]+?) works with (?P<b>[a-z0-9 .'-]+?) on (?P<c>[a-z0-9 .'-]+?)\.",
        (("a", "works_with", "b"), ("a", "works_on", "c")),
        anchor=" works with ",
    ),
    Rule(
        "R2",
        ("user", "assistant"),
        r"^(?P<a>[a-z0-9 .'-]+?) is a member of (?P<o>[a-z0-9 .'-]+?)\.",
        (("a", "member_of", "o"),),
        anchor=" is a member of ",
    ),
    Rule(
        "R3",
        ("user", "assistant"),
        r"^(?P<a>[a-z0-9 .'-]+?) created (?P<w>[a-z0-9 .'-]+?)\.",
        (("a", "created", "w"),),
        anchor=" created ",
    ),
    Rule(
        "R4",
        ("user", "assistant"),
        r"mentioned that (?P<b>[a-z0-9 .'-]+?) leads (?P<o>[a-z0-9 .'-]+?)\.",
        (("b", "leads", "o"),),
        anchor="mentioned that ",
    ),
    Rule(
        "R5",
        ("tool",),
        r"^called (?P<t>[a-z_][a-z0-9_]*)\(",
        (("@turn", "used_tool", "t"),),
        anchor="called ",
    ),
)

_COMPILED: dict[str, re.Pattern[str]] = {r.rule_id: re.compile(r.pattern) for r in RULES}


# --------------------------------------------------------------------------
# Batched triple extraction. Input pdf columns: conv_id, turn_idx, role,
# text_norm. Output columns: conv_id, turn_idx, subj_raw, pred, obj_raw,
# rule_id. Vectorized: one pd.Series.str.extract per rule per batch.
# --------------------------------------------------------------------------
def extract_triples_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    outs: list[pd.DataFrame] = []
    for rule in RULES:
        mask = pdf["role"].isin(rule.roles)
        if rule.anchor:
            # C substring gate (regex=False) — orders of magnitude cheaper
            # than running the capture regex over every row
            mask &= pdf["text_norm"].str.contains(rule.anchor, regex=False)
        if not mask.any():
            continue
        sub = pdf.loc[mask, ["conv_id", "turn_idx", "text_norm"]]
        caps = sub["text_norm"].str.extract(_COMPILED[rule.rule_id])
        hit = caps.notna().all(axis=1)
        if not hit.any():
            continue
        caps = caps.loc[hit]
        base = sub.loc[hit, ["conv_id", "turn_idx"]]
        turn_node = base["conv_id"].astype(str) + "#" + base["turn_idx"].astype(str)
        for subj_g, pred, obj_g in rule.emits:
            subj = turn_node if subj_g == "@turn" else caps[subj_g].str.strip()
            obj = turn_node if obj_g == "@turn" else caps[obj_g].str.strip()
            outs.append(
                pd.DataFrame(
                    {
                        "conv_id": base["conv_id"].values,
                        "turn_idx": base["turn_idx"].values,
                        "subj_raw": subj.values,
                        "pred": pred,
                        "obj_raw": obj.values,
                        "rule_id": rule.rule_id,
                        "subj_kind": "node" if subj_g == "@turn" else "surface",
                        "obj_kind": "node" if obj_g == "@turn" else "surface",
                    }
                )
            )
    if not outs:
        return pd.DataFrame(
            columns=[
                "conv_id", "turn_idx", "subj_raw", "pred", "obj_raw",
                "rule_id", "subj_kind", "obj_kind",
            ]
        )
    out = pd.concat(outs, ignore_index=True)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out


# --------------------------------------------------------------------------
# Pure-Arrow twin of extract_triples_batch, for Spark's mapInArrow hot path
# (kgpipe/extract.py). Same source of truth (RULES); the pandas kernel above
# stays as the single-process oracle's engine and the semantic reference.
# Why it exists: mapInPandas converts every Arrow batch to pandas and the
# result back — on this kernel that conversion plus pandas' per-row Python
# `re` engine cost 2.5-4.4x the whole pure-Arrow path (measured on a
# 210k-turn batch set, 3 trials; see BENCH/BASELINE.md §3c). Arrow's
# extract_regex / match_substring run RE2 in C++ over the columnar buffers;
# the RULES patterns are RE2-compatible by construction (the DuckDB SQL twin
# executes them, tests/test_rules.py pins set-equality of both kernels).
# --------------------------------------------------------------------------
def extract_triples_arrow(batch) -> "object | None":
    """pa.RecordBatch[conv_id, turn_idx, role, text_norm] -> pa.Table with
    RAW_TRIPLES_KINDED columns, or None when the batch emits nothing."""
    import pyarrow as pa
    import pyarrow.compute as pc

    conv = batch.column("conv_id")
    tix = batch.column("turn_idx")
    role = batch.column("role")
    text = batch.column("text_norm")
    outs: list[pa.Table] = []
    for rule in RULES:
        mask = pc.is_in(role, value_set=pa.array(list(rule.roles)))
        if rule.anchor:
            mask = pc.and_kleene(mask, pc.match_substring(text, rule.anchor))
        sel = pc.indices_nonzero(mask)
        if len(sel) == 0:
            continue
        caps = pc.extract_regex(pc.take(text, sel), rule.pattern)
        hit = pc.indices_nonzero(pc.is_valid(caps))
        if len(hit) == 0:
            continue
        sel = pc.take(sel, hit)
        caps = pc.take(caps, hit)
        b_conv = pc.take(conv, sel)
        b_tix = pc.take(tix, sel)
        turn_node = None
        if any("@turn" in (e[0], e[2]) for e in rule.emits):
            turn_node = pc.binary_join_element_wise(
                b_conv, pc.cast(b_tix, pa.string()), "#"
            )
        n = len(hit)
        for subj_g, pred, obj_g in rule.emits:
            subj = (
                turn_node
                if subj_g == "@turn"
                else pc.utf8_trim_whitespace(pc.struct_field(caps, subj_g))
            )
            obj = (
                turn_node
                if obj_g == "@turn"
                else pc.utf8_trim_whitespace(pc.struct_field(caps, obj_g))
            )
            outs.append(
                pa.table(
                    {
                        "conv_id": b_conv,
                        "turn_idx": b_tix,
                        "subj_raw": subj,
                        "pred": pa.repeat(pa.scalar(pred), n),
                        "obj_raw": obj,
                        "rule_id": pa.repeat(pa.scalar(rule.rule_id), n),
                        "subj_kind": pa.repeat(
                            pa.scalar("node" if subj_g == "@turn" else "surface"), n
                        ),
                        "obj_kind": pa.repeat(
                            pa.scalar("node" if obj_g == "@turn" else "surface"), n
                        ),
                    }
                )
            )
    if not outs:
        return None
    return pa.concat_tables(outs)


# --------------------------------------------------------------------------
# Batched mention detection (U1). A single alternation regex over all alias
# norms (longest-first so overlaps resolve deterministically), compiled once
# per process and cached — the per-executor "automaton" of SURVEY.md §2(i).
# --------------------------------------------------------------------------
_MENTION_CACHE: dict[int, tuple[re.Pattern[str], dict[str, str]]] = {}


def build_mention_matcher(
    alias_norms: list[str], alias_types: list[str]
) -> tuple[re.Pattern[str], dict[str, str]]:
    key = hash((tuple(alias_norms), tuple(alias_types)))
    cached = _MENTION_CACHE.get(key)
    if cached is not None:
        return cached
    type_of = dict(zip(alias_norms, alias_types))
    ordered = sorted(set(alias_norms), key=lambda a: (-len(a), a))
    pat = re.compile(
        r"(?<![a-z0-9])(" + "|".join(re.escape(a) for a in ordered) + r")(?![a-z0-9])"
    )
    _MENTION_CACHE[key] = (pat, type_of)
    return pat, type_of


def detect_mentions_batch(
    texts_norm: pd.Series, pat: re.Pattern[str], type_of: dict[str, str]
) -> pd.Series:
    """Series[str] -> Series[list[dict(surface,start,end,mtype)]]."""

    def one(t: str) -> list[dict]:
        return [
            {
                "surface": m.group(1),
                "start": m.start(1),
                "end": m.end(1),
                "mtype": type_of[m.group(1)],
            }
            for m in pat.finditer(t)
        ]

    return texts_norm.map(one)


# --------------------------------------------------------------------------
# Canonicalization constants shared by Spark canon.py and the oracle.
# --------------------------------------------------------------------------
SHINGLE_K = 3  # character shingle width
# total hash functions; LSH bands are 2 rows each, so 16 bands:
# P(candidate)≈0.99 at Jaccard 0.5
MINHASH_HASHES = 32
# verify-filter on candidate pairs; 0.5 keeps short-name 1-edit variants
# (e.g. "rob larspur"/"rob larkspur", J=0.583) in the same component while
# distinct names (J≈0.2) stay apart
JACCARD_THRESHOLD = 0.5


def char_shingles(s: str) -> set[str]:
    s = normalize_surface(s)
    if len(s) < SHINGLE_K:
        return {s} if s else set()
    return {s[i : i + SHINGLE_K] for i in range(len(s) - SHINGLE_K + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


# --------------------------------------------------------------------------
# Union-find clustering shared by the oracle and Stage D's all-pairs path.
# Every root is the smallest name of its set, so the labels match the
# parent-pointer fixpoint of canon.connected_components whatever order the
# pairs arrive in.
# --------------------------------------------------------------------------
class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = p = self.parent.setdefault(p, p)
            x, p = p, self.parent[p]
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic: smaller string wins as root
            lo, hi = sorted((ra, rb))
            self.parent[hi] = lo


def component_labels(pairs: Iterable[tuple[str, str]]) -> dict[str, str]:
    """node -> smallest node of its component, for every node of `pairs`."""
    uf = UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    return {n: uf.find(n) for n in list(uf.parent)}


def similar_pair_labels(surfaces: Iterable[str]) -> dict[str, str]:
    """Exact all-pairs char-shingle Jaccard clustering: component labels of
    every surface with at least one partner at >= JACCARD_THRESHOLD. O(n²)
    — the ground truth for LSH + CC, and Stage D's path for small surface
    sets."""
    names = sorted(set(surfaces))
    sh = [char_shingles(s) for s in names]
    return component_labels(
        (a, names[j])
        for i, a in enumerate(names)
        for j in range(i + 1, len(names))
        if jaccard(sh[i], sh[j]) >= JACCARD_THRESHOLD
    )
