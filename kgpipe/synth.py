"""Deterministic synthetic transcript + entity-dictionary generator.

Spec: FIXTURES.md §2 (seed=20260816, no external data). Every template
instance logs its expected canonical triples at generation time — that log
is the golden fixture the pipeline's P/R ≥ 0.95 gate (BASELINE.json metric)
is computed against, standing in for the reference's emitted triples
(reference tree empty, SURVEY.md §0.1).

Fully vectorized (numpy/pandas) so the ≥1e6-turn bench corpus generates in
seconds. All randomness flows from one seeded numpy Generator.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .rules import normalize_surface

SEED = 20260816
# entities per generated type (tools are a fixed list)
N_PERSONS, N_ORGS, N_CONCEPTS = 300, 80, 80
# Zipf exponent of entity popularity: surface picks and the prior they imply
ZIPF_ALPHA = 1.1
BASE_TS = np.datetime64("2026-01-01T00:00:00")

_FIRST = (
    "ada alan grace edsger barbara donald leslie john tony edgar niklaus ken "
    "dennis bjarne guido james brendan anders rob robert margaret katherine "
    "frances jean radia lynn adele erna evelyn ida mavis thelma vera wanda "
    "zelda orin pavel quentin rustam selim"
).split()
_LAST = (
    "lovelace turing hopper dijkstra liskov knuth lamport mccarthy hoare codd "
    "wirth thompson ritchie stroustrup rossum gosling eich hejlsberg pike "
    "kahn hamilton johnson allen bartik sammet perlman conway goldberg "
    "boehm blanch granville keller antonelli teitelbaum spence vaughan "
    "holberton jennings meltzer wescoff"
).split()
_ORG_ADJ = "quantum solar lunar amber cobalt crimson emerald golden ivory jade".split()
_ORG_NOUN = "syndicate collective institute laboratory consortium guild forum council bureau alliance".split()
_CONCEPT_ADJ = "distributed columnar vectorized adaptive streaming federated sparse neural symbolic probabilistic".split()
_CONCEPT_NOUN = "indexing sharding caching planning inference compression routing sampling hashing ranking".split()
_TOOLS = (
    "search_web run_query fetch_page parse_xml score_match resolve_uri "
    "lookup_authority merge_records emit_rdf validate_schema"
).split()
_DISTRACT = (
    "the weather stayed calm all afternoon",
    "lunch arrived later than anyone hoped",
    "the hallway lights flickered twice then settled",
    "everyone agreed the coffee tasted burnt",
    "rain tapped gently against the office windows",
    "the elevator music looped the same tune",
    "a stray cat wandered past the lobby doors",
    "the printer jammed again before the standup",
)
# last names reserved for dictionary-EXTERNAL duplicate groups (never used in
# the dictionary itself, so CC merge work is isolated from linking)
_DUP_LAST = (
    "quillfeather thornebury ashgrove winterhalter mossbrook fernsby "
    "larkspur greenholt bramblewood silverstone duskwhistle embervale"
).split()


@dataclass
class Corpus:
    transcripts: pd.DataFrame  # conv_id, turn_idx, role, text, tool, ts
    entity_dict: pd.DataFrame  # entity_id, canonical, aliases, etype, prior
    expected_triples: pd.DataFrame  # subj, pred, obj, conv_id, turn_idx, rule_id
    expected_components: pd.DataFrame  # node, component


def _typo(s: str, rng: np.random.Generator) -> str:
    """Deterministic 1-edit variant: drop one interior char of the last word."""
    i = int(rng.integers(1, max(2, len(s) - 1)))
    out = s[:i] + s[i + 1 :]
    return out if out != s else s + "x"


def build_entity_dict(rng: np.random.Generator) -> pd.DataFrame:
    rows = []
    seen_alias: set[str] = set()

    def add(canonical: str, etype: str, extra_aliases: list[str]) -> None:
        norm = normalize_surface(canonical)
        aliases = [canonical]
        for a in extra_aliases:
            if normalize_surface(a) != norm:
                aliases.append(a)
        # enforce alias-norm uniqueness across the whole dictionary
        kept = []
        for a in aliases:
            na = normalize_surface(a)
            if na not in seen_alias:
                seen_alias.add(na)
                kept.append(a)
        if not kept:
            return
        rows.append((f"E{len(rows):06d}", canonical, kept, etype, 0.0))

    k = 0
    for ln in _LAST:
        for fn in _FIRST:
            if k >= N_PERSONS:
                break
            canonical = f"{fn} {ln}"
            add(canonical, "person", [f"{fn[0]}. {ln}", _typo(canonical, rng)])
            k += 1
        if k >= N_PERSONS:
            break
    k = 0
    for noun in _ORG_NOUN:
        for adj in _ORG_ADJ:
            if k >= N_ORGS:
                break
            canonical = f"{adj} {noun}"
            add(canonical, "org", [f"the {adj} {noun}", _typo(canonical, rng)])
            k += 1
    for t in _TOOLS:
        add(t, "tool", [])
    k = 0
    for noun in _CONCEPT_NOUN:
        for adj in _CONCEPT_ADJ:
            if k >= N_CONCEPTS:
                break
            canonical = f"{adj} {noun}"
            add(canonical, "concept", [_typo(canonical, rng)])
            k += 1

    df = pd.DataFrame(rows, columns=["entity_id", "canonical", "aliases", "etype", "prior"])
    # Zipf popularity prior within each etype (hot-entity skew, BASELINE.json:6)
    ranks = df.groupby("etype").cumcount().to_numpy() + 1
    df["prior"] = 1.0 / ranks ** ZIPF_ALPHA
    return df


def _zipf_pick(rng: np.random.Generator, n_items: int, size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n_items + 1) ** ZIPF_ALPHA
    return rng.choice(n_items, size=size, p=w / w.sum())


def generate(n_convs: int = 400, seed: int = SEED) -> Corpus:
    rng = np.random.default_rng(seed)
    ed = build_entity_dict(np.random.default_rng(seed + 1))

    # ---- alias matrix per etype for vectorized surface picks -------------
    by_type = {t: ed[ed["etype"] == t].reset_index(drop=True) for t in ("person", "org", "tool", "concept")}

    def alias_mat(sub: pd.DataFrame) -> np.ndarray:
        # pad alias lists to 3 by repeating the canonical
        return np.array([(al + [al[0], al[0]])[:3] for al in sub["aliases"]], dtype=object)

    amat = {t: alias_mat(s) for t, s in by_type.items()}
    eid = {t: s["entity_id"].to_numpy() for t, s in by_type.items()}

    # ---- external duplicate groups (CC merge work) ------------------------
    dup_groups: list[list[str]] = []
    g_rng = np.random.default_rng(seed + 2)
    for i, ln in enumerate(_DUP_LAST):
        fn = _FIRST[int(g_rng.integers(0, len(_FIRST)))]
        base = f"{fn} {ln}"
        v2 = _typo(base, g_rng)
        v3 = base + "s"
        dup_groups.append([base, v2, v3])
    n_groups = len(dup_groups)

    # ---- conversation skeleton (Zipf-length convs -> long-conv skew) ------
    lens = np.clip(rng.zipf(1.2, size=n_convs) + 1, 2, 200)
    total = int(lens.sum())
    conv_no = np.repeat(np.arange(n_convs), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    turn_idx = (np.arange(total) - starts).astype("int32")
    # one str per conversation, shared by its turns (memory at 16M turns)
    conv_id = np.array([f"c{i:08d}" for i in range(n_convs)], dtype=object)[conv_no]
    ts = BASE_TS + conv_no.astype("timedelta64[s]") * 3600 + turn_idx.astype("timedelta64[s]") * 7

    is_tool = turn_idx % 6 == 5
    role = np.where(is_tool, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))

    # template choice for non-tool turns
    templates = np.array(["R1", "R2", "R3", "R4", "MISS", "DIST", "CHAT"])
    probs = np.array([0.16, 0.10, 0.10, 0.10, 0.05, 0.20, 0.29])
    tmpl = np.where(is_tool, "TOOL", rng.choice(templates, size=total, p=probs))

    # ---- vectorized slot sampling -----------------------------------------
    def pick_surface(etype: str, size: int) -> tuple[np.ndarray, np.ndarray]:
        idx = _zipf_pick(rng, len(eid[etype]), size)
        which = rng.integers(0, 3, size=size)
        # object dtype, NOT fixed-width '<U*' — assigning longer external
        # variants into a fixed-width array would silently truncate them
        return amat[etype][idx, which].astype(object), eid[etype][idx]

    text = np.empty(total, dtype=object)
    tool_col = np.full(total, "", dtype=object)
    exp: list[pd.DataFrame] = []
    used_variants: dict[int, set[str]] = {i: set() for i in range(n_groups)}

    def emit(mask: np.ndarray, subj: np.ndarray, pred: str, obj: np.ndarray, rule_id: str) -> None:
        exp.append(
            pd.DataFrame(
                {
                    "subj": subj,
                    "pred": pred,
                    "obj": obj,
                    "conv_id": conv_id[mask],
                    "turn_idx": turn_idx[mask],
                    "rule_id": rule_id,
                }
            )
        )

    # R1: "{A} works with {B} on {C}."  (10% of subjects are external dups)
    for t in ("R1", "R3"):
        m = tmpl == t
        n = int(m.sum())
        if n == 0:
            continue
        a_surf, a_id = pick_surface("person", n)
        ext = rng.random(n) < 0.10
        g_idx = rng.integers(0, n_groups, size=n)
        v_idx = rng.integers(0, 3, size=n)
        for j in np.nonzero(ext)[0]:
            v = dup_groups[g_idx[j]][v_idx[j]]
            a_surf[j] = v
            used_variants[int(g_idx[j])].add(normalize_surface(v))
        # subj resolution: entity_id if dict, else group marker resolved below
        subj = np.where(ext, [f"G{g}" for g in g_idx], a_id)
        if t == "R1":
            b_surf, b_id = pick_surface("person", n)
            c_surf, c_id = pick_surface("concept", n)
            text[m] = pd.Series(a_surf) + " works with " + pd.Series(b_surf) + " on " + pd.Series(c_surf) + "."
            emit(m, subj, "works_with", b_id, "R1")
            emit(m, subj, "works_on", c_id, "R1")
        else:
            w_surf, w_id = pick_surface("concept", n)
            text[m] = pd.Series(a_surf) + " created " + pd.Series(w_surf) + "."
            emit(m, subj, "created", w_id, "R3")

    m = tmpl == "R2"
    n = int(m.sum())
    if n:
        a_surf, a_id = pick_surface("person", n)
        o_surf, o_id = pick_surface("org", n)
        text[m] = pd.Series(a_surf) + " is a member of " + pd.Series(o_surf) + "."
        emit(m, a_id, "member_of", o_id, "R2")

    m = tmpl == "R4"
    n = int(m.sum())
    if n:
        a_surf, _ = pick_surface("person", n)
        b_surf, b_id = pick_surface("person", n)
        o_surf, o_id = pick_surface("org", n)
        text[m] = pd.Series(a_surf) + " mentioned that " + pd.Series(b_surf) + " leads " + pd.Series(o_surf) + "."
        emit(m, b_id, "leads", o_id, "R4")

    m = tmpl == "MISS"  # near-miss: aliases present, no predicate pattern
    n = int(m.sum())
    if n:
        a_surf, _ = pick_surface("person", n)
        b_surf, _ = pick_surface("person", n)
        text[m] = pd.Series(a_surf) + " might collaborate with " + pd.Series(b_surf) + " someday"

    m = tmpl == "DIST"
    n = int(m.sum())
    if n:
        text[m] = np.array(_DISTRACT, dtype=object)[rng.integers(0, len(_DISTRACT), n)]

    m = tmpl == "CHAT"
    n = int(m.sum())
    if n:
        a_surf, _ = pick_surface("person", n)
        text[m] = "tell me more about " + pd.Series(a_surf)

    m = tmpl == "TOOL"
    n = int(m.sum())
    if n:
        t_surf, t_id = pick_surface("tool", n)
        arg = rng.integers(0, 10_000, n).astype(str)
        text[m] = "called " + pd.Series(t_surf) + "(q" + pd.Series(arg) + ") -> ok"
        tool_col[m] = t_surf
        turn_node = pd.Series(conv_id[m]).astype(str) + "#" + pd.Series(turn_idx[m]).astype(str)
        emit(m, turn_node.to_numpy(), "used_tool", t_id, "R5")

    transcripts = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": role,
            # no astype(str): a fixed-width copy, 4 B x longest text per row
            "text": text,
            "tool": tool_col,
            "ts": pd.Series(ts),
        }
    )
    # rows written SHUFFLED: order-permutation invariance (SURVEY §5.2.4b)
    transcripts = transcripts.sample(frac=1.0, random_state=seed % 2**31).reset_index(drop=True)

    # ---- resolve external-group markers to component representatives ------
    reps = {}
    comp_rows = []
    for g, used in used_variants.items():
        if not used:
            continue
        rep = min(used)
        reps[f"G{g}"] = rep
        for v in sorted(used):
            comp_rows.append((v, rep))
    expected = pd.concat(exp, ignore_index=True) if exp else pd.DataFrame(
        columns=["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id"]
    )
    expected["subj"] = expected["subj"].map(lambda s: reps.get(s, s))
    expected["turn_idx"] = expected["turn_idx"].astype("int32")
    components = pd.DataFrame(comp_rows, columns=["node", "component"])

    return Corpus(transcripts, ed, expected, components)


def scale_for_turns(target_turns: int) -> int:
    """n_convs that yields roughly target_turns (measured mean ≈ 70/conv
    under zipf(1.2) clipped to [2,200])."""
    return max(8, int(target_turns / 70))


def stage_corpus(n_convs: int) -> str:
    """Materialize the deterministic corpus as parquet at a content-keyed
    path shared by every consumer in this environment: the registry
    entries and their SQL oracles, bench.py and BENCH/run_scaling.py.

    Written with pyarrow (no Spark session needed) so it can run at import
    time: the SQL-oracle strings in kgqueries.py embed this path and DuckDB
    reads the SAME files the Spark entries scan — making the KG operators
    value-checkable by the driver harness, not just rows-counted. Atomic
    via write-to-tmp + rename; the fixed seed makes the content identical
    across processes, so a lost rename race is harmless.
    """
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(tempfile.gettempdir(), f"kgpipe_corpus_{SEED}_{n_convs}")
    t_path = os.path.join(out, "transcripts.parquet")
    e_path = os.path.join(out, "entity_dict.parquet")
    if os.path.exists(t_path) and os.path.exists(e_path):
        return out
    c = generate(n_convs=n_convs)
    t_schema = pa.schema(
        [
            pa.field("conv_id", pa.string(), False),
            pa.field("turn_idx", pa.int32(), False),
            pa.field("role", pa.string(), False),
            pa.field("text", pa.string(), False),
            pa.field("tool", pa.string(), True),
            # micros: what Spark TIMESTAMP_NTZ and DuckDB TIMESTAMP both
            # read natively (pandas default ns would round-trip as int64)
            pa.field("ts", pa.timestamp("us"), False),
        ]
    )
    e_schema = pa.schema(
        [
            pa.field("entity_id", pa.string(), False),
            pa.field("canonical", pa.string(), False),
            pa.field("aliases", pa.list_(pa.string()), False),
            pa.field("etype", pa.string(), False),
            pa.field("prior", pa.float64(), False),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="kgpipe_corpus_tmp_")
    pq.write_table(
        pa.Table.from_pandas(c.transcripts, preserve_index=False).cast(t_schema),
        os.path.join(tmp, "transcripts.parquet"),
        # bounded row groups: the row group is Spark's atomic input split —
        # ~1M-row groups would cap scan parallelism at ~11 tasks for a
        # 10M-row corpus. Registry corpora (<= 150 conversations) stay one.
        row_group_size=131_072,
    )
    pq.write_table(
        pa.Table.from_pandas(c.entity_dict, preserve_index=False).cast(e_schema),
        os.path.join(tmp, "entity_dict.parquet"),
    )
    try:
        os.rename(tmp, out)
    except OSError:
        pass  # lost the race; identical content already present
    return out
