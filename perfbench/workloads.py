"""Seeded inputs and expected outputs for the benchmark workloads.

Every workload is generated from the `--seed` argument alone and handed to
the pipeline as parquet files; the expected triple set is derived from the
generator's own log (`synth.generate` records the triples each template
instance should yield), never from the pipeline under test.

  canon_chains  fused mode (in-memory stage boundaries): a small synth
                corpus plus `<name> created <concept>.` turns whose
                subjects are out-of-dictionary name chains: each
                family is CHAIN_NAMES sliding windows of WINDOW letters,
                stepping STEP letters, so names up to 19 steps apart
                pass the Jaccard threshold. The families add more than
                canon.DRIVER_CC_MAX_EDGES symmetrized edges, so Stage D runs
                LSH blocking and the iterative-join connected components.
                The lexicographically smallest name sits at one end of each
                chain, so min-label propagation needs one round per hop.
  append_ckpt   checkpointed mode. One synth corpus is split by conversation
                into a base (published once, at set-up) and a delta. The
                delta input adds re-sent base turns (dropped again by the
                publish anti-join) and duplicated rows (repaired by Stage A).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kgpipe import oracle, rules, synth

KEY = ["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id"]

# Sizes of one measured input ("full"), of the self-test inputs ("tiny": 6
# families still take the LSH path, with driver-side CC) and of the
# canon_chains warm-up ("warm": no families, so Stage D takes its driver
# shortcuts; the measured run pays the LSH and iterative-CC first-use costs).
SCALES = {
    "full": {"canon_base_turns": 4_000, "chain_families": 34,
             "append_base_turns": 24_000, "append_delta_turns": 12_000},
    "tiny": {"canon_base_turns": 2_000, "chain_families": 6,
             "append_base_turns": 4_000, "append_delta_turns": 2_000},
    # small synth corpora vary most in size, so the warm-up's is generated
    # with a wider margin
    "warm": {"canon_base_turns": 1_000, "chain_families": 0, "gen_margin": 4.0},
}

WINDOW = 60  # letters per chain name: 58 char 3-shingles
STEP = 1  # letters between neighbouring names of one family
# names up to 19 steps apart share >= half their shingles, so one hop
# spans 19 names and a family of 191 is 10 hops end to end
CHAIN_NAMES = 191
MAX_LINK_STEPS = 30  # no pair further apart can reach the threshold
CHAIN_CONV_TURNS = 50
RESEND_SHARE = 0.10  # re-sent base turns, relative to the delta's own turns
DUP_SHARE = 0.01  # duplicated delta rows (same key, later ts, distractor text)
GEN_MARGIN = 2.0  # corpus size over the turns kept, so the cuts never run short

TRANSCRIPTS_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), False),
        pa.field("turn_idx", pa.int32(), False),
        pa.field("role", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("tool", pa.string(), True),
        pa.field("ts", pa.timestamp("us"), False),
    ]
)
DICT_SCHEMA = pa.schema(
    [
        pa.field("entity_id", pa.string(), False),
        pa.field("canonical", pa.string(), False),
        pa.field("aliases", pa.list_(pa.string()), False),
        pa.field("etype", pa.string(), False),
        pa.field("prior", pa.float64(), False),
    ]
)


@dataclass
class Part:
    """One pipeline input: parquet paths plus the exact triple set a run
    over it must publish (distinct KEY rows)."""

    transcripts: str
    entity_dict: str
    expected: pd.DataFrame
    turns: int
    info: dict = field(default_factory=dict)


@dataclass
class Inputs:
    workload: str
    checkpoints: bool
    run: Part  # the input every measured run publishes
    base: Part | None = None  # append_ckpt: the sink each run appends to


def _corpus(turns: int, seed: int, margin: float = GEN_MARGIN) -> synth.Corpus:
    """A synth corpus with room for `turns` turns after the cuts below."""
    return synth.generate(n_convs=synth.scale_for_turns(int(turns * margin)), seed=seed)


def _first_turns(t: pd.DataFrame, n: int) -> pd.DataFrame:
    """The first `n` turns of `t` in conversation order. synth's
    conversation lengths are heavy-tailed, so a corpus's turn count varies
    by seed; cutting it to a fixed size keeps the work of a run, and so
    its wall and throughput, independent of the seed."""
    if len(t) < n:
        raise ValueError(f"corpus holds {len(t)} turns, the workload needs {n}")
    return t.sort_values(["conv_id", "turn_idx"]).head(n)


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> str:
    table = pa.Table.from_pandas(df, preserve_index=False).cast(schema)
    # bounded row groups: the row group is Spark's input split
    pq.write_table(table, path, row_group_size=131_072)
    return path


def _subject_surface(text: str, rule_id: str) -> str:
    anchor = next(r.anchor for r in rules.RULES if r.rule_id == rule_id)
    return rules.normalize_surface(text).split(anchor, 1)[0].strip()


def resolve_part(corpus: synth.Corpus, transcripts: pd.DataFrame) -> pd.DataFrame:
    """Expected distinct triples of a pipeline run over `transcripts`, a
    subset of `corpus.transcripts` (plus rows that yield no triple).

    synth resolves each external duplicate group to the smallest variant
    used anywhere in the corpus; a run over a subset sees only the variants
    that subset uses, so those subjects are re-clustered here exactly as
    Stage D defines it (char-shingle Jaccard, smallest member wins)."""
    keys = transcripts[["conv_id", "turn_idx"]].drop_duplicates()
    exp = corpus.expected_triples.merge(keys, on=["conv_id", "turn_idx"])
    groups = set(corpus.expected_components["component"])
    ext = exp["subj"].isin(groups).to_numpy()
    if ext.any():
        text = corpus.transcripts.set_index(["conv_id", "turn_idx"])["text"]
        rows = exp.loc[ext, ["conv_id", "turn_idx", "rule_id"]]
        surfaces = [
            _subject_surface(text[(c, t)], r)
            for c, t, r in rows.itertuples(index=False)
        ]
        comp = oracle.cluster_surfaces(surfaces)
        rep = dict(zip(comp["node"], comp["component"]))
        exp.loc[ext, "subj"] = [rep[s] for s in surfaces]
    return exp[KEY].drop_duplicates().reset_index(drop=True)


def _stage(corpus: synth.Corpus, transcripts: pd.DataFrame, out_dir: str, tag: str,
           expected: pd.DataFrame | None = None) -> Part:
    os.makedirs(out_dir, exist_ok=True)
    t_path = _write(transcripts, os.path.join(out_dir, f"{tag}_transcripts.parquet"),
                    TRANSCRIPTS_SCHEMA)
    e_path = os.path.join(out_dir, "entity_dict.parquet")
    if not os.path.exists(e_path):
        _write(corpus.entity_dict, e_path, DICT_SCHEMA)
    if expected is None:
        expected = resolve_part(corpus, transcripts)
    return Part(t_path, e_path, expected, len(transcripts))


def chain_families(n_families: int, rng: np.random.Generator) -> list[list[str]]:
    """Sliding-window name chains; names[0] is each family's smallest name."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    span = WINDOW + STEP * (CHAIN_NAMES - 1)
    fams = []
    for _ in range(n_families):
        base = rng.choice(letters, span)
        heads = np.arange(0, span - WINDOW + 1, STEP)
        base[heads] = rng.choice(letters[1:], len(heads))  # no name starts with 'a' ...
        base[0] = "a"  # ... except the first, the component representative
        s = "".join(base)
        fams.append([s[h : h + WINDOW] for h in heads])
    return fams


def chain_components(families: list[list[str]]) -> dict[str, str]:
    """name -> representative, by union-find over the within-family pairs
    that reach the pipeline's Jaccard threshold (random letters give
    different families no shared shingles to speak of)."""
    rep: dict[str, str] = {}
    for names in families:
        sh = [rules.char_shingles(n) for n in names]
        uf = oracle.UnionFind()
        for i in range(len(names)):
            uf.find(names[i])
            for j in range(i + 1, min(i + MAX_LINK_STEPS, len(names))):
                if rules.jaccard(sh[i], sh[j]) >= rules.JACCARD_THRESHOLD:
                    uf.union(names[i], names[j])
        rep.update({n: uf.find(n) for n in names})
    return rep


def external_keys(corpus: synth.Corpus) -> pd.DataFrame:
    """(conv_id, turn_idx) of the turns whose subject is a dictionary-
    external duplicate-group variant."""
    exp = corpus.expected_triples
    ext = exp["subj"].isin(set(corpus.expected_components["component"]))
    return exp.loc[ext, ["conv_id", "turn_idx"]].drop_duplicates()


def _without(t: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
    m = t.merge(keys, on=["conv_id", "turn_idx"], how="left", indicator=True)
    return m[m["_merge"] == "left_only"].drop(columns="_merge")


def _canon_chains(seed: int, sc: dict, out_dir: str) -> Inputs:
    corpus = _corpus(sc["canon_base_turns"], seed, sc.get("gen_margin", GEN_MARGIN))
    # synth's duplicate-group variants are left out: on the LSH path the
    # 16x2 banding misses some of their pairs (seed 2: "grace ebervale" /
    # "grace embervale", Jaccard 0.6), which splits a group and makes the
    # output depend on MinHash luck; every chain family stays connected
    # through its many near-identical neighbours
    base_t = _first_turns(_without(corpus.transcripts, external_keys(corpus)),
                          sc["canon_base_turns"])
    rng = np.random.default_rng(seed + 7)
    fams = chain_families(sc["chain_families"], rng)
    rep = chain_components(fams)
    names = [n for f in fams for n in f]
    concepts = corpus.entity_dict[corpus.entity_dict["etype"] == "concept"]
    c_idx = rng.integers(0, len(concepts), len(names))
    a_idx = rng.integers(0, 10_000, len(names))
    aliases = [al[a % len(al)] for al, a in zip(concepts["aliases"].to_numpy()[c_idx], a_idx)]
    n = len(names)
    turn = (np.arange(n) % CHAIN_CONV_TURNS).astype("int32")
    conv = np.array([f"k{i // CHAIN_CONV_TURNS:08d}" for i in range(n)], dtype=object)
    chains = pd.DataFrame(
        {
            "conv_id": conv,
            "turn_idx": turn,
            "role": np.where(turn % 2 == 0, "user", "assistant"),
            "text": [f"{v} created {a}." for v, a in zip(names, aliases)],
            "tool": "",
            "ts": synth.BASE_TS + turn.astype("timedelta64[s]") * 7,
        }
    )
    # rows interleaved like synth's own output (order-permutation invariance)
    transcripts = pd.concat([base_t, chains], ignore_index=True).sample(
        frac=1.0, random_state=seed % 2**31
    )
    chain_exp = pd.DataFrame(
        {
            "subj": [rep[v] for v in names],
            "pred": "created",
            "obj": concepts["entity_id"].to_numpy()[c_idx],
            "conv_id": conv,
            "turn_idx": turn,
            "rule_id": "R3",
        }
    )
    expected = pd.concat(
        [resolve_part(corpus, base_t), chain_exp], ignore_index=True
    ).drop_duplicates().reset_index(drop=True)
    part = _stage(corpus, transcripts, out_dir, "run", expected)
    part.info = {
        "families": len(fams),
        "surfaces": n,
        "components": len(set(rep.values())),
    }
    return Inputs("canon_chains", False, part)


def _append_ckpt(seed: int, sc: dict, out_dir: str) -> Inputs:
    n_base, n_new = sc["append_base_turns"], sc["append_delta_turns"]
    corpus = _corpus(n_base + n_new, seed)
    t = corpus.transcripts
    # conversations go to the base or the delta in proportion to their sizes
    conv_no = t["conv_id"].str.slice(1).astype(int)
    in_base = (conv_no % 10 < round(10 * n_base / (n_base + n_new))).to_numpy()
    base_t = _first_turns(t[in_base], n_base)
    new_t = _first_turns(t[~in_base], n_new)
    rng = np.random.default_rng(seed + 11)
    # re-sent base turns avoid external duplicate-group names, so their
    # triples do not depend on which representative a run's Stage D picks
    plain = _without(base_t, external_keys(corpus))
    n_resend = int(len(new_t) * RESEND_SHARE)
    resent = plain.iloc[rng.choice(len(plain), n_resend, replace=False)]
    n_dup = max(1, int(len(new_t) * DUP_SHARE))
    dups = new_t.iloc[rng.choice(len(new_t), n_dup, replace=False)].copy()
    dups["ts"] = dups["ts"] + pd.Timedelta(seconds=1)  # Stage A keeps the min ts
    dups["text"] = synth._DISTRACT[0]  # a wrongly kept copy would lose triples
    delta_in = pd.concat([new_t, resent, dups], ignore_index=True).sample(
        frac=1.0, random_state=seed % 2**31
    )
    base = _stage(corpus, base_t, out_dir, "base")
    run = _stage(corpus, delta_in, out_dir, "delta",
                 resolve_part(corpus, pd.concat([new_t, resent])))
    resent_exp = run.expected.merge(resent[["conv_id", "turn_idx"]], on=["conv_id", "turn_idx"])
    run.info = {
        "new_turns": len(new_t),
        "resent_turns": n_resend,
        "dup_rows": n_dup,
        "resent_triples": len(resent_exp),
    }
    return Inputs("append_ckpt", True, run, base)


BUILDERS = {"canon_chains": _canon_chains, "append_ckpt": _append_ckpt}


def make(workload: str, seed: int, out_dir: str, scale: str = "full") -> Inputs:
    return BUILDERS[workload](seed, SCALES[scale], out_dir)
