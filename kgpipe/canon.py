"""Stage D: canonicalization of unlinked surfaces.

Reference analog: scoregraph's pairwise creator-name deduplication — an
O(n²) loop over name pairs (SURVEY.md §0.3). At 10^12-turn scale that is
impossible, so per BASELINE.json: "candidate canonicalization via
MinHash-LSH blocking plus GraphFrames/iterative-join connected components".
GraphFrames is absent in the sandbox (SURVEY.md §0.5), so connected
components is an iterative-join loop over parent pointers (min-hooking plus
pointer jumping, O(log n) rounds) with per-round localCheckpoint to
truncate lineage.

Stage D's output is one label table DataFrame[node, component] with two
producers: exact all-pairs Jaccard + union-find on the driver for at most
DRIVER_ALLPAIRS_MAX_SURFACES unlinked surfaces, LSH blocking + the loop
above it. rewrite alone decides, by the table's row count, whether Stage E
broadcasts it.

Everything up to the pair list is Spark-builtin expressions (engine-neutral
md5-prefix MinHash, kgpipe/nhash.py — JVM-side, deterministic,
whole-stage-codegen friendly, and value-reproducible by the DuckDB oracle;
one md5 per shingle fans out to all hash functions via integer
multiply-adds); zero Python on this path. The banding, band self-join and
exact-Jaccard verify (lsh_pairs) are the one MinHash-LSH blocking core of
the package: document dedup (dedup.doc_minhash_pairs) feeds it its own
signature.

The verify side runs once per candidate: Stage D's shingle sets are
xxhash64 arrays (fixed-width keys intersect faster than strings; no output
exposes them), the threshold is one inequality over one array_intersect,
and jaccard is projected only over the pairs that pass. connected_components
symmetrizes its edges in one explode, so the lazy LSH DAG feeding it runs
once per action, not once per union branch.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import nhash
from .rules import (
    JACCARD_THRESHOLD,
    MINHASH_HASHES,
    SHINGLE_K,
    similar_pair_labels,
)

# one affine (A, B) pair per MinHash function, fixed-seed deterministic;
# the SAME literals are embedded in the oracle SQL (kgqueries.py)
MH_AFFINE = nhash.affine_params(MINHASH_HASHES)


def shingles_col(col: str):
    """array of distinct char SHINGLE_K-shingles of a (normalized) string
    column — pure SQL `transform(sequence(...), substring(...))`, no UDF."""
    k = SHINGLE_K
    return F.array_distinct(
        F.expr(
            f"CASE WHEN length({col}) < {k} THEN array({col}) "
            f"ELSE transform(sequence(0, length({col}) - {k}), i -> substring({col}, i + 1, {k})) END"
        )
    )


def minhash_signatures(surfaces: DataFrame) -> DataFrame:
    """surfaces[surface] -> one row per surface with mh_0..mh_{n-1}, one
    column per MH_AFFINE pair.

    MinHash_i(s) = min over shingles of (A_i * baseP(shingle) + B_i) % P —
    ONE engine-neutral md5-prefix base hash per shingle, fanned out to all
    n hash functions by modular affine permutations (classic universal-
    hashing MinHash). All builtins, deterministic across runs and cluster
    sizes (never Python hash()), and value-reproducible in the DuckDB
    oracle (kgpipe/nhash.py)."""
    ex = surfaces.select(
        "surface", F.explode(shingles_col("surface")).alias("sh")
    ).select("surface", nhash.basep_col(F.col("sh")).alias("hb"))
    aggs = [
        F.min(nhash.affine_col(F.col("hb"), a, b)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(MH_AFFINE)
    ]
    return ex.groupBy("surface").agg(*aggs)


def lsh_pairs(sh: DataFrame, sig: DataFrame) -> DataFrame:
    """THE MinHash-LSH blocking core of Stage D (candidate_pairs) and
    document dedup (dedup.doc_minhash_pairs): sh[id, sh] distinct shingle
    arrays + sig[id, mh_0..mh_{2k-1}] -> (a, b, inter, n) for every a < b
    agreeing on at least one of the k 2-row bands, where
    inter = size(array_intersect(sh_a, sh_b)) and n = size(sh_a) + size(sh_b),
    so jaccard = inter / (n - inter). Callers own the signature hash, the
    threshold (jaccard_at_least) and the jaccard projection.

    Band key xxhash64(mh_2b, mh_2b+1): a collision can only add a
    candidate, which the exact check then scores. The self-join is an
    EQUI-join on (band_id, band_hash) — never a nested loop (SURVEY.md
    §2(c) join_theta_selfjoin_lsh).

    The shingle arrays may be 64-bit hashes of distinct shingles
    (candidate_pairs) instead of the strings. n stays exact (the arrays
    are deduplicated before hashing), and inter is exact whenever the hash
    is injective over the pair's shingles — which holds for every char
    3-shingle over [a-z0-9 ] (tested). Otherwise each colliding pair of
    distinct shingles moves inter by at most one; the chance of any
    collision in a pair is about |A u B|^2 / 2^65. The hashes never leave
    this function, and the DuckDB oracle computes on the strings."""
    n_bands = sum(c.startswith("mh_") for c in sig.columns) // 2
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(f"mh_{2 * b}", f"mh_{2 * b + 1}").alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select("id", F.explode(band_structs).alias("bd")).select(
        "id", "bd.band_id", "bd.band_hash"
    )
    pairs = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_id", "band_hash"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    sa = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    return pairs.join(sa, "a").join(sb, "b").select(
        "a",
        "b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        (F.size("sh_a") + F.size("sh_b")).alias("n"),
    )


def jaccard_at_least(t: float) -> F.Column:
    """jaccard >= t over an lsh_pairs row, as inter * (p + q) >= p * n for
    t = p / q: it names the intersect once, where a filter on a jaccard
    column would be pushed into the join condition with the intersect
    repeated per reference (Catalyst does no common-subexpression
    elimination there). Integer operands keep it exact at a t that is no
    binary fraction (0.2)."""
    r = Fraction(str(t))
    return F.col("inter") * (r.numerator + r.denominator) >= F.col("n") * r.numerator


def jaccard_col() -> F.Column:
    """jaccard of an lsh_pairs row. Shingle arrays are never empty (a
    string shorter than the shingle width is its own shingle), so
    n - inter >= 1."""
    return (F.col("inter") / (F.col("n") - F.col("inter"))).alias("jaccard")


def candidate_pairs(surfaces: DataFrame) -> DataFrame:
    """Stage D's blocking: md5-affine MinHash signatures through lsh_pairs
    -> verified edges (a, b, jaccard), jaccard >= JACCARD_THRESHOLD.

    The verify side is a per-row projection: each surface's distinct char
    shingles as xxhash64 values (see lsh_pairs for the collision bound).
    `surfaces` feeds two branches of this DAG (the signature and the verify
    side's shingle sets), so a caller whose surfaces are expensive persists
    them for as long as it reads the result, as stage_canon does."""
    sig = minhash_signatures(surfaces).withColumnRenamed("surface", "id")
    sh = surfaces.select(
        F.col("surface").alias("id"),
        F.transform(shingles_col("surface"), lambda s: F.xxhash64(s)).alias("sh"),
    )
    return (
        lsh_pairs(sh, sig)
        .filter(jaccard_at_least(JACCARD_THRESHOLD))
        .select("a", "b", jaccard_col())
    )


# Largest label table canon.rewrite broadcasts with Stage C's alias map:
# at most this many (node, component) rows go to every executor, so the
# triples only probe them. Above it the union is left to Spark's size-based
# planning, which can shuffle the triples against it.
DRIVER_CC_MAX_EDGES = 200_000

# Below this many distinct unlinked surfaces, exact all-pairs Jaccard on the
# driver beats the distributed LSH chain: the MinHash/banding/verify DAG is
# ~10 shuffle stages whose scheduling overhead (~3-4 s measured) dwarfs the
# actual work when the surface set is tiny — the common case, since unlinked
# surfaces are the dictionary MISSES, not the corpus. 1000 surfaces =
# ~500k pairs of set-intersections, well under a second of driver CPU.
# Above it, candidate_pairs (LSH blocking, equi-joins only) scales
# arbitrarily. The all-pairs form is exactly the pandas/SQL oracle
# semantics, so on corpora where LSH recall is total (tested) the two paths
# emit identical edges.
DRIVER_ALLPAIRS_MAX_SURFACES = 1_000


def driver_labels(spark, labels: dict[str, str]) -> DataFrame:
    """Label table DataFrame[node, component] of the all-pairs path (or the
    stream's empty one) from a dict computed on the driver."""
    return spark.createDataFrame(list(labels.items()), "node string, component string")


def connected_components(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """Connected components: parent pointers with min-hooking and pointer
    jumping (the parent-connect + shortcut family of Liu & Tarjan, "Simple
    Concurrent Labeling Algorithms for Connected Components", SOSA 2019).
    Every node is labelled with the smallest surface of its component — the
    same representative rule as rules.UnionFind.

    The edges are symmetrized in one pass (each row explodes into both
    directions), so the edge DAG — the lazy LSH chain on Stage D's path —
    executes once for the count that persists it; a union of two
    projections would run it once per branch.

    Each pointer p(x) <= x is a node of x's component. Start:
    p(x) = min(x, min neighbour). Each round:
        hook(x) = min{p(v) : edge (u, v), p(u) = x, p(v) < x}
        p'(x)   = min(p(p(p(x))), hook(x))
    until no pointer moves. Pointers only decrease, so the fixpoint is one
    star per component rooted at its minimum; rounds grow with log(nodes),
    not the diameter (measured: 6 on canon_chains, 8 on a 1,000-hop path).
    One action per round: the count of changed pointers reads a lazy
    localCheckpoint, which keeps plans O(1).

    Returns DataFrame[node, component]. Nodes appearing in no edge are NOT
    returned (callers treat missing as singleton = itself). Raises
    RuntimeError when a pointer still moves after max_iter rounds
    (pointers strictly decrease, so the cap only stops a runaway loop).
    """
    both_ways = F.array(
        F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
        F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
    )
    sym = edges.select(F.explode(both_ways).alias("e")).select("e.src", "e.dst")
    # the count sizes the loop's partitions and the loop's two checkpoints
    # reread the edge chain — persist so the (expensive) LSH chain runs
    # exactly once
    sym = sym.persist()
    n_edges = sym.count()
    max_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_parts = max(1, min(max_parts, n_edges // 100_000 + 1))
    # a hook is symmetric in an edge's ends, so rounds read each undirected
    # edge once; the eager checkpoints hold what the loop reads of sym
    half = sym.filter("src < dst").repartition(n_parts, "dst").localCheckpoint()
    p = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.min("src"), F.min("dst")).alias("component"))
        .repartition(n_parts, "node")
        .localCheckpoint()
    )
    sym.unpersist()
    for _ in range(max_iter):
        ends = half.join(p.toDF("dst", "pv"), "dst").join(p.toDF("src", "pu"), "src")
        hook = (
            ends.filter("pu != pv")
            .groupBy(F.greatest("pu", "pv").alias("node"))
            .agg(F.min(F.least("pu", "pv")).alias("hook"))
        )
        new = F.least("p3", "hook")  # least() skips a null (absent) hook
        nxt = (
            p.toDF("node", "p1")
            .join(p.toDF("p1", "p2"), "p1")
            .join(p.toDF("p2", "p3"), "p2")
            .join(hook, "node", "left")
            .select("node", new.alias("component"), (new < F.col("p1")).alias("_chg"))
            .localCheckpoint(eager=False)
        )
        changed = nxt.filter("_chg").count()
        p = nxt.drop("_chg")
        if changed == 0:
            return p
    # a pointer still moved in the last round: returning now would split a
    # component
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def unlinked_surfaces(raw: DataFrame, links: DataFrame) -> DataFrame:
    """Distinct surface-kind values of Stage B output (subj or obj side)
    that Stage C's alias map (link.stage_link) does not hold.

    THE definition of Stage D's input population — shared by stage_canon
    and the registry's stage cache (kgqueries._stage) so the driver
    entries can never diverge from the pipeline; the DuckDB oracle's
    `unl` CTE mirrors it in SQL. The map is probed once per distinct
    surface by a left join and a null test: Catalyst would push a
    left_anti join below the distinct and the union, onto every triple."""
    subj, obj = (
        raw.filter(F.col(f"{s}_kind") == "surface").select(F.col(f"{s}_raw").alias("surface"))
        for s in ("subj", "obj")
    )
    surfaces = subj.unionByName(obj).distinct()
    on = F.col("surface") == F.col("node")
    return surfaces.join(F.broadcast(links), on, "left").filter("node IS NULL").select("surface")


def stage_canon(raw: DataFrame, links: DataFrame) -> DataFrame:
    """Stage D's decision over Stage B output (…, subj_raw/obj_raw,
    subj_kind/obj_kind) and Stage C's alias map: the label table
    DataFrame[node, component] of every unlinked surface with a similar
    partner — the all-pairs path's driver table or the loop's checkpoint
    scan. rewrite applies it to the triples."""
    unlinked = unlinked_surfaces(raw, links).persist()
    if unlinked.count() <= DRIVER_ALLPAIRS_MAX_SURFACES:
        # pure-driver fast path: all-pairs edges AND union-find on the one
        # collected surface list, in a single job. Handing a driver edge
        # DataFrame to connected_components instead would re-count and
        # re-collect it — ~5 near-empty Spark jobs whose scheduling latency
        # (measured: 3.2 s at both levels of the 1M ckpt probe) is a pure
        # Amdahl tax on the 4N level of the production scaling pair (ckpt
        # Stage D scaled 0.53 in r3).
        names = [r["surface"] for r in unlinked.collect()]
        labels = driver_labels(raw.sparkSession, similar_pair_labels(names))
    else:
        labels = connected_components(candidate_pairs(unlinked))
    # the labels are collected or checkpointed: nothing reads the surfaces
    # (or the LSH chain over them) any more
    unlinked.unpersist()
    return labels


def rewrite(raw: DataFrame, links: DataFrame, labels: DataFrame) -> DataFrame:
    """Final subj/obj of Stage B output: a node-kind value as it is; a
    surface resolved through the one (node, target) table links ∪ labels —
    its entity_id, else its component label, else itself (singleton). The
    key sets are disjoint (labels cover only surfaces outside the alias
    map) and each is unique, so a side's left join cannot fan a triple out.

    THE broadcast decision of Stage E, the same in fused, checkpointed and
    stream runs: the union is broadcast iff the labels hold at most
    DRIVER_CC_MAX_EDGES rows, whichever path built them (the count reads
    the driver table or the checkpoint, never the triples). Larger label
    tables are left to Spark's size-based planning."""
    targets = links.unionByName(labels.withColumnRenamed("component", "target"))
    if labels.count() <= DRIVER_CC_MAX_EDGES:
        targets = F.broadcast(targets)
    out = raw
    for side in ("subj", "obj"):
        out = out.join(targets.toDF(f"{side}_raw", f"_{side}_target"), f"{side}_raw", "left")

    def final(side: str) -> F.Column:
        value = F.col(f"{side}_raw")
        resolved = F.coalesce(F.col(f"_{side}_target"), value)
        return F.when(F.col(f"{side}_kind") == "node", value).otherwise(resolved).alias(side)

    return out.select(
        final("subj"), "pred", final("obj"), "conv_id", "turn_idx", "rule_id"
    )
