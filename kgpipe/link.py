"""Stage C: entity linking against a broadcast canonical-entity dictionary.

Reference analog: scoregraph's Europeana/DBpedia enrichment step — one HTTPS
lookup per creator name, the reference's throughput ceiling (SURVEY.md §3.1).
Re-expressed as a broadcast hash join: the alias dictionary is exploded to
(alias_norm -> entity) rows and broadcast; linking a surface is an equi-join,
never a per-row lookup (BASELINE.json: "entity-link scoring against a
broadcast dictionary of canonical entities").

Stage C's output is the (node, target) alias map, not a triple column: D
probes it once per distinct surface (canon.unlinked_surfaces), E once per
triple side, together with D's labels (canon.rewrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .extract import normalize_text_col

LINK_TOPK = 1  # score_candidates keeps the best candidate of each surface


def alias_table(entity_dict: DataFrame) -> DataFrame:
    """Explode aliases -> one row per normalized alias. Alias norms are
    unique by dictionary construction; the window guards regardless
    (deterministic: keep lowest entity_id)."""
    w = Window.partitionBy("alias_norm").orderBy("entity_id")
    return (
        entity_dict.select(
            "entity_id",
            "canonical",
            "etype",
            "prior",
            F.explode("aliases").alias("alias"),
        )
        .withColumn("alias_norm", normalize_text_col(F.col("alias")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "alias")
    )


def stage_link(entity_dict: DataFrame) -> DataFrame:
    """Stage C's alias map DataFrame[node, target]: each normalized alias
    and the lowest entity_id carrying it, as oracle.link_map. canon.rewrite
    applies it to surface-kind values only."""
    return alias_table(entity_dict).select(
        F.col("alias_norm").alias("node"), F.col("entity_id").alias("target")
    )


def score_candidates(surfaces: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """U3 general scored linking (queries() surface `link_score`): candidate
    = any alias sharing the surface's first token (blocking key — keeps the
    candidate join an equi-join, not a cross join); score combines exact
    match, levenshtein similarity, and the popularity prior. Deterministic
    top-LINK_TOPK by (score desc, entity_id asc).

    surfaces: DataFrame[surface: string] (normalized).
    """
    aliases = alias_table(entity_dict).withColumn(
        "block", F.split(F.col("alias_norm"), " ").getItem(0)
    )
    cand = surfaces.withColumn(
        "block", F.split(F.col("surface"), " ").getItem(0)
    ).join(F.broadcast(aliases), "block")
    lev = F.levenshtein(F.col("surface"), F.col("alias_norm"))
    maxlen = F.greatest(F.length("surface"), F.length("alias_norm"))
    sim = F.lit(1.0) - lev.cast("double") / maxlen.cast("double")
    score = (
        F.when(F.col("surface") == F.col("alias_norm"), F.lit(1.0)).otherwise(sim * 0.9)
        + F.col("prior") * 0.01
    )
    scored = cand.withColumn("link_score", score)
    w = Window.partitionBy("surface").orderBy(F.desc("link_score"), F.asc("entity_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LINK_TOPK)
        .select("surface", "entity_id", "canonical", "etype", "link_score", "rank")
    )
