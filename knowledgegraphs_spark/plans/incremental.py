"""Incremental KG maintenance: merge a new batch of turns into an existing
entity catalog without recomputing it.

The batch pipeline (``plans/pipeline.py``) canonicalizes the WHOLE corpus
per run. At 10^12-turn scale nobody reruns that per ingest — the job a
cluster runs daily is: extract mentions from the new turns only, reuse the
existing catalog for every surface it already knows, attach near-duplicate
novel surfaces to their existing entities, and mint new entities only for
genuinely new surface families.

URI-stability contract (the reason this is not "rerun the batch job"):
an entity URI, once minted, never changes. A surface that would have won
the canonical pick had it been present in the original batch does NOT
re-canonicalize the entity when it arrives later — it attaches. This is
the one documented divergence from a full recompute (asserted both ways in
``tests/test_incremental.py``); when no novel surface bridges or outranks
existing entities, increment-then-union equals the full batch exactly.

Attach semantics (deterministic, order-free):
1. Surfaces already in the catalog reuse their canonical (anti-join).
2. Novel surfaces form components over novel↔novel near-dup edges — the
   same blocking + predicate as the batch path.
3. Each component attaches to an existing entity iff ANY member has a
   cross near-dup edge into the prior vocabulary (``cross_match_edges``:
   one distributed pass over the PRIOR side keeps only the postings of the
   batch's own tokens, so the driver never holds the catalog; novel sides
   above the vocabulary threshold take the distributed blocking join);
   multiple candidate entities resolve by the canonical-pick ordering
   (``pick_order_key``). Unattached components mint new entities via the
   batch ``canonical_mapping``.

Reference parity: the reference has no incremental mode at all — it rebuilds
per run (``Pipeline.java`` stage order, ``Config.java:258-268`` re-persists
every stage). This module is the Spark-first extension of its resume
machinery (S17) from "restart the same run" to "extend a finished run".
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..operators.canonicalize import canonical_mapping, pick_order_cols
from ..operators.matching import compute_match_edges, cross_match_edges
from ..operators.mentions import distinct_surfaces, extract_mentions
from ..operators.po_extraction import transcript_po
from ..operators.skew import join_small_dim
from ..operators.triples import emit_transcript_triples
from ..sources.transcripts import ingest
from .pipeline import mention_triples


@dataclass
class IncrementalResult:
    triples: DataFrame          # delta: triples for the new turns + new-entity decls
    canonical: DataFrame        # updated full (mention, canonical) map
    canonical_delta: DataFrame  # just the novel-surface rows
    stats: dict


def incremental_canonical(
    new_surfaces: DataFrame,
    prior_canonical: DataFrame,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """(mention, canonical) for the NOVEL surfaces of a new batch.

    All inputs and intermediates here are vocabulary-scale (distinct
    surfaces, not mention rows). The catalog side stays distributed: the
    anti-join and attach joins run in Spark, and ``cross_match_edges``
    scans the prior pruned to the batch's tokens, whose postings (at most
    batch tokens × ``max_token_df``) are the only catalog-derived rows the
    driver sees.
    """
    cfg = cfg or EngineConfig()
    novel = new_surfaces.select("mention").join(
        prior_canonical.select("mention"), "mention", "left_anti"
    ).localCheckpoint(eager=True)
    n_novel = novel.count()
    if n_novel == 0:
        return novel.withColumn("canonical", F.col("mention")).limit(0)

    # 2. novel↔novel components, canonicalized exactly like the batch path:
    # the provisional canonical string IS the component identity.
    edges = compute_match_edges(
        novel, cfg.match, n_surfaces=n_novel,
        vocab_driver_threshold=cfg.vocab_driver_threshold,
    )
    prov = canonical_mapping(novel, edges, cfg, n_surfaces=n_novel)

    # 3. cross edges novel → prior vocabulary, mapped to prior entities.
    cross = cross_match_edges(
        novel, prior_canonical.select("mention"), cfg.match, n_novel=n_novel,
        vocab_driver_threshold=cfg.vocab_driver_threshold,
    )
    cand = (
        cross.join(
            prior_canonical.withColumnRenamed("mention", "tgt")
            .withColumnRenamed("canonical", "prior_canonical"),
            "tgt",
        )
        .select(F.col("src").alias("mention"), "prior_canonical")
    )
    # per-component attach pick: min prior canonical by the pick ordering —
    # groupBy + min_by (map-side partial agg), never a whole-partition window
    attach = (
        prov.join(cand, "mention")
        .groupBy(F.col("canonical").alias("prov_canonical"))
        .agg(
            F.min_by(
                F.col("prior_canonical"), pick_order_cols(F.col("prior_canonical"))
            ).alias("attach_canonical")
        )
    )
    return (
        prov.withColumnRenamed("canonical", "prov_canonical")
        .join(attach, "prov_canonical", "left")
        .select(
            "mention",
            F.coalesce("attach_canonical", "prov_canonical").alias("canonical"),
        )
    )


def incremental_update(
    spark: SparkSession,
    new_turns_raw: DataFrame,
    prior_canonical: DataFrame,
    cfg: EngineConfig | None = None,
) -> IncrementalResult:
    """Process ONE new batch of turns against an existing canonical map.

    Emits structural triples for the new turns, mention triples wired to
    stable entity URIs, and declaration triples ONLY for entities minted by
    this batch — appending the result to the prior triple store yields the
    same store a continuous pipeline maintains. Conversation-declaration
    triples ride the ``turn_idx == 0`` marker row exactly as in streaming,
    so a conversation split across batches is declared exactly once."""
    cfg = cfg or EngineConfig()
    turns = ingest(new_turns_raw)
    mentions = extract_mentions(turns)
    surf = distinct_surfaces(mentions).select("mention").localCheckpoint(eager=True)
    delta = incremental_canonical(surf, prior_canonical, cfg).localCheckpoint(eager=True)
    updated = prior_canonical.unionByName(delta)

    # the batch's own (vocabulary-sized) slice of the updated map
    batch_map = surf.join(updated, "mention").localCheckpoint(eager=True)
    n_batch_vocab = batch_map.count()
    m_canon = join_small_dim(
        mentions, batch_map, "mention",
        salt_buckets=cfg.match.salt_buckets,
        salt_from=["conv_id", "turn_idx", "pos"],
        dim_count=n_batch_vocab,
    )
    # entity decls only for canonicals this batch minted (attach targets and
    # already-known surfaces resolve to URIs declared by earlier batches)
    new_entities = (
        delta.select("canonical")
        .dropDuplicates()
        .join(prior_canonical.select("canonical").dropDuplicates(), "canonical", "left_anti")
    )
    triples = emit_transcript_triples(turns, transcript_po()).unionByName(
        mention_triples(m_canon, new_entities)
    )
    return IncrementalResult(
        triples=triples,
        canonical=updated,
        canonical_delta=delta,
        stats={"batch_vocab": n_batch_vocab},
    )
