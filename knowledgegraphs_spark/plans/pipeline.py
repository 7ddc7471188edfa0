"""The end-to-end KG-construction pipeline (SURVEY.md §7 stage order).

    ingest → mentions → match edges → canonicalize → triples + entity catalog

Every stage materializes to parquet under the workdir with a manifest entry
(per-partition counters, wall time) so any run resumes mid-pipeline. Stage
outputs are the same IR boundaries the reference persists as files between
stages (``Config.java:258-268``). :func:`run_pipeline` writes the triples
stage through ``write_triples`` (the one writer of the subject-bucketed
store layout) and reopens it with ``read_triples``, so constant-subject
lookups on its output prune to one bucket.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BASE_PREFIX, RDF_TYPE, EngineConfig
from ..functions import naming
from ..operators.canonicalize import canonical_mapping
from ..operators.matching import compute_match_edges
from ..operators.mentions import distinct_surfaces, extract_mentions
from ..operators.po_extraction import transcript_po
from ..operators.skew import join_small_dim
from ..operators.triples import emit_transcript_triples, read_triples, write_triples
from ..sources.transcripts import ingest
from .manifest import Manifest


@dataclass
class PipelineResult:
    triples: DataFrame
    entities: DataFrame
    canonical: DataFrame
    mentions: DataFrame
    stats: dict


def mention_triples(mentions_canon: DataFrame, canonical: DataFrame) -> DataFrame:
    """Mention + entity triples. ``mentions_canon`` columns: conv_id,
    turn_idx, mention, kind, pos, canonical; ``canonical`` is the
    vocabulary-sized (mention, canonical) map. URIs are pure functions of the
    natural keys. Per-mention triples emit in ONE scan (array-of-structs +
    explode); the two per-entity triples come from the tiny canonical dim."""
    from ..operators.triples import _triple_struct

    # URIs hoisted into a pre-projection: inside one Generate expression
    # tree Spark does no subexpression elimination, so m_uri (3 struct
    # references) would be concat'd 3× per mention (see the emission
    # hoisting note in BENCH/BASELINE.md)
    turn = F.col("__uri_turn")
    m_uri = F.col("__uri_mention")
    e_uri = F.concat(F.lit(f"{BASE_PREFIX}Entity_"), naming.valid_name_col(F.col("canonical")))
    per_mention = mentions_canon.select(
        "*",
        F.concat_ws(
            "_", F.lit(f"{BASE_PREFIX}Turn_2"), F.col("conv_id"), F.col("turn_idx").cast("string")
        ).alias("__uri_turn"),
        F.concat_ws(
            "_", F.lit(f"{BASE_PREFIX}Mention_3"), F.col("conv_id"),
            F.col("turn_idx").cast("string"), F.col("kind"), F.col("pos").cast("string"),
        ).alias("__uri_mention"),
    ).select(
        F.explode(
            F.array(
                _triple_struct(turn, "has_mention", m_uri, None, False),
                _triple_struct(m_uri, RDF_TYPE, class_uri_lit("Mention"), None, False),
                _triple_struct(m_uri, "has_surface_VALUE", F.col("mention"), "xsd:string", True),
                _triple_struct(m_uri, "p_Mention_Entity", e_uri, None, False),
            )
        ).alias("t")
    ).select("t.subj", "t.pred", "t.obj", "t.obj_dtype", "t.is_literal")
    per_entity = canonical.select("canonical").dropDuplicates().select(
        F.explode(
            F.array(
                _triple_struct(e_uri, RDF_TYPE, class_uri_lit("Entity"), None, False),
                _triple_struct(e_uri, "has_label_VALUE", F.col("canonical"), "xsd:string", True),
            )
        ).alias("t")
    ).select("t.subj", "t.pred", "t.obj", "t.obj_dtype", "t.is_literal")
    return per_mention.unionByName(per_entity)


def class_uri_lit(name: str):
    return F.lit(f"{BASE_PREFIX}{name}")


def entity_catalog(mentions_canon: DataFrame) -> DataFrame:
    """The entity-catalog dimension: one row per canonical entity with its
    usage statistics — the second materialized artifact next to the triple
    table (one hash aggregation over mentions; all counters combine
    map-side except the exact distinct counts, which stay exact because
    the catalog is vocabulary-scale, not mention-scale)."""
    e_uri = F.concat(F.lit(f"{BASE_PREFIX}Entity_"), naming.valid_name_col(F.col("canonical")))
    return (
        mentions_canon.withColumn("entity_uri", e_uri)
        .groupBy("entity_uri", "canonical")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.size(F.collect_set("mention")).alias("n_surfaces"),
            F.countDistinct("conv_id").alias("n_conversations"),
            F.array_sort(F.collect_set("mention")).alias("surfaces"),
        )
    )


def _join_canonical(
    mentions: DataFrame, canonical: DataFrame, cfg: EngineConfig, n_surfaces: int | None
) -> DataFrame:
    """Mention rows joined to their canonical. The (mention, canonical) map
    has one row per distinct surface (``n_surfaces``; ``None`` = count it):
    broadcast when it fits, else a join salted on the mention's natural key
    so head surfaces spread."""
    return join_small_dim(
        mentions, canonical.select("mention", "canonical"), "mention",
        salt_buckets=cfg.match.salt_buckets,
        salt_from=["conv_id", "turn_idx", "pos"],
        dim_count=n_surfaces,
    )


def build_kg_triples(
    spark: SparkSession, turns_raw: DataFrame, cfg: EngineConfig | None = None
) -> DataFrame:
    """Pure (no-IO) composition of the full pipeline: structural + mention +
    entity triples. Used by ``__spark_entry__.entry`` and ad-hoc callers; the
    manifest/resume path is :func:`run_pipeline`."""
    return build_kg(spark, turns_raw, cfg)[0]


def build_kg(
    spark: SparkSession, turns_raw: DataFrame, cfg: EngineConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """:func:`build_kg_triples` plus the (mention, canonical) map — the state
    an incremental caller (``plans/incremental.py``) carries between batches."""
    cfg = cfg or EngineConfig()
    # no repartition here: every op below is per-row, so a conv_id shuffle
    # before the 15× explode only lets AQE coalesce away parallelism
    # (BENCH/BASELINE.md). Grouped per-conversation stages repartition
    # themselves when they need co-location.
    turns = ingest(turns_raw, None)
    po = transcript_po()
    mentions = extract_mentions(turns)
    # the vocabulary-scale intermediates (distinct surfaces, match edges,
    # canonical map) are materialized once — without this every downstream
    # branch re-executes the whole matching DAG (distinct+blocking+UDF+CC).
    surfaces = (
        distinct_surfaces(mentions).select("mention").localCheckpoint(eager=True)
    )
    n_surfaces = surfaces.count()  # cheap: surfaces is materialized
    edges = compute_match_edges(
        surfaces, cfg.match, n_surfaces=n_surfaces,
        vocab_driver_threshold=cfg.vocab_driver_threshold,
    )
    canonical = canonical_mapping(
        surfaces, edges, cfg, n_surfaces=n_surfaces
    ).localCheckpoint(eager=True)
    m_canon = _join_canonical(mentions, canonical, cfg, n_surfaces)
    triples = emit_transcript_triples(turns, po).unionByName(
        mention_triples(m_canon, canonical)
    )
    return triples, canonical


def run_pipeline(
    spark: SparkSession,
    turns_raw: DataFrame,
    workdir: str,
    cfg: EngineConfig | None = None,
    input_fingerprint: str = "",
    resume: bool = True,
) -> PipelineResult:
    cfg = cfg or EngineConfig()
    man = Manifest(spark, workdir)
    stats: dict = {"skipped": [], "ran": []}

    def stage(name: str, parent_fp: str, build, store: bool = False) -> tuple[DataFrame, str]:
        """Run (or, on resume, reopen) one stage. ``store`` stages are
        triple stores: written by ``write_triples``, reopened by
        ``read_triples``, with per-bucket row counters in the manifest."""
        fp = Manifest.fingerprint(name, repr(cfg), parent_fp)
        out = man.output_path(name)
        read = (lambda: read_triples(spark, out)) if store else (lambda: spark.read.parquet(out))
        if resume and man.is_complete(name, fp):
            stats["skipped"].append(name)
            return read(), fp
        t0 = time.time()
        df = build()
        if store:
            write_triples(df, out, n_buckets=cfg.shuffle_partitions)
        else:
            df.write.mode("overwrite").parquet(out)
        result = read()
        if store:
            parts = {
                str(r["subj_bucket"]): r["cnt"]
                for r in result.groupBy("subj_bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
            }
            rows = sum(parts.values())
        else:
            parts = {}
            rows = result.count()
        man.record(name, fp, rows, time.time() - t0, parts)
        stats["ran"].append(name)
        return result, fp

    po = transcript_po()

    turns, fp_turns = stage(
        "turns", input_fingerprint,
        lambda: ingest(turns_raw, cfg.shuffle_partitions),
    )
    mentions, fp_mentions = stage(
        "mentions", fp_turns, lambda: extract_mentions(turns)
    )
    surfaces = distinct_surfaces(mentions).select("mention")
    edges, fp_edges = stage(
        "match_edges", fp_mentions,
        lambda: compute_match_edges(
            surfaces, cfg.match,
            vocab_driver_threshold=cfg.vocab_driver_threshold,
        ),
    )
    canonical, fp_canon = stage(
        "canonical", fp_edges,
        lambda: canonical_mapping(surfaces, edges, cfg),
    )
    triples, _fp_triples = stage(
        "triples", fp_canon,
        lambda: emit_transcript_triples(turns, po).unionByName(
            mention_triples(_join_canonical(mentions, canonical, cfg, None), canonical)
        ),
        store=True,
    )
    entities, _fp_ent = stage(
        "entities", fp_canon,
        lambda: entity_catalog(_join_canonical(mentions, canonical, cfg, None)),
    )

    stats["manifest"] = man.stages
    return PipelineResult(triples, entities, canonical, mentions, stats)
