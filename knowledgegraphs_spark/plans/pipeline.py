"""The end-to-end KG-construction pipeline (SURVEY.md §7 stage order).

    ingest → mentions → match edges → canonicalize → triples + entity catalog

The stage order is written once (:func:`_compose`) and driven by one of two
stage hooks, so the production job runs the plan the benchmark measures:
:func:`build_kg` takes each stage's lazy plan; :func:`run_pipeline`
(``jobs/build_kg.py --mode full``) writes each stage to parquet under the
workdir with a manifest entry (per-partition counters, wall time) so any
run resumes mid-pipeline. Stage outputs are the same IR boundaries the
reference persists as files between stages (``Config.java:258-268``). The
triples stage is written by ``write_triples`` (the one writer of the
subject-bucketed store layout) and reopened with ``read_triples``, so
constant-subject lookups on it prune to one bucket; the other stages are
written by ``write_parquet``, with the same column encoding as the store.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BASE_PREFIX, RDF_TYPE, EngineConfig
from ..functions import naming
from ..operators.canonicalize import canonical_mapping
from ..operators.matching import compute_match_edges
from ..operators.mentions import distinct_surfaces, extract_mentions
from ..operators.po_extraction import TURN_SPEC, transcript_po
from ..operators.skew import join_small_dim
from ..operators.triples import (
    class_uri,
    emit_transcript_triples,
    explode_triples,
    indiv_uri,
    read_triples,
    triple_struct,
    write_parquet,
    write_triples,
)
from ..sources.transcripts import ingest
from .manifest import Manifest

# stage → what its fingerprint chains from, so editing a stage invalidates
# exactly the stages downstream of it
_CHAINS_FROM = {
    "turns": "input", "mentions": "turns", "match_edges": "mentions",
    "canonical": "match_edges", "triples": "canonical", "entities": "canonical",
}


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
    # URIs hoisted into a pre-projection: inside one Generate expression
    # tree Spark does no subexpression elimination, so m_uri (3 struct
    # references) would be concat'd 3× per mention (see the emission
    # hoisting note in BENCH/BASELINE.md)
    turn = F.col("__uri_turn")
    m_uri = F.col("__uri_mention")
    e_uri = _entity_uri()
    per_mention = explode_triples(
        mentions_canon.select(
            "*",
            indiv_uri(TURN_SPEC.class_name, TURN_SPEC.table_id, TURN_SPEC.pks).alias("__uri_turn"),
            indiv_uri("Mention", 3, ["conv_id", "turn_idx", "kind", "pos"]).alias("__uri_mention"),
        ),
        F.array(
            triple_struct(turn, "has_mention", m_uri, None, False),
            triple_struct(m_uri, RDF_TYPE, class_uri("Mention"), None, False),
            triple_struct(m_uri, "has_surface_VALUE", F.col("mention"), "xsd:string", True),
            triple_struct(m_uri, "p_Mention_Entity", e_uri, None, False),
        ),
    )
    per_entity = explode_triples(
        canonical.select("canonical").dropDuplicates(),
        F.array(
            triple_struct(e_uri, RDF_TYPE, class_uri("Entity"), None, False),
            triple_struct(e_uri, "has_label_VALUE", F.col("canonical"), "xsd:string", True),
        ),
    )
    return per_mention.unionByName(per_entity)


def _entity_uri() -> Column:
    """``kg:Entity_<valid_name(canonical)>``: a pure function of the
    canonical surface, so every batch mints the same URI."""
    return F.concat(F.lit(f"{BASE_PREFIX}Entity_"), naming.valid_name_col(F.col("canonical")))


def entity_catalog(mentions_canon: DataFrame) -> DataFrame:
    """The entity-catalog dimension: one row per canonical entity with its
    usage statistics — the second materialized artifact next to the triple
    table (one hash aggregation over mentions; all counters combine
    map-side except the exact distinct counts, which stay exact because
    the catalog is vocabulary-scale, not mention-scale)."""
    return (
        mentions_canon.withColumn("entity_uri", _entity_uri())
        .groupBy("entity_uri", "canonical")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.size(F.collect_set("mention")).alias("n_surfaces"),
            F.countDistinct("conv_id").alias("n_conversations"),
            F.array_sort(F.collect_set("mention")).alias("surfaces"),
        )
    )


def _compose(turns_raw: DataFrame, cfg: EngineConfig, stage) -> tuple[DataFrame, ...]:
    """The stage order, written once. ``stage(name, build, store=False)``
    turns each stage's ``build`` (a plan over the frames earlier calls
    returned) into the frame later stages read. Returns (mentions,
    canonical, triples, entities)."""
    turns = stage("turns", lambda: ingest(turns_raw))
    po = transcript_po()
    mentions = stage("mentions", lambda: extract_mentions(turns))

    # the distinct surfaces feed every vocabulary-scale consumer: pinned and
    # counted once, on first use, so a run that reopens those stages never
    # computes them
    pinned: list[tuple[DataFrame, int]] = []

    def surfaces() -> tuple[DataFrame, int]:
        if not pinned:
            s = distinct_surfaces(mentions).select("mention").localCheckpoint(eager=True)
            pinned.append((s, s.count()))  # cheap: s is materialized
        return pinned[0]

    def match_edges() -> DataFrame:
        s, n = surfaces()
        return compute_match_edges(
            s, cfg.match, n_surfaces=n, vocab_driver_threshold=cfg.vocab_driver_threshold
        )

    edges = stage("match_edges", match_edges)

    def canonicalize() -> DataFrame:
        s, n = surfaces()
        return canonical_mapping(s, edges, cfg, n_surfaces=n)

    canonical = stage("canonical", canonicalize)

    @functools.cache
    def mentions_canon() -> DataFrame:
        """Mention rows joined to their canonical, once for both emission
        stages: broadcast when the map (one row per distinct surface) fits,
        else salted on the mention's natural key so head surfaces spread."""
        return join_small_dim(
            mentions, canonical.select("mention", "canonical"), "mention",
            salt_buckets=cfg.match.salt_buckets,
            salt_from=["conv_id", "turn_idx", "pos"],
            # the pinned count when a stage took it, else the join counts the map
            dim_count=pinned[0][1] if pinned else None,
        )

    triples = stage(
        "triples",
        lambda: emit_transcript_triples(turns, po).unionByName(
            mention_triples(mentions_canon(), canonical)
        ),
        store=True,
    )
    entities = stage("entities", lambda: entity_catalog(mentions_canon()))
    return mentions, canonical, triples, entities


def build_kg_triples(
    spark: SparkSession, turns_raw: DataFrame, cfg: EngineConfig | None = None
) -> DataFrame:
    """Pure (no-IO) composition of the full pipeline: structural + mention +
    entity triples. Used by ``__spark_entry__.entry`` and ad-hoc callers; the
    manifest/resume path is :func:`run_pipeline`."""
    return build_kg(spark, turns_raw, cfg)[0]


def _plan(name: str, build, store: bool = False) -> DataFrame:
    """The lazy stage hook: each stage is its plan. The canonical map feeds
    both emission branches: pinned, or each re-executes the whole matching
    DAG (blocking + UDF + CC)."""
    return build().localCheckpoint(eager=True) if name == "canonical" else build()


def build_kg(
    spark: SparkSession, turns_raw: DataFrame, cfg: EngineConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """:func:`build_kg_triples` plus the (mention, canonical) map — the state
    an incremental caller (``plans/incremental.py``) carries between batches."""
    _mentions, canonical, triples, _entities = _compose(turns_raw, cfg or EngineConfig(), _plan)
    return triples, canonical


def build_entity_catalog(
    spark: SparkSession, turns_raw: DataFrame, cfg: EngineConfig | None = None
) -> DataFrame:
    """The entity catalog (:func:`entity_catalog`) of the same lazy plan
    :func:`build_kg` composes, so a catalog caller takes the plan's own
    mention⋈canonical join instead of deriving the mentions again."""
    return _compose(turns_raw, cfg or EngineConfig(), _plan)[3]


def run_pipeline(
    spark: SparkSession,
    turns_raw: DataFrame,
    workdir: str,
    cfg: EngineConfig | None = None,
    input_fingerprint: str = "",
    resume: bool = True,
) -> PipelineResult:
    """:func:`build_kg`'s stages, each one durable: written under
    ``workdir``, read back and recorded in its manifest; on resume a
    completed stage is reopened instead of rebuilt."""
    cfg = cfg or EngineConfig()
    man = Manifest(spark, workdir)
    stats: dict = {"skipped": [], "ran": []}
    fps = {"input": input_fingerprint}

    def stage(name: str, build, store: bool = False) -> DataFrame:
        """Run (or, on resume, reopen) one stage. ``store`` stages are
        triple stores: written by ``write_triples``, reopened by
        ``read_triples``, with per-bucket row counters in the manifest."""
        fp = fps[name] = Manifest.fingerprint(name, repr(cfg), fps[_CHAINS_FROM[name]])
        out = man.output_path(name)
        read = (lambda: read_triples(spark, out)) if store else (lambda: spark.read.parquet(out))
        if resume and man.is_complete(name, fp):
            stats["skipped"].append(name)
            return read()
        t0 = time.time()
        if store:
            write_triples(build(), out, n_buckets=cfg.shuffle_partitions)
            result = read()
            parts = {
                str(r["subj_bucket"]): r["cnt"]
                for r in result.groupBy("subj_bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
            }
            rows = sum(parts.values())
        else:
            write_parquet(build(), out)
            result = read()
            parts, rows = {}, result.count()
        man.record(name, fp, rows, time.time() - t0, parts)
        stats["ran"].append(name)
        return result

    mentions, canonical, triples, entities = _compose(turns_raw, cfg, stage)
    stats["manifest"] = man.stages
    return PipelineResult(triples, entities, canonical, mentions, stats)
