"""Seeded input generators, one per workload.

Every generator takes the seed as an argument and is a pure function of
(seed, sizes): the same seed gives byte-identical parquet inputs. All of
them run JVM-side (``spark.range`` + hash arithmetic), so generation cost
stays small next to the measured work. The engine sees only the parquet
files written here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledgegraphs_spark.sources import transcripts as tr

# Why build-head: the nightly batch job and the BASELINE turns/s contract.
# The recipe of ``synthesize_transcripts_distributed`` (≈24 distinct
# surfaces, 80 %-head-skewed tool column) keeps matching and
# canonicalization on the driver in milliseconds, so turn-scale layers
# (ingest, mention extraction, emission, the bucketed write) do nearly all
# the work. A matching change predicts no change here.
HEAD_WHY = "few distinct surfaces, so turn-scale emission and writes dominate"

# Why maintain-longtail: the closed-loop micro-batch job. The bootstrap
# vocabulary of planted surface families sits above the engine's
# vocabulary threshold, so ``cross_match_edges`` takes the distributed
# blocking join over the prior catalog on every batch; batches mix known
# families (attach) with new ones (mint), and the growing delta dirs plus
# periodic compaction exercise the store's maintenance cycle.
LONGTAIL_WHY = "large surface vocabulary, so entity resolution and the store cycle dominate"



def _seeded_hash(seed: int, *cols: str) -> Column:
    return F.xxhash64(F.lit(seed), *[F.col(c) for c in cols])


def _conversations(spark: SparkSession, n_conv: int, seed: int, prefix: str) -> DataFrame:
    """(conv_id, cid, turn_idx) skeleton: 4 to 16 dense turns, 10 on average
    (the turn-count rule of ``synthesize_transcripts_distributed``)."""
    conv = spark.range(n_conv).select(
        F.format_string(f"{prefix}_%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("cid"),
        (4 + F.pmod(_seeded_hash(seed, "id"), F.lit(13))).cast("int").alias("n_turns"),
    )
    return conv.select(
        "conv_id", "cid", F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("t"),
    ).select("conv_id", "cid", F.col("t").cast("int").alias("turn_idx"))


def _pick(values: list[str], h: Column) -> Column:
    return F.element_at(F.array(*[F.lit(v) for v in values]), F.pmod(h, F.lit(len(values))).cast("int") + 1)


def _rest_of_turn(
    turns: DataFrame, text: Column, seed: int, extra: tuple[str, ...] = ()
) -> DataFrame:
    h = _seeded_hash(seed, "cid", "turn_idx")
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), F.col("turn_idx") % 3 + 1
    )
    tool = F.when(role == "tool", _pick(tr.TOOLS, h)).otherwise(F.lit(None).cast("string"))
    base_ts = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    return turns.select(
        "conv_id",
        "turn_idx",
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        (base_ts + F.make_interval(mins=F.col("cid") % 1440, secs=F.col("turn_idx") * 17)).alias("ts"),
        *extra,
    )


def head_corpus(spark: SparkSession, n_conv: int, seed: int, n_partitions: int = 8) -> DataFrame:
    """The ``synthesize_transcripts_distributed`` recipe with the seed mixed
    into every hash: near-dup person/org surfaces, ALL-CAPS abbreviations,
    3 % null-sentinel texts, the 80 %-head tool column."""
    turns = _conversations(spark, n_conv, seed, "conv")
    h = _seeded_hash(seed, "cid", "turn_idx")
    templates = tr._TEMPLATES
    t = F.pmod(h, F.lit(len(templates))).cast("int")
    surface = _pick(tr.ENTITY_SURFACES, F.xxhash64(h))
    abbrev = _pick(tr.ABBREVS, F.xxhash64(h, F.lit(1)))
    body = F.coalesce(*[
        F.when(t == i, F.concat(
            F.lit(tpl.split("{e}")[0]), surface,
            F.replace(F.lit(tpl.split("{e}")[1]), F.lit("{a}"), abbrev),
        ))
        for i, tpl in enumerate(templates)
    ])
    text = F.when(F.pmod(h, F.lit(100)) < 3, _pick(tr.NULLISH, h)).otherwise(body)
    return _rest_of_turn(turns, text, seed).repartition(n_partitions, "conv_id")


# -- planted surface families (maintain-longtail) ---------------------------
# After the recipe of tests/test_distributed_path_e2e.py, with
# family-private tokens: "Entity<12 md5 letters> <6 md5 letters>" and three
# spellings of it. The variants of one family are near-duplicates and share
# the id token; two families share no token, so blocking never pairs them
# and they can never merge. (A shared variant word such as "Inca" would put
# every family into one blocking bucket until its document frequency passes
# the engine's pruning cap, and the driver-side matcher would then compare
# all pairs.) The entity count is exactly the number of families present.
BOOT_VARIANTS = (0, 1, 2)  # the bootstrap sees these spellings
ATTACH_VARIANT = 3         # only batches carry this one, so it attaches


def family_surface(fam: Column, variant: Column, seed: int) -> Column:
    digest = F.translate(
        F.md5(F.concat_ws(":", F.lit(str(seed)), fam.cast("string"))),
        "0123456789", "qrstuvwxyz",
    )
    head = F.concat(F.lit("Entity"), F.substring(digest, 1, 12))
    word = F.initcap(F.substring(digest, 13, 6))
    return (
        F.when(variant == 0, F.concat(head, F.lit(" "), word))
        .when(variant == 1, F.concat(head, F.lit("  "), word))
        .when(variant == 2, F.concat(head, F.lit(" "), F.substring(word, 1, 1), F.lit(".")))
        .otherwise(F.concat(head, F.lit(" "), word, F.lit("s")))
    )


def _planted_text(surface: Column) -> Column:
    return F.concat(F.lit("Please contact "), surface, F.lit(" about the review."))


def longtail_bootstrap(
    spark: SparkSession, n_conv: int, n_families: int, seed: int, n_partitions: int = 8
) -> DataFrame:
    """Bootstrap corpus: families ``[0, n_families)``, variants a–c only."""
    turns = _conversations(spark, n_conv, seed, "boot")
    h = _seeded_hash(seed, "cid", "turn_idx")
    turns = turns.withColumn("family", F.pmod(h, F.lit(n_families)))
    variant = F.pmod(F.xxhash64(h), F.lit(len(BOOT_VARIANTS)))
    text = _planted_text(family_surface(F.col("family"), variant, seed))
    return _rest_of_turn(turns, text, seed, extra=("family",)).repartition(n_partitions, "conv_id")


def longtail_batches(
    spark: SparkSession, n_batches: int, conv_per_batch: int, n_boot_families: int,
    new_families_per_batch: int, seed: int,
) -> DataFrame:
    """All micro-batches in one frame with a ``batch`` column. Conversations
    are disjoint from the bootstrap and from each other. Per turn: 60 % a
    known family in a bootstrap variant (reuse), 15 % a known family in the
    unseen variant (attach), 25 % one of the batch's new families (mint)."""
    turns = _conversations(spark, n_batches * conv_per_batch, seed, "live")
    h = _seeded_hash(seed, "cid", "turn_idx")
    batch = (F.col("cid") / conv_per_batch).cast("int")
    roll = F.pmod(F.xxhash64(h, F.lit(2)), F.lit(100))
    known = F.pmod(h, F.lit(n_boot_families))
    new = n_boot_families + batch * new_families_per_batch + F.pmod(h, F.lit(new_families_per_batch))
    turns = turns.withColumn("batch", batch).withColumn(
        "family", F.when(roll < 75, known).otherwise(new)
    )
    variant = (
        F.when(roll < 60, F.pmod(F.xxhash64(h), F.lit(len(BOOT_VARIANTS))))
        .when(roll < 75, F.lit(ATTACH_VARIANT))
        .otherwise(F.pmod(F.xxhash64(h), F.lit(len(BOOT_VARIANTS) + 1)))
    )
    text = _planted_text(family_surface(F.col("family"), variant, seed))
    return _rest_of_turn(turns, text, seed, extra=("batch", "family"))
