"""Transcript input: schema, deterministic synthesis, ingest/normalize stage.

Input contract (BASELINE.json input_hint): table of multi-turn transcripts
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``; stable ordering key ``(conv_id, turn_idx)``; per-turn text
equality must survive the pipeline.

Two deterministic sources, no external data:
* :func:`synthesize_transcripts` — seeded generator following FIXTURES.md §1
  (near-duplicate entity surface forms, null sentinels, 80 % head-skewed
  tool column) used by pytest and the scaling bench;
* :func:`transcripts_from_documents` — pure-function derivation from the
  driver's ``documents.parquet`` (sentence-split → turns), used by
  ``__spark_entry__.entry`` so the smoke check reads the provided test data.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.nulls import normalize_nulls
from ..session import driver_frame

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# entity surface forms with deliberate near-duplicates (exercise matching +
# canonicalization) and abbreviations (FIXTURES.md §1)
PERSON_FORMS = [
    ["John Smith", "J. Smith", "Jon Smith", "john smith"],
    ["Maria Garcia", "M. Garcia", "Maria  Garcia"],
    ["Wei Chen", "W. Chen"],
    ["Acme Corporation", "Acme Corp", "ACME Corp."],
    ["Globex Industries", "Globex Ind.", "globex industries"],
]
ABBREVS = ["CAD", "acct_no", "SSN", "KYC", "APR"]
# flat deterministic surface list used to decorate driver test data with
# entity mentions (selection by pure integer arithmetic — reproducible in
# any engine, no hash functions needed)
ENTITY_SURFACES = [s for grp in PERSON_FORMS for s in grp] + ABBREVS
TOOLS = ["search_web", "search_web", "search_web", "search_web", "calculator", "db_query", "code_exec"]
ROLES = ["user", "assistant", "tool"]
NULLISH = ["", "-", "none", "null"]

_TEMPLATES = [
    "Please look up {e} regarding the {a} request.",
    "I found records for {e}; the {a} field is pending.",
    "Contacted {e} about account verification and {a}.",
    "The report from {e} mentions {a} twice.",
    "{e} confirmed the transfer. Flag {a} for review.",
]


def synthesize_rows(
    n_conversations: int, avg_turns: int = 10, seed: int = 42
) -> list[tuple]:
    """Deterministic transcript rows (pure Python; driver-side for tests)."""
    rng = random.Random(seed)
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows: list[tuple] = []
    for i in range(n_conversations):
        conv_id = f"conv_{i:08d}"
        n_turns = max(2, int(rng.gauss(avg_turns, avg_turns / 4)))
        for k in range(n_turns):
            role = ROLES[k % 3]
            if rng.random() < 0.03:
                text = rng.choice(NULLISH)
            else:
                group = rng.choice(PERSON_FORMS)
                ent = group[rng.randrange(len(group))]
                text = rng.choice(_TEMPLATES).format(e=ent, a=rng.choice(ABBREVS))
            tool = rng.choice(TOOLS) if role == "tool" else (rng.choice(NULLISH) if rng.random() < 0.05 else None)
            ts = base + dt.timedelta(minutes=i % 1440, seconds=17 * k)
            rows.append((conv_id, k, role, text, tool, ts))
    return rows


def synthesize_transcripts(
    spark: SparkSession, n_conversations: int, avg_turns: int = 10, seed: int = 42,
    n_partitions: int | None = None,
) -> DataFrame:
    rows = synthesize_rows(n_conversations, avg_turns, seed)
    df = driver_frame(spark, rows, TRANSCRIPT_SCHEMA)
    if n_partitions:
        df = df.repartition(n_partitions, "conv_id")
    return df


def synthesize_transcripts_distributed(
    spark: SparkSession,
    n_conversations: int,
    avg_turns: int = 10,
    n_partitions: int = 64,
) -> DataFrame:
    """Fully JVM-side synthetic transcripts for benchmarks: ``spark.range``
    + deterministic hash arithmetic, no driver-side row materialization.
    Scales to any corpus size (this is how the 10^12-turn input would be
    mocked on a cluster). Same FIXTURES.md §1 shape: near-dup surfaces, null
    sentinels, 80 %-head-skewed tool column."""
    conv = spark.range(n_conversations).select(
        F.format_string("conv_%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("cid"),
        (4 + F.pmod(F.xxhash64("id"), F.lit(avg_turns * 2 - 7))).cast("int").alias("n_turns"),
    )
    turns = conv.select(
        "conv_id", "cid",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    h = F.xxhash64("cid", "turn_idx")
    role = F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), F.col("turn_idx") % 3 + 1)
    surface = F.element_at(F.array(*[F.lit(s) for s in ENTITY_SURFACES]), F.pmod(h, F.lit(len(ENTITY_SURFACES))).cast("int") + 1)
    template = F.pmod(h, F.lit(len(_TEMPLATES))).cast("int")
    abbrev = F.element_at(F.array(*[F.lit(a) for a in ABBREVS]), F.pmod(h, F.lit(len(ABBREVS))).cast("int") + 1)
    sentinel = F.element_at(F.array(*[F.lit(x) for x in NULLISH]), F.pmod(h, F.lit(len(NULLISH))).cast("int") + 1)
    prefix = F.coalesce(
        *[F.when(template == i, F.lit(t.split("{e}")[0])) for i, t in enumerate(_TEMPLATES)]
    )
    suffix = F.coalesce(
        *[
            F.when(template == i, F.lit(t.split("{e}")[1].replace("{a}", "\x00")))
            for i, t in enumerate(_TEMPLATES)
        ]
    )
    body = F.replace(F.concat(prefix, surface, suffix), F.lit("\x00"), abbrev)
    text = F.when(F.pmod(h, F.lit(100)) < 3, sentinel).otherwise(body)
    tool = F.when(
        role == "tool",
        F.element_at(F.array(*[F.lit(t) for t in TOOLS]), F.pmod(h, F.lit(len(TOOLS))).cast("int") + 1),
    ).otherwise(F.lit(None).cast("string"))
    base_ts = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    return (
        turns.select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            role.alias("role"),
            text.alias("text"),
            tool.alias("tool"),
            (base_ts + F.make_interval(mins=F.col("cid") % 1440, secs=F.col("turn_idx") * 17)).alias("ts"),
        )
        .repartition(n_partitions, "conv_id")
    )


def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a transcript table from ``documents.parquet`` — a pure function
    of the input (sentence split → cycling roles), fully JVM-side."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sentences = F.split(F.col("text"), r"(?<=[.!?])\s+")
    turns = docs.select(
        F.format_string("conv_%08d", F.col("doc_id")).alias("conv_id"),
        F.posexplode(sentences).alias("turn_idx", "text"),
        F.col("source"),
    )
    role = F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), F.col("turn_idx") % 3 + 1)
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        "text",
        F.when(role == "tool", F.col("source")).otherwise(F.lit(None).cast("string")).alias("tool"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(secs=F.col("turn_idx") * 17)).alias("ts"),
    )


def read_transcript_stream(
    spark: SparkSession, input_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """A file-source stream of the transcript parquet files under
    ``input_path`` (a file source reads every field as nullable)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def ingest(df: DataFrame) -> DataFrame:
    """Stage 1 — enforce schema and normalize null sentinels (F1). No
    repartition: every op up to triple emission is per-row, so a conv_id
    shuffle before the 15× explode only lets AQE coalesce away parallelism
    (BENCH/BASELINE.md); grouped per-conversation stages repartition
    themselves when they need co-location.

    The reference appends a synthetic row-position PK
    (``TabularFilesReader.java:394-401``); for transcripts the natural key
    ``(conv_id, turn_idx)`` already IS the stable key, so no synthetic id —
    and never ``monotonically_increasing_id`` (unstable across reruns).
    """
    out = df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("role").cast("string").alias("role"),
        F.col("text").cast("string").alias("text"),
        F.col("tool").cast("string").alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    return normalize_nulls(out, ["role", "text", "tool"])
