"""The workloads. Each one builds its starting state in ``setup``
from the seed, then runs operations one at a time (a closed loop with one
client) until the run's measuring time is used up. Output checks run
outside the timed part of each operation and turn a wrong result into a
failed operation."""

from __future__ import annotations

import os
import random
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from knowledgegraphs_spark.config import EngineConfig
from knowledgegraphs_spark.functions.xxh64_twin import xxh64
from knowledgegraphs_spark.operators.sparql import sparql_query
from knowledgegraphs_spark.operators.sparql_update import sparql_update
from knowledgegraphs_spark.operators.triples import read_triples, write_triples
from knowledgegraphs_spark.plans import pipeline
from knowledgegraphs_spark.streaming import maintenance

from . import gen
from .stats import median


@dataclass
class Op:
    kind: str
    seconds: float
    items: int
    ok: bool = True
    sample: bool = True  # an op_cpu_s sample; compaction counts only in throughput
    traced: bool = False
    cpu_s: float = 0.0  # CPU seconds of the process tree during the operation
    info: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def bucket_file_counts(store: str) -> list[int]:
    return [
        sum(1 for f in os.listdir(os.path.join(store, d)) if f.endswith(".parquet"))
        for d in os.listdir(store) if d.startswith("subj_bucket=")
    ]


def spark_bucket(subj: str, n_buckets: int) -> int:
    """``pmod(xxhash64(subj), n)`` exactly as Spark computes it."""
    h = xxh64(subj.encode("utf-8"), 42)
    return (h - (1 << 64) if h >= 1 << 63 else h) % n_buckets


class Workload:
    name = ""
    why = ""
    cycle = 1  # a run measures whole cycles of this many operations

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        # requests an output check made; a traced run adds them to the
        # per-layer figures, never to the end-to-end ones
        self.check_ops: list[Op] = []
        # (driver-blocking time of the build_kg call, whole build with its
        # writes) of every untraced build
        self.builds: list[tuple[float, float]] = []

    def setup(self) -> None:
        """Build the starting state from the seed under ``work``; a repeat
        overwrites it."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Work before timing that is not part of the starting state: the
        first run of each plan pays JIT compilation and code generation."""

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def finish(self, ops: list[Op]) -> int:
        """Output checks that need the final state; returns how many
        operations they fail."""
        return 0

    def store_bytes_per_item(self) -> float:
        raise NotImplementedError

    def layer_extras(self, ops: list[Op]) -> dict:
        return {}

    def build_share(self) -> dict:
        """``plans.pipeline.eager_s`` and ``driver_share`` (eager part over
        the whole build) over this run's untraced builds."""
        if not self.builds:
            return {"plans.pipeline.eager_s": 0.0, "plans.pipeline.driver_share": 0.0}
        return {
            "plans.pipeline.eager_s": median([e for e, _t in self.builds]),
            "plans.pipeline.driver_share": median([e / t for e, t in self.builds]),
        }

    def _timed_build(self, turns, cfg=None):
        """``build_kg`` with the time of the call itself — the part that
        blocks the driver (eager checkpoints, driver-side matching)."""
        t0 = time.perf_counter()
        triples, canonical = pipeline.build_kg(self.spark, turns, cfg)
        return triples, canonical, time.perf_counter() - t0


class BuildHead(Workload):
    """Full batch build: parquet read → ``build_kg_triples`` →
    ``write_triples``, the same input every operation."""

    name = "build-head"
    why = gen.HEAD_WHY
    cycle = 2  # two warm builds; a third costs more run time than it steadies
    N_CONV = 2000
    N_BUCKETS = 32  # write_triples' default layout
    SAMPLE_CONV = 12

    def setup(self) -> None:
        self.input = os.path.join(self.work, "turns")
        self.store = os.path.join(self.work, "store")
        gen.head_corpus(self.spark, self.N_CONV, self.seed).write.mode("overwrite").parquet(self.input)
        self.n_turns = self.spark.read.parquet(self.input).count()

    def warm_up(self) -> None:
        self._build()

    def _build(self) -> float:
        t0 = time.perf_counter()
        turns = self.spark.read.parquet(self.input)
        triples, _canonical, eager = self._timed_build(turns)
        with self.tracer.span("operators.triples.write"):
            write_triples(triples, self.store, n_buckets=self.N_BUCKETS)
        seconds = time.perf_counter() - t0
        if not self.tracer.active:
            self.builds.append((eager, seconds))
        return seconds

    def op(self, i: int) -> Op:
        with self.tracer.span("workload.build"):
            seconds = self._build()
        return Op("build", seconds, self.n_turns)

    def finish(self, ops: list[Op]) -> int:
        from tests.oracle_kg import expected_near_dup_groups, expected_structural_triples
        from knowledgegraphs_spark.operators.mentions import extract_mentions_python

        store = read_triples(self.spark, self.store).select("subj", "pred", "obj")
        rows = [tuple(r) for r in self.spark.read.parquet(self.input).collect()]
        rng = random.Random(self.seed)
        convs = sorted({r[0] for r in rows})
        sample = set(rng.sample(convs, self.SAMPLE_CONV))
        sample_rows = [r for r in rows if r[0] in sample]
        expected = expected_structural_triples(sample_rows)
        subjects = sorted({s for s, _p, _o in expected})
        got = {
            tuple(r)
            for r in store.filter(F.col("subj").isin(subjects) & (F.col("pred") != "has_mention")).collect()
        }
        mentions, surfaces = 0, set()
        for r in rows:
            found = extract_mentions_python(r[3]) if r[3] is not None else []
            mentions += len(found)
            surfaces.update(m for m, _k, _p in found)
        # the null-sentinel texts ("-", "none", …) carry no mentions either way
        n_entities = len(set(expected_near_dup_groups(sorted(surfaces)).values()))
        counts = {
            r["obj"]: r["count"]
            for r in store.filter("pred = 'rdf:type' AND obj IN ('kg:Mention', 'kg:Entity')")
            .groupBy("obj").count().collect()
        }
        self.n_triples = store.count()
        ok = (
            got == expected
            and counts.get("kg:Mention", 0) == mentions
            and counts.get("kg:Entity", 0) == n_entities
        )
        if not ok:
            print(f"perfbench: build-head output check failed: structural {len(got & expected)}/"
                  f"{len(expected)} (got {len(got)}), mentions {counts.get('kg:Mention')} vs "
                  f"{mentions}, entities {counts.get('kg:Entity')} vs {n_entities}")
        # the SPARQL requests run where they are measured, in the traced run
        # (the tracer is active during a traced run's checks)
        queries = self._query_checks(store, sorted(sample), expected) if self.tracer.active else []
        bad = [k for k, good in queries if not good]
        if bad:
            print(f"perfbench: build-head store checks through SPARQL failed: {bad}")
        return 0 if ok and not bad else sum(1 for o in ops if o.kind == "build")

    def _query_checks(self, store, sample: list[str], expected: set) -> list[tuple[str, bool]]:
        """The written store read and updated through the engine's SPARQL
        API, one request of each kind, each against the oracle or a
        DataFrame of the same store: a constant-subject point star, a
        chain, a GROUP BY aggregate, an ``INSERT DATA`` and the
        constant-subject ``DELETE WHERE`` that takes it back out. These are
        the operations a query service runs on the layout the build wrote;
        a traced run spans them (``operators.triples.read``,
        ``operators.sparql.*``, ``operators.sparql_update.*``)."""
        conv = sample[0]
        subj = f"kg:Turn_2_{conv}_0"
        point = Counter(
            (r["pred"], r["obj"]) for r in store.filter(F.col("subj") == subj).collect()
        )
        conv_uri = f"kg:Conversation_1_{conv}"
        turns = {s for s, p, o in expected if p == "p_Turn_Conversation" and o == conv_uri}
        attrs = {o: s for s, p, o in expected if p == "has_text" and s in turns}
        chain = {(attrs[s], o) for s, p, o in expected if p == "has_text_VALUE" and s in attrs}
        links = {
            r["obj"]: r["count"]
            for r in store.filter("pred = 'p_Mention_Entity'").groupBy("obj").count().collect()
        }
        note = f"kg:Check_{self.seed}"
        bucket = [spark_bucket(note, self.N_BUCKETS)]
        checks = [
            ("point", f"SELECT ?p ?o WHERE {{ {subj} ?p ?o . }}",
             lambda r: Counter((x["p"], x["o"]) for x in r) == point),
            ("chain", f"SELECT ?t ?v WHERE {{ ?t <p_Turn_Conversation> {conv_uri} . "
                      "?t <has_text> ?a . ?a <has_text_VALUE> ?v . }",
             lambda r: {(x["t"], x["v"]) for x in r} == chain and len(r) == len(chain)),
            ("agg", "SELECT ?e (COUNT(?m) AS ?n) WHERE { ?m <p_Mention_Entity> ?e . } GROUP BY ?e",
             lambda r: {x["e"]: int(x["n"]) for x in r} == links),
            ("insert", f'INSERT DATA {{ {note} <has_note_VALUE> "check" . {note} <about> {conv_uri} . }}',
             lambda r: (r["inserted"], r["deleted"], r["buckets_appended"], r["buckets_rewritten"])
             == (2, 0, bucket, [])),
            ("delete", f"DELETE WHERE {{ {note} ?p ?o . }}",
             lambda r: (r["inserted"], r["deleted"], r["buckets_appended"], r["buckets_rewritten"])
             == (0, 2, [], bucket)),
        ]
        out = []
        for kind, text, good in checks:
            self.tracer.trace_id = f"check-{kind}"
            seconds, result = self._request(kind, text)
            ok = good(result)
            info = {"trace_id": self.tracer.trace_id}
            if kind in UPDATE_KINDS:
                info.update(rows_changed=result["deleted"] + result["inserted"],
                            buckets_rewritten=len(result["buckets_rewritten"]),
                            buckets_appended=len(result["buckets_appended"]))
            self.check_ops.append(
                Op(kind, seconds, 0, ok=ok, sample=False, traced=self.tracer.active, info=info)
            )
            out.append((kind, ok))
        return out

    def _request(self, kind: str, text: str):
        with self.tracer.span("workload.request", kind=kind):
            t0 = time.perf_counter()
            if kind in UPDATE_KINDS:
                with self.tracer.span("operators.sparql_update.op", kind=kind):
                    result = sparql_update(self.spark, self.store, text)
            else:
                with self.tracer.span("operators.triples.read"):
                    frame = read_triples(self.spark, self.store)
                with self.tracer.span("operators.sparql.compile", kind=kind):
                    frame = sparql_query(frame, text)
                with self.tracer.span("operators.sparql.exec", kind=kind) as sp:
                    result = frame.collect()
                if sp is not None:
                    sp.rows = len(result)
            return time.perf_counter() - t0, result

    def store_bytes_per_item(self) -> float:
        return dir_bytes(self.store) / self.n_turns

    def layer_extras(self, ops: list[Op]) -> dict:
        files = bucket_file_counts(self.store)
        return {
            "operators.triples.files_per_bucket": sum(files) / len(files),
            "operators.triples.bytes_per_triple": dir_bytes(self.store) / self.n_triples,
        }


class MaintainLongtail(Workload):
    """Micro-batches through ``maintenance_batch_fn`` against a store the
    engine's own build bootstrapped; ``compact_store`` every few batches."""

    name = "maintain-longtail"
    why = gen.LONGTAIL_WHY
    cycle = 3  # two batches, then a compaction
    BOOT_CONV = 1600
    BOOT_FAMILIES = 1600
    BATCHES = 10
    CONV_PER_BATCH = 100
    NEW_FAMILIES = 50
    COMPACT_EVERY = 2
    # The batches' vocabulary threshold sits below the bootstrap vocabulary
    # (≈3 spellings × 1600 families) and above any batch's novel surfaces:
    # novel↔novel matching stays on the driver, the cross match into the
    # prior catalog takes the distributed blocking join. The bootstrap
    # build keeps the engine's default threshold (its driver-side path,
    # same output, a fraction of the set-up time).
    CFG = EngineConfig(vocab_driver_threshold=3500, shuffle_partitions=8)
    BOOT_CFG = EngineConfig(shuffle_partitions=8)

    def setup(self) -> None:
        self.store = os.path.join(self.work, "store")
        boot_path = os.path.join(self.work, "boot")
        self.batches = os.path.join(self.work, "batches")
        gen.longtail_bootstrap(
            self.spark, self.BOOT_CONV, self.BOOT_FAMILIES, self.seed
        ).write.mode("overwrite").parquet(boot_path)
        gen.longtail_batches(
            self.spark, self.BATCHES, self.CONV_PER_BATCH, self.BOOT_FAMILIES,
            self.NEW_FAMILIES, self.seed,
        ).write.mode("overwrite").partitionBy("batch").parquet(self.batches)
        boot = self.spark.read.parquet(boot_path)
        t0 = time.perf_counter()
        triples, canonical, eager = self._timed_build(boot.drop("family"), self.BOOT_CFG)
        canonical.write.mode("overwrite").parquet(f"{self.store}/catalog_base")
        triples.write.mode("overwrite").parquet(f"{self.store}/triples_base")
        self.builds.append((eager, time.perf_counter() - t0))
        self.families = {r[0] for r in boot.select("family").distinct().collect()}
        self.turns_done = boot.count()
        per_batch = self.spark.read.parquet(self.batches).groupBy("batch").agg(
            F.count(F.lit(1)).alias("turns"), F.collect_set("family").alias("families")
        ).collect()
        self.batch_turns = {r["batch"]: r["turns"] for r in per_batch}
        self.batch_families = {r["batch"]: set(r["families"]) for r in per_batch}
        self.process = maintenance.maintenance_batch_fn(self.store, self.CFG)
        self.next_batch = 0
        self.since_compact = 0

    def warm_up(self) -> None:
        # batch 0 and a compaction: the incremental plan's first JIT and
        # code generation and the Python workers' start (the first batch
        # takes about twice a warm one), and an empty delta area, so every
        # measured cycle starts from the same shape
        self._batch()
        maintenance.compact_store(self.spark, self.store)
        self.since_compact = 0

    def _batch(self) -> tuple[float, int]:
        b = self.next_batch
        frame = self.spark.read.parquet(self.batches).filter(F.col("batch") == b).drop("batch", "family")
        t0 = time.perf_counter()
        with self.tracer.span("streaming.maintenance.batch"):
            self.process(frame, b)
        seconds = time.perf_counter() - t0
        self.families |= self.batch_families[b]
        self.turns_done += self.batch_turns[b]
        self.next_batch += 1
        self.since_compact += 1
        return seconds, self.batch_turns[b]

    def _delta_dirs(self) -> int:
        return sum(
            len(maintenance._delta_batch_ids(self.store, sub)) for sub in ("triples", "catalog_delta")
        )

    def op(self, i: int) -> Op:
        if self.since_compact >= self.COMPACT_EVERY:
            t0 = time.perf_counter()
            with self.tracer.span("streaming.maintenance.compact"):
                maintenance.compact_store(self.spark, self.store)
            seconds = time.perf_counter() - t0
            self.since_compact = 0
            rewritten = dir_bytes(f"{self.store}/catalog_base") + dir_bytes(f"{self.store}/triples_base")
            return Op("compact", seconds, 0, sample=False, info={"compact_bytes": rewritten})
        if self.next_batch >= self.BATCHES:
            raise RuntimeError("maintain-longtail ran out of generated batches")
        delta_dirs = self._delta_dirs()
        seconds, items = self._batch()
        return Op("batch", seconds, items, info={"delta_dirs": delta_dirs})

    def finish(self, ops: list[Op]) -> int:
        cat = maintenance.read_catalog(self.spark, self.store).agg(
            F.countDistinct("canonical").alias("entities"),
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("mention").alias("surfaces"),
        ).first()
        triples = maintenance.read_maintained_triples(self.spark, self.store).select("subj", "pred", "obj")
        is_decl = (F.col("pred") == "rdf:type") & (F.col("obj") == "kg:Entity")
        is_mention = (F.col("pred") == "rdf:type") & (F.col("obj") == "kg:Mention")
        is_link = F.col("pred") == "p_Mention_Entity"
        tally = triples.agg(
            F.count(F.when(is_decl, 1)).alias("declared"),
            F.count(F.when(is_mention, 1)).alias("mentions"),
            F.count(F.when(is_link, 1)).alias("links"),
        ).first()
        declared = triples.filter(is_decl).select(F.col("subj").alias("obj"))
        resolved_once = (
            triples.filter(is_link).join(declared, "obj", "left_semi")
            .groupBy("subj").count().filter("count = 1").count()
        )
        n_entities, n_declared, n_mentions = cat["entities"], tally["declared"], tally["mentions"]
        ok = (
            n_entities == len(self.families)
            and n_declared == len(self.families)
            and cat["rows"] == cat["surfaces"]
            and n_mentions == self.turns_done
            and resolved_once == n_mentions
            and tally["links"] == n_mentions
        )
        if not ok:
            print(f"perfbench: maintain-longtail output check failed: entities {n_entities} / "
                  f"declared {n_declared} vs families {len(self.families)}, mentions {n_mentions} "
                  f"vs turns {self.turns_done}, resolved once {resolved_once}")
        return 0 if ok else sum(1 for o in ops if o.kind == "batch")

    def store_bytes_per_item(self) -> float:
        return dir_bytes(self.store) / self.turns_done

    def layer_extras(self, ops: list[Op]) -> dict:
        batches = [o for o in ops if o.kind == "batch"]
        compacts = [o for o in ops if o.kind == "compact"]
        return {
            "streaming.maintenance.delta_dirs": median([o.info["delta_dirs"] for o in batches]) if batches else 0,
            "streaming.maintenance.compact_mb": (
                median([o.info["compact_bytes"] for o in compacts]) / 1e6 if compacts else 0
            ),
        }


UPDATE_KINDS = ("insert", "delete")
WORKLOADS = {w.name: w for w in (BuildHead, MaintainLongtail)}
