"""Engine configuration: thresholds, null model, URI scheme constants.

Mirrors the reference's configuration surface (reference
``A_Coordinator/config/Config.java:62-120,274-328`` and
``DeepOnto/src/deeponto/align/bertmap/default_config.yaml``) — the values
here are the semantic contract the tests pin down.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Null model — the reference treats this literal set (case-insensitively) as
# NULL everywhere (reference ``TabularFilesReader.java:34``,
# ``InsertDataBase.java:190-192``, ``util/JsonUtil.java:76-89``).
# ---------------------------------------------------------------------------
NULL_SENTINELS: tuple[str, ...] = ("none", "null", "", " ", "-")

# ---------------------------------------------------------------------------
# URI / naming scheme (reference ``InsertDataRDB.java:116-132`` and
# ``util/Annotations.java:41-78``). Individuals are pure functions of
# (class, tableId, PK values) so output is reproducible under any
# partitioning — replaces the reference's mutable counters.
# ---------------------------------------------------------------------------
BASE_PREFIX = "kg:"
RDF_TYPE = "rdf:type"

# ---------------------------------------------------------------------------
# Matching thresholds (reference ``MappingSelection.java:134-148,343-347``;
# pool sizes from ``bertmap_main.py:136-141``).
# BES here is cosine-similarity × 100 (north rule: the BERT cross-encoder is
# replaced by a broadcast-embedding + blocked cosine scorer).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class MatchConfig:
    bes_high: float = 85.0        # accept outright when BES >= this
    bes_low: float = 70.0         # accept when BES >= low AND PJ >= pj_high
    pj_high: float = 0.5
    bes_reject: float = 40.0      # F3: drop candidates below these floors
    pj_reject: float = 0.0
    num_raw_candidates: int = 200  # J4 blocking-join cap per source element
    embedding_dim: int = 256       # hashing-trick encoder width
    ngram_range: tuple[int, int] = (2, 3)  # char n-grams fed to the encoder
    salt_buckets: int = 8          # salting factor for head-entity skew
    # M1 weight-loading seam: path to an .npz projection loaded ONCE per
    # worker inside mapInPandas (ship via --py-files / SparkFiles); None =
    # the plain hashing encoder. Identity weights reproduce it exactly.
    weights_path: str | None = None
    predict_batch_size: int = 32   # reference bertmap_main.py:136-137
    # M2 cache contract: broadcast the distinct-surface embedding table into
    # the scoring joins. True assumes the vocabulary fits in executor memory
    # (schema-element vocabularies, not row-scale data); set False for
    # corpora whose distinct vocabulary outgrows the broadcast threshold —
    # the joins then shuffle on the surface key (AQE handles skew) with an
    # otherwise identical plan and identical results.
    broadcast_embeddings: bool = True


@dataclass(frozen=True)
class EngineConfig:
    # the durable store's bucket count: its one reader is run_pipeline's
    # write_triples(n_buckets=...). It does not set Spark's
    # spark.sql.shuffle.partitions (session.get_spark does that).
    shuffle_partitions: int = 32
    match: MatchConfig = field(default_factory=MatchConfig)
    # canonical-representative tie-break (reference
    # ``NearDuplicates.py:91-102``): shortest string, then most whitespace,
    # then lexicographic for full determinism.
    cc_max_iterations: int = 50
    # below this edge count CC collects to the driver (in-memory union-find);
    # above it the distributed large-star/small-star path runs
    cc_driver_threshold: int = 2_000_000
    # below this distinct-surface count the whole match-edge + canonicalize
    # computation runs in memory (identical output) — a dozen Spark stages
    # over a vocabulary-sized dim is pure scheduling latency
    vocab_driver_threshold: int = 100_000


DEFAULT = EngineConfig()
