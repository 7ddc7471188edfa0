"""Entity matching (pipeline stage 4): blocking join → BES/PJ scoring →
rank/threshold selection.

Reference semantics being reproduced at scale:
* J4 candidate blocking (``mapping_prediction.py:87-94,176-178``): an
  inverted token index caps candidates per source element — here a token
  self-join with IDF scoring and a top-k window, never an O(n²) cross join.
* M1-M3 BES (``bert_classifier.py:153-160`` → north rule): broadcast
  embeddings + blocked cosine × 100.
* X7 PJ (``extractBertMapMappings.py:162-184``): token partial-ratio
  overlap, via an Arrow-batched pandas UDF on DISTINCT pairs only.
* W1/W2/W3 ranks (``extractBertMapMappings.py:77-97``): BESRank row_number,
  PJRank composite dense_rank with zero-score → NULL (the reference's ∞).
* F3/F4 + A3/W5 selection (``MappingSelection.java:134-227``): threshold
  accept, then keep argmin-PJRank with PJPerc/BES tie-breaks.

Scale levers: stop-token pruning caps the blocking blow-up (hot tokens are
exactly the head-entity skew the north rule calls out); the optional salt
spreads residual hot blocks; AQE skew-join splitting stays on from the
session config.

Cross matching (``cross_match_edges``, the incremental-attach input) has
two strategies, picked by the size of the NOVEL side alone:
* novel ≤ ``vocab_driver_threshold`` → pruned driver scoring: one
  distributed pass over the prior catalog tokenizes it, keeps only the
  batch's tokens (broadcast semi-join), counts each token's document
  frequency and drops tokens above ``max_token_df``; the deduplicated
  postings are collected and scored on the driver by the scorer the
  oracle twin uses. The driver receives at most (batch tokens ×
  ``max_token_df``) postings, however large the catalog grows.
* larger novel sides → the distributed ``blocking_join`` + Arrow-batched
  near-dup predicate.

Results computed on the driver go back to Spark as Arrow-built local
relations (``session.driver_frame``), never as pickled Python RDDs.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..config import EngineConfig, MatchConfig
from ..functions.embeddings import cosine_col, encode_strings
from ..functions.similarity import is_near_duplicate, near_duplicate_udf, pj_score_udf
from ..session import driver_frame

_TOKEN_SPLIT = r"[^0-9a-z]+"
# default stop-token cutoff of every blocking index: tokens in more than this
# many surfaces are dropped
MAX_TOKEN_DF = 1000
EDGE_SCHEMA = "src string, tgt string"


def token_array(c: Column) -> Column:
    """Distinct lowercased word tokens of length > 1 (JVM expression)."""
    toks = F.filter(F.split(F.lower(c), _TOKEN_SPLIT), lambda t: F.length(t) > 1)
    return F.array_distinct(toks)


def _py_tokens(s: str) -> set[str]:
    """Python twin of :func:`token_array`."""
    return {t for t in re.split(_TOKEN_SPLIT, s.lower()) if len(t) > 1}


def tokenize_surfaces(surfaces: DataFrame, col: str = "mention") -> DataFrame:
    """(surface, token) pairs; lowercased word tokens of length > 1."""
    return surfaces.select(col, F.explode(token_array(F.col(col))).alias("token"))


def blocking_pairs(
    surfaces: DataFrame,
    cfg: MatchConfig | None = None,
    max_token_df: int = MAX_TOKEN_DF,
    col: str = "mention",
    n_surfaces: int | None = None,
) -> DataFrame:
    """Candidate (src, tgt) pairs sharing ≥1 informative token, capped at
    ``num_raw_candidates`` per src by summed token IDF (operator J4).

    Tokens appearing in more than ``max_token_df`` surfaces are dropped from
    the index — they carry ~zero IDF and would otherwise produce quadratic
    blocks on head entities (standard meta-blocking practice; the analog of
    the reference's idf_select pruning).
    """
    cfg = cfg or MatchConfig()
    tok = tokenize_surfaces(surfaces, col).dropDuplicates([col, "token"])
    if n_surfaces is None:
        n_surfaces = surfaces.count()
    # ONE aggregation builds the inverted index: df, IDF and the posting
    # list together — the previous shape (df agg + broadcast join back +
    # token self-join) tokenized every surface twice, because a self-join's
    # sides are planned independently. Posting lists are capped at
    # ``max_token_df`` (≤ df·surface bytes), and in-bucket combination
    # explode emits each unordered pair once per shared token.
    buckets = (
        tok.groupBy("token")
        .agg(F.sort_array(F.collect_list(col)).alias("ms"))
        .withColumn("df", F.size("ms"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_token_df))
        .withColumn("idf", F.log(F.lit(float(max(n_surfaces, 2))) / F.col("df")))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                lambda y: F.struct(x.alias("src"), y.alias("tgt")),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"), "idf")
        .groupBy("p.src", "p.tgt")
        .agg(F.sum("idf").alias("idf_sum"))
        .select(F.col("src"), F.col("tgt"), "idf_sum")
    )
    w = W.partitionBy("src").orderBy(F.col("idf_sum").desc(), F.col("tgt"))
    return (
        pairs.withColumn("cand_rank", F.row_number().over(w))
        .filter(F.col("cand_rank") <= cfg.num_raw_candidates)
        .drop("cand_rank")
    )


def blocking_join(
    src_surfaces: DataFrame,
    tgt_surfaces: DataFrame,
    cfg: MatchConfig | None = None,
    max_token_df: int = MAX_TOKEN_DF,
    n_tgt: int | None = None,
) -> DataFrame:
    """Directed J4: for each src element, ≤ ``num_raw_candidates`` target
    candidates by summed token IDF over an inverted index of the TARGET side
    — the shape of the reference's ``idf_select`` over the target ontology's
    annotation index (``mapping_prediction.py:87-94``). ``n_tgt`` is the
    target row count, counted here when the caller has not."""
    cfg = cfg or MatchConfig()
    tgt_tok = tokenize_surfaces(tgt_surfaces).dropDuplicates(["mention", "token"])
    if n_tgt is None:
        n_tgt = tgt_surfaces.count()
    idf = (
        tgt_tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_token_df)
        .withColumn("idf", F.log(F.lit(float(max(n_tgt + 1, 2))) / F.col("df")))
    )
    index = tgt_tok.join(F.broadcast(idf), "token").select(
        "token", F.col("mention").alias("tgt"), "idf"
    )
    src_tok = tokenize_surfaces(src_surfaces).dropDuplicates(["mention", "token"]).select(
        F.col("mention").alias("src"), "token"
    )
    pairs = (
        src_tok.join(index, "token")
        .filter(F.col("src") != F.col("tgt"))
        .groupBy("src", "tgt")
        .agg(F.sum("idf").alias("idf_sum"))
    )
    w = W.partitionBy("src").orderBy(F.col("idf_sum").desc(), F.col("tgt"))
    return (
        pairs.withColumn("cand_rank", F.row_number().over(w))
        .filter(F.col("cand_rank") <= cfg.num_raw_candidates)
        .drop("cand_rank")
    )


def score_pairs(
    pairs: DataFrame, surfaces: DataFrame, cfg: MatchConfig | None = None
) -> DataFrame:
    """Append BES (cosine×100, JVM-side dot product over broadcast-joined
    embeddings) and PJ/PJPerc/cLen (Arrow-batched pandas UDF) to each pair.

    Scale assumption: the broadcast hints presume the DISTINCT-surface
    embedding table fits in executor memory (the M2 cache contract —
    schema-element vocabularies, not row-scale data). For corpora whose
    distinct vocabulary outgrows the broadcast threshold, set
    ``cfg.broadcast_embeddings = False``: the joins then shuffle on the
    surface key (AQE picks the strategy and splits skewed partitions) —
    the plan is otherwise unchanged and the results identical."""
    cfg = cfg or MatchConfig()
    emb = encode_strings(surfaces.select("mention").dropDuplicates(), "mention", "emb", cfg)
    e_src = emb.select(F.col("mention").alias("src"), F.col("emb").alias("emb_src"))
    e_tgt = emb.select(F.col("mention").alias("tgt"), F.col("emb").alias("emb_tgt"))
    if cfg.broadcast_embeddings:
        e_src, e_tgt = F.broadcast(e_src), F.broadcast(e_tgt)
    scored = (
        pairs.join(e_src, "src")
        .join(e_tgt, "tgt")
        .withColumn("bes", F.round(cosine_col(F.col("emb_src"), F.col("emb_tgt")) * 100.0, 6))
        .drop("emb_src", "emb_tgt")
    )
    pj = pj_score_udf(F.col("src"), F.col("tgt"))
    return scored.withColumn("pj_struct", pj).select(
        "*",
        F.col("pj_struct.pj").alias("pj"),
        F.col("pj_struct.pj_perc").alias("pj_perc"),
        F.col("pj_struct.c_len").alias("c_len"),
    ).drop("pj_struct")


def explode_annotation_pairs(
    pairs: DataFrame, src_annots: DataFrame, tgt_annots: DataFrame
) -> DataFrame:
    """J5 explode: every (src_annotation × tgt_annotation) combination per
    blocked candidate pair — the reference's ``itertools.product`` over the
    two annotation sets (``mapping_prediction.py:122,215-226``). Annotation
    tables are vocabulary-scale (per schema element), so both joins are
    broadcast: no shuffle of the pair table."""
    sa = src_annots.select(F.col("element").alias("src"), F.col("annotation").alias("src_annot"))
    ta = tgt_annots.select(F.col("element").alias("tgt"), F.col("annotation").alias("tgt_annot"))
    return pairs.join(F.broadcast(sa), "src").join(F.broadcast(ta), "tgt")


def edit_similarity_mapping_scores(
    pairs: DataFrame, src_annots: DataFrame, tgt_annots: DataFrame, k: int | None = None
) -> DataFrame:
    """J5 + X6, the BERTMapLt scoring path
    (``mapping_prediction.py:130-149``): per candidate pair take the MAX
    over all annotation pairs of normalized edit similarity
    ``1 − lev/max(len)`` (an exact shared annotation scores 1.0 — the
    reference's intersection short-circuit is the max's fixed point), then
    keep the ``k`` best-scored candidates per source element
    (``num_best_predictions``). Pure JVM expressions — ``F.levenshtein``
    plus a window — no Python in the plan."""
    ex = explode_annotation_pairs(pairs, src_annots, tgt_annots)
    sim = 1.0 - F.levenshtein("src_annot", "tgt_annot") / F.greatest(
        F.length("src_annot"), F.length("tgt_annot")
    )
    sim = F.when(F.col("src_annot") == F.col("tgt_annot"), F.lit(1.0)).otherwise(sim)
    scored = ex.groupBy("src", "tgt").agg(F.round(F.max(sim), 6).alias("score"))
    if k is None:
        return scored
    w = W.partitionBy("src").orderBy(F.col("score").desc(), F.col("tgt"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("src", "tgt", "score", "rk")
    )


def bert_mapping_scores(
    pairs: DataFrame,
    src_annots: DataFrame,
    tgt_annots: DataFrame,
    cfg: MatchConfig | None = None,
    k: int | None = None,
) -> DataFrame:
    """J5 with the encoder scorer (``mapping_prediction.py:241-257``): all
    annotation pairs per candidate scored by the (stand-in) synonym
    classifier, aggregated with MAX per candidate — the reference's
    ``torch.max(chunk)`` (its own comment records replacing mean with max).
    A string-matched candidate (any shared annotation) short-circuits to
    100, mirroring the prelim ``edit_similarity_mapping_score(...,
    string_match_only=True)`` gate at :180-200.

    Distinct annotations are encoded ONCE (M2 cache) and broadcast back —
    the annotation vocabulary, not the pair table, pays the Python
    crossing."""
    cfg = cfg or MatchConfig()
    ex = explode_annotation_pairs(pairs, src_annots, tgt_annots)
    vocab = (
        src_annots.select(F.col("annotation").alias("mention"))
        .unionByName(tgt_annots.select(F.col("annotation").alias("mention")))
        .dropDuplicates()
    )
    emb = encode_strings(vocab, "mention", "emb", cfg)
    e_src = emb.select(F.col("mention").alias("src_annot"), F.col("emb").alias("emb_s"))
    e_tgt = emb.select(F.col("mention").alias("tgt_annot"), F.col("emb").alias("emb_t"))
    if cfg.broadcast_embeddings:
        e_src, e_tgt = F.broadcast(e_src), F.broadcast(e_tgt)
    scored_pairs = (
        ex.join(e_src, "src_annot")
        .join(e_tgt, "tgt_annot")
        .withColumn("pair_score", cosine_col(F.col("emb_s"), F.col("emb_t")) * 100.0)
        .withColumn("exact", (F.col("src_annot") == F.col("tgt_annot")).cast("int"))
    )
    agg = scored_pairs.groupBy("src", "tgt").agg(
        F.max("pair_score").alias("max_score"), F.max("exact").alias("string_matched")
    )
    scored = agg.select(
        "src",
        "tgt",
        F.round(
            F.when(F.col("string_matched") == 1, F.lit(100.0)).otherwise(F.col("max_score")), 6
        ).alias("bes"),
    )
    if k is None:
        return scored
    w = W.partitionBy("src").orderBy(F.col("bes").desc(), F.col("tgt"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("src", "tgt", "bes", "rk")
    )


# F8: the PO scaffolding elements the reference skips when reading raw
# mappings (extractBertMapMappings.py:26,74-75 — the two-name string is a
# faithful copy of the reference's set literal)
BASE_ELEMENTS = frozenset(
    {"TableClass", "PureProperty, AttributeClass", "AttributeClass", "hasValueProperty"}
)


def filter_base_elements(
    cands: DataFrame,
    col: str = "src",
    base_elements: frozenset[str] = BASE_ELEMENTS,
    ns: str = "",
) -> DataFrame:
    """F8: drop candidate rows whose SOURCE element is a PO base/scaffolding
    element (``extractBertMapMappings.py:26,74-75`` — the reference skips
    them before building raw maps). The set is 4 literals, so the filter is
    a codegen'd ``NOT IN``, pushed to the scan."""
    return cands.filter(~F.col(col).isin(*sorted(ns + b for b in base_elements)))


def rank_candidates(scored: DataFrame) -> DataFrame:
    """W1 BESRank (row_number by BES desc), W2 PJRank (dense_rank by
    (PJ desc, cLen desc), zero-PJ → NULL — the reference's ∞ rank)."""
    w_bes = W.partitionBy("src").orderBy(F.col("bes").desc(), F.col("tgt"))
    w_pj = W.partitionBy("src").orderBy(F.col("pj").desc(), F.col("c_len").desc())
    return (
        scored.withColumn("bes_rank", F.row_number().over(w_bes))
        .withColumn(
            "pj_rank",
            F.when(F.col("pj") > 0, F.dense_rank().over(w_pj)).otherwise(F.lit(None)),
        )
    )


def select_matches(ranked: DataFrame, cfg: MatchConfig | None = None) -> DataFrame:
    """Threshold + argmin-rank selection (reference MappingSelection):
    F8 base-element skip → F3 reject floors → F4 accept rule → keep rows at
    min PJRank per src, tie-break max PJPerc then max BES then tgt."""
    cfg = cfg or MatchConfig()
    ranked = filter_base_elements(ranked)
    accepted = ranked.filter(
        (F.col("pj") >= cfg.pj_reject)
        & (F.col("bes") >= cfg.bes_reject)
        & (
            (F.col("bes") >= cfg.bes_high)
            | ((F.col("bes") >= cfg.bes_low) & (F.col("pj") >= cfg.pj_high))
        )
    )
    w = W.partitionBy("src")
    with_min = accepted.withColumn("min_pj_rank", F.min("pj_rank").over(w))
    at_min = with_min.filter(
        F.col("pj_rank").isNotNull() & (F.col("pj_rank") == F.col("min_pj_rank"))
    )
    w_pick = W.partitionBy("src").orderBy(
        F.col("pj_perc").desc(), F.col("bes").desc(), F.col("tgt")
    )
    return (
        at_min.withColumn("pick", F.row_number().over(w_pick))
        .filter(F.col("pick") == 1)
        .drop("pick", "min_pj_rank")
    )


def near_duplicate_edges(pairs: DataFrame) -> DataFrame:
    """Candidate pairs passing the composite near-duplicate predicate (X10,
    non-strict) — the match-edge input to canonicalization (G2)."""
    return pairs.filter(near_duplicate_udf(F.col("src"), F.col("tgt"))).select("src", "tgt")


def _near_dup_edges_python(
    surfaces: list[str], cfg: MatchConfig, max_token_df: int = MAX_TOKEN_DF
) -> list[tuple[str, str]]:
    """Exact in-memory twin of blocking_pairs → near_duplicate_edges, for
    vocabulary-scale surface sets: token inverted index, IDF-capped top-k
    candidates per src, composite near-dup predicate."""
    n = len(surfaces)
    tok_of: dict[str, set[str]] = {s: _py_tokens(s) for s in surfaces}
    index: dict[str, list[str]] = {}
    for s, toks in tok_of.items():
        for t in toks:
            index.setdefault(t, []).append(s)
    idf = {
        t: math.log(max(n, 2) / len(members))
        for t, members in index.items()
        if 2 <= len(members) <= max_token_df
    }
    pair_idf: dict[tuple[str, str], float] = {}
    for t, w in idf.items():
        members = sorted(index[t])
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                pair_idf[(a, b)] = pair_idf.get((a, b), 0.0) + w
    by_src: dict[str, list[tuple[float, str]]] = {}
    for (a, b), w in pair_idf.items():
        by_src.setdefault(a, []).append((w, b))
    edges: list[tuple[str, str]] = []
    for a, cands in by_src.items():
        cands.sort(key=lambda x: (-x[0], x[1]))
        for _w, b in cands[: cfg.num_raw_candidates]:
            if is_near_duplicate(a, b, strict=False):
                edges.append((a, b))
    return sorted(edges)


def _score_cross(
    novel: dict[str, Iterable[str]],
    postings: dict[str, list[str]],
    n_tgt: int,
    cfg: MatchConfig,
) -> list[tuple[str, str]]:
    """Driver scorer of ``blocking_join`` → ``near_duplicate_edges``, shared
    by the oracle twin and the pruned cross path. ``novel`` maps each src
    surface to its tokens; ``postings`` maps each token kept in the index
    (df ≤ ``max_token_df``) to its distinct prior surfaces; ``n_tgt`` is
    the prior row count. IDF ``log((n_tgt+1)/df)``, per-src top
    ``num_raw_candidates`` by (-idf_sum, tgt), near-dup filter."""
    idf = {t: math.log(max(n_tgt + 1, 2) / len(ms)) for t, ms in postings.items()}
    edges: list[tuple[str, str]] = []
    for a, toks in novel.items():
        sums: dict[str, float] = {}
        for t in sorted(toks):
            w = idf.get(t)
            if w is None:
                continue
            for b in postings[t]:
                if b != a:
                    sums[b] = sums.get(b, 0.0) + w
        cands = sorted(sums.items(), key=lambda kv: (-kv[1], kv[0]))
        for b, _w in cands[: cfg.num_raw_candidates]:
            if is_near_duplicate(a, b, strict=False):
                edges.append((a, b))
    return sorted(edges)


def _cross_edges_python(
    novel: list[str], prior: list[str], cfg: MatchConfig, max_token_df: int = MAX_TOKEN_DF
) -> list[tuple[str, str]]:
    """Exact in-memory twin of ``blocking_join(novel, prior)`` →
    ``near_duplicate_edges``: inverted token index over the distinct PRIOR
    surfaces, tokens with ``df > max_token_df`` dropped, scored by
    :func:`_score_cross` with ``n_tgt`` = prior rows."""
    index: dict[str, set[str]] = {}
    for p in prior:
        for t in _py_tokens(p):
            index.setdefault(t, set()).add(p)
    postings = {t: sorted(ms) for t, ms in index.items() if len(ms) <= max_token_df}
    return _score_cross({a: _py_tokens(a) for a in novel}, postings, len(prior), cfg)


def _cross_edges_pruned(
    novel: DataFrame,
    prior: DataFrame,
    cfg: MatchConfig,
    n_prior: int,
    max_token_df: int,
) -> list[tuple[str, str]]:
    """Cross edges for a driver-sized novel side against a prior catalog of
    any size: the catalog is scanned once, distributed, and only the
    postings of the batch's own tokens (df ≤ ``max_token_df``) reach the
    driver. Both sides tokenize in the JVM, exactly as ``blocking_join``."""
    batch = {
        r["mention"]: r["tokens"]
        for r in novel.select("mention", token_array(F.col("mention")).alias("tokens")).collect()
    }
    tokens = sorted({t for toks in batch.values() for t in toks})
    if not tokens:
        return []
    batch_tokens = driver_frame(novel.sparkSession, [(t,) for t in tokens], "token string")
    # one shuffle: hash-partitioning on the token satisfies both the
    # (token, mention) dedup and the per-token window
    pairs = (
        tokenize_surfaces(prior.select("mention"))
        .join(F.broadcast(batch_tokens), "token", "left_semi")
        .repartition("token")
        .dropDuplicates(["token", "mention"])
    )
    kept = (
        pairs.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("token")))
        .filter(F.col("df") <= max_token_df)
        .select("token", "mention")
    )
    postings: dict[str, list[str]] = {}
    for r in kept.collect():
        postings.setdefault(r["token"], []).append(r["mention"])
    return _score_cross(batch, postings, n_prior, cfg)


def cross_match_edges(
    novel: DataFrame,
    prior: DataFrame,
    cfg: MatchConfig | None = None,
    n_novel: int | None = None,
    n_prior: int | None = None,
    vocab_driver_threshold: int = EngineConfig.vocab_driver_threshold,
    max_token_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """Directed near-dup edges novel → prior (incremental-attach input).

    Two physical strategies, same result, chosen by the novel side alone:
    novel ≤ threshold → :func:`_cross_edges_pruned` (one distributed pass
    over the prior, driver scoring of the batch tokens' postings); larger →
    the directed ``blocking_join`` whose inverted index is built over the
    PRIOR vocabulary. Either way the catalog side stays distributed."""
    cfg = cfg or MatchConfig()
    if n_novel is None:
        n_novel = novel.count()
    if n_prior is None:
        n_prior = prior.count()
    if n_novel <= vocab_driver_threshold:
        edges = _cross_edges_pruned(novel, prior, cfg, n_prior, max_token_df)
        return driver_frame(novel.sparkSession, edges, EDGE_SCHEMA)
    return near_duplicate_edges(
        blocking_join(novel, prior, cfg, max_token_df, n_tgt=n_prior)
    )


def compute_match_edges(
    surfaces: DataFrame,
    cfg: MatchConfig | None = None,
    n_surfaces: int | None = None,
    vocab_driver_threshold: int = EngineConfig.vocab_driver_threshold,
    max_token_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """Match-edge computation with two physical strategies, same result:
    vocabulary ≤ threshold → in-memory (a dozen Spark stages over a few
    thousand strings is pure scheduling latency); larger → distributed
    blocking join + Arrow-batched predicate."""
    cfg = cfg or MatchConfig()
    if n_surfaces is None:
        n_surfaces = surfaces.count()
    if n_surfaces <= vocab_driver_threshold:
        surfs = [r["mention"] for r in surfaces.select("mention").collect()]
        edges = _near_dup_edges_python(surfs, cfg, max_token_df)
        return driver_frame(surfaces.sparkSession, edges, EDGE_SCHEMA)
    return near_duplicate_edges(
        blocking_pairs(surfaces, cfg, max_token_df, n_surfaces=n_surfaces)
    )
