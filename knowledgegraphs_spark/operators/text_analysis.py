"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

All pure Catalyst column expressions (JVM-side, codegen'd, no Python) and
all expressible in ANSI SQL — every op here has a DuckDB oracle in
``__spark_entry__``. Fingerprints use md5 (identical across engines), not
engine-specific hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]

# marker words per language for the n-gram/stopword language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "und", "das", "ist"],
    "fr": ["le", "et", "les", "est"],
    "es": ["el", "y", "los", "es"],
}


def tokens_col(text: Column) -> Column:
    """Non-empty whitespace-delimited tokens."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are neither word chars nor whitespace."""
    stripped = F.regexp_replace(text, r"[^\w\s]", "")
    return F.when(
        F.length(text) > 0,
        (F.length(text) - F.length(stripped)) / F.length(text),
    ).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    toks = F.transform(tokens_col(text), lambda t: F.lower(t))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: rewards reasonable length and stopword
    presence, penalizes punctuation soup. Deterministic, SQL-expressible."""
    n_tok = token_count(text)
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5.0)
    return F.round((len_score + stop_score + punct_penalty) / 3.0, 6)


def language_id(text: Column) -> Column:
    """Argmax of per-language marker-token counts; 'und' (undetermined) when
    all zero. Ties break in the fixed language order."""
    toks = F.transform(tokens_col(text), lambda t: F.lower(t))
    counts = {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*counts.values())
    result = F.lit("und")
    # reversed so the first language wins ties via the last when() applied
    for lang in reversed(list(LANG_MARKERS)):
        result = F.when((counts[lang] > 0) & (counts[lang] == best), F.lit(lang)).otherwise(result)
    return result


def normalize_text(text: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def fingerprint(text: Column) -> Column:
    """Whole-document fingerprint: md5 of whitespace-normalized lowercase
    text (md5 so the DuckDB oracle computes the identical value)."""
    return F.md5(normalize_text(text))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text (empty array when the
    document has fewer than n tokens).

    Built as ``zip_with`` over n shifted ``slice``s of the token array —
    NOT ``transform(sequence, i -> element_at(toks, i+j))``: a lambda
    body referencing ``toks`` re-derives the whole tokenize expression
    (regexp + lower + split) per element after Catalyst inlining, turning
    shingling O(|tokens|²) per row (observed: a 5 000-doc MinHash pass
    going from minutes to seconds on this change alone)."""
    toks = tokens_col(normalize_text(text))
    k = F.size(toks) - (n - 1)
    safe_k = F.greatest(k, F.lit(0))
    out = F.slice(toks, 1, safe_k)
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, 1 + j, safe_k),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(k > 0, out).otherwise(F.array().cast("array<string>"))


# GPT-2-style pre-tokenizer simplification: letter runs, single digits,
# punctuation marks — the "BPE-ish" token estimate for budget accounting
BPE_ISH_RX = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

ROLLING_BASE = 131
ROLLING_MOD = 2147483647  # 2^31-1: keeps acc*131+c inside bigint per step


def bpe_ish_token_count(text: Column) -> Column:
    """Approximate BPE token count (whitespace counting alone undercounts
    punctuation-heavy text badly)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RX), 0))


def rolling_hash_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash of the normalized text's code points —
    an order-sensitive fingerprint cheap enough to fold in one pass
    (``aggregate`` over the char array, whole-stage codegen)."""
    chars = F.filter(F.split(normalize_text(text), ""), lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_BASE + F.ascii(c)) % ROLLING_MOD,
    )


def text_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass profile: all analysis columns in a single projection."""
    t = F.col(text_col)
    return docs.select(
        "*",
        token_count(t).alias("n_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        language_id(t).alias("lang_id"),
        fingerprint(t).alias("fingerprint"),
    )


def alpha_tokens(text: Column) -> Column:
    """Lowercased alphabetic word tokens (runs of a–z) — the unigram-LM
    vocabulary unit. Split-on-complement keeps the expression a single
    codegen'd projection and bit-matches the DuckDB twin's
    ``regexp_split_to_array(lower(text), '[^a-z]+')``."""
    return F.filter(F.split(F.lower(text), "[^a-z]+"), lambda t: t != "")


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-unigram language-model scoring — the CCNet-style quality
    signal (per-doc mean token log-probability under a LM; docs whose
    tokens are corpus-typical score high, gibberish and boilerplate-free
    rarities score low), with the LM trained on the corpus itself in the
    same job. Returns ``(id_col, logprob double, n_toks long)``; docs
    with zero alphabetic tokens are absent (no model support).

    Scale shape: ONE explode pass builds the token relation
    (checkpointed — Spark has no cross-branch CSE and both the vocabulary
    aggregate and the scoring join consume it); the vocabulary is a
    map-side-combinable ``groupBy(tok)`` whose result is
    vocabulary-scale, not corpus-scale; the corpus token total is a
    single scalar aggregate (driver-scale by definition, the CC-signature
    discipline); scoring is one shuffle join token⋈vocab followed by a
    map-side-combinable per-doc average. No Python in the row path.
    """
    toks = docs.select(
        F.col(id_col), F.explode(alpha_tokens(F.col(text_col))).alias("tok")
    ).localCheckpoint(eager=True)
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("t")).first()["t"]
    return (
        toks.join(vocab, "tok")
        .groupBy(id_col)
        .agg(
            F.round(F.avg(F.log(F.col("c") / F.lit(float(total)))), 6).alias("logprob"),
            F.count(F.lit(1)).cast("long").alias("n_toks"),
        )
    )


def tfidf_keywords(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — keyword extraction, the
    entity-CANDIDATE generation step upstream of mention matching (the
    reference's annotation pipeline starts from already-chosen terms;
    a corpus-scale pipeline has to surface them first). Returns
    ``(id_col, tok, tf long, tfidf double, rank int)``.

    Scale shape: one explode pass (checkpointed — consumed by both the
    per-doc TF aggregate and the document-frequency aggregate; Spark has
    no cross-branch CSE), both aggregates map-side combinable, document
    count is a single scalar (driver-scale by definition), then one
    shuffle join tf⋈df on the token and a per-doc top-k window over at
    most vocabulary-per-doc rows. Ranking compares the ROUNDED score
    (6 dp) with a lexicographic tie-break so the order is reproducible
    across engines and runs.
    """
    import math

    toks = docs.select(
        F.col(id_col), F.explode(alpha_tokens(F.col(text_col))).alias("tok")
    ).localCheckpoint(eager=True)
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = toks.select(id_col).distinct().count()
    scored = tf.join(dfreq, "tok").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(id_col, "tok", "tf", "tfidf", "rank")
    )


def skipgram_pairs(
    docs: DataFrame,
    window: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts within ±window
    token positions — the word2vec/SGNS training-pair generation step of
    an embedding data pipeline, over ``alpha_tokens`` tokenization.

    Scale shape: the context lookup is an EQUI-join of the position
    table with itself on (doc, position+offset) — never a per-document
    array carried through the explode (that would copy the token array
    once per (token, offset), O(T²·w) bytes for a T-token document) and
    never a doc-id-only join (skewed by the longest document). Left side
    is 2·window rows per token, join key (doc, position) is uniformly
    distributed, then ONE map-side-combinable groupBy(center, context).
    """
    tok = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(alpha_tokens(F.col(text_col))).alias("pos", "tok"),
    )
    offsets = F.array(
        *[F.lit(o) for o in range(-window, window + 1) if o != 0]
    )
    centers = tok.select(
        "_doc", "pos", F.col("tok").alias("center"), F.explode(offsets).alias("off")
    ).select("_doc", F.col("center"), (F.col("pos") + F.col("off")).alias("cpos"))
    ctx = tok.select(
        "_doc", F.col("pos").alias("cpos"), F.col("tok").alias("context")
    )
    out = (
        centers.join(ctx, ["_doc", "cpos"])
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    if min_count > 1:
        out = out.where(F.col("n_pairs") >= min_count)
    return out


def bigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-bigram language-model scoring — the sequence-level upgrade
    of :func:`unigram_logprob`: per-doc mean of log P(w_i | w_{i-1})
    under the bigram MLE trained on the corpus itself in the same job.
    Catches word-salad documents whose TOKENS are corpus-typical but
    whose TRANSITIONS are not (shuffled text scores exactly like real
    text under a unigram model — the unigram blind spot). No smoothing
    needed: every scored bigram appears in training by construction
    (same trick as the unigram scorer), so MLE probabilities are always
    positive. Returns ``(id_col, logprob double, n_bigrams long)``; docs
    with fewer than two alphabetic tokens are absent.

    Scale shape: one posexplode pass builds the position relation
    (checkpointed — consumed by both sides of the successor join);
    adjacent pairs come from an EQUI-join on (doc, pos+1) — the
    skip-gram join shape, uniformly distributed, never a doc-id-only
    skew join; bigram and context counts are map-side-combinable
    vocabulary²-scale aggregates; scoring is one join + per-doc average.
    """
    pos = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(alpha_tokens(F.col(text_col))).alias("pos", "tok"),
    ).localCheckpoint(eager=True)
    nxt = pos.select(
        "_doc", (F.col("pos") - 1).alias("pos"), F.col("tok").alias("tok2")
    )
    bigrams = pos.join(nxt, ["_doc", "pos"]).select(
        "_doc", F.col("tok").alias("w1"), F.col("tok2").alias("w2")
    ).localCheckpoint(eager=True)
    cb = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cc = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("cc"))
    return (
        bigrams.join(cb, ["w1", "w2"])
        .join(cc, "w1")
        .groupBy(F.col("_doc").alias(id_col))
        .agg(
            F.round(F.avg(F.log(F.col("cb") / F.col("cc"))), 6).alias("logprob"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        )
    )



def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shannon entropy of the character distribution per document — the
    model-free repetitiveness signal quality pipelines run alongside the
    LM scores (t9/t13): keyboard-mash and boilerplate runs score low,
    natural prose sits in a narrow band, and the signal needs no corpus
    statistics at all (each doc scores alone — embarrassingly parallel,
    the cheapest filter to run first at 100 TB). Returns ``(id_col,
    n_chars long, entropy double)`` in nats, rounded to 6 decimals;
    empty documents are absent. ``greatest(·, 0.0)`` clamps accumulated
    floating-point epsilon AND the ``-0.0`` a single-character alphabet
    would otherwise produce (p=1 → -1·0 = -0.0, which can hash
    differently from 0.0 across engines).

    Scale shape: one character explode (linear in corpus bytes, the
    same shape as the token explode), one map-side-combinable
    per-(doc, char) count, one per-doc window sum over
    alphabet-sized groups, one final per-doc aggregate — no join, no
    corpus-global state.
    """
    from pyspark.sql import Window

    chars = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).where(F.col("ch") != "")
    per_char = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").over(Window.partitionBy(id_col))
    p = F.col("c") / n
    return (
        per_char.withColumn("term", -p * F.log(p))
        .withColumn("n", n)
        .groupBy(id_col)
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.round(F.greatest(F.sum("term"), F.lit(0.0)), 6).alias("entropy"),
        )
    )
