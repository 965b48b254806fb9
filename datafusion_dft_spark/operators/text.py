"""Text analysis operators: tokenization, quality, language-ID, fingerprints.

All pure built-in column expressions (JVM-side, whole-stage codegen) —
no Python UDFs anywhere on this path, so the operators run at scan
speed on any corpus size. Each helper returns a Column so callers
compose them into their own projections.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Broadcast budget (rows) for the bigram-LM model relations. The
# context-count relation is bounded by the unigram vocabulary and the
# bigram-count relation by the observed-bigram vocabulary — Heaps'-law
# growth, not corpus growth — so on real corpora both usually fit a
# broadcast and the exploded gram stream (the CORPUS-scale side) never
# shuffles for the joins. 2M rows x ~40 bytes/(gram,count) ~ 80 MB, the
# same per-executor ceiling reasoning as the incremental-dedup guard in
# operators/dedup.py. Above budget the join degrades to the shuffled
# plan (same result, one exchange of the gram stream per join).
_MODEL_BROADCAST_MAX_ROWS = 2_000_000

# Function words used by the quality/langid heuristics. Keep in sync
# with the SQL oracles in queries/text.py.
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "to", "and")


def words(text: Column | str) -> Column:
    """Whitespace tokenization (single-space corpora split exactly)."""
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(words(text))


def regex_token_count(text: Column | str) -> Column:
    """BPE-ish lexer token count: runs of letters, digits, or single symbols."""
    return F.size(F.regexp_extract_all(text, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))


def stopword_count(text: Column | str, stop: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(words(text), lambda w: w.isin(*stop)))


def nospace_len(text: Column | str) -> Column:
    return F.length(F.regexp_replace(text, " ", ""))


def fingerprint(text: Column | str) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized lowercase text."""
    norm = F.lower(F.regexp_replace(text, r"\s+", " "))
    return F.md5(norm)


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic.

    0.5 * saturating length credit (full credit at >=100 words)
    + 0.5 * stopword ratio (function-word density — a proxy for
    natural prose vs keyword salad).
    """
    n = token_count(text).cast("double")
    stop_ratio = stopword_count(text).cast("double") / n
    return F.round(F.least(n / 100.0, F.lit(1.0)) * 0.5 + stop_ratio * 0.5 + 1e-9, 4)


def ngrams(text: Column | str, n: int) -> Column:
    """Word n-grams as an array<string> (space-joined), shuffle-free.

    Built by zipping ``n`` shifted slices of the word array — each
    slice evaluates the split ONCE per row. (The obvious
    ``transform(sequence, i -> element_at(w, i+j))`` formulation embeds
    a copy of the split inside the per-element lambda, and higher-order
    lambdas are interpreted, so it re-splits the text per gram element:
    O(words^2) per document — measured 18.7 s of cold planning+first-run
    on the 50k-word-total corpus vs ~3 s for this shape.) Empty array
    when the document has fewer than ``n`` words.
    """
    w = words(text)
    cnt = F.greatest(F.size(w) - (n - 1), F.lit(0))
    parts = [F.slice(w, j + 1, cnt) for j in range(n)]
    g = parts[0]
    for p in parts[1:]:
        g = F.zip_with(g, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return g


def dup_word_frac(text: Column | str) -> Column:
    """Repetition filter (Gopher/C4 family): fraction of word occurrences
    that repeat an earlier word — ``1 - distinct/total``. Pure array
    expressions, runs at scan speed."""
    w = words(text)
    return F.round(
        F.lit(1.0) - F.size(F.array_distinct(w)) / F.size(w).cast("double") + 1e-9, 4
    )


def dup_ngram_frac(text: Column | str, n: int = 3) -> Column:
    """Fraction of n-gram occurrences that are duplicates (0.0 when the
    document is shorter than n words)."""
    g = ngrams(text, n)
    return F.round(
        F.when(F.size(g) == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g).cast("double")
        )
        + 1e-9,
        4,
    )


def top_ngram_frac(text: Column | str, n: int = 2) -> Column:
    """Fraction of n-gram occurrences taken by the single most frequent
    n-gram (Gopher's top-n-gram filter: boilerplate/spam pushes it up).

    The mode count is a max-run-length fold over the SORTED gram array —
    one ``aggregate`` with a (prev, run, best) struct accumulator, so
    the whole statistic stays inside whole-stage codegen with zero
    shuffles (the relational formulation would need an explode +
    two-level groupBy per document).
    """
    g = F.sort_array(ngrams(text, n))
    step = lambda acc, x: F.struct(  # noqa: E731
        x.alias("prev"),
        F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
        F.greatest(
            acc.best, F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        ).alias("best"),
    )
    best = F.aggregate(
        g,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        step,
        lambda acc: acc.best,
    )
    return F.round(
        F.when(F.size(g) == 0, F.lit(0.0)).otherwise(best / F.size(g).cast("double"))
        + 1e-9,
        4,
    )


# Marker vocabularies for the n-gram/function-word language heuristic.
# With a real multilingual corpus these would be per-language function
# words; the driver corpus is ASCII word salad, so the heuristic's
# mechanics (count markers → argmax with deterministic tie order) are
# what is under test.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "la", "y"),
}


def marker_count(text: Column | str, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(words(text), lambda w: w.isin(*markers)))


def predict_lang(text: Column | str) -> Column:
    """argmax over marker counts, ties broken in fixed en>de>fr>es order;
    'unknown' when no markers hit."""
    counts = {lang: marker_count(text, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    expr = F.lit("unknown")
    # Build the CASE in reverse priority so earlier languages win ties.
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((counts[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


def unigram_logprob_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, n_tokens, avg_neg_logprob) — LM-lite quality signal.

    Pseudo-perplexity against the corpus's own unigram model: fit
    p(word) = count(word)/total over the whole corpus (one groupBy),
    then score each document by the mean negative log-probability of
    its tokens. High scores = documents full of corpus-rare tokens
    (boilerplate hashes, mojibake, code dumps); low scores = central
    text — the cheap first-pass filter production pipelines run before
    any model-based scoring.

    Shape at scale: token explode → two aggregations (corpus model,
    per-doc score) + one shuffle join on word. The unigram "model" is
    a relation, never driver state, so vocabulary size is unbounded.
    ln() on both engines is IEEE libm — differentially testable at
    rounded precision (tests/test_text_quality.py).
    """
    toks = docs.select(F.col(id_col), F.explode(words(text_col)).alias("word"))
    total = toks.count()
    model = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        toks.join(model, "word")
        .withColumn("neg_lp", -F.log(F.col("cnt") / F.lit(float(total))))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("neg_lp") + 1e-9, 4).alias("avg_neg_logprob"),
        )
    )
    return scored


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 64,
    overlap_words: int = 16,
) -> DataFrame:
    """Sliding-window document chunking (the RAG / context-window shape).

    Splits each document's word stream into windows of ``chunk_words``
    words advancing by ``stride = chunk_words - overlap_words``; the
    last window holds the tail (shorter than ``chunk_words``, never
    empty). Emits every input column plus ``chunk_idx`` (0-based),
    ``chunk_text`` and ``n_chunk_words``. Differs from sequence
    packing (operators/packing.py): packing concatenates ACROSS
    documents into fixed training sequences; chunking windows WITHIN a
    document, preserving provenance — the retrieval/embedding-indexing
    counterpart.

    Deterministic chunk count ``k = 1 + ceil(max(n - chunk_words, 0) /
    stride)`` gives full coverage with every non-final chunk exactly
    ``chunk_words`` long, which yields the closed-form invariant
    ``sum(n_chunk_words) = n + overlap_words x (k - 1)`` (each overlap
    double-counted once) — the identity the DuckDB oracle checks
    without replaying the windows. Shape at scale: pure scan-level
    higher-order expressions + one posexplode — zero shuffles, zero
    Python, output ∝ input x (1 + overlap/stride). NULL texts drop
    (posexplode of a NULL array), mirroring DuckDB's unnest.
    """
    if not 0 <= overlap_words < chunk_words:
        raise ValueError(
            f"need 0 <= overlap_words < chunk_words, got "
            f"{overlap_words} / {chunk_words}"
        )
    stride = chunk_words - overlap_words
    w = words(text_col)
    n = F.size(w)
    extra = F.when(
        n > chunk_words,
        F.ceil((n - F.lit(chunk_words)) / F.lit(float(stride))).cast("int"),
    ).otherwise(F.lit(0))
    chunks = F.transform(
        F.sequence(F.lit(0), extra),
        lambda i: F.array_join(
            F.slice(w, i * stride + 1, chunk_words), " "
        ),
    )
    return (
        docs.withColumn("__chunks", chunks)
        .select("*", F.posexplode("__chunks").alias("chunk_idx", "chunk_text"))
        .drop("__chunks")
        .withColumn("n_chunk_words", F.size(F.split("chunk_text", " ")))
    )


def bigram_logprob_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, avg_neg_logprob2) — conditional BIGRAM surprisal.

    The order-sensitive upgrade of ``unigram_logprob_scores``: score
    each document by the mean −ln p(w_i | w_{i−1}) under the corpus's
    own bigram model, p(w2|w1) = c(w1 w2) / c(w1 ·) with c(w1 ·)
    counted over CONTEXT positions (1..n−1), so probabilities per
    context sum to exactly 1. Unigram surprisal can't see scrambled
    word salad built from common tokens; conditional bigram surprisal
    spikes on it — the next filter a production quality stack applies.

    Shape at scale: one bigram explode → ONE corpus-scale aggregation
    (bigram counts, cached — it is vocabulary-bounded); the context
    counts derive from it (c(w1 ·) = Σ over grams starting with w1 of
    c(gram), counting context positions 1..n−1 exactly as a direct
    group-by of the gram stream would), so the corpus is exploded once
    for the models instead of three times (r14, guide §2: compute the
    coarser aggregate from the finer one). Both model relations are
    bounded by the observed bigram vocabulary — relations, never
    driver state — so each is BROADCAST when its vocabulary fits the
    ``_MODEL_BROADCAST_MAX_ROWS`` budget (sizes are EXACT counts over
    the cached bigram relation — the old full-corpus
    approx_count_distinct sizing pass is gone), keeping the
    corpus-scale gram stream un-shuffled; an over-budget model
    degrades that join to the shuffled plan. Documents with fewer than
    2 words have no bigrams and drop out (inner-join semantics, same
    as the unigram scorer).
    """
    g = docs.select(
        F.col(id_col), F.explode(ngrams(text_col, 2)).alias("gram")
    ).withColumn("w1", F.substring_index("gram", " ", 1))
    c2 = g.groupBy("gram").agg(F.count(F.lit(1)).alias("c2")).cache()
    # c(w1 ·) from the bigram counts: every context position is one
    # bigram occurrence, so summing c2 over grams sharing w1 counts
    # positions 1..n−1 identically to a direct groupBy of the stream.
    c1 = (
        c2.select(F.substring_index("gram", " ", 1).alias("w1"), "c2")
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    sizes = c2.agg(
        F.count(F.lit(1)).alias("n2"),
        F.countDistinct(F.substring_index("gram", " ", 1)).alias("n1"),
    ).first()
    c2j = F.broadcast(c2) if sizes["n2"] <= _MODEL_BROADCAST_MAX_ROWS else c2
    c1j = F.broadcast(c1) if sizes["n1"] <= _MODEL_BROADCAST_MAX_ROWS else c1
    return (
        g.join(c2j, "gram")
        .join(c1j, "w1")
        .withColumn("nlp", -F.log(F.col("c2") / F.col("c1").cast("double")))
        .groupBy(id_col)
        .agg(F.round(F.avg("nlp") + 1e-9, 4).alias("avg_neg_logprob2"))
    )


# --------------------------------------------------------------------------
# PII scrubbing (emails / phone numbers / IPv4), pure JVM regex.
# --------------------------------------------------------------------------
# Patterns restricted to the Java-regex / RE2 common subset (no
# lookarounds, no backrefs) so DuckDB replays them verbatim and the
# scrub is differentially testable (tests/test_pii.py). Order matters
# in redact_pii: emails contain dots/digits that the looser patterns
# could half-match, so they are removed first, then IPs, then phones.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d() -]{6,}\d"


def top_ngrams(
    df, text_col: str, n: int = 1, k: int = 100, min_count: int = 1
):
    """Corpus-wide vocabulary building: the k most frequent word n-grams.

    Returns (gram, count, rank) with rank 1..k by descending count,
    ties broken lexicographically (deterministic, engine-portable —
    differential vs DuckDB in tests/test_text_quality.py). The plan is
    one explode + one map-side-combining hash aggregation + a single-
    partition top-k sort over the SURVIVING grams only: ``min_count``
    prunes the long tail before the global sort, which is what keeps
    the final ordering step small at 100 TB (set it so surviving grams
    ~ 10^6, e.g. 100+ on a web corpus). rank via one window over the
    top-k rows only (take k first, rank k rows).
    """
    from pyspark.sql.window import Window

    grams = df.select(F.explode(ngrams(text_col, n)).alias("gram"))
    counts = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    topk = counts.orderBy(F.col("count").desc(), F.col("gram")).limit(k)
    w = Window.orderBy(F.col("count").desc(), F.col("gram"))
    return topk.withColumn("rank", F.row_number().over(w))


def pii_counts(text: Column | str) -> Column:
    """struct(n_emails, n_phones, n_ips) — per-document PII census.

    The audit half of the scrub: production pipelines log match counts
    per shard before destructive redaction ships.
    """
    return F.struct(
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PII_PHONE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all(text, F.lit(PII_IPV4), 0)).alias("n_ips"),
    )


def redact_pii(text: Column | str, token: str = "[PII]") -> Column:
    """Replace every email / IPv4 / phone match with ``token``.

    Scan-speed (three chained JVM regexp_replace, whole-stage
    codegen'd); at 100 TB this is a projection, not a job.
    """
    col = F.col(text) if isinstance(text, str) else text
    step = F.regexp_replace(col, PII_EMAIL, token)
    step = F.regexp_replace(step, PII_IPV4, token)
    return F.regexp_replace(step, PII_PHONE, token)
