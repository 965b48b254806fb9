"""Byte-pair-encoding tokenizer training and application.

The standard subword algorithm (Sennrich, Haddow & Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units", ACL —
the public BPE recipe every modern tokenizer descends from), split
into its two naturally different scales:

- **Word counting** (corpus-scale, DISTRIBUTED): BPE statistics depend
  only on the word-frequency table, so the corpus collapses to
  (word, count) with one scan + one map-side-combining aggregate. At
  100 TB the corpus is petabyte-rows but the DISTINCT-word relation
  grows ~Heaps' law — orders of magnitude smaller.
- **Merge loop** (vocab-scale, driver-side): the reference
  implementation shape (subword-nmt) — iterate "most frequent adjacent
  symbol pair → merge" over the bounded word table with INCREMENTAL
  pair-count updates (only words containing the merged pair are
  touched per iteration). Bounded driver state, same contract as the
  IVF codebook / GK-bracket collects elsewhere in this repo, with a
  LOUD guard when the vocab exceeds the budget instead of a silent
  OOM. (A fully-distributed iteration — pair explode + agg per merge —
  trades 2 Spark jobs per merge for unbounded vocab; at typical merge
  counts [10k-100k] that is 10^4-10^5 shuffles, which is why every
  production BPE trainer uses the word-table reduction.)
- **Encoding** (corpus-scale, DISTRIBUTED): ``apply_bpe`` re-tokenizes
  text with the learned merge ranks inside one Arrow-batched pandas
  stage; the merge table broadcasts via the closure (tens of KB).

Deterministic end to end: ties on pair frequency break
lexicographically, so the merge sequence is a pure function of the
corpus (property-tested against an independent naive reference).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Driver-side budget for the collected (word, count) table. ~2M words
# x (word bytes + symbol list) is low hundreds of MB — the practical
# ceiling of the reference implementation shape; beyond it, fail
# loudly rather than grind/OOM.
_BPE_VOCAB_MAX = 2_000_000

END = "</w>"  # end-of-word marker (paper convention)

# ONE whitespace definition for training AND encoding. Java's \s (the
# Spark split in word_counts) is ASCII-only by default while Python's
# str.split() covers all Unicode whitespace — training and encoding
# would tokenize 'foo\u00a0bar' differently and break the lossless
# roundtrip. Both sides therefore split on this explicit ASCII class.
# Case mapping is unified the same way: BOTH training and encoding
# lowercase via the JVM (F.lower in word_counts / in apply_bpe's
# projection, before the Python stage). Python's str.lower() and
# Java's toLowerCase disagree on Unicode special cases (e.g. U+0130
# LATIN CAPITAL I WITH DOT ABOVE, whose mappings also drift across
# Unicode versions), which would tokenize a word differently at train
# vs encode time and break the lossless-roundtrip contract.
_WS_CLASS = "[ \t\n\x0B\f\r]+"
import re as _re

_WS_RE = _re.compile(_WS_CLASS)


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over whitespace-lowercased tokens — one scan, one
    map-side-combining aggregate; the corpus-scale half of training."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), _WS_CLASS)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _merge_word(syms: tuple, pair: tuple) -> tuple:
    """One left-to-right merge pass of ``pair`` over a symbol tuple."""
    out = []
    i, n = 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == pair[0] and syms[i + 1] == pair[1]:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


# learn_bpe(documents sf0.001, n_merges=24), PINNED. The fixed merge
# table lets encoding be verified in isolation (a training change
# cannot mask an encoding bug, and the DuckDB oracle needs no training
# replay). Includes multi-char continuations ('p','ar'), end-of-word
# merges ('s','can</w>') and chains ('co'+'lu' -> 'colu'+'m' ->
# 'colum'+'n</w>') so the greedy rank order is genuinely exercised.
# Shared by tests/test_bpe_differential.py and the driver-checked
# bpe_* columns of text_token_fingerprints (queries/text.py).
PINNED_MERGES: list[tuple[str, str]] = [
    ("e", "r</w>"), ("o", "w</w>"), ("o", "r"), ("l", "u"),
    ("i", "n"), ("a", "r"), ("p", "ar"), ("e", "r"),
    ("a", "s"), ("t", "o"), ("a", "t"), ("a", "n</w>"),
    ("c", "an</w>"), ("s", "can</w>"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n</w>"), ("d", "ow</w>"), ("in", "dow</w>"),
    ("w", "indow</w>"), ("d", "er</w>"), ("or", "der</w>"), ("or", "t</w>"),
]


def learn_bpe(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 100,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges; returns them in rank order.

    Stops early when no pair reaches ``min_pair_count``. Ties on
    frequency break lexicographically (deterministic merge sequence).
    """
    # limit BEFORE collecting so an over-budget vocab raises the loud
    # guard instead of OOMing the driver during the collect itself
    rows = word_counts(docs, text_col).limit(_BPE_VOCAB_MAX + 1).collect()
    if len(rows) > _BPE_VOCAB_MAX:
        raise ValueError(
            f"BPE vocab exceeds {_BPE_VOCAB_MAX} distinct words; "
            "pre-filter the corpus (min word frequency) before training"
        )
    # word -> (symbol tuple, count); chars + end-of-word marker
    vocab: dict[tuple, int] = {}
    for r in rows:
        syms = tuple(r.word[:-1]) + (r.word[-1] + END,)
        # r["count"], not r.count — Row.count is the tuple METHOD
        vocab[syms] = vocab.get(syms, 0) + int(r["count"])

    # pair -> total count, and pair -> {word: occurrences} index so an
    # iteration touches only the words containing the merged pair
    # (the subword-nmt incremental trick)
    pair_counts: dict[tuple, int] = {}
    pair_words: dict[tuple, dict] = {}

    def _index_word(syms: tuple, count: int, sign: int) -> None:
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + sign * count
            if pair_counts[p] <= 0:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
                continue
            wmap = pair_words.setdefault(p, {})
            occ = wmap.get(syms, 0) + sign
            if occ <= 0:
                wmap.pop(syms, None)
            else:
                wmap[syms] = occ

    for syms, count in vocab.items():
        _index_word(syms, count, +1)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        # highest count, then SMALLEST pair — deterministic
        top = max(pair_counts.values())
        cands = [p for p, c in pair_counts.items() if c == top]
        pair = min(cands)
        if top < min_pair_count:
            break
        merges.append(pair)
        touched = list(pair_words.get(pair, {}).keys())
        for syms in touched:
            count = vocab.pop(syms, 0)
            if not count:
                continue
            _index_word(syms, count, -1)
            merged = _merge_word(syms, pair)
            vocab[merged] = vocab.get(merged, 0) + count
            _index_word(merged, count, +1)
    return merges


def encode_word(word: str, ranks: dict) -> list[str]:
    """Greedy lowest-rank-first BPE encoding of one word (the standard
    inference algorithm: repeatedly merge the best-ranked adjacent
    pair present)."""
    syms = list(word[:-1]) + [word[-1] + END] if word else []
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bpe_tokens array<string>, n_bpe_tokens) per document.

    Distributed encoding: the merge-rank table rides the closure
    (tens of KB for typical merge counts) into one Arrow-batched
    pandas stage; per-batch, distinct words encode once through a
    local cache (Zipf makes the hit rate high), then tokens concat in
    word order. One scan, zero shuffles. Lowercasing happens in the
    JVM projection feeding the stage — the same runtime and mapping
    word_counts uses at training time (see the module case note).
    """
    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}
    id_field = docs.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("bpe_tokens", T.ArrayType(T.StringType())),
            T.StructField("n_bpe_tokens", T.LongType()),
        ]
    )

    def run(batches):
        cache: dict[str, list] = {}
        for pdf in batches:
            toks, ntoks = [], []
            for text in pdf[text_col]:
                doc_tokens: list[str] = []
                # text arrives pre-lowered by the JVM projection below —
                # the SAME runtime word_counts lowers with at training
                # time — so no str.lower() here (see module note)
                for w in _WS_RE.split(str(text)):
                    if not w:
                        continue
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_word(w, ranks)
                        cache[w] = enc
                    doc_tokens.extend(enc)
                toks.append(doc_tokens)
                ntoks.append(len(doc_tokens))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "bpe_tokens": toks, "n_bpe_tokens": ntoks}
            )

    return docs.select(
        id_col, F.lower(F.col(text_col)).alias(text_col)
    ).mapInPandas(run, schema=out_schema)
