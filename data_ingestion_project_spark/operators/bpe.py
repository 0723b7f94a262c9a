"""Byte-pair-encoding merge TRAINING over a corpus (Sennrich et al.,
"Neural Machine Translation of Rare Words with Subword Units", 2016) —
the tokenizer-construction step of a training-data pipeline, next to
the fixed-tokenizer counting in functions/text.bpe_token_count.

Distributed shape (the same one HuggingFace's trainer uses on one
machine): all statistics come from the WORD-FREQUENCY table, not the
corpus — one corpus-sized aggregation up front, then every merge round
touches only |vocab| rows. Per round: explode adjacent symbol pairs
weighted by word frequency, one partial-agg shuffle to find the best
pair (count desc, then lexicographic — fully deterministic), and one
Arrow-batched rewrite of the symbol arrays (a linear left-to-right
scan per word, because merges overlap: 'aaa' + merge (a,a) -> (aa, a),
which no per-element higher-order function expresses). The vocab frame
is localCheckpoint'ed each round — a driver loop over an
un-checkpointed lineage would replay every earlier round, the same
trap operators/graph.py documents.

At 100 TB the word-frequency table is still vocabulary-sized (tens of
millions of rows, not trillions), so rounds are metadata-scale; the
single corpus pass dominates, exactly as it should.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.materialize import pin

END = "</w>"  # end-of-word marker, per the paper


def word_freq_symbols(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(symbols array<string>, freq) — each distinct lowercased word as
    its character sequence plus the end-of-word marker. The ONE
    corpus-sized pass."""
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    symbols = F.concat(
        F.split(F.col("w"), ""),  # character array
        F.array(F.lit(END)),
    )
    return freq.select(symbols.alias("symbols"), "freq")


def _merge_round(vocab: DataFrame, left: str, right: str) -> DataFrame:
    lft, rgt = left, right

    def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for syms in pdf["symbols"]:
                merged, i, n = [], 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == lft and syms[i + 1] == rgt:
                        merged.append(lft + rgt)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                out.append(merged)
            yield pd.DataFrame({"symbols": out, "freq": pdf["freq"]})

    return vocab.mapInPandas(_apply, schema="symbols array<string>, freq long")


def bpe_encode_token_count(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply LEARNED merges to every document and attach its real BPE
    token count — the other half of the tokenizer loop (bpe_train
    builds the merge table; this encodes with it, the counts a packing
    or budget pass should actually use instead of the whitespace/regex
    estimate in functions/text.py).

    Encoding is the standard greedy ranked-merge loop per word
    (HuggingFace/GPT-2 shape): repeatedly merge the lowest-rank
    adjacent pair. Arrow-batched pandas UDF with a per-batch word
    memo — corpora repeat words (Zipf), so the amortized cost per row
    is near the dictionary lookup, and the merge table broadcasts via
    closure. Word splitting and lowercasing happen in SPARK with the
    exact expression word_freq_symbols trains on (lower + Java \\s+) —
    a Python-side str.split()/str.lower() would disagree on Unicode
    whitespace (NBSP) and locale case folds (Turkish İ), silently
    encoding words the trainer never saw."""
    from pyspark.sql.functions import pandas_udf

    ranks = {(left, right): i for i, (left, right, _n) in enumerate(merges)}

    def _encode_len(word: str) -> int:
        syms = list(word) + [END]
        while len(syms) > 1:
            best_i, best_rank = -1, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_i, best_rank = i, r
            if best_rank is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return len(syms)

    @pandas_udf("int")
    def _count(word_arrays: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def doc_tokens(words) -> int:
            if words is None:  # NULL text → NULL token array; count 0
                return 0  # (the trainer's explode drops such rows too)
            total = 0
            for w in words:
                if not w:
                    continue
                n = memo.get(w)
                if n is None:
                    n = memo[w] = _encode_len(w)
                total += n
            return total

        return word_arrays.map(doc_tokens).astype("int32")

    # identical tokenization expression to word_freq_symbols
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return docs.withColumn(out_col, _count(words))


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 12,
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` BPE merges; returns [(left, right,
    pair_count)] in learned order. Stops early when no pair reaches
    ``min_pair_count`` (merging hapax pairs learns noise)."""
    vocab = pin(word_freq_symbols(docs, text_col))
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        # words already merged down to ONE symbol contribute no pairs;
        # without this filter sequence(0, -1) walks DESCENDING and
        # element_at reads past the array (crash under ANSI)
        pairs = vocab.filter(F.size("symbols") >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("symbols") - 2),
                    lambda i: F.struct(
                        F.element_at("symbols", i + 1).alias("l"),
                        F.element_at("symbols", i + 2).alias("r"),
                    ),
                )
            ).alias("p"),
            "freq",
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
            .first()
        )
        if best is None or best["n"] < min_pair_count:
            break
        merges.append((best["l"], best["r"], int(best["n"])))
        vocab = pin(_merge_round(vocab, best["l"], best["r"]))
    return merges
