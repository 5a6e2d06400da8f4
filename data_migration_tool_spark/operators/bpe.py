"""Distributed BPE merge training (Sennrich et al., ACL'16) — the
tokenizer-training step of a corpus pipeline, run where the data is.

Classic BPE training never needs the corpus after one pass: it operates
on the **word-frequency table** (distinct word → count), which is
vocabulary-sized (~1e8 rows at web scale), not corpus-sized. The Spark
shape:

1. one corpus-grain pass: explode tokens → groupBy word → count
   (partial-aggregated shuffle, the only corpus-sized step);
2. per merge round, all at vocabulary grain: explode adjacent symbol
   pairs weighted by word count → groupBy pair → argmax (freq DESC,
   pair ASC) → apply the merge to every word's symbol array with a
   pure-Catalyst ``aggregate`` fold (greedy left-to-right, standard
   BPE semantics). ``localCheckpoint`` truncates lineage so round N's
   plan stays O(1).

The only driver transfer is the 1-row argmax per round and the final
k-merge table — both O(merges), never O(words). No UDFs anywhere; the
fold is a Catalyst higher-order function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_tool_spark.functions import text as TX

# Separator for pair keys; NUL sorts below every printable char, so
# lexicographic order on the joined string equals tuple order on
# (left, right) for NUL-free symbols.
_SEP = "\x00"


def _adjacent_pairs(syms: Column) -> Column:
    n = F.size(syms) - F.lit(1)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat(
            F.element_at(syms, i), F.lit(_SEP), F.element_at(syms, i + 1)
        ),
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of every adjacent (left, right) into
    one symbol, as a Catalyst aggregate fold: append each symbol unless
    it completes the pair with the accumulator's tail, in which case the
    tail is replaced by the merged symbol. A merged symbol never
    re-merges with a following ``right`` unless it literally equals
    ``left`` — standard BPE behavior."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The one corpus-grain pass: (word, cnt, syms=chars)."""
    words = df.select(F.explode(TX.tokens(text_col)).alias("w"))
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w",
            "cnt",
            F.regexp_extract_all("w", F.lit("."), 0).alias("syms"),
        )
    )


def bpe_encode_lengths(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge sequence and report per-document encoded
    length: (id, n_tokens, n_symbols) where n_symbols is the total BPE
    symbol count after all merges — the number a training pipeline
    budgets against.

    Scale: merges apply at VOCABULARY grain (distinct words), once per
    word, as chained Catalyst folds; the corpus then joins its token
    stream to the encoded lengths word-keyed and partial-aggregates per
    doc. The corpus is never re-folded per merge — k merges cost k
    passes over the vocab table, not the corpus."""
    words = df.select(F.explode(TX.tokens(text_col)).alias("w")).distinct()
    syms = F.regexp_extract_all("w", F.lit("."), 0)
    for left, right in merges:
        syms = _apply_merge(syms, left, right)
    encoded = words.select("w", F.size(syms).cast("bigint").alias("enc_len"))
    toks = df.select(id_col, F.explode(TX.tokens(text_col)).alias("w"))
    return (
        toks.join(encoded, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("enc_len").alias("n_symbols"),
        )
    )


def bpe_train(
    df: DataFrame,
    num_merges: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Learn the top ``num_merges`` BPE merges; returns a DataFrame
    (rank INT, left STRING, right STRING, freq BIGINT) ordered by rank.

    Ties at equal pair frequency break lexicographically on
    (left, right) so the learned merge sequence is deterministic at any
    parallelism and any engine."""
    from data_migration_tool_spark.partitioning import scoped_loop

    spark = df.sparkSession
    # The corpus-scale vocab derivation materializes EAGERLY at session
    # parallelism (AQE on — it wants the coalescing), so the merge loop
    # below can run under pinned partitions + static plans
    # (``scoped_loop``): each round is a vocabulary-grain
    # explode + argmax whose plan is fully known, and AQE only added
    # per-exchange stage-jobs and re-planning to every round's first()
    # (interleaved mins on doc_bpe_encoded_lengths at sf0.1: 2.61-3.08
    # → 2.41-2.75 s). Per-round checkpoints stay LAZY (r13, guide
    # §1.2/§5): each round's argmax materializes the previous round's
    # merged vocab inside the same job, so k rounds cost k loop jobs —
    # and the final merge (whose vocab no round ever reads) is never
    # materialized at all. Lineage still truncates at every
    # materialized checkpoint, so round N's plan stays O(1).
    vocab = word_freq_table(df, text_col).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    with scoped_loop(spark, 8):
        for rank in range(1, num_merges + 1):
            pairs = vocab.select(
                "cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("pair")
            )
            top = (
                pairs.groupBy("pair")
                .agg(F.sum("cnt").alias("freq"))
                .orderBy(F.desc("freq"), F.asc("pair"))
                .first()
            )
            if top is None:
                break
            left, right = top["pair"].split(_SEP)
            merges.append((rank, left, right, int(top["freq"])))
            vocab = vocab.withColumn(
                "syms", _apply_merge(F.col("syms"), left, right)
            ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "rank INT, left STRING, right STRING, freq BIGINT"
    )
