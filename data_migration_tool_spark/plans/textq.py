"""Text-analysis and dedup plans over the ``documents`` table, each with
a DuckDB oracle replicating the exact operator semantics (portable
md5-derived hashes, deterministic integer-ratio doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from data_migration_tool_spark.functions import text as TX
from data_migration_tool_spark.operators import dedup as DD
from data_migration_tool_spark.operators import textops as TO
from data_migration_tool_spark.partitioning import cached
from data_migration_tool_spark.tables import load_table

# Shared SQL fragments — tokenization and shingling twins of
# functions.text.tokens / word_shingles.
_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
  FROM toks WHERE len(tk) >= 3
)
"""


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (explode-free: all array expressions in-scan)."""
    d = load_table(spark, sf_dir, "documents")
    return TO.token_stats(d)


DOC_TOKEN_STATS_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents)
SELECT doc_id,
       len(tk) AS n_tokens,
       len(list_distinct(tk)) AS n_distinct_tokens,
       CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
         / CAST(greatest(len(tk), 1) AS DOUBLE) AS avg_token_len
FROM toks
"""


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length band + stopword-ratio band)."""
    d = load_table(spark, sf_dir, "documents")
    return TO.quality_scores(d)


_SW = "('the','a','of','and','to','in')"
DOC_QUALITY_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
m AS (
  SELECT doc_id, len(tk) AS n_tokens,
         CAST(len(list_filter(tk, t -> t IN {_SW})) AS DOUBLE)
           / CAST(greatest(len(tk), 1) AS DOUBLE) AS stopword_ratio
  FROM toks
)
SELECT doc_id, n_tokens, stopword_ratio,
  CAST(CASE WHEN (n_tokens BETWEEN 20 AND 2000)
        AND (stopword_ratio >= 0.01 AND stopword_ratio <= 0.6) THEN 1.0
       WHEN (n_tokens BETWEEN 20 AND 2000)
         OR (stopword_ratio >= 0.01 AND stopword_ratio <= 0.6) THEN 0.5
       ELSE 0.0 END AS DOUBLE) AS quality
FROM m
"""


def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID vs the labeled lang column."""
    d = load_table(spark, sf_dir, "documents")
    return (
        TO.language_id(d)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_MARKER_SCORES = ",\n".join(
    f"  len(list_filter(tk, t -> t IN ({', '.join(repr(m) for m in markers)}))) AS s_{lang}"
    for lang, markers in sorted(TX.LANG_MARKERS.items())
)
_LANGS = sorted(TX.LANG_MARKERS)
DOC_LANG_SQL = f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
sc AS (
  SELECT doc_id, lang,
{_MARKER_SCORES},
  greatest({', '.join('s_' + lang for lang in _LANGS)}) AS best
  FROM toks
)
SELECT lang,
  CASE {' '.join(f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in _LANGS)}
       ELSE 'und' END AS predicted_lang,
  COUNT(*) AS n_docs
FROM sc
GROUP BY 1, 2
"""


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-text md5 fingerprint groupBy."""
    d = load_table(spark, sf_dir, "documents")
    return DD.exact_dedup(d)


DOC_EXACT_DEDUP_SQL = """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_dups
FROM documents
GROUP BY 1
"""


def doc_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 hashes) + LSH (4-row bands) candidate generation with
    exact Jaccard verify ≥ 0.5 — the scale-path near-dup detector.

    At 100 TB: shingle explode is map-side; min-hash agg is one shuffle
    on doc_id; band self-join cost follows bucket sizes (Σb²), never n²;
    exact verify touches candidate pairs only."""
    d = load_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_dedup(d, threshold=0.5)


_SEED_VALUES = ", ".join(
    f"({s}, {a}, {b})" for s, a, b in DD.minhash_params(DD.NUM_HASHES)
)
# Reusable CTE chain ending in lsh_pairs(id_a, id_b, jaccard ≥ 0.5) —
# shared by the pair query and the dup-cluster (connected components)
# oracle.
_MINHASH_CTES = f"""{_SHINGLES_CTE},
seeds AS (SELECT * FROM (VALUES {_SEED_VALUES}) AS t(seed, a, b)),
base AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM sh
),
hashed AS (
  SELECT doc_id, seed, (a * h + b) % {DD.MINHASH_P} AS h
  FROM base, seeds
),
minh AS (SELECT doc_id, seed, MIN(h) AS minh FROM hashed GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, seed // {DD.BAND_ROWS} AS band,
         md5(string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed)) AS band_key
  FROM minh GROUP BY doc_id, seed // {DD.BAND_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
lsh_pairs AS (
  SELECT c.id_a, c.id_b,
         CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) AS jaccard
  FROM common c
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
  WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.5
)"""

DOC_MINHASH_SQL = f"""
WITH {_MINHASH_CTES}
SELECT id_a, id_b, jaccard FROM lsh_pairs
"""


def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: LSH-verified pairs resolved to connected
    components by iterative min-label propagation (cluster_id = min
    doc_id in the component). The oracle replicates the fixpoint with a
    recursive CTE (transitive closure → min reachable id), so the
    iterative Spark algorithm is value-checked against a declarative
    definition of the same clustering."""
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(d, threshold=0.5)
    return DD.dup_clusters(pairs, loop_shuffle_partitions=8)


def doc_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as ``doc_dup_clusters`` computed by the
    large-star/small-star O(log n)-round algorithm
    (operators/dedup.dup_clusters_two_star) — the billion-edge scale
    path, value-checked against the identical recursive-CTE oracle."""
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(d, threshold=0.5)
    return DD.dup_clusters_two_star(pairs, loop_shuffle_partitions=8)


# CTE chain ending in clusters(doc_id, cluster_id) — the recursive-CTE
# transitive closure shared by the cluster query and the canonical-doc
# selection oracle.
_CLUSTERS_CTES = f"""{_MINHASH_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM lsh_pairs
),
nodes AS (SELECT DISTINCT u AS id FROM edges),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id
),
clusters AS (
  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
)
"""

DOC_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_CLUSTERS_CTES}
SELECT doc_id, cluster_id FROM clusters
"""


def dup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster: within every
    connected component, keep the longest document (ties → lowest
    doc_id) and report how much of the cluster it represents. This is
    the step a dedup pipeline runs after clustering — one survivor per
    cluster, the rest dropped.

    Scale: clusters ⨝ documents is a doc_id-keyed equi-join touching
    only docs that appear in a dup pair (a small fraction of the
    corpus); the per-cluster argmax is a single groupBy with a map-side
    combinable struct-MAX — no window over raw rows, no skew risk
    (clusters are tiny by construction).

    Reference parity: the survivor-selection semantics of dedup
    "keep one" (SURVEY §2 dedup family); no reference file computes
    this — it is the training-pipeline extension.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(d, threshold=0.5)
    clusters = DD.dup_clusters(pairs, loop_shuffle_partitions=8)
    sized = clusters.join(d.select("doc_id", "n_chars"), "doc_id")
    # argmax by (n_chars DESC, doc_id ASC) as a struct MAX: negate the
    # id so lexicographic struct ordering applies the tie-break.
    best = F.max(
        F.struct(
            F.col("n_chars").alias("len"),
            (-F.col("doc_id")).alias("neg_id"),
        )
    ).alias("best")
    return (
        sized.groupBy("cluster_id")
        .agg(
            best,
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("n_chars").cast("bigint")).alias("cluster_chars"),
        )
        .select(
            "cluster_id",
            (-F.col("best.neg_id")).alias("canonical_doc_id"),
            F.col("best.len").alias("canonical_chars"),
            "n_members",
            "cluster_chars",
        )
    )


DUP_CANONICAL_SQL = f"""
WITH RECURSIVE {_CLUSTERS_CTES},
sized AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars
  FROM clusters c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
  ) AS rn
  FROM sized
)
SELECT cluster_id,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc_id,
       MAX(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars,
       COUNT(*) AS n_members,
       CAST(SUM(n_chars) AS BIGINT) AS cluster_chars
FROM ranked
GROUP BY cluster_id
"""


def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ 0.8 via the inverted shingle
    index — the verify-stage twin of the LSH path.

    This query EXPLICITLY opts into the quadratic exact join with a
    bounded static cap: the operator's default "auto" guard derives its
    threshold from the band-bucket histogram and (correctly) refuses
    this corpus at sf0.1 — the exact join emits ~1.3M intersection rows
    where LSH banding would verify ~1k candidates. The oracle needs the
    byte-exact full answer, so the twin pins the legacy cap instead;
    production callers get the derived guard.

    r14 (guide §3, VERDICT r13 #6): pair generation goes through the
    LOSSLESS prefix filter — candidates come from each doc's
    (df, shingle)-ordered prefix (length n − ⌈0.8·n⌉ + 1 ≈ 0.2·n) plus
    the den·min ≥ num·max size bound, then exact verification computes
    the identical Jaccard arithmetic. Same rows byte-for-byte (the
    prefix theorem guarantees no qualifying pair is pruned; oracle
    hash-proved), ~0.2² of the former intersection-join volume."""
    d = load_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(
        d, threshold=0.8, max_join_pairs=50_000_000, prefix_filter=True
    )


DOC_NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) AS jaccard
FROM pairs
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.8
"""


def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures (per-bit majority over token hashes)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.simhash(d, bits=16)


_SIMHASH_VOTES = ",\n".join(
    f"  SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(16)
)
_SIMHASH_ASSEMBLE = " + ".join(
    f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16)
)
DOC_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM toks
),
votes AS (
  SELECT doc_id,
{_SIMHASH_VOTES}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({_SIMHASH_ASSEMBLE} AS BIGINT) AS simhash FROM votes
"""


def doc_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-20 (explode/unnest — SURVEY J4 shape
    applied to text)."""
    d = load_table(spark, sf_dir, "documents")
    return TO.token_frequencies(d, top_n=20)


DOC_TOKEN_FREQ_SQL = f"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest({_TOKS}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


def corpus_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams — the n-gram statistics pass a
    tokenizer-training / contamination-screen pipeline runs first.

    Scale: explode is map-side; the count groupBy partial-aggregates
    before the single shuffle (bigram-keyed, heavy hitters combine
    map-side); top-k is a TakeOrdered, never a global sort
    materialization."""
    d = load_table(spark, sf_dir, "documents")
    bi = d.select(F.explode(TX.word_shingles("text", 2)).alias("bigram"))
    return (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


CORPUS_BIGRAM_SQL = f"""
WITH toks AS (SELECT {_TOKS} AS tk FROM documents),
bi AS (
  SELECT unnest(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i+1])) AS bigram
  FROM toks WHERE len(tk) >= 2
)
SELECT bigram, COUNT(*) AS n
FROM bi
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 20
"""


def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 salient terms by TF·IDF, with a log-free IDF
    (``n_docs / df`` as an exact double ratio) so both engines produce
    bit-identical scores — ``log`` is not guaranteed correctly rounded
    across libm implementations, a plain division is.

    Scale: token explode + (doc, term) count partial-aggregates
    map-side; document frequency is a second aggregate of the SAME
    (doc, term) grain (no re-explode); the tf ⨝ df join is term-keyed
    (AQE handles stopword-term skew); the corpus size joins in as a
    broadcast single-row aggregate; top-3 per doc is one window shuffle
    on doc_id. Nothing is vocabulary-sized on the driver."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tab, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "score", "rk")
    )


DOC_TFIDF_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE)
           * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC
  ) AS rk
  FROM scored
)
SELECT doc_id, term, score, rk FROM ranked WHERE rk <= 3
"""


def doc_lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency proxy per document: the average corpus
    frequency of the document's bigrams — the deterministic skeleton of
    perplexity-based quality filtering (an n-gram LM score without the
    ``log``, which is not bit-reproducible across engines).

    Scale: the bigram LM "training" is the same partial-aggregated
    count shuffle as ``corpus_bigram_topk``; scoring joins doc-bigrams
    to the model bigram-keyed (AQE splits the head-bigram skew), then
    one groupBy on doc_id. The LM table is never collected or
    broadcast by hand — at web scale it is billions of rows and stays
    distributed."""
    d = load_table(spark, sf_dir, "documents")
    bi = d.select("doc_id", F.explode(TX.word_shingles("text", 2)).alias("bigram"))
    counts = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return (
        bi.join(counts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_bigram_freq"),
        )
    )


DOC_LM_FLUENCY_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i+1])) AS bigram
  FROM toks WHERE len(tk) >= 2
),
counts AS (SELECT bigram, COUNT(*) AS n FROM bi GROUP BY 1)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bigram_freq
FROM bi JOIN counts USING (bigram)
GROUP BY doc_id
"""


def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-vs-total n-gram counts for n = 1..3 — the vocabulary
    growth curve (Heaps'-law check) a tokenizer-training run consults
    before fixing a vocab size.

    Scale: each n is one explode + one partially-aggregated
    count/count-distinct shuffle; the three branches share nothing but
    the scan, and the result is three rows."""
    d = load_table(spark, sf_dir, "documents")
    out = None
    for n in (1, 2, 3):
        grams = d.select(F.explode(TX.word_shingles("text", n)).alias("g"))
        row = grams.agg(
            F.lit(n).alias("n"),
            F.countDistinct("g").alias("distinct_ngrams"),
            F.count(F.lit(1)).alias("total_ngrams"),
        )
        out = row if out is None else out.unionByName(row)
    return out


CORPUS_VOCAB_SQL = f"""
WITH toks AS (SELECT {_TOKS} AS tk FROM documents),
g1 AS (SELECT unnest(tk) AS g FROM toks),
g2 AS (SELECT unnest(list_transform(range(1, len(tk)),
              i -> tk[i] || ' ' || tk[i+1])) AS g
       FROM toks WHERE len(tk) >= 2),
g3 AS (SELECT unnest(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
       FROM toks WHERE len(tk) >= 3)
SELECT 1 AS n, COUNT(DISTINCT g) AS distinct_ngrams, COUNT(*) AS total_ngrams FROM g1
UNION ALL
SELECT 2 AS n, COUNT(DISTINCT g) AS distinct_ngrams, COUNT(*) AS total_ngrams FROM g2
UNION ALL
SELECT 3 AS n, COUNT(DISTINCT g) AS distinct_ngrams, COUNT(*) AS total_ngrams FROM g3
"""


_CM_D, _CM_W = 3, 32


def _cm_bucket(tok: F.Column, r: int) -> F.Column:  # type: ignore[name-defined]
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cm{r}:"), tok)), 1, 8), 16, 10
        ).cast("bigint")
        % _CM_W
    )


def token_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan '05) over corpus
    tokens: d=3 md5-salted hash rows × w=32 buckets, then point
    estimates for the exact top-10 tokens with the never-undercount
    invariant surfaced as a column. Unlike the engine-native HLL /
    quantile sketches, every hash here is md5-derived, so the ENTIRE
    sketch — not just an error envelope — is value-checked against the
    oracle.

    At 100 TB: the sketch is d·w counters built in one
    partial-aggregated shuffle of the token stream (the d-way explode
    is map-side); the sketch table (96 rows) broadcasts to the
    estimate join. This is the mergeable-summary pattern: per-partition
    sketches combine by cell-wise addition, which IS the map-side
    combine of the groupBy."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(TX.tokens("text")).alias("token"))

    def expand(tok_col):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _cm_bucket(tok_col, r).alias("bucket")
                    )
                    for r in range(_CM_D)
                ]
            )
        )

    rb = toks.select(expand(F.col("token")).alias("x")).select("x.r", "x.bucket")
    sketch = rb.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("n"))
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("token"))
        .limit(10)
    )
    lookup = top.select(
        "token", "exact_n", expand(F.col("token")).alias("x")
    ).select("token", "exact_n", "x.r", "x.bucket")
    return (
        lookup.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("n").alias("cm_n"))
        .select(
            "token",
            "exact_n",
            "cm_n",
            (F.col("cm_n") >= F.col("exact_n")).alias("never_undercounts"),
        )
    )


TOKEN_COUNTMIN_SQL = f"""
WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
seeds AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(r)),
rb AS (
  SELECT r,
         CAST(concat('0x', substr(md5(concat('cm', r, ':', token)), 1, 8))
              AS BIGINT) % {_CM_W} AS bucket
  FROM toks CROSS JOIN seeds
),
sketch AS (SELECT r, bucket, COUNT(*) AS n FROM rb GROUP BY 1, 2),
top AS (
  SELECT token, COUNT(*) AS exact_n FROM toks GROUP BY 1
  ORDER BY exact_n DESC, token ASC LIMIT 10
),
lookup AS (
  SELECT token, exact_n, r,
         CAST(concat('0x', substr(md5(concat('cm', r, ':', token)), 1, 8))
              AS BIGINT) % {_CM_W} AS bucket
  FROM top CROSS JOIN seeds
)
SELECT l.token, l.exact_n, MIN(s.n) AS cm_n,
       MIN(s.n) >= l.exact_n AS never_undercounts
FROM lookup l JOIN sketch s USING (r, bucket)
GROUP BY l.token, l.exact_n
"""


def bpe_merges_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 10 BPE merges from the documents corpus
    (operators/bpe.bpe_train). BPE training is iterative but every
    quantity is an INTEGER (pair frequencies) with a deterministic
    lexicographic tie-break, so unlike the float-iterative ops it IS
    exactly SQL-expressible: the oracle unrolls the 10 merge rounds as
    chained CTEs (see ``_bpe_ctes`` — spaced-string merge application,
    provably equivalent to the engine's greedy left-to-right fold) and
    hash-matches the engine merge-for-merge. A pure-Python reference
    test in tests/test_dataops.py pins the semantics independently."""
    from data_migration_tool_spark.operators import bpe

    d = load_table(spark, sf_dir, "documents")
    return bpe.bpe_train(d, num_merges=10)


def _bpe_ctes(num_merges: int = 10) -> list[str]:
    """Chained-CTE unroll of integer-exact BPE training — the DuckDB
    twin of ``operators/bpe.bpe_train``.

    State per round is the word table with symbols encoded as a
    delimiter-framed string: every symbol wrapped in its own chr(31)
    frame (``\\x1f a \\x1f \\x1f b \\x1f``). Applying merge (l, r) is then
    ONE ``replace`` of ``\\x1f l \\x1f \\x1f r \\x1f`` with
    ``\\x1f lr \\x1f`` — left-to-right non-overlapping, which matches
    the engine's greedy fold exactly: within a round the merged symbol
    can never re-pair (it equals neither l nor r), so replace() and the
    fold produce identical segmentations. Tie-break ORDER BY freq DESC,
    l, r equals the engine's pair-string order (NUL separator sorts
    below every symbol byte). MATERIALIZED keeps each round evaluated
    once instead of inlining the whole chain per reference."""
    ctes = [
        f"""wf AS MATERIALIZED (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest({_TOKS}) AS w FROM documents)
  GROUP BY w
)""",
        """s0 AS MATERIALIZED (
  SELECT w, cnt,
         chr(31) || array_to_string(regexp_extract_all(w, '.'), chr(31) || chr(31)) || chr(31) AS st
  FROM wf
)""",
    ]
    for i in range(1, num_merges + 1):
        p = i - 1
        ctes.append(
            f"""p{i} AS (
  SELECT sy[i] AS l, sy[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS freq
  FROM (SELECT cnt, list_filter(string_split(st, chr(31)), x -> x <> '') AS sy FROM s{p}),
       UNNEST(range(1, len(sy))) AS u(i)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""b{i} AS MATERIALIZED (
  SELECT l, r, freq FROM p{i} ORDER BY freq DESC, l, r LIMIT 1
)"""
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
  SELECT w, cnt,
         replace(st, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                     chr(31) || b.l || b.r || chr(31)) AS st
  FROM s{p}, b{i} b
)"""
        )
    return ctes


_BPE_K = 10

BPE_TRAIN_SQL = (
    "WITH "
    + ",\n".join(_bpe_ctes(_BPE_K))
    + "\nSELECT * FROM ("
    + "\nUNION ALL\n".join(
        f'SELECT {i} AS rank, l AS "left", r AS "right", freq FROM b{i}'
        for i in range(1, _BPE_K + 1)
    )
    + ")"
)


def doc_bpe_encoded_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 10 BPE merges on the corpus, then encode the corpus with
    them: per-doc whitespace-token and post-merge symbol counts (the
    token budget after tokenizer compression). The oracle reuses the
    unrolled training chain (``_bpe_ctes``) and reads each word's
    encoded length straight off the final round's segmentation state —
    hash-exact end to end."""
    from data_migration_tool_spark.operators import bpe

    d = load_table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"]) for r in bpe.bpe_train(d, num_merges=10).collect()
    ]
    return bpe.bpe_encode_lengths(d, merges)


DOC_BPE_ENCODE_SQL = (
    "WITH "
    + ",\n".join(_bpe_ctes(_BPE_K))
    + f""",
enc AS (
  SELECT w,
         CAST(len(list_filter(string_split(st, chr(31)), x -> x <> '')) AS BIGINT) AS enc_len
  FROM s{_BPE_K}
),
tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(enc_len) AS BIGINT) AS n_symbols
FROM tok JOIN enc USING (w)
GROUP BY doc_id
"""
)


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per predicted language (r11) — symbols per
    whitespace word after the learned merges, grouped by the marker-
    lexicon language ID: the per-language compression audit a
    multilingual pipeline runs before committing a tokenizer (a
    vocabulary trained lopsidedly produces fertility ≫ 1 on the
    under-represented languages, inflating their effective token
    cost). Composes two already-audited lanes — the 10-merge BPE
    train+encode chain and the marker-lexicon language ID — the same
    composition posture as ``hybrid_rrf_retrieval``. The oracle reuses
    both lanes' exact CTEs (the unrolled merge chain + the marker CASE)
    so the gate pins the composition end-to-end: counts are exact
    BIGINTs and fertility is one IEEE division of exact sums.

    Scale shape: training is vocabulary-grain (the merge table is 10
    rows collected to the driver); encoding is a word-grain broadcast
    join; language ID is a scan-side projection; the final groupBy
    carries ~|languages| groups. No doc-scale shuffle beyond the
    per-doc encode aggregate the BPE lane already pays."""
    from data_migration_tool_spark.operators import bpe

    d = load_table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"]) for r in bpe.bpe_train(d, num_merges=10).collect()
    ]
    enc = bpe.bpe_encode_lengths(d, merges)
    pred = TO.language_id(d).select("doc_id", "predicted_lang")
    return (
        enc.join(pred, "doc_id")
        .groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_words"),
            F.sum("n_symbols").cast("bigint").alias("n_symbols"),
            (
                F.sum("n_symbols").cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("fertility"),
        )
        .orderBy("predicted_lang")
    )


BPE_FERTILITY_SQL = (
    "WITH "
    + ",\n".join(_bpe_ctes(_BPE_K))
    + f""",
enc AS (
  SELECT w,
         CAST(len(list_filter(string_split(st, chr(31)), x -> x <> '')) AS BIGINT) AS enc_len
  FROM s{_BPE_K}
),
tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
doclen AS (
  SELECT doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(enc_len) AS BIGINT) AS n_symbols
  FROM tok JOIN enc USING (w)
  GROUP BY doc_id
),
ltoks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sc AS (
  SELECT doc_id,
{_MARKER_SCORES},
  greatest({', '.join('s_' + lang for lang in _LANGS)}) AS best
  FROM ltoks
),
pred AS (
  SELECT doc_id,
    CASE {' '.join(f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in _LANGS)}
         ELSE 'und' END AS predicted_lang
  FROM sc
)
SELECT predicted_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_words,
       CAST(SUM(n_symbols) AS BIGINT) AS n_symbols,
       CAST(SUM(n_symbols) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
           AS fertility
FROM doclen JOIN pred USING (doc_id)
GROUP BY predicted_lang
ORDER BY predicted_lang
"""
)


def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-style pre-tokenizer counts per document (the
    budget estimate a training pipeline runs before tokenizing 100 TB
    for real). Pure regexp projection — scan-side, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    nws = TX.token_count("text")
    nbpe = TX.bpe_token_count("text")
    return d.select(
        "doc_id",
        nws.alias("n_ws_tokens"),
        nbpe.alias("n_bpe_tokens"),
        (nbpe.cast("double") / F.greatest(nws, F.lit(1)).cast("double")).alias(
            "bpe_per_ws"
        ),
    )


DOC_BPE_SQL = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS DOUBLE)
         / CAST(greatest(len({_TOKS}), 1) AS DOUBLE) AS bpe_per_ws
FROM documents
"""


def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprint summary per document
    (functions/text.winnow_fingerprints): polynomial k-gram hashes,
    window minima, distinct set — integer-exact in both engines. The
    content-overlap fingerprint primitive, as a scan-side projection."""
    d = load_table(spark, sf_dir, "documents")

    def stats_of(fp):
        return F.struct(
            F.size(fp).cast("bigint").alias("n_fingerprints"),
            F.array_min(fp).alias("fp_min"),
            F.array_max(fp).alias("fp_max"),
            F.when(
                F.size(fp) > 0,
                F.aggregate(fp, F.lit(0).cast("bigint"), lambda a, x: a + x),
            ).alias("fp_sum"),
        )

    return d.select(
        "doc_id",
        F.greatest(F.length("text") - F.lit(TX.WINNOW_K - 1), F.lit(0))
        .cast("bigint")
        .alias("n_grams"),
        TX.bind(TX.winnow_fingerprints("text"), stats_of).alias("_s"),
    ).select(
        "doc_id", "n_grams", "_s.n_fingerprints", "_s.fp_min", "_s.fp_max", "_s.fp_sum"
    )


DOC_WINNOW_SQL = """
WITH h AS (
  SELECT doc_id, length(text) AS L,
         list_transform(range(1, length(text) - 3),
           i -> (ascii(substr(text, CAST(i AS INT), 1)) * 4362470401
               + ascii(substr(text, CAST(i + 1 AS INT), 1)) * 16974593
               + ascii(substr(text, CAST(i + 2 AS INT), 1)) * 66049
               + ascii(substr(text, CAST(i + 3 AS INT), 1)) * 257
               + ascii(substr(text, CAST(i + 4 AS INT), 1))) % 2147483647) AS hs
  FROM documents
),
sel AS (
  SELECT doc_id, L,
         list_distinct(list_transform(range(1, len(hs) - 2),
           j -> least(hs[j], hs[j+1], hs[j+2], hs[j+3]))) AS fp
  FROM h
)
SELECT doc_id,
       CAST(greatest(L - 4, 0) AS BIGINT) AS n_grams,
       CAST(len(fp) AS BIGINT) AS n_fingerprints,
       list_min(fp) AS fp_min,
       list_max(fp) AS fp_max,
       CAST(list_sum(fp) AS BIGINT) AS fp_sum
FROM sel
"""


def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-shingle ratio (Gopher-style repetition
    quality signal) — scan-side projection, integer-ratio double."""
    d = load_table(spark, sf_dir, "documents")
    return TO.repetition_scores(d)


DOC_REPETITION_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
shl AS (
  SELECT doc_id,
         list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
  FROM toks
)
SELECT doc_id,
       CAST(len(sh) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct_shingles,
       CASE WHEN len(sh) > 0
            THEN CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE)
                 / CAST(len(sh) AS DOUBLE)
            ELSE 0.0 END AS rep_ratio
FROM shl
"""


def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: the held-out benchmark is the
    doc_id % 37 == 0 slice; every other document is train. Emits the
    train docs sharing ≥1 3-gram shingle with the benchmark, with the
    distinct-shared-shingle count (operators/dedup.cross_corpus_overlap
    — benchmark shingles broadcast, train side scan-only)."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    train = d.filter(F.col("doc_id") % 37 != 0)
    return DD.cross_corpus_overlap(train, bench)


DOC_DECONTAMINATE_SQL = f"""
WITH {_SHINGLES_CTE}
SELECT t.doc_id AS doc_id, COUNT(*) AS n_shared_shingles
FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % 37 <> 0) t
JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0) e USING (shingle)
GROUP BY t.doc_id
"""


def doc_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the mergeable-SKETCH twin of
    ``doc_decontaminate`` (same doc_id % 37 benchmark split): the
    benchmark's shingles compress to a 4096-bit / k=4 md5-hashed Bloom
    filter (128 BIGINT words, bit_or-mergeable), every train shingle
    probes it, and per-doc stats roll up.  Because every hash is
    md5-derived, the oracle rebuilds the IDENTICAL filter in SQL and
    the whole verdict table is value-checked — no false negatives by
    construction (pinned against the exact path in test_dataops.py),
    false positives bounded by the fill ratio.

    At 100 TB: the filter is KBs and broadcasts regardless of
    benchmark size (the exact path must ship the full distinct-shingle
    set); train is one scan + broadcast probe, shuffled only at
    shingle-verdict grain."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    train = d.filter(F.col("doc_id") % 37 != 0)
    bloom = DD.bloom_build(bench)
    return DD.bloom_decontaminate(train, bloom)


DOC_BLOOM_DECONTAMINATE_SQL = f"""
WITH {_SHINGLES_CTE},
bpos AS (
  SELECT CAST(concat('0x', substr(md5('bl' || CAST(t.r AS VARCHAR) || '|'
                                       || shingle), 1, 8)) AS BIGINT) % 4096 AS p
  FROM (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0) b,
       (SELECT unnest(range(4)) AS r) t
),
words AS (
  SELECT p // 32 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
  FROM bpos GROUP BY 1
),
probes AS (
  SELECT doc_id, shingle,
         CAST(concat('0x', substr(md5('bl' || CAST(t.r AS VARCHAR) || '|'
                                      || shingle), 1, 8)) AS BIGINT) % 4096 AS p
  FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % 37 <> 0) tr,
       (SELECT unnest(range(4)) AS r) t
),
hits AS (
  SELECT doc_id, shingle,
         CASE WHEN COALESCE(w.bits, 0)
                   & (CAST(1 AS BIGINT) << CAST(pr.p % 32 AS INT))
                 = (CAST(1 AS BIGINT) << CAST(pr.p % 32 AS INT))
              THEN 1 ELSE 0 END AS hit
  FROM (SELECT doc_id, shingle, p, p // 32 AS word_idx FROM probes) pr
  LEFT JOIN words w USING (word_idx)
),
verdicts AS (
  SELECT doc_id, shingle,
         CASE WHEN SUM(hit) = COUNT(*) THEN 1 ELSE 0 END AS maybe
  FROM hits GROUP BY 1, 2
)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(maybe) AS BIGINT) AS n_maybe_contaminated,
       SUM(maybe) > 0 AS flagged
FROM verdicts GROUP BY doc_id
"""


# Corpus rebalance: keep all German, ~25% French, ~10% Spanish/Chinese,
# ~5% of everything else (the dominant English slice).
_STRATA_THRESHOLDS = {"de": "zz", "fr": "40", "es": "1a", "zh": "1a"}


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic hash sampling (corpus rebalancing),
    summarized per stratum. Membership is a pure row predicate — no
    shuffle, rerun-stable at any scale (operators/textops
    .stratified_hash_sample)."""
    d = load_table(spark, sf_dir, "documents")
    s = TO.stratified_hash_sample(d, _STRATA_THRESHOLDS)
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


DOC_STRATIFIED_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      CASE lang WHEN 'de' THEN 'zz' WHEN 'fr' THEN '40'
                WHEN 'es' THEN '1a' WHEN 'zh' THEN '1a' ELSE '0d' END
GROUP BY lang
"""


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline end-to-end in ONE declarative plan:
    quality filter → exact-dedup survivor selection → deterministic
    md5 train/val/test split → per-split corpus stats. Each stage is an
    operator that is also gate-checked standalone; this query proves
    they compose (the oracle replays the whole chain in SQL).

    At 100 TB: quality filtering is scan-local, dedup is one shuffle on
    the 16-byte fingerprint, split assignment is a pure projection —
    the whole prep costs two shuffles (dedup + final stats)."""
    d = load_table(spark, sf_dir, "documents")
    q = TO.quality_scores(d)
    passed = d.join(
        q.filter(F.col("quality") >= 1.0).select("doc_id", "n_tokens"), "doc_id"
    )
    survivors = DD.exact_dedup(passed).select(F.col("keep_id").alias("doc_id"))
    kept = passed.join(survivors, "doc_id")
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(pref < "e6", "train")
        .when(pref < "f3", "val")
        .otherwise("test")
    )
    return (
        kept.select(split.alias("split"), "lang", "n_chars", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


CORPUS_PREP_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
m AS (
  SELECT doc_id, len(tk) AS n_tokens,
         CAST(len(list_filter(tk, t -> t IN {_SW})) AS DOUBLE)
           / CAST(greatest(len(tk), 1) AS DOUBLE) AS stopword_ratio
  FROM toks
),
passed AS (
  SELECT d.doc_id, d.text, d.lang, d.n_chars, m.n_tokens
  FROM documents d JOIN m USING (doc_id)
  WHERE (m.n_tokens BETWEEN 20 AND 2000)
    AND (m.stopword_ratio >= 0.01 AND m.stopword_ratio <= 0.6)
),
surv AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
        FROM passed)
  GROUP BY fp
)
SELECT CASE WHEN substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
            WHEN substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
            ELSE 'test' END AS split,
       p.lang, COUNT(*) AS n_docs,
       CAST(SUM(p.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens
FROM passed p JOIN surv USING (doc_id)
GROUP BY 1, 2
"""


def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (edit distance with blocking) — the
    data-cleaning primitive behind source→target name mapping when
    names drift between systems. Executes at distinct-name grain: the
    name dictionary is orders of magnitude smaller than the rows
    bearing the names, and the self-join is blocked on the trailing
    token, so comparisons are Σ block² over the dictionary, never a
    cartesian over rows. Levenshtein is an integer metric — exact in
    any engine. Since r12 the match runs through the guarded
    ``operators/textops.fuzzy_name_pairs``: Σ C(block,2) is priced
    before the self-join (the dictionary can saturate its blocking
    key while rows keep growing — the upsampled part table measures
    exactly that regime) and past 1024 comparisons per name the
    operator refuses loudly instead of running the quadratic join. At
    gate scale the corpus prices far under budget, so the result —
    and the oracle — are unchanged."""
    from data_migration_tool_spark.operators.textops import (
        fuzzy_name_pairs,
    )

    return fuzzy_name_pairs(load_table(spark, sf_dir, "part"), "p_name")


# The r12 guard is MIRRORED (the containment-adaptive convention): in
# the refusal regime — Σ C(block,2) > 1024·n_names — the oracle raises
# via error() exactly where the Spark operator refuses, so the engines
# agree (both raise) instead of error-vs-result. r13 (ADVICE r12):
# NULL/empty blocks (single-token names) are excluded from the match
# and the pricing on BOTH engines — split_part yields '' where Spark's
# old split(...)[1] yielded NULL, a latent divergence outside TPC-H
# data; the WHERE blk <> '' mirror matches the operator's filter.
PART_NAME_FUZZY_SQL = """
WITH names AS (
  SELECT DISTINCT p_name AS name, split_part(p_name, ' ', 2) AS blk
  FROM part
  WHERE split_part(p_name, ' ', 2) IS NOT NULL
    AND split_part(p_name, ' ', 2) <> ''
),
price AS (
  SELECT COALESCE(SUM(b * (b - 1) // 2), 0) AS implied, SUM(b) AS n
  FROM (SELECT COUNT(*) AS b FROM names GROUP BY blk)
),
chk AS (
  SELECT CASE WHEN implied > 1024 * n
              THEN CAST(error(
                'fuzzy_name_pairs: blocked self-join over budget') AS INTEGER)
              ELSE 1 END AS ok
  FROM price
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS dist
FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 4
  AND (SELECT ok FROM chk) = 1
"""


def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ENTITY RESOLUTION over the part-name dictionary
    (r13): blocked fuzzy matching → connected components →
    survivorship, the full record-linkage pipeline the reference's
    equality-only name validation (dvt) stops short of. One row per
    distinct name: its canonical entity representative (the
    lexicographic min of its fuzzy-match component) and the entity's
    member count; unmatched names — including names the matcher
    excludes for lacking a blocking key — resolve to themselves with
    cluster_size 1.

    Composition, all at DICTIONARY grain (the name dictionary is
    orders of magnitude smaller than the rows bearing the names —
    the property that makes ER survive 100 TB):

    1. ``operators/textops.fuzzy_name_pairs`` — blocked Levenshtein
       pairs, Σ C(block,2) PRICED before the self-join (the guard and
       its oracle mirror ride along unchanged);
    2. ``operators/dedup.dup_clusters`` — min-label propagation over
       the pair graph; fuzzy components are tiny (bounded diameter),
       so a handful of one-shuffle rounds converge;
    3. survivorship: left-join every distinct name against the
       component labels, coalesce unmatched to self, one name-grain
       groupBy for entity sizes.

    The DuckDB oracle recomputes the transitive closure with a
    recursive CTE (UNION-deduped reachability, MIN over the reachable
    set), so a wrong component, missed singleton, or double-counted
    member hash-fails."""
    return TO.resolve_entities(load_table(spark, sf_dir, "part"), "p_name")


# Same guard-mirror convention as PART_NAME_FUZZY_SQL: in the refusal
# regime the oracle raises via error() where the Spark matcher
# refuses. The recursive closure's label set of a name is everything
# reachable through the (bidirected) fuzzy pairs; MIN over it is the
# component min — exactly dup_clusters' fixpoint.
PART_ENTITY_RESOLUTION_SQL = """
WITH RECURSIVE all_names AS (
  SELECT DISTINCT p_name AS name FROM part
),
blocked AS (
  SELECT name, split_part(name, ' ', 2) AS blk
  FROM all_names
  WHERE split_part(name, ' ', 2) IS NOT NULL
    AND split_part(name, ' ', 2) <> ''
),
price AS (
  SELECT COALESCE(SUM(b * (b - 1) // 2), 0) AS implied, SUM(b) AS n
  FROM (SELECT COUNT(*) AS b FROM blocked GROUP BY blk)
),
chk AS (
  SELECT CASE WHEN implied > 1024 * n
              THEN CAST(error(
                'fuzzy_name_pairs: blocked self-join over budget') AS INTEGER)
              ELSE 1 END AS ok
  FROM price
),
pairs AS (
  SELECT a.name AS na, b.name AS nb
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name < b.name
  WHERE levenshtein(a.name, b.name) <= 4
    AND (SELECT ok FROM chk) = 1
),
edges AS (
  SELECT na AS u, nb AS v FROM pairs
  UNION ALL
  SELECT nb AS u, na AS v FROM pairs
),
reach(name, label) AS (
  SELECT name, name FROM all_names
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.name
),
canon AS (
  SELECT name, MIN(label) AS canonical_name FROM reach GROUP BY name
),
sizes AS (
  SELECT canonical_name, COUNT(*) AS n FROM canon GROUP BY canonical_name
)
SELECT c.name, c.canonical_name, CAST(s.n AS BIGINT) AS cluster_size
FROM canon c JOIN sizes s USING (canonical_name)
"""


# ---------------------------------------------------------------------------
# Fixed-width chunking with overlap (context-window training layout)
# ---------------------------------------------------------------------------

def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """200-char chunks on a 150-char stride (50 overlap). Map-only:
    the chunk table is produced at scan throughput with no shuffle —
    see operators.textops.chunk_with_overlap."""
    d = load_table(spark, sf_dir, "documents")
    return TO.chunk_with_overlap(d, size=200, stride=150)


DOC_CHUNK_SQL = """
SELECT doc_id,
       gs // 150 AS chunk_idx,
       gs AS chunk_start,
       length(substring(text, gs + 1, 200)) AS chunk_len,
       md5(substring(text, gs + 1, 200)) AS chunk_md5
FROM documents,
     unnest(generate_series(0, ((length(text) - 1) // 150) * 150, 150)) AS t(gs)
WHERE length(text) > 0
"""


# ---------------------------------------------------------------------------
# Per-source document cap (domain-cap rebalancing)
# ---------------------------------------------------------------------------

def doc_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep ≤15 docs per source by deterministic md5 order. The oracle
    is a plain QUALIFY window; the Spark plan is the skew-aware
    two-phase split (sort only over-cap sources) — same result set."""
    d = load_table(spark, sf_dir, "documents")
    return TO.cap_per_group(d, "source", "doc_id", cap=15).select(
        "doc_id", "source"
    )


DOC_SOURCE_CAP_SQL = """
SELECT doc_id, source
FROM documents
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY source
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
) <= 15
"""


# ---------------------------------------------------------------------------
# PII scrubbing (redaction pass with audit counts)
# ---------------------------------------------------------------------------

def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails/phones and audit what was removed. The corpus is
    synthetic word-soup with no organic PII, so the query plants one
    deterministic email + phone per row (a pure function of doc_id)
    and the oracle replicates the planting — the scrubber is thereby
    exercised on every row with a non-trivial expected output. Entire
    pass is scan-side regexp work: zero shuffles at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    clean = TX.scrub_pii(aug)
    return d.select(
        "doc_id",
        TX.pii_counts(aug).alias("_p"),
        F.length(clean).alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    ).select("doc_id", "_p.n_emails", "_p.n_phones", "clean_len", "clean_md5")


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

DOC_PII_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
), clean AS (
  SELECT doc_id, t,
         regexp_replace(
             regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS c
  FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
       length(c) AS clean_len,
       md5(c) AS clean_md5
FROM clean
"""


# ---------------------------------------------------------------------------
# Quality-filter funnel (C4-style cascade with per-rule rejection audit)
# ---------------------------------------------------------------------------

def doc_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality cascade — each document is attributed to the
    FIRST rule that rejects it (or 'keep'), so the output is the audit
    funnel a corpus-prep run reports: how many docs each rule removed
    and how many characters survived. ONE scan computes every rule as
    a lazy CASE chain and one map-side-combined groupBy over ≤5 stage
    labels aggregates it — at 100 TB the funnel costs exactly one pass
    and a 5-row shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    avg_tok = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ).cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")
    stage = (
        F.when(F.length("text") < 100, "reject_min_length")
        .when(TX.token_count("text") < 20, "reject_min_tokens")
        .when(avg_tok > 12.0, "reject_avg_token_len")
        .when(~F.col("lang").isin("en", "es", "de", "fr"), "reject_lang")
        .otherwise("keep")
    )
    return (
        d.select(stage.alias("stage"), F.length("text").alias("n"))
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_chars"),
        )
    )


DOC_FILTER_FUNNEL_SQL = f"""
WITH toks AS (SELECT doc_id, text, lang, {_TOKS} AS tk FROM documents),
s AS (
  SELECT text, CASE
    WHEN length(text) < 100 THEN 'reject_min_length'
    WHEN len(tk) < 20 THEN 'reject_min_tokens'
    WHEN list_sum(list_transform(tk, t -> length(t)))::DOUBLE
         / greatest(len(tk), 1) > 12.0 THEN 'reject_avg_token_len'
    WHEN lang NOT IN ('en', 'es', 'de', 'fr') THEN 'reject_lang'
    ELSE 'keep' END AS stage
  FROM toks)
SELECT stage, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM s GROUP BY stage
"""


# ---------------------------------------------------------------------------
# MinHash-LSH recall gate (candidate-generation quality contract)
# ---------------------------------------------------------------------------

def minhash_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH candidate path against the exact
    inverted-index all-pairs answer at the same Jaccard threshold —
    the dedup twin of ``ann_recall_gate``. LSH-verified pairs are a
    subset of the exact pairs (verification recomputes exact Jaccard),
    so recall measures pure banding misses: how many true near-dup
    pairs never landed in a shared band. One row; ``meets_bound``
    hash-flips if a banding change degrades recall below the declared
    contract."""
    d = load_table(spark, sf_dir, "documents")
    # one cached shingle build for BOTH arms (guide §1.2): the exact and
    # LSH pipelines consume the identical shingle_set(d); sharing it
    # removes a full corpus explode+shuffle from the gate (values
    # unchanged — shingle_set is a pure per-row function, oracle
    # hash-proved).
    sh = DD.shingle_set(d)
    with cached(sh):
        # explicit opt-in to the exact quadratic path: this gate EXISTS to
        # price banding misses against ground truth, so the derived "auto"
        # guard (which would rightly refuse the exact join at sf0.1) is
        # overridden with the legacy bounded cap
        exact = DD.ngram_jaccard_pairs(
            d, threshold=0.5, max_join_pairs=50_000_000, shingles=sh
        ).select("id_a", "id_b")
        # The LSH arm joins the BANDING CANDIDATES, not the verified pairs
        # (guide §1.2): LSH-verified = candidates ∩ {J ≥ t} and the
        # exact arm IS {J ≥ t} (same double-division Jaccard), so
        # exact ⟕ candidates marks exactly the pairs the verified join
        # marked — while the whole jaccard_verify stage (candidate-id
        # broadcast prune + two shingle joins + two size joins,
        # re-deriving intersections the exact arm already computed)
        # drops out of the gate. What the gate certifies is unchanged:
        # recall of the (16, 4) banding against ground truth. The verify
        # arithmetic itself stays oracle-gated by doc_minhash_lsh_dedup.
        cand = (
            DD.lsh_candidate_pairs(
                DD.minhash_signatures(sh, "doc_id", DD.NUM_HASHES, DD.BAND_ROWS),
                "doc_id",
            )
            .withColumn("hit", F.lit(1))
        )
        return (
            exact.join(cand, ["id_a", "id_b"], "left_outer")
            .agg(
                F.lit(DD.NUM_HASHES).alias("num_hashes"),
                F.lit(DD.BAND_ROWS).alias("band_rows"),
                F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
                # degenerate corpus (zero exact pairs): recall is vacuously
                # 1.0 — there is nothing for the banding to miss.  Without
                # the guard Spark yields NULL (sum-over-empty / 0) while
                # DuckDB's 0/0 double division can yield NaN, flapping the
                # gate hash on that input class.
                F.when(F.count(F.lit(1)) == 0, F.lit(1.0))
                .otherwise(
                    F.round(
                        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                        / F.count(F.lit(1)).cast("double"),
                        6,
                    )
                )
                .alias("recall"),
            )
            .withColumn("meets_bound", F.col("recall") >= 0.70)
            .localCheckpoint(eager=True)
        )


MINHASH_RECALL_SQL = f"""
WITH {_MINHASH_CTES},
exact_common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b
  FROM exact_common c
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
  WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.5
)
SELECT num_hashes, band_rows, n_exact_pairs, recall,
       recall >= 0.70 AS meets_bound
FROM (
  SELECT {DD.NUM_HASHES} AS num_hashes, {DD.BAND_ROWS} AS band_rows,
         COUNT(*) AS n_exact_pairs,
         CASE WHEN COUNT(*) = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE round(CAST(SUM(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 6) END AS recall
  FROM exact e
  LEFT JOIN lsh_pairs l ON l.id_a = e.id_a AND l.id_b = e.id_b
)
"""


def minhash_recall_gate_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe twin of ``minhash_recall_gate``: recall estimated
    on a DETERMINISTIC 20% document sample (``doc_id % 5 = 0``) instead
    of the full corpus. The exact ground-truth arm — the quadratic part
    the corpus-derived guard rightly refuses above sf0.1 (measured at
    sf1: ~125M implied pairs > the derived cap) — runs only on the
    sample, so its candidate volume shrinks by the sample rate squared
    (~25×) and the gate keeps producing a recall number at any corpus
    size. The LSH arm still runs on the FULL corpus (that is the
    production path being audited); its pairs are restricted to
    sampled endpoints for the comparison. LSH-verified pairs are a
    subset of exact pairs, so recall ≤ 1 by construction and estimates
    pure banding misses, same as the full gate."""
    d = load_table(spark, sf_dir, "documents")
    sample = d.filter(F.col("doc_id") % 5 == 0)
    # one cached shingle build for both arms (guide §1.2): shingle_set
    # is per-row, so the sample's shingles are exactly the full frame
    # filtered on doc_id — the exact arm reuses the LSH arm's cached
    # corpus shingles instead of re-exploding the sample (oracle
    # hash-proved).
    sh = DD.shingle_set(d)
    with cached(sh):
        exact = DD.ngram_jaccard_pairs(
            sample,
            threshold=0.5,
            max_join_pairs=50_000_000,
            shingles=sh.filter(F.col("doc_id") % 5 == 0),
        ).select("id_a", "id_b")
        # banding candidates instead of verified pairs, restricted to
        # sampled endpoints BEFORE the comparison join (see the full
        # gate): hits are identical (verified = candidates ∩ exact, and
        # the exact arm is the sample's ground truth), and the full-corpus
        # verify stage — the most expensive part of the old LSH arm —
        # drops out entirely.
        cand = (
            DD.lsh_candidate_pairs(
                DD.minhash_signatures(sh, "doc_id", DD.NUM_HASHES, DD.BAND_ROWS),
                "doc_id",
            )
            .filter((F.col("id_a") % 5 == 0) & (F.col("id_b") % 5 == 0))
            .withColumn("hit", F.lit(1))
        )
        return (
            exact.join(cand, ["id_a", "id_b"], "left_outer")
            .agg(
                F.lit(5).alias("sample_mod"),
                F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
                # zero exact pairs in the sample (possible on a tiny or
                # duplicate-free corpus): recall is vacuously 1.0 on both
                # engines instead of Spark-NULL vs DuckDB-NaN (see the full
                # gate's guard)
                F.when(F.count(F.lit(1)) == 0, F.lit(1.0))
                .otherwise(
                    F.round(
                        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                        / F.count(F.lit(1)).cast("double"),
                        6,
                    )
                )
                .alias("recall"),
            )
            .withColumn("meets_bound", F.col("recall") >= 0.70)
            .localCheckpoint(eager=True)
        )


MINHASH_RECALL_SAMPLED_SQL = f"""
WITH {_MINHASH_CTES},
exact_common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
  GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b
  FROM exact_common c
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
  WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.5
)
SELECT sample_mod, n_exact_pairs, recall, recall >= 0.70 AS meets_bound
FROM (
  SELECT 5 AS sample_mod,
         COUNT(*) AS n_exact_pairs,
         CASE WHEN COUNT(*) = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE round(CAST(SUM(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 6) END AS recall
  FROM exact e
  LEFT JOIN lsh_pairs l
    ON l.id_a = e.id_a AND l.id_b = e.id_b
)
"""


# ---------------------------------------------------------------------------
# Corpus-adaptive stopword discovery + filtering (boilerplate removal)
# ---------------------------------------------------------------------------

def corpus_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discover corpus-specific stopwords (tokens whose document
    frequency exceeds 78% of the corpus) and strip them from every
    document — the data-driven flavor of boilerplate removal: no fixed
    word list, the corpus defines its own noise.

    Scale shape: the DF table lives at VOCABULARY grain (distinct
    (doc,token) partial-aggregated before its shuffle), the corpus size
    is a 1-row broadcast, and the discovered stoplist broadcasts back
    into a scan-side anti-join — the token stream is never reshuffled
    by frequency. The per-doc re-assembly groupBy on doc_id is the one
    row-grain shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos", "token")
    )
    df_tab = (
        toks.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    stop = (
        df_tab.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > 0.78 * F.col("n_docs"))
        .select("token")
    )
    kept = toks.join(F.broadcast(stop), "token", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.getField("token"),
                ),
            )
        ).alias("kept_md5"),
    )
    return (
        d.select("doc_id", TX.token_count("text").cast("bigint").alias("n_before"))
        .join(agg, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_before",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("kept_md5"), F.md5(F.lit(""))).alias("kept_md5"),
        )
    )


CORPUS_STOPWORD_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
dfreq AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(tk) AS token FROM toks) GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
stop AS (SELECT token FROM dfreq, n WHERE df > 0.78 * n_docs),
tok_pos AS (
  SELECT doc_id, i AS pos, tk[i] AS token
  FROM toks, unnest(range(1, len(tk) + 1)) AS u(i)
),
kept AS (
  SELECT doc_id, pos, token FROM tok_pos
  WHERE token NOT IN (SELECT token FROM stop)
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(token, ' ' ORDER BY pos)) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_before,
       COALESCE(a.n_kept, 0) AS n_kept,
       COALESCE(a.kept_md5, md5('')) AS kept_md5
FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


# ---------------------------------------------------------------------------
# Shingle novelty (per-doc contribution to corpus diversity)
# ---------------------------------------------------------------------------

def doc_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty score per document: the fraction of its distinct
    3-gram shingles whose FIRST corpus occurrence (min doc_id) is this
    document. High-novelty docs add new content; near-zero novelty
    marks recombinations of already-seen text — the cheap scalar
    complement of pairwise near-dup detection, usable as a sampling
    weight. Shingle first-owners aggregate at shingle grain (one
    map-combined shuffle); the verdict joins back on (doc, shingle)
    and re-aggregates at doc grain — both shuffles carry shingle/doc
    keys, never text."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(TX.word_shingles("text"))).alias("shingle"),
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(
                F.col("n_shingles") > 0,
                F.round(
                    F.col("n_novel").cast("double")
                    / F.col("n_shingles").cast("double"),
                    6,
                ),
            ).alias("novelty"),
        )
    )


DOC_NOVELTY_SQL = f"""
WITH {_SHINGLES_CTE},
first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
per_doc AS (
  SELECT s.doc_id,
         COUNT(*) AS n_shingles,
         SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM sh s JOIN first f ON f.shingle = s.shingle
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_shingles, 0) AS n_shingles,
       CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
       CASE WHEN COALESCE(p.n_shingles, 0) > 0
            THEN round(CAST(p.n_novel AS DOUBLE) / CAST(p.n_shingles AS DOUBLE), 6)
            END AS novelty
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# Temperature-weighted language mix (multilingual sampling rates)
# ---------------------------------------------------------------------------

def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling across languages (T=2): target share ∝
    (corpus share)^(1/T), the standard recipe for up-weighting
    low-resource languages in a multilingual training mix. Per-language
    acceptance rates derive from counts alone and are applied as a
    deterministic md5-threshold scan predicate — membership is a pure
    function of the row, rerun-stable at any scale.

    Determinism across engines: every scalar comes from integer counts
    through an identical formula; the one floating SUM (Σ√n over
    languages) runs as an ORDERED cumulative window (both engines fold
    frames sequentially), never an unordered aggregate. The language
    table is a handful of rows — all of this is broadcast-scale."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    # the whole rate derivation is language-grain: ONE aggregation
    # shuffle then stacked windows over the same tiny single partition
    # (ordered cumsum for the float Σ√n; full-frame MAX/SUM for the
    # scalars — integer SUM and MAX are order-insensitive-exact, the
    # one float sum is the ordered cumulative)
    langs = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w_ord = W.orderBy("lang").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.orderBy("lang").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    staged = langs.select(
        "lang",
        "n",
        F.sum("n").over(w_all).alias("n_total"),
        F.sum(F.sqrt(F.col("n").cast("double"))).over(w_ord).alias("cums"),
    ).select(
        "lang",
        "n",
        "n_total",
        F.max("cums").over(w_all).alias("sum_sqrt"),  # last cum = Σ√n
    )
    enriched = staged.select(
        "lang",
        "n",
        # target_p / corpus_share = (sqrt(n)/sum_sqrt) / (n/n_total)
        (
            (F.sqrt(F.col("n").cast("double")) / F.col("sum_sqrt"))
            / (F.col("n").cast("double") / F.col("n_total").cast("double"))
        ).alias("ratio"),
    )
    rates = enriched.select(
        "lang",
        "n",
        (F.col("ratio") / F.max("ratio").over(w_all)).alias("rate"),
    )
    # md5-prefix uniform in [0,1): conv 8 hex chars / 2^32
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(4294967296.0)
    kept = (
        d.select("doc_id", "lang", u.alias("u"))
        .join(F.broadcast(rates), "lang")
        .filter(F.col("u") < F.col("rate"))
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
        .join(rates, "lang")
        .select(
            "lang",
            F.col("n").alias("n_total_lang"),
            F.round("rate", 6).alias("rate"),
            "n_kept",
        )
    )


CORPUS_TEMP_MIX_SQL = """
WITH langs AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
total AS (SELECT COUNT(*) AS n_total FROM documents),
cum AS (
  SELECT lang, n,
         SUM(sqrt(CAST(n AS DOUBLE))) OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS cums
  FROM langs
),
ss AS (SELECT cums AS sum_sqrt FROM cum ORDER BY lang DESC LIMIT 1),
enriched AS (
  SELECT lang, n, n_total,
         (sqrt(CAST(n AS DOUBLE)) / sum_sqrt)
         / (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)) AS ratio
  FROM cum, ss, total
),
mr AS (SELECT MAX(ratio) AS max_ratio FROM enriched),
rates AS (
  SELECT lang, n, ratio / max_ratio AS rate FROM enriched, mr
),
kept AS (
  SELECT d.lang, COUNT(*) AS n_kept
  FROM documents d JOIN rates r ON r.lang = d.lang
  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)::DOUBLE
        / 4294967296.0 < r.rate
  GROUP BY d.lang
)
SELECT r.lang, r.n AS n_total_lang, round(r.rate, 6) AS rate,
       k.n_kept
FROM rates r JOIN kept k ON k.lang = r.lang
"""


# ---------------------------------------------------------------------------
# Containment pairs (asymmetric near-dup: short doc inside long doc)
# ---------------------------------------------------------------------------

def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment coefficient |A∩B| / |A| ≥ 0.9 over 3-gram shingle
    sets — the asymmetric complement of Jaccard: a short document
    embedded verbatim in a much longer one scores near 1.0 here while
    its Jaccard stays low, so symmetric thresholds never catch it.

    Delegates to ``operators/dedup.containment_pairs`` — prefix-filtered
    candidates (PPJoin bound), exact array-intersect verify, and the r10
    corpus-derived cost guard: the implied candidate volume
    Σ_s prefix_count(s)·df(s) is priced with one shingle-grain aggregate
    before the join runs, refusing past 1024·n_docs. The second-decade
    scale pass (SCALE.md r10) showed why: on a corpus whose shingle
    domain saturates, posting lists grow linearly with the corpus and
    the prefix filter's bound degrades to a constant factor — candidate
    volume measured 0.2M → 27M → 3.0B across sf0.1→sf1→sf10. The
    sampled twin below is the priced alternative past the guard. The
    DuckDB oracle keeps the declarative full-join spec — same rows, so
    the gate pins the prefix filter's losslessness. Both directions are
    reported (contained_id, container_id)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.containment_pairs(d)


def doc_containment_pairs_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guard's priced alternative: containment pairs over a
    deterministic 25% document sample (md5 first hex digit < '4' — a
    pure function of doc_id, so both engines and any rerun draw the
    SAME slice). Candidate volume shrinks by rate² (~16×) while the
    per-pair semantics stay exactly ``doc_containment_pairs``'s, the
    same posture as ``minhash_recall_gate_sampled``: at corpus scales
    where the exact join prices itself out, the monitoring question
    ("how much verbatim containment is in this corpus?") is answered on
    a sample with a quoted rate instead of not at all."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4"
    )
    return DD.containment_pairs(d)


def doc_containment_pairs_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-adaptive containment (r11 — VERDICT r10 #2): the gated
    query that DEGRADES instead of refusing past the cost guard.
    Delegates to ``operators/dedup.containment_pairs_adaptive``: one
    pricing pass derives the slice rate as the largest power-of-two
    2^-j with implied·avg_nsh·4^-j ≤ the FULL corpus's 4096·n_docs
    budget — the pricing unit is VERIFY SHINGLE-VISITS, because the
    verify join's real cost is candidate pairs × shingle-array width,
    not bare candidate rows (the r11 sf10 lesson: a row-unit budget
    admitted a 187M-pair slice whose array-carrying sort-merge spilled
    ~50 GB and died). The recursive auto_sample twin re-prices each
    slice against the slice's SHRUNKEN budget, which is why the
    fixed-25% sampled twin refuses at sf10 — this one holds the
    original budget and so keeps answering. The derived rate rides
    the output as ``sample_k`` on every row, so the oracle — which
    replicates the pricing arithmetic (Σ df over the ranked prefix,
    avg_nsh = sh_rows div n_docs, cap, ladder pick) in SQL —
    cross-checks the guard's own numbers, not just the pair values.
    At sf0.01/sf0.1 the corpus prices under budget, so j=0 and both
    engines run the full join with sample_k=256; under sf1/sf10
    saturation the ladder lands j=2 / j=4 (rates 64/256 and 16/256)
    and the query still answers within budget."""
    d = load_table(spark, sf_dir, "documents")
    return DD.containment_pairs_adaptive(d)


# Oracle replicates the PRICING arithmetic, not just the pair spec:
# ranked prefix (rarest ceil-complement shingles per doc), implied =
# Σ df over prefix rows × avg_nsh (sh_rows integer-div n_docs — the
# verify-visit weighting), cap = 4096·n_docs, ladder j = smallest j≤8
# with implied ≤ cap·4^j (integer shifts — no float sqrt to diverge),
# k = 256 >> j, then the naive quadratic containment join over the
# md5 slice (full corpus when j = 0) with sample_k on every row.
# BOTH refusal regimes are mirrored (ADVICE r11): j ≥ 9 raises via
# DuckDB error() instead of silently computing k=0 → empty set, and
# the slice RE-PRICING (j > 0: the sliced corpus's own prefix volume
# re-checked against the full-corpus cap) raises exactly where the
# Spark operator's second pricing pass refuses — so in the refusal
# regime the engines agree (both raise) rather than one erroring while
# the other returns an empty result.
DOC_CONTAINMENT_ADAPTIVE_SQL = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
ranked AS (
  SELECT s.doc_id, s.shingle, f.df, z.n_sh,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id
                            ORDER BY f.df ASC, s.shingle ASC) AS rk
  FROM sh s JOIN dfreq f ON f.shingle = s.shingle
            JOIN sizes z ON z.doc_id = s.doc_id
),
prefix AS (
  SELECT doc_id, shingle, df FROM ranked
  WHERE rk <= n_sh - ((9 * n_sh + 9) // 10) + 2
),
price AS (
  SELECT COALESCE(SUM(df), 0)
         * ((SELECT COUNT(*) FROM sh)
            // GREATEST(COUNT(DISTINCT doc_id), 1)) AS implied,
         GREATEST(COUNT(DISTINCT doc_id), 1) AS n
  FROM prefix
),
lvl AS (
  SELECT CAST(COALESCE(MIN(t.j), 9) AS INTEGER) AS j
  FROM range(0, 9) t(j), price
  WHERE implied <= 4096 * n * (CAST(1 AS BIGINT) << CAST(2 * t.j AS INTEGER))
),
kk AS (
  SELECT j,
         CASE WHEN j >= 9 THEN CAST(error(
                'containment_pairs_adaptive: even a 1/256 slice is '
                'estimated over the full-corpus budget') AS INTEGER)
              ELSE CAST(256 AS INTEGER) >> j END AS k
  FROM lvl
),
sdocs AS (
  SELECT d.doc_id, d.text FROM documents d, kk
  WHERE kk.j = 0
     OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < printf('%02x', kk.k)
),
stoks AS (SELECT doc_id, {_TOKS} AS tk FROM sdocs),
ssh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
  FROM stoks WHERE len(tk) >= 3
),
ssizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ssh GROUP BY doc_id),
sranked AS (
  SELECT s.doc_id, f.df, z.n_sh,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id
                            ORDER BY f.df ASC, s.shingle ASC) AS rk
  FROM ssh s
  JOIN (SELECT shingle, COUNT(*) AS df FROM ssh GROUP BY shingle) f
       ON f.shingle = s.shingle
  JOIN ssizes z ON z.doc_id = s.doc_id
),
sprice AS (
  SELECT COALESCE(SUM(df), 0)
         * ((SELECT COUNT(*) FROM ssh)
            // GREATEST(COUNT(DISTINCT doc_id), 1)) AS simplied
  FROM sranked WHERE rk <= n_sh - ((9 * n_sh + 9) // 10) + 2
),
chk AS (
  SELECT CASE WHEN l.j > 0 AND s.simplied > 4096 * p.n
              THEN CAST(error(
                'containment_pairs_adaptive: sliced volume still over '
                'the full-corpus budget') AS INTEGER)
              ELSE 1 END AS ok
  FROM lvl l, price p, sprice s
),
scommon AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a AS contained_id, id_b AS container_id,
       round(CAST(n_common AS DOUBLE) / CAST(na.n_sh AS DOUBLE), 6)
           AS containment,
       CAST(kk.k AS INTEGER) AS sample_k
FROM scommon JOIN ssizes na ON na.doc_id = id_a, kk
WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh AS DOUBLE) >= 0.9
  AND (SELECT ok FROM chk) = 1
"""


DOC_CONTAINMENT_SQL = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a AS contained_id, id_b AS container_id,
       round(CAST(n_common AS DOUBLE) / CAST(na.n_sh AS DOUBLE), 6) AS containment
FROM common JOIN sizes na ON na.doc_id = id_a
WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh AS DOUBLE) >= 0.9
"""

# Sampled twin: identical spec over the deterministic 25% md5 slice —
# the sample predicate is a pure function of doc_id, so both engines
# (and the Spark plan's load-side filter) draw the same documents.
DOC_CONTAINMENT_SAMPLED_SQL = f"""
WITH sdocs AS (
  SELECT * FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
),
toks AS (SELECT doc_id, {_TOKS} AS tk FROM sdocs),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
  FROM toks WHERE len(tk) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a AS contained_id, id_b AS container_id,
       round(CAST(n_common AS DOUBLE) / CAST(na.n_sh AS DOUBLE), 6) AS containment
FROM common JOIN sizes na ON na.doc_id = id_a
WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh AS DOUBLE) >= 0.9
"""


def doc_split_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift check between the train and
    val splits' document-length distributions — the QA gate a training
    pipeline runs after sharding to prove the hash split didn't skew a
    covariate. Pipeline: tag each doc with its md5-prefix split (same
    pure function as doc_train_val_test_split), aggregate counts per
    distinct n_chars (the ONLY event-scale shuffle), then compute the
    empirical-CDF sup-distance on the value-grain partials. The window
    cumsum runs at distinct-length grain (bounded by the length domain,
    ~1e4 values even at 100 TB — aggregate-scale, never doc-scale).
    The KS numerator max|cum_t*n_v - cum_v*n_t| is exact integer
    arithmetic carried in DECIMAL(38,0) on both engines — int64 would
    wrap past ~9.2e18, i.e. train×val count products at the 100 TB
    scale this gate targets (DuckDB's HUGEINT is int128 and never had
    the problem; the decimal lane makes Spark match it exactly up to
    10^38). The final statistic is one IEEE division, so the result
    is bit-identical across engines."""
    d = load_table(spark, sf_dir, "documents")
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(pref < "e6", "train").when(pref < "f3", "val")
    counts = (
        d.select(split.alias("split"), "n_chars")
        .filter(F.col("split").isNotNull())
        .groupBy("n_chars")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("cv"),
        )
    )
    wcum = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = counts.select(
        F.sum("ct").over(wcum).alias("cum_t"),
        F.sum("cv").over(wcum).alias("cum_v"),
        F.sum("ct").over(wall).alias("tot_t"),
        F.sum("cv").over(wall).alias("tot_v"),
    )
    dec = "decimal(38,0)"
    numer = F.abs(
        F.col("cum_t").cast(dec) * F.col("tot_v").cast(dec)
        - F.col("cum_v").cast(dec) * F.col("tot_t").cast(dec)
    )
    return cum.agg(
        F.max("tot_t").alias("n_train"),
        F.max("tot_v").alias("n_val"),
        # exact-decimal sup-distance, rounded ONCE to double at the
        # final projection (house rule — raw DECIMAL outputs diverge in
        # the driver's pandas canonicalization of the DuckDB side)
        F.max(numer).cast("double").alias("ks_numer"),
        (
            F.max(numer).cast("double")
            / (F.max("tot_t").cast(dec) * F.max("tot_v").cast(dec)).cast("double")
        ).alias("ks_stat"),
    )


DOC_SPLIT_KS_SQL = """
WITH tagged AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
              END AS split, n_chars
  FROM documents
),
counts AS (
  SELECT n_chars,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS cv
  FROM tagged WHERE split IS NOT NULL GROUP BY n_chars
),
cum AS (
  SELECT SUM(ct) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum_t,
         SUM(cv) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum_v,
         SUM(ct) OVER () AS tot_t,
         SUM(cv) OVER () AS tot_v
  FROM counts
)
SELECT CAST(MAX(tot_t) AS BIGINT) AS n_train,
       CAST(MAX(tot_v) AS BIGINT) AS n_val,
       CAST(CAST(MAX(ABS(cum_t * tot_v - cum_v * tot_t)) AS VARCHAR) AS DOUBLE)
         AS ks_numer,
       CAST(MAX(ABS(cum_t * tot_v - cum_v * tot_t)) AS DOUBLE)
         / CAST(MAX(tot_t) * MAX(tot_v) AS DOUBLE) AS ks_stat
FROM cum
"""


def doc_split_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift check between the train and val splits'
    LANGUAGE mix — the categorical twin of doc_split_ks_drift. One
    event-scale shuffle (groupBy lang over the split-tagged corpus);
    the contingency totals ride windows over the lang-grain partials.
    Expected counts and cell contributions are derived from exact
    integer totals with a fixed IEEE sequence per row — no float
    accumulation across rows, so every cell is bit-stable. The global
    statistic is the (tiny) sum of cells the caller does; the gate
    checks the per-cell table itself."""
    d = load_table(spark, sf_dir, "documents")
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(pref < "e6", "train").when(pref < "f3", "val")
    counts = (
        d.select(split.alias("split"), "lang")
        .filter(F.col("split").isNotNull())
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("o_t"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("o_v"),
        )
    )
    wall = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    t = counts.select(
        "lang",
        "o_t",
        "o_v",
        (F.col("o_t") + F.col("o_v")).alias("r"),
        F.sum("o_t").over(wall).alias("c_t"),
        F.sum("o_v").over(wall).alias("c_v"),
        (F.sum("o_t").over(wall) + F.sum("o_v").over(wall)).alias("n"),
    )

    def cell(o: str, c: str):
        e = (F.col("r") * F.col(c)).cast("double") / F.col("n").cast("double")
        diff = F.col(o).cast("double") - e
        return diff * diff / e

    return t.select(
        "lang",
        "o_t",
        "o_v",
        cell("o_t", "c_t").alias("chi2_train"),
        cell("o_v", "c_v").alias("chi2_val"),
    )


DOC_SPLIT_CHI2_SQL = """
WITH tagged AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
              END AS split, lang
  FROM documents
),
counts AS (
  SELECT lang,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS o_t,
         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS o_v
  FROM tagged WHERE split IS NOT NULL GROUP BY lang
),
tot AS (
  SELECT lang, o_t, o_v, o_t + o_v AS r,
         SUM(o_t) OVER () AS c_t, SUM(o_v) OVER () AS c_v,
         SUM(o_t) OVER () + SUM(o_v) OVER () AS n
  FROM counts
),
cells AS (
  SELECT lang, o_t, o_v,
         CAST(r * c_t AS DOUBLE) / CAST(n AS DOUBLE) AS e_t,
         CAST(r * c_v AS DOUBLE) / CAST(n AS DOUBLE) AS e_v
  FROM tot
)
SELECT lang,
       CAST(o_t AS BIGINT) AS o_t,
       CAST(o_v AS BIGINT) AS o_v,
       (CAST(o_t AS DOUBLE) - e_t) * (CAST(o_t AS DOUBLE) - e_t) / e_t AS chi2_train,
       (CAST(o_v AS DOUBLE) - e_v) * (CAST(o_v AS DOUBLE) - e_v) / e_v AS chi2_val
FROM cells
"""


def doc_ingest_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ingest contract: the expectations a training pipeline
    asserts before documents enter the pipeline — id present+unique,
    text present, declared n_chars consistent with the text itself,
    language in the supported set, length within the chunker's bounds.
    Same single-aggregation-pass engine as orders_quality_expectations
    (operators/expectations); exact-integer verdicts."""
    from data_migration_tool_spark.operators import expectations as X

    d = load_table(spark, sf_dir, "documents")
    suite = X.Suite(
        [
            X.not_null("doc_id"),
            X.unique("doc_id"),
            X.not_null("text"),
            X.satisfies("length(text) = n_chars", "n_chars"),
            X.in_set("lang", ["en", "de", "fr", "es", "ja"]),
            X.in_range("n_chars", 1, 100000),
        ]
    )
    return suite.run(d)


_DOC_EXPECT_ROW = """
SELECT {i} AS ordinal, '{name}' AS expectation, '{col}' AS "column",
       (SELECT COUNT(*) FROM documents) AS n_rows,
       CAST({viol} AS BIGINT) AS n_violations,
       CAST(0 AS BIGINT) AS max_violations,
       CASE WHEN {viol} <= 0 THEN 'PASS' ELSE 'FAIL' END AS status
"""

DOC_INGEST_EXPECTATIONS_SQL = "\nUNION ALL\n".join(
    _DOC_EXPECT_ROW.format(i=i, name=name, col=col, viol=viol)
    for i, (name, col, viol) in enumerate(
        [
            (
                "not_null(doc_id)",
                "doc_id",
                "(SELECT COUNT(*) - COUNT(doc_id) FROM documents)",
            ),
            (
                "unique(doc_id)",
                "doc_id",
                "(SELECT COUNT(doc_id) - COUNT(DISTINCT doc_id) FROM documents)",
            ),
            (
                "not_null(text)",
                "text",
                "(SELECT COUNT(*) - COUNT(text) FROM documents)",
            ),
            (
                "satisfies(n_chars)[length(text) = n_chars]",
                "n_chars",
                "(SELECT COUNT(*) - SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) FROM documents)",
            ),
            (
                "in_set(lang)[en,de,fr,es,ja]",
                "lang",
                "(SELECT COUNT(*) - SUM(CASE WHEN lang IN ('en','de','fr','es','ja') THEN 1 ELSE 0 END) FROM documents)",
            ),
            (
                "in_range(n_chars)[1,100000]",
                "n_chars",
                "(SELECT COUNT(*) - SUM(CASE WHEN n_chars >= 1 AND n_chars <= 100000 THEN 1 ELSE 0 END) FROM documents)",
            ),
        ]
    )
)


def doc_split_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the train and val splits'
    SOURCE mix — the third drift lens (KS: numeric lengths; chi-square:
    per-cell language significance; TV: a single bounded [0,1]
    distance). TV = ½·Σ|p_c − q_c| assembles from exact integers:
    numer = Σ|c_t·N_v − c_v·N_t|, dist = numer / (2·N_t·N_v) with ONE
    IEEE division at the end — bit-stable at any parallelism. The
    integer cross-products ride DECIMAL(38,0) on both engines (int64
    wraps past ~9.2e18 — reachable by count products at 100 TB; DuckDB
    computes them in int128 natively). One event-scale groupBy;
    everything after runs at category grain."""
    d = load_table(spark, sf_dir, "documents")
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(pref < "e6", "train").when(pref < "f3", "val")
    counts = (
        d.select(split.alias("split"), "source")
        .filter(F.col("split").isNotNull())
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("cv"),
        )
    )
    wall = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    t = counts.select(
        "ct",
        "cv",
        F.sum("ct").over(wall).alias("nt"),
        F.sum("cv").over(wall).alias("nv"),
    )
    dec = "decimal(38,0)"
    numer = F.abs(
        F.col("ct").cast(dec) * F.col("nv").cast(dec)
        - F.col("cv").cast(dec) * F.col("nt").cast(dec)
    )
    return t.agg(
        F.max("nt").alias("n_train"),
        F.max("nv").alias("n_val"),
        # arithmetic stays exact decimal; the FINAL projection rounds
        # once to double (house rule: raw DECIMAL outputs diverge in
        # the driver's pandas canonicalization; Spark decimal->double
        # is BigDecimal.doubleValue, the oracle routes via VARCHAR)
        F.sum(numer).cast("double").alias("tv_numer"),
        (
            F.sum(numer).cast("double")
            / (
                F.lit(2).cast(dec) * F.max("nt").cast(dec) * F.max("nv").cast(dec)
            ).cast("double")
        ).alias("tv_dist"),
    )


DOC_SPLIT_TV_SQL = """
WITH tagged AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
              END AS split, source
  FROM documents
),
counts AS (
  SELECT source,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS cv
  FROM tagged WHERE split IS NOT NULL GROUP BY source
),
tot AS (
  SELECT ct, cv, SUM(ct) OVER () AS nt, SUM(cv) OVER () AS nv FROM counts
)
SELECT CAST(MAX(nt) AS BIGINT) AS n_train,
       CAST(MAX(nv) AS BIGINT) AS n_val,
       CAST(CAST(SUM(ABS(ct * nv - cv * nt)) AS VARCHAR) AS DOUBLE) AS tv_numer,
       CAST(SUM(ABS(ct * nv - cv * nt)) AS DOUBLE)
         / CAST(2 * MAX(nt) * MAX(nv) AS DOUBLE) AS tv_dist
FROM tot
"""


# ---------------------------------------------------------------------------
# PMI collocations by exact lift (round-5 additions)
# ---------------------------------------------------------------------------

def corpus_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 adjacent-token pairs by LIFT
    N·c(x,y) / (c(x)·c(y)) — a strictly monotone transform of PMI, so
    the ranking is PMI's ranking without a cross-engine log() (log is
    not bit-portable; the lift ratio is one IEEE division over exact
    integer cross-products carried in DECIMAL(38,0), so it is).
    Min-support 5 filters hapax noise, the standard collocation floor.

    Scale: one token-keyed shuffle for unigram marginals, one
    pair-keyed shuffle for bigram counts (both partial-aggregated
    map-side), corpus token total as a 1-row broadcast; the marginal
    joins are vocabulary-grain. Top-k is a TakeOrdered."""
    d = load_table(spark, sf_dir, "documents")
    uni = (
        d.select(F.explode(TX.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").cast("decimal(38,0)").alias("n_total"))
    bi = (
        d.select(F.explode(TX.word_shingles("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
        .select(
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("x"),
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("y"),
            "c_xy",
        )
    )
    dec = "decimal(38,0)"
    ua = uni.select(F.col("w").alias("x"), F.col("c").alias("c_x"))
    ub = uni.select(F.col("w").alias("y"), F.col("c").alias("c_y"))
    return (
        bi.join(ua, "x")
        .join(ub, "y")
        .crossJoin(F.broadcast(total))
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            (
                (F.col("c_xy").cast(dec) * F.col("n_total")).cast("double")
                / (F.col("c_x").cast(dec) * F.col("c_y").cast(dec)).cast(
                    "double"
                )
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("x"), F.asc("y"))
        .limit(50)
    )


CORPUS_PMI_SQL = f"""
WITH toks AS (SELECT {_TOKS} AS tk FROM documents),
uni AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(tk) AS w FROM toks)
  GROUP BY w
),
total AS (SELECT CAST(SUM(c) AS DECIMAL(38,0)) AS n_total FROM uni),
bi AS (
  SELECT x, y, COUNT(*) AS c_xy
  FROM (
    SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS x,
           unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS y
    FROM toks WHERE len(tk) >= 2
  )
  GROUP BY x, y
  HAVING COUNT(*) >= 5
)
SELECT b.x, b.y,
       CAST(b.c_xy AS BIGINT) AS c_xy,
       CAST(ua.c AS BIGINT) AS c_x,
       CAST(ub.c AS BIGINT) AS c_y,
       CAST(CAST(b.c_xy AS DECIMAL(38,0)) * t.n_total AS DOUBLE)
         / CAST(CAST(ua.c AS DECIMAL(38,0)) * CAST(ub.c AS DECIMAL(38,0)) AS DOUBLE)
         AS lift
FROM bi b
JOIN uni ua ON ua.w = b.x
JOIN uni ub ON ub.w = b.y
CROSS JOIN total t
ORDER BY lift DESC, b.x ASC, b.y ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Length-bucketed batching layout (padding-waste accounting)
# ---------------------------------------------------------------------------

_LEN_BUCKETS = (16, 32, 64, 128, 256)


def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching layout plan: bucket each document by token
    count into the smallest power-of-two context slot that fits, and
    account the padding waste per bucket — the numbers that decide a
    training job's bucket boundaries (padded tokens are paid-for FLOPs
    that teach nothing). Everything is exact integers except the final
    waste ratio (one IEEE division), so the whole table hash-matches.

    Scale: scan-side token count + CASE bucket, one bucket-grain
    groupBy — a 5-row shuffle at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    n = TX.token_count("text")
    bucket = F.lit(_LEN_BUCKETS[-1] * 2)
    for b in reversed(_LEN_BUCKETS):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    g = (
        d.select(bucket.alias("bucket"), n.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    padded = F.col("n_docs") * F.col("bucket") - F.col("total_tokens")
    return g.select(
        "bucket",
        "n_docs",
        "total_tokens",
        padded.cast("bigint").alias("padded_tokens"),
        (
            padded.cast("double")
            / (F.col("n_docs") * F.col("bucket")).cast("double")
        ).alias("waste_ratio"),
    )


_BUCKET_CASE = "CASE " + " ".join(
    f"WHEN n <= {b} THEN {b}" for b in _LEN_BUCKETS
) + f" ELSE {_LEN_BUCKETS[-1] * 2} END"

DOC_LENGTH_BUCKETS_SQL = f"""
WITH lens AS (
  SELECT len({_TOKS}) AS n FROM documents
),
g AS (
  SELECT {_BUCKET_CASE} AS bucket,
         COUNT(*) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS total_tokens
  FROM lens GROUP BY 1
)
SELECT bucket,
       n_docs,
       total_tokens,
       CAST(n_docs * bucket - total_tokens AS BIGINT) AS padded_tokens,
       CAST(n_docs * bucket - total_tokens AS DOUBLE)
         / CAST(n_docs * bucket AS DOUBLE) AS waste_ratio
FROM g
"""


# ---------------------------------------------------------------------------
# Cross-split leakage matrix (decontamination audit over OWN splits)
# ---------------------------------------------------------------------------

def split_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-overlap matrix between the train/val/test splits — the
    audit that catches a split procedure leaking n-gram content across
    boundaries (doc_decontaminate screens against an EXTERNAL eval set;
    this screens the pipeline's own split). For each split pair:
    distinct 3-token shingles shared, each side's distinct total, and
    the containment fraction versus the smaller side.

    Scale: one shingle-keyed shuffle builds the distinct (split,
    shingle) set; the pair join is shingle-keyed with split-grain
    output; totals are a 3-row broadcast. Shuffles carry hashes/keys,
    never document text."""
    d = load_table(spark, sf_dir, "documents")
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(pref < "e6", "train").when(pref < "f3", "val").otherwise(
        "test"
    )
    # ss is cached: it feeds three branches (totals + both join sides)
    # — the distinct (split, shingle) set would otherwise recompute the
    # corpus-scale explode per branch.
    ss = d.select(
        split.alias("split"),
        F.explode(TX.word_shingles("text", 3)).alias("shingle"),
    ).distinct()
    tot = ss.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
    a = ss.select(F.col("split").alias("split_a"), "shingle")
    b = ss.select(F.col("split").alias("split_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("split_a") < F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = F.broadcast(tot.select(F.col("split").alias("split_a"), F.col("n").alias("n_a")))
    tb = F.broadcast(tot.select(F.col("split").alias("split_b"), F.col("n").alias("n_b")))
    with cached(ss):
        return (
            shared.join(ta, "split_a")
            .join(tb, "split_b")
            .select(
                "split_a",
                "split_b",
                "n_shared",
                "n_a",
                "n_b",
                (
                    F.col("n_shared").cast("double")
                    / F.least("n_a", "n_b").cast("double")
                ).alias("containment"),
            )
            .localCheckpoint(eager=True)
        )


SPLIT_LEAKAGE_SQL = f"""
WITH {_SHINGLES_CTE},
tagged AS (
  SELECT DISTINCT
         CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
              WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
              ELSE 'test' END AS split,
         s.shingle
  FROM sh s JOIN documents d ON d.doc_id = s.doc_id
),
tot AS (SELECT split, COUNT(*) AS n FROM tagged GROUP BY split),
shared AS (
  SELECT a.split AS split_a, b.split AS split_b, COUNT(*) AS n_shared
  FROM tagged a JOIN tagged b ON a.shingle = b.shingle AND a.split < b.split
  GROUP BY 1, 2
)
SELECT s.split_a, s.split_b,
       CAST(s.n_shared AS BIGINT) AS n_shared,
       CAST(ta.n AS BIGINT) AS n_a,
       CAST(tb.n AS BIGINT) AS n_b,
       CAST(s.n_shared AS DOUBLE) / CAST(LEAST(ta.n, tb.n) AS DOUBLE) AS containment
FROM shared s
JOIN tot ta ON ta.split = s.split_a
JOIN tot tb ON tb.split = s.split_b
"""


# ---------------------------------------------------------------------------
# Cross-doc repeated-span removal (C4-style span dedup as a TRANSFORM)
# ---------------------------------------------------------------------------

def doc_span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove spans repeated across the corpus and RE-EMIT the cleaned
    document — the transform flavor of span dedup (the counting flavor
    is ``doc_shingle_novelty``). Mirrors the C4 recipe: documents are
    cut into consecutive non-overlapping 5-token blocks; any block whose
    identical text occurs in >= 3 distinct documents is boilerplate and
    is dropped; the survivors are stitched back in original order.

    Output per doc: block count, dropped count, retained token count,
    and the md5 of the cleaned text (full text would bloat the gate;
    the hash pins the exact reassembly byte-for-byte).

    Scale shape (100 TB): blocks are produced map-side (one Catalyst
    ``transform`` over the token array — no UDF); block frequencies are
    one map-combined shuffle at block grain; the verdict join is a
    shuffle join on block (AQE skew-splits hot boilerplate blocks);
    reassembly is one shuffle back to doc grain with an in-memory
    ``sort_array`` per doc — text never rides more than one shuffle.
    When the >=3-doc block set is small after thresholding, the join
    side can be broadcast instead; the default keeps the shuffle join
    because boilerplate at web scale is NOT small.
    """
    block, thresh = 5, 3
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)

    def blocks_of(t):
        n = F.floor((F.size(t) + (block - 1)) / block).cast("int")
        idx = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(t, i * block + 1, block))
        )

    b = d.select(
        "doc_id",
        F.posexplode(TX.bind(TX.tokens("text"), blocks_of)).alias("pos", "block"),
    )
    freq = b.groupBy("block").agg(F.count_distinct("doc_id").alias("ndocs"))
    kept_struct = F.when(
        F.col("ndocs") < thresh, F.struct(F.col("pos"), F.col("block"))
    )
    agg = (
        b.join(freq, "block")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum((F.col("ndocs") >= thresh).cast("int"))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(
                F.when(
                    F.col("ndocs") < thresh, F.size(F.split("block", " "))
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("clean_n_tokens"),
            F.sort_array(F.collect_list(kept_struct)).alias("kept"),
        )
    )
    clean_text = F.concat_ws(
        " ", F.transform("kept", lambda s: s.getField("block"))
    )
    return agg.select(
        "doc_id",
        "n_blocks",
        "n_dropped",
        "clean_n_tokens",
        F.when(F.size("kept") > 0, F.md5(clean_text)).alias("clean_md5"),
    )


DOC_SPAN_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t
  FROM documents WHERE length(text) > 0
),
blocks AS (
  SELECT doc_id, gs AS pos,
         array_to_string(t[gs * 5 + 1 : gs * 5 + 5], ' ') AS block
  FROM toks,
       unnest(generate_series(0, CAST((len(t) + 4) // 5 AS BIGINT) - 1)) AS g(gs)
  WHERE len(t) > 0
),
freq AS (SELECT block, count(DISTINCT doc_id) AS ndocs FROM blocks GROUP BY block)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN f.ndocs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN f.ndocs < 3
                     THEN len(string_split(b.block, ' ')) ELSE 0 END) AS BIGINT)
         AS clean_n_tokens,
       md5(string_agg(CASE WHEN f.ndocs < 3 THEN b.block END, ' ' ORDER BY b.pos))
         AS clean_md5
FROM blocks b JOIN freq f USING (block)
GROUP BY b.doc_id
"""


def doc_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with FIRST-OCCURRENCE retention — the
    remove-all-but-one flavor of span dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better":
    ExactSubstr keeps one copy of every duplicated span; the existing
    ``doc_span_dedup_clean`` is the C4 boilerplate flavor that drops
    >=3-doc blocks from EVERY document, including the first).

    Semantics: every OVERLAPPING 5-token window is fingerprinted; for
    each window text that occurs more than once in the corpus, the
    canonical occurrence is the (min doc_id, then min pos) one; every
    other occurrence marks its 5 token positions as duplicated.
    Overlapping duplicated windows merge naturally into maximal spans
    (position-set union + gaps-and-islands). Output per doc: original
    token count, tokens removed, merged span count, and the md5 of the
    re-stitched surviving text (NULL when nothing survives).

    Scale shape (100 TB): the window frame carries (doc_id, pos,
    md5(gram)) — 16-byte keys, never text — through ONE map-combined
    groupBy at gram grain (min-struct canonical + count, skew-robust
    where a hot boilerplate gram would serialize a row_number window
    partition); the verdict join back is gram-keyed (AQE skew-splits
    hot grams); covered positions explode 5× the duplicated windows
    only, then everything returns to doc grain where the stitch is an
    in-memory sort_array per doc. Text itself rides at most one
    shuffle (the final doc-grain reassembly), same posture as
    ``doc_span_dedup_clean``.
    """
    K = 5
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    base = d.select("doc_id", TX.tokens("text").alias("t"))
    grams = _xsub_grams(base, K)
    canon = grams.groupBy("g").agg(
        F.min(F.struct("doc_id", "pos")).alias("c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    noncanon = grams.join(canon.filter(F.col("cnt") > 1), "g").filter(
        ~(
            (F.col("doc_id") == F.col("c.doc_id"))
            & (F.col("pos") == F.col("c.pos"))
        )
    )
    return _xsub_finish(base, _xsub_covered(noncanon, K))


def _xsub_grams(base: DataFrame, K: int = 5) -> DataFrame:
    """(doc_id, pos, g=md5 of the K-token window) for every
    overlapping window — 16-byte keys, the text never leaves the
    doc-grain scan."""
    return base.filter(F.size("t") >= K).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (K - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, K))),
            )
        ).alias("pos", "g"),
    )


def _xsub_covered(occurrences: DataFrame, K: int = 5) -> DataFrame:
    """Explode each duplicated window occurrence into its K covered
    token positions; the distinct is the position-set union that
    merges overlapping windows."""
    return (
        occurrences.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (K - 1))
            ).alias("pos"),
        )
        .distinct()
    )


def _xsub_finish(base: DataFrame, covered: DataFrame) -> DataFrame:
    """Span stats + cleaned-text re-stitch at doc grain (shared tail of
    the batch and incremental exact-substring queries)."""
    tok = base.select("doc_id", F.posexplode("t").alias("pos", "tok"))
    wd = W.partitionBy("doc_id").orderBy("pos")
    rem = (
        covered.withColumn("grp", F.col("pos") - F.row_number().over(wd))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_removed"),
            F.count_distinct("grp").cast("bigint").alias("n_spans"),
        )
    )
    keptagg = (
        tok.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s.getField("tok"),
                    ),
                )
            ).alias("clean_md5")
        )
    )
    return (
        base.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .join(rem, "doc_id", "left")
        .join(keptagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            "clean_md5",
        )
    )


def doc_exact_substring_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental exact-substring dedup against a STORED gram index —
    the third member of the incremental-index family
    (``doc_lsh_incremental``: MinHash bands; ``media_phash_incremental``:
    dHash bands; here: the 16-byte window fingerprints of the standing
    corpus). The corpus is the first 4/5 of doc ids (integer-exact
    split scalar); the batch is the appended last fifth.

    Append contract and exactness: batch doc_ids sort AFTER every
    indexed id, so for any window text present in the index the full
    run's canonical occurrence is a corpus one — every batch
    occurrence of an indexed gram is covered unconditionally (a bare
    semi-join, no canonical comparison needed); windows new in the
    batch elect their canonical within the batch alone. The output
    therefore equals the FULL corpus run restricted to batch docs —
    the same restriction contract the LSH/dHash twins gate on. A batch
    that straddled the id range would break this (a batch doc could be
    the global canonical for a corpus window), which is why the
    incremental form is an append-only operator; the batch query is
    the re-dedup-everything path.

    Scale shape (100 TB): only the BATCH is tokenized and hashed; the
    standing corpus participates as distinct 16-byte gram keys (the
    index a foreachBatch ingest would maintain by unioning each
    batch's new grams). The index side of the semi/anti joins is
    gram-keyed and map-side combinable; everything downstream runs at
    batch grain.
    """
    K = 5
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    split = d.agg(
        F.expr("max(doc_id) * 4 div 5").alias("s")
    ).first()["s"]
    corpus = d.filter(F.col("doc_id") <= F.lit(split))
    batch = d.filter(F.col("doc_id") > F.lit(split))
    index = (
        _xsub_grams(
            corpus.select("doc_id", TX.tokens("text").alias("t")), K
        )
        .select("g")
        .distinct()
    )
    b_base = batch.select("doc_id", TX.tokens("text").alias("t"))
    return exact_substring_apply(b_base, index, K)


def exact_substring_apply(
    b_base: DataFrame, index: DataFrame, K: int = 5
) -> DataFrame:
    """Core of the incremental exact-substring dedup: dedup a batch
    (``doc_id``, tokenized ``t``) against a stored gram index
    (distinct ``g`` md5 keys) under the append contract. Returns the
    per-doc stats/clean-hash frame."""
    b_grams = _xsub_grams(b_base, K)
    hit = b_grams.join(index, "g", "left_semi")
    miss = b_grams.join(index, "g", "left_anti")
    canon = miss.groupBy("g").agg(
        F.min(F.struct("doc_id", "pos")).alias("c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    dup_new = miss.join(canon.filter(F.col("cnt") > 1), "g").filter(
        ~(
            (F.col("doc_id") == F.col("c.doc_id"))
            & (F.col("pos") == F.col("c.pos"))
        )
    )
    covered = _xsub_covered(
        hit.select("doc_id", "pos").unionByName(
            dup_new.select("doc_id", "pos")
        ),
        K,
    )
    return _xsub_finish(b_base, covered)


DOC_EXACT_SUBSTRING_INCR_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t
  FROM documents WHERE length(text) > 0
),
tok AS (
  SELECT doc_id, gs - 1 AS pos, t[gs] AS tok
  FROM toks, unnest(generate_series(1, len(t))) u(gs)
),
grams AS (
  SELECT doc_id, gs - 1 AS pos,
         md5(array_to_string(t[gs : gs + 4], ' ')) AS g
  FROM toks, unnest(generate_series(1, len(t) - 4)) u(gs)
  WHERE len(t) >= 5
),
ranked AS (
  SELECT doc_id, pos, g,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM grams
),
covered AS (
  SELECT DISTINCT doc_id, pos + gs AS pos
  FROM ranked, unnest(generate_series(0, 4)) u(gs)
  WHERE rn > 1
),
rem AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_removed,
         CAST(count(DISTINCT pos - rn) AS BIGINT) AS n_spans
  FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
    FROM covered
  )
  GROUP BY doc_id
),
kept AS (
  SELECT t.doc_id, md5(string_agg(t.tok, ' ' ORDER BY t.pos)) AS clean_md5
  FROM tok t
  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.doc_id IS NULL
  GROUP BY t.doc_id
)
SELECT b.doc_id,
       CAST(len(b.t) AS BIGINT) AS n_tokens,
       COALESCE(r.n_removed, 0) AS n_removed,
       COALESCE(r.n_spans, 0) AS n_spans,
       k.clean_md5
FROM toks b
LEFT JOIN rem r USING (doc_id)
LEFT JOIN kept k ON b.doc_id = k.doc_id
WHERE b.doc_id > (SELECT max(doc_id) * 4 // 5 FROM documents
                  WHERE length(text) > 0)
"""


DOC_EXACT_SUBSTRING_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t
  FROM documents WHERE length(text) > 0
),
tok AS (
  SELECT doc_id, gs - 1 AS pos, t[gs] AS tok
  FROM toks, unnest(generate_series(1, len(t))) u(gs)
),
grams AS (
  SELECT doc_id, gs - 1 AS pos,
         md5(array_to_string(t[gs : gs + 4], ' ')) AS g
  FROM toks, unnest(generate_series(1, len(t) - 4)) u(gs)
  WHERE len(t) >= 5
),
ranked AS (
  SELECT doc_id, pos, g,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM grams
),
covered AS (
  SELECT DISTINCT doc_id, pos + gs AS pos
  FROM ranked, unnest(generate_series(0, 4)) u(gs)
  WHERE rn > 1
),
rem AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_removed,
         CAST(count(DISTINCT pos - rn) AS BIGINT) AS n_spans
  FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
    FROM covered
  )
  GROUP BY doc_id
),
kept AS (
  SELECT t.doc_id, md5(string_agg(t.tok, ' ' ORDER BY t.pos)) AS clean_md5
  FROM tok t
  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.doc_id IS NULL
  GROUP BY t.doc_id
)
SELECT b.doc_id,
       CAST(len(b.t) AS BIGINT) AS n_tokens,
       COALESCE(r.n_removed, 0) AS n_removed,
       COALESCE(r.n_spans, 0) AS n_spans,
       k.clean_md5
FROM toks b
LEFT JOIN rem r USING (doc_id)
LEFT JOIN kept k ON b.doc_id = k.doc_id
"""


# ---------------------------------------------------------------------------
# SimHash near-dup pairs (band-blocked, exact for hamming <= bands-1)
# ---------------------------------------------------------------------------

def doc_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via 32-bit SimHash, 4 bit-bands, Hamming <= 3.
    Band blocking is EXACT here (pigeonhole: 3 flipped bits leave one
    of 4 bands intact), so this is a no-recall-loss sub-quadratic
    companion to ``doc_minhash_lsh_dedup``.

    Scale shape: the signature is one tokenize+vote pass per document;
    band blocking turns the pair search into equi-joins on (band,
    value), so cost is Σ bucket² rather than n²."""
    d = load_table(spark, sf_dir, "documents")
    # the signature frame is cached per the hamming_near_dup_pairs
    # caller contract: the band self-join references it twice, and
    # uncached each reference re-runs the full tokenize+vote pipeline.
    # The cache is (doc_id, simhash) — 16 bytes per document.
    with cached(DD.simhash(d, bits=32)) as sig:
        return DD.hamming_near_dup_pairs(
            sig, sig_col="simhash", bits=32, bands=4, max_hamming=3
        ).localCheckpoint(eager=True)


_SIMHASH32_VOTES = ",\n".join(
    f"  SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(32)
)
_SIMHASH32_ASSEMBLE = " + ".join(
    f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
    for b in range(32)
)
DOC_SIMHASH_NEAR_DUPS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM toks
),
votes AS (
  SELECT doc_id,
{_SIMHASH32_VOTES}
  FROM hashed GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST({_SIMHASH32_ASSEMBLE} AS BIGINT) AS simhash FROM votes
),
banded AS (
  SELECT doc_id, simhash, bi,
         (simhash >> (bi * 8)) & 255 AS bv
  FROM sig, unnest([0, 1, 2, 3]) AS u(bi)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM banded a
  JOIN banded b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= 3
"""


# ---------------------------------------------------------------------------
# Token-budget allocation across sources (Hamilton largest-remainder)
# ---------------------------------------------------------------------------

_BUDGET = 100_000


def corpus_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split a global token budget across sources proportionally to
    their corpus mass, with the Hamilton (largest-remainder) method —
    the integer-exact answer to "how many tokens do I take from each
    source for this training mix". floor(B*n_s/N) seats first; the
    leftover seats go to the largest remainders (B*n_s mod N), ties to
    the lexically-smaller source so the allocation is deterministic.
    Allocations sum to exactly B by construction.

    All arithmetic is int64 truncating div/mod — bit-identical on both
    engines, no decimal-division rounding to reason about. Headroom:
    B*N must stay under 2^63 (1e5 budget x ~9e13 corpus chars); past
    that, route the two products through decimal(38,0) exactly as the
    KS-drift numerators do (plans/textq.py, r4 ADVICE fix).

    Scale: one source-grain groupBy (map-combined) — the allocation
    itself runs on a table with one row per source, driver-free.
    """
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("mass")
    )
    # truncating integer division/modulo, spelled with div/% so Catalyst
    # keeps it in int64 end-to-end
    calc = per_src.select(
        "source",
        F.col("mass").alias("n_chars_total"),
        F.expr(f"({_BUDGET}L * mass) div (sum(mass) over ())").alias("base_alloc"),
        F.expr(f"({_BUDGET}L * mass) % (sum(mass) over ())").alias("rem"),
    )
    rk = F.row_number().over(
        W.partitionBy().orderBy(F.desc("rem"), F.asc("source"))
    )
    leftover = F.lit(_BUDGET) - F.sum("base_alloc").over(W.partitionBy())
    return (
        calc.withColumn("rk", rk)
        .withColumn("leftover", leftover)
        .select(
            "source",
            "n_chars_total",
            (
                F.col("base_alloc")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc_tokens"),
        )
    )


CORPUS_BUDGET_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
  FROM documents GROUP BY source
),
calc AS (
  SELECT source,
         mass AS n_chars_total,
         ({_BUDGET} * mass) // CAST(SUM(mass) OVER () AS BIGINT) AS base_alloc,
         ({_BUDGET} * mass) % CAST(SUM(mass) OVER () AS BIGINT) AS rem
  FROM per_src
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk,
         {_BUDGET} - CAST(SUM(base_alloc) OVER () AS BIGINT) AS leftover
  FROM calc
)
SELECT source, n_chars_total,
       CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_tokens
FROM ranked
"""


# ---------------------------------------------------------------------------
# Incremental LSH maintenance (daily-batch dedup against a stored index)
# ---------------------------------------------------------------------------

def doc_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs for "today's batch" (doc_id % 5 == 0) against the
    standing corpus, via the stored band index — signature hashing runs
    on the batch only. Provably equal to the full-corpus LSH run
    restricted to pairs touching the batch (band keys are per-document
    pure functions), which is exactly what the oracle computes. See
    operators.dedup.minhash_lsh_incremental for the scale shape."""
    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 5 == 0)
    standing = d.filter(F.col("doc_id") % 5 != 0)
    idx = DD.lsh_index(standing)
    return DD.minhash_lsh_incremental(batch, idx, standing, threshold=0.5)


DOC_LSH_INCREMENTAL_SQL = f"""
WITH {_MINHASH_CTES}
SELECT id_a, id_b, jaccard FROM lsh_pairs
WHERE id_a % 5 = 0 OR id_b % 5 = 0
"""


# ---------------------------------------------------------------------------
# BM25 keyword retrieval (inverted-index-shaped top-k search)
# ---------------------------------------------------------------------------

# (query_id, term) pairs for the fixed benchmark query set. One term may
# serve several queries; the term->query map is a broadcast join so a
# shared posting list is scanned once and fanned out per query.
_BM25_QUERIES: list[tuple[int, str]] = [
    (1, "hash"),
    (1, "join"),
    (2, "window"),
    (2, "agg"),
    (2, "stream"),
    (3, "vector"),
    (3, "scan"),
    (3, "filter"),
]
_BM25_TOPK = 5
# fixed-point scale for the per-term score quotient (micro-units). The
# quotient is a correctly-rounded double of two <2^53 integers, so
# floor(q * 1e6) is bit-identical across engines; summing the resulting
# BIGINTs is order-free, unlike summing the doubles themselves.
_BM25_SCALE = 1_000_000


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 documents per keyword query, exact across
    engines.

    Parity: the reference validates warehouse-side ranking queries by
    running the same SQL on both engines (custom-query validation,
    `/root/reference/src/datamigration/dags/datavalidation/*`); this is
    the retrieval-flavoured member of that family for the LLM-pipeline
    corpus — keyword search over `documents` with the classic BM25
    weighting.

    Exactness: k1 = 6/5 and b = 3/4 are kept as rationals and folded
    into one integer numerator/denominator pair per (doc, term):

        idf      = (N - df + 1/2) / (df + 1/2)        [log-free ratio]
        tf_term  = 22*L*tf / (10*L*tf + 3*L + 9*dl*N)
        score_t  = idf * tf_term

    with N = corpus size, L = total token count, dl = doc length. Both
    num and den stay < 2^53 through sf1 (num <= 2N * 22 * L * tf_max),
    so the double quotient is correctly rounded and identical in Spark
    and DuckDB; `floor(q * 1e6)` converts each term's score to an exact
    BIGINT and the per-(query, doc) SUM is integer — no float-summation
    ordering hazard. The log-free idf is a documented variant: it is a
    monotone transform of the classic `ln` idf with the same 0.5
    smoothing, chosen because libm `ln` is not guaranteed correctly
    rounded across engines.

    Scale: the corpus is scanned once, projecting only (doc_id, dl =
    token_count) — no explode on the dl lane; N and L reduce map-side
    to a 1-row broadcast. The posting lane explodes tokens but filters
    to the query vocabulary immediately (an IN over 8 literals — the
    generate→filter pair prunes before any shuffle), so the (doc, term)
    tf aggregate shuffles only matching postings: this is exactly the
    touched slice of an inverted index, built on the fly. df rides the
    same tiny frame as a term-partitioned window count (a separate
    groupBy("term") subtree gets column-pruned into a second corpus
    explode — see the inline comment); the corpus stats and term→query
    map broadcast. The one data-sized shuffle is the doc-keyed join of
    matched postings against dl, then a top-5 window per query over
    candidate docs only.
    """
    d = load_table(spark, sf_dir, "documents")
    terms = sorted({t for _, t in _BM25_QUERIES})

    # corpus stats: scan-side token_count, 1-row broadcast
    dl = d.select("doc_id", TX.token_count("text").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("l_tot"),
    )

    # postings restricted to the query vocabulary, then (doc, term) tf
    toks = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df as a window count over tf rather than a separate aggregate +
    # join: a groupBy("term") subtree gets column-pruned by Catalyst
    # into a COPY of the posting scan (pruning drops the partial count,
    # which defeats exchange reuse), so the corpus would be exploded
    # twice. The window form stacks a term-keyed exchange on the
    # already-tiny tf frame instead — one corpus pass total.
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("term"))
    )

    qmap = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")

    num = (
        (2 * F.col("n_docs") - 2 * F.col("df") + 1)
        * (22 * F.col("l_tot") * F.col("tf"))
    ).cast("double")
    den = (
        (2 * F.col("df") + 1)
        * (
            10 * F.col("l_tot") * F.col("tf")
            + 3 * F.col("l_tot")
            + 9 * F.col("dl") * F.col("n_docs")
        )
    ).cast("double")

    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qmap), "term")
        .select(
            "query_id",
            "doc_id",
            F.floor(num / den * F.lit(float(_BM25_SCALE)))
            .cast("bigint")
            .alias("score_micro"),
        )
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum("score_micro").alias("bm25_micro"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("bm25_micro"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_TOPK)
        .select("query_id", "doc_id", "rk", "bm25_micro", "n_terms")
    )


_BM25_QUERY_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)

DOC_BM25_SQL = f"""
WITH queries(query_id, term) AS (VALUES {_BM25_QUERY_VALUES}),
dl AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS l_tot FROM dl),
toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM queries)
  GROUP BY 1, 2
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(FLOOR(
           CAST((2*s.n_docs - 2*df.df + 1) * (22 * s.l_tot * tf.tf) AS DOUBLE)
           / CAST((2*df.df + 1)
                  * (10*s.l_tot*tf.tf + 3*s.l_tot + 9*dl.dl*s.n_docs)
                  AS DOUBLE)
           * {_BM25_SCALE}
         ) AS BIGINT) AS score_micro
  FROM tf
  JOIN dl USING (doc_id)
  JOIN df USING (term)
  CROSS JOIN stats s
  JOIN queries q USING (term)
),
per_doc AS (
  SELECT query_id, doc_id,
         CAST(SUM(score_micro) AS BIGINT) AS bm25_micro,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY bm25_micro DESC, doc_id ASC
  ) AS rk
  FROM per_doc
)
SELECT query_id, doc_id, rk, bm25_micro, n_terms
FROM ranked WHERE rk <= {_BM25_TOPK}
"""

# Reciprocal-rank fusion constants: the standard k=60 damping, with each
# arm's 1/(k+rank) kept EXACT as the integer floor(1e6/(k+rank)) — two
# BIGINT floors and one BIGINT sum are bit-identical across engines,
# where summing the raw doubles would not be order-guaranteed.
_RRF_K = 60
_RRF_SCALE = 1_000_000


def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval via reciprocal-rank fusion — the
    standard RAG-pipeline serving pattern (Cormack et al.'s RRF): the
    BM25 keyword arm (``doc_bm25_topk``, query ids 1-3 over
    ``documents``) and the exact-cosine dense arm
    (``brute_force_topk`` with each query id's own embedding — the
    corpus aligns doc_id ≡ vec_id) each contribute
    ``_RRF_SCALE div (60 + rank)``; a FULL OUTER join on
    (query_id, doc_id) sums the arms (a doc missing from one arm
    contributes 0 from it) and a per-query window re-ranks the fused
    score. Ranks stay visible per arm so the output shows WHY a doc
    won (keyword match, vector match, or both).

    Scale: each arm keeps its own audited plan (BM25: one corpus pass,
    vocabulary-pruned postings; dense: queries broadcast, corpus
    streamed once through the Arrow scorer). The fusion itself joins
    two ≤ k·|queries|-row frames — dust. At 100 TB nothing new
    shuffles: fusion cost is bounded by the arms' top-k outputs, never
    the corpus."""
    from data_migration_tool_spark.operators import similarity as SIM

    sparse = doc_bm25_topk(spark, sf_dir).select(
        F.col("query_id").cast("long").alias("query_id"),
        "doc_id",
        F.col("rk").cast("long").alias("rk_sparse"),
    )
    qids = sorted({q for q, _ in _BM25_QUERIES})
    e = load_table(spark, sf_dir, "embeddings")
    dense = SIM.brute_force_topk(
        e.filter(F.col("vec_id").isin(qids)), e, k=_BM25_TOPK
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("rk_dense"),
    )
    return rrf_fuse(sparse, dense)


def rrf_fuse(sparse: DataFrame, dense: DataFrame) -> DataFrame:
    """Fuse two (query_id, doc_id, rk_*) rank frames by integer-exact
    RRF. FULL OUTER on the pair key: a doc in both arms sums both
    contributions; a doc in one arm contributes 0 from the other
    (coalesce — div on the NULL rank is NULL). Unit-pinned on planted
    overlapping frames (test_dataops.py) because the registry corpus's
    arms happen not to overlap at gate SF, which would leave the
    both-arms sum path data-untested."""
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "rk_sparse",
        "rk_dense",
        (
            F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rk_sparse)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rk_dense)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("long")
    )


HYBRID_RRF_SQL = f"""
WITH sparse AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         CAST(rk AS BIGINT) AS rk_sparse
  FROM ({DOC_BM25_SQL})
),
dense AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, neighbor_id AS doc_id,
         CAST(rank AS BIGINT) AS rk_dense
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(
               q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
               c.vec_id ASC
           ) AS rank
    FROM embeddings q, embeddings c
    WHERE q.vec_id IN ({", ".join(str(q) for q in sorted({q for q, _ in _BM25_QUERIES}))})
      AND q.vec_id <> c.vec_id
  ) WHERE rank <= {_BM25_TOPK}
),
fused AS (
  SELECT COALESCE(s.query_id, d.query_id) AS query_id,
         COALESCE(s.doc_id, d.doc_id) AS doc_id,
         s.rk_sparse, d.rk_dense,
         CAST(COALESCE({_RRF_SCALE} // ({_RRF_K} + s.rk_sparse), 0)
            + COALESCE({_RRF_SCALE} // ({_RRF_K} + d.rk_dense), 0)
           AS BIGINT) AS rrf_micro
  FROM sparse s
  FULL OUTER JOIN dense d
    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
)
SELECT query_id, doc_id, rk_sparse, rk_dense, rrf_micro,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id ASC
       ) AS BIGINT) AS fused_rank
FROM fused
"""
