"""Corpus-level text statistics: TF-IDF, BM25, and PMI co-occurrence.

Training-data-pipeline operators over a documents-shaped table
(doc_id, text).  All three are pure DataFrame compositions — tokenize
with built-in `split`/`explode`, aggregate with hash aggs
(partial+final map-side combine for free), and join the tiny
per-token statistics tables back with an explicit `broadcast()` hint
(vocabulary ≪ corpus, so the per-doc side never shuffles for them).
No Python UDFs anywhere on this path.

Scale notes (100 TB corpus):
  * term-frequency and document-frequency aggs shuffle on (doc_id,
    tok) / tok — both partial-aggregated map-side, so shuffle volume
    is ~vocabulary-bounded per partition, not corpus-bounded;
  * document frequency / idf tables are vocabulary-sized → broadcast;
  * the corpus-size scalar is computed once and cross-joined as a
    1-row broadcast, not collected through the driver per-use;
  * PMI's doc-level self-join is the one genuinely quadratic step —
    it shuffles on doc_id (co-partitioned with the token lists) and
    must be bounded by a df ceiling on the tokens admitted (stopword
    ceiling), exactly like reference-scale PMI pipelines.

LNEx itself has no corpus statistics beyond the unigram LM
(SURVEY.md §2A G6); these extend the same groupBy-count machinery to
the standard weighting schemes a training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tokenized(docs: DataFrame, text_col: str = "text", doc_col: str = "doc_id") -> DataFrame:
    """(doc, tok) rows — whitespace tokenization over lower/trimmed text."""
    return docs.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)


def term_stats(docs: DataFrame, text_col: str = "text") -> tuple[DataFrame, DataFrame, DataFrame]:
    """Per-(doc, tok) term frequency, per-tok document frequency, corpus size.

    Returns (tf, df, n) where n is a 1-row DataFrame with column
    ``n_docs`` (docs that produced at least one token).
    """
    toks = tokenized(docs, text_col)
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = tf.select("doc_id").distinct().agg(F.count("*").alias("n_docs"))
    return tf, df, n


def tfidf(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, tok, tf, score) — tf·idf with idf = ln((N+1)/(df+1)).

    df and N are vocabulary/scalar-sized → both broadcast; the only
    shuffle is the tf aggregation itself.
    """
    tf, df, n = term_stats(docs, text_col)
    idf = df.crossJoin(F.broadcast(n)).select(
        "tok", F.log((F.col("n_docs") + 1) / (F.col("df") + 1)).alias("idf")
    )
    return tf.join(F.broadcast(idf), "tok").select(
        "doc_id", "tok", "tf", F.round(F.col("tf") * F.col("idf"), 6).alias("score")
    )


def tfidf_top_terms(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Highest-tf·idf term per document (rounded-score, token tiebreak)."""
    scored = tfidf(docs, text_col)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "tok", "tf", "score")
    )


def bm25(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, bm25) Okapi BM25 score of each doc against ``query_terms``.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)); the doc-length
    normalization uses avgdl over the same corpus scope.  The query
    restriction is applied BEFORE the join (filter pushdown on the tf
    table), so only |query| rows per doc survive into the scoring
    join.
    """
    toks = tokenized(docs, text_col)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    n = dl.agg(F.count("*").alias("n_docs"))

    qtf = (
        toks.filter(F.col("tok").isin(query_terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    qdf = qtf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = qdf.crossJoin(F.broadcast(n)).select(
        "tok",
        F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
    )
    parts = (
        qtf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("part"),
        )
    )
    return parts.groupBy("doc_id").agg(F.round(F.sum("part"), 6).alias("bm25"))


def pmi_pairs(
    docs: DataFrame,
    text_col: str = "text",
    min_pair_count: int = 10,
) -> DataFrame:
    """(tok_a, tok_b, n_ab, pmi) pointwise mutual information of
    within-document token co-occurrence, tok_a < tok_b.

    The co-occurrence step is a doc_id-keyed self-join of the distinct
    (doc, tok) set — both sides hash-partition on doc_id (one shuffle,
    co-partitioned), and the per-token marginals broadcast back in.
    """
    d = tokenized(docs, text_col).distinct()
    n = d.select("doc_id").distinct().agg(F.count("*").alias("n_docs"))
    marg = d.groupBy("tok").agg(F.count("*").alias("n_tok"))

    a = d.alias("a")
    b_ = d.alias("b")
    pairs = (
        a.join(b_, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    ma = F.broadcast(marg.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a")))
    mb = F.broadcast(marg.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b")))
    return (
        pairs.join(ma, "tok_a")
        .join(mb, "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.round(
                F.log(F.col("n_ab").cast("double") * F.col("n_docs") / (F.col("n_a") * F.col("n_b"))),
                6,
            ).alias("pmi"),
        )
    )


def tfidf_cosine_adjacent(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Sparse TF-IDF cosine similarity via the term-keyed join — the
    dot product of two sparse vectors is a join on the term key plus
    one keyed sum, never a dense materialization.  Adjacent doc pairs
    (d, d+1) stand in for any candidate-pair generator (LSH buckets,
    blocking keys): the pair restriction bounds output, the formula is
    pair-source-agnostic.  At scale: tf is the only corpus-sized
    shuffle; idf/norms are vocabulary- and doc-count-sized; the dot
    join is co-partitioned on (pair, term).

    Returns (doc_a, doc_b, cosine) for pairs sharing >= 1 term.
    """
    tf, df, n = term_stats(docs, text_col)
    idf = df.crossJoin(F.broadcast(n)).select(
        "tok", F.log((F.col("n_docs") + 1) / (F.col("df") + 1)).alias("idf")
    )
    w = tf.join(F.broadcast(idf), "tok").select(
        "doc_id", "tok", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa"))
    b = w.select((F.col("doc_id") - 1).alias("doc_a"), "tok", F.col("w").alias("wb"))
    dots = (
        a.join(b, ["doc_a", "tok"])
        .groupBy("doc_a")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select((F.col("doc_id") - 1).alias("doc_a"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_a")
        .select(
            "doc_a",
            (F.col("doc_a") + 1).alias("doc_b"),
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )


def vocab_coverage(
    docs: DataFrame, thresholds: tuple[float, ...] = (0.5, 0.9, 0.99), text_col: str = "text"
) -> DataFrame:
    """Vocabulary coverage curve: for each mass threshold t, the
    smallest number of top-frequency tokens whose cumulative count
    covers >= t of all token occurrences — the statistic behind
    tokenizer-vocab sizing and stopword-list cutoffs (Zipfian corpora
    cover 90% of mass with a tiny head).

    The ranking runs over the vocabulary table (token-count-sized —
    Heaps-law sublinear in corpus rows but UNBOUNDED, so it uses the
    distributed rank+prefix-sum of operators/scalable_windows rather
    than a single-partition window; converted in the round-4 global-
    window audit); counts are integers so the cumulative comparison
    is exact on every engine.  Returns (threshold, n_top_tokens,
    vocab_size, total_tokens).
    """
    from lnex_spark.operators.scalable_windows import attach_rank

    toks = tokenized(docs, text_col)
    freq = toks.groupBy("tok").agg(F.count("*").alias("f"))
    tot = freq.agg(
        F.sum("f").alias("total_tokens"), F.count("*").alias("vocab_size")
    )
    order = [F.desc("f"), F.asc("tok")]
    ranked = attach_rank(
        freq, order, rank_col="r", cumsum_of="f", cumsum_col="cum"
    ).select("r", "cum")
    th = docs.sparkSession.createDataFrame(
        [(t,) for t in thresholds], "threshold double"
    )
    return (
        th.crossJoin(F.broadcast(tot))
        .join(ranked, F.col("cum") >= F.col("threshold") * F.col("total_tokens"))
        .groupBy("threshold", "vocab_size", "total_tokens")
        .agg(F.min("r").alias("n_top_tokens"))
        .select("threshold", "n_top_tokens", "vocab_size", "total_tokens")
    )


def bpe_merges(docs: DataFrame, rounds: int = 3, text_col: str = "text") -> DataFrame:
    """Byte-pair-encoding merge induction — tokenizer TRAINING as a
    Spark job.  Returns the first ``rounds`` learned merges as
    ``(rank, lhs, rhs, freq)``.

    Classic BPE (Sennrich et al., ACL'16): start from characters,
    repeatedly merge the most frequent adjacent symbol pair across the
    (frequency-weighted) word vocabulary.  One deterministic variant
    choice: only pairs with lhs != rhs are candidates.  With lhs = rhs
    excluded, two matches of a pair can never overlap (a match at i
    and i+1 would force lhs = rhs), so "replace all occurrences" is
    well-defined relationally and equals greedy left-to-right — the
    whole training loop stays in window functions + hash aggregations
    with no imperative scanning, and an unrolled SQL oracle can
    re-derive it exactly.  Ties on pair frequency break by (lhs, rhs)
    ascending — fully specified, engine-independent.

    Scale shape: the state is the WORD VOCABULARY (symbol rows =
    Σ word lengths over distinct words), not the corpus — the corpus
    is only scanned once for word counts.  Per round: one lead()
    window per word (partitioned by word — no global window), one
    vocabulary-sized pair agg, a 1-row top-1 collect to the driver
    (the merge decision, broadcast back as a scalar), and one
    filter+renumber pass.  Lineage is
    truncated per round.
    """
    w = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("wf"))
    )
    s = w.select("word", "wf", F.posexplode(F.split("word", "")).alias("pos", "sym"))
    s = s.localCheckpoint(eager=True)
    w_word = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        pc = (
            s.select("wf", "sym", F.lead("sym").over(w_word).alias("nxt"))
            .filter(F.col("nxt").isNotNull() & (F.col("sym") != F.col("nxt")))
            .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
            .agg(F.sum("wf").alias("cnt"))
        )
        top = pc.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()[0]
        merges.append((r, top["a"], top["b"], int(top["cnt"])))
        hit = (F.col("sym") == F.lit(top["a"])) & (
            F.lead("sym").over(w_word) == F.lit(top["b"])
        )
        x = s.select(
            "word", "wf", "pos", "sym", F.coalesce(hit, F.lit(False)).alias("hit")
        ).select("*", F.lag("hit").over(w_word).alias("prev_hit"))
        s = (
            x.filter(~F.coalesce(F.col("prev_hit"), F.lit(False)))
            .select(
                "word",
                "wf",
                F.row_number().over(w_word).alias("pos"),
                F.when(F.col("hit"), F.lit(top["a"] + top["b"]))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .localCheckpoint(eager=True)
        )
    return docs.sparkSession.createDataFrame(
        merges, "rank int, lhs string, rhs string, freq long"
    )
