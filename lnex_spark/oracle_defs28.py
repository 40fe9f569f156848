"""Oracle pairs that run ``operators.dedup``, ``operators.graph``,
``sources.synth``.

  * setsim_prefix_docs — AllPairs/PPJoin prefix-filtered EXACT
    shingle-Jaccard join (dedup.prefix_filter_pairs): candidates come
    only from each doc's rarest-first prefix shingles + length filter,
    yet no qualifying pair is lost.  The DuckDB twin is the
    unrestricted brute-force shared-shingle join — so the value-hash
    match IS the no-candidate-loss proof of the prefix bound on real
    data, at every sf.  Completes the dedup candidate-generation
    matrix: postings-unroll (lossy cap), MinHash-LSH (probabilistic),
    SimHash (probabilistic), prefix filter (exact and bounded).

  * bfs_landmarks_events — multi-source BFS distances from landmark
    nodes (node % 10 = 0) over the hour-bucket co-occurrence graph
    (graph.bfs_distances, fixed 3 rounds of min-distance relaxation
    with per-round lineage truncation) vs a fully-unrolled DuckDB
    re-derivation.  The landmark-distance sketch joins components /
    PageRank / LPA / k-core / triangles / link-prediction in the
    oracle-verified graph suite.

  * conv_template_groups — conversations sharing an identical ordered
    (role|tool) state sequence collapse into one dialogue template:
    the transcript-level analogue of exact text dedup (agent corpora
    are dominated by a few interaction templates).  Ordered
    string_agg per conversation (T1's ordering invariant again) over
    the custom Python Data Source, with a deterministic per-conv turn
    cap so templates actually vary; DuckDB re-derives the source's
    generation rule independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- exact prefix-filtered set-similarity join -----------------------------
# Oracle = unrestricted brute force (every pair sharing ANY shingle),
# deliberately ignorant of the prefix/length filters under test.
_SETSIM_SQL = r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                FOR i IN range(1, len(w) - 1)])) AS shingle
      FROM d WHERE len(w) >= 3
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM common
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
"""


@register("setsim_prefix_docs", _SETSIM_SQL)
def setsim_prefix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


# --- landmark BFS over the co-occurrence graph -----------------------------
def _bfs_round(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT und.b AS node, {prev}.dist + 1 AS dist
        FROM und JOIN {prev} ON und.a = {prev}.node
      ) GROUP BY node
    )"""


_BFS_SQL = (
    """
    WITH ev AS (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb
      FROM events WHERE user_id < 40
    ),
    e0 AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM ev a JOIN ev b
        ON a.event_type = b.event_type AND a.hb = b.hb AND a.user_id < b.user_id
    ),
    und AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0),
    d0 AS (
      SELECT DISTINCT a AS node, 0 AS dist FROM und WHERE a % 10 = 0
    ),"""
    + ",".join(_bfs_round(f"d{i}", f"d{i + 1}") for i in range(3))
    + """
    SELECT node, dist FROM d3
    """
)


@register("bfs_landmarks_events", _BFS_SQL)
def bfs_landmarks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 3-round multi-source BFS from node%10==0 landmarks over
    the same edge construction as tri_count/lpa (user_id < 40 slice);
    the Spark side is the genuinely iterative graph.bfs_distances job,
    the DuckDB side a fully-unrolled independent re-derivation."""
    from lnex_spark.operators.graph import bfs_distances, undirect

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("user_id", "event_type", F.date_trunc("hour", "ts").alias("hb"))
        .distinct()
    )
    a, b = ev.alias("a"), ev.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hb") == F.col("b.hb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("doc_a"), F.col("b.user_id").alias("doc_b"))
        .distinct()
    )
    sources = (
        undirect(edges).select("a").distinct().filter(F.col("a") % 10 == 0)
    )
    return bfs_distances(edges, sources, max_hops=3)


# --- dialogue template grouping over the synth source ----------------------
_TEMPLATE_SQL = """
    WITH convs AS (SELECT unnest(range(0, 60)) AS i),
    turns AS (SELECT unnest(range(0, 24)) AS j),
    t AS (
      SELECT 'c' || i AS conv_id, j,
             CASE WHEN j % 5 = 3 THEN 'tool:search'
                  WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END AS state
      FROM convs CROSS JOIN turns
      WHERE j < 5 + i % 7
    ),
    seq AS (
      SELECT conv_id, string_agg(state, '>' ORDER BY j) AS template
      FROM t GROUP BY conv_id
    )
    SELECT template, count(*) AS n_convs, min(conv_id) AS first_conv
    FROM seq GROUP BY template
"""


@register("conv_template_groups", _TEMPLATE_SQL)
def conv_template_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-level exact dedup: the ordered (role|tool) state
    string per conversation is its dialogue template; conversations
    collapse into template groups with a representative.  A
    deterministic per-conversation turn cap (5 + conv % 7) makes the
    fixed-turn synth source produce genuinely distinct templates.
    Sort-then-transform inside the aggregate keeps the ordered
    concatenation shuffle-free beyond the one conv_id agg (a
    sorted-struct collect — no window)."""
    from lnex_spark.sources import synth

    synth.register(spark)
    df = (
        spark.read.format("transcripts_synth")
        .option("n_convs", 60)
        .option("turns_per_conv", 24)
        .option("num_partitions", 4)
        .load()
    )
    cnum = F.substring("conv_id", 2, 10).cast("int")
    t = df.filter(F.col("turn_idx") < F.lit(5) + cnum % 7)
    state = F.when(
        F.col("tool").isNotNull(), F.concat(F.lit("tool:"), F.col("tool"))
    ).otherwise(F.col("role"))
    seq = t.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", state.alias("s")))),
                lambda x: x["s"],
            ),
            ">",
        ).alias("template")
    )
    return seq.groupBy("template").agg(
        F.count("*").alias("n_convs"), F.min("conv_id").alias("first_conv")
    )
