"""Training-data curation operators: deterministic splits, class
rebalancing, PII scrubbing, benchmark-contamination detection, and a
quality-filter funnel with drop-reason attribution.

These are the corpus-hygiene steps a 100 TB pretraining pipeline runs
between raw ingestion and tokenization.  Everything is built-in
column expressions — no Python UDFs — so each op whole-stage-codegens
and scales as a single scan (+ one hash agg where counting).

Determinism is the design constraint throughout: split assignment and
sampling use content hashing (md5 prefix gating), never engine RNG,
so assignments are stable across engines, reruns, repartitioning, and
cluster sizes — the property that makes a split auditable and a
resumable job idempotent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 16-bit hash space for md5-prefix gating (4 hex chars)
_HASH_SPACE = 1 << 16

# Transcript-curation contract constants, shared by curate_transcripts
# (token arithmetic) and emit_training_pairs (string assembly).  The
# token arithmetic depends on these exact shapes: SEP must be a single
# \S+ run flanked by whitespace (it contributes the "+1" per context
# turn), and the PII replacement must be non-empty and whitespace-free
# (token-count invariant).  Change them only together.
SEP = " <SEP> "
CTX_PREV = 3  # previous turns included in a training context
# chunk width for the skew-proof context window: a conversation's
# turns are windowed per (conv_id, turn_idx div CTX_CHUNK) with a
# CTX_PREV-row halo, so a hot conversation spreads over
# n_turns/CTX_CHUNK tasks instead of pinning one (round 4)
CTX_CHUNK = 4096
PII_DIGIT_RUN = r"[0-9]{4,}"
PII_DIGIT_TOKEN = "<NUM>"


def hash_bucket(id_col: Column, salt: str) -> Column:
    """Deterministic bucket in [0, 65536) from md5(salt # id)."""
    h = F.md5(F.concat(F.lit(salt + "#"), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("long")


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Append a ``split`` column assigning each row to a named split.

    Cumulative md5-bucket thresholds: a row lands in the first split
    whose cumulative weight exceeds its bucket fraction.  Adding rows
    never reassigns existing ones; changing ``salt`` draws a fresh
    assignment.  Pure projection — no shuffle, no RNG.
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    bucket = hash_bucket(F.col(id_col), salt)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        cond = bucket < int(cum * _HASH_SPACE)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def class_weights(df: DataFrame, label_col: str = "label") -> DataFrame:
    """(label, n, weight) inverse-frequency rebalancing weights:
    weight = N / (k · n_label), so a perfectly balanced corpus gets
    weight 1.0 everywhere.  Two tiny aggs; the (k, N) scalars ride a
    1-row broadcast cross join, never the driver."""
    per = df.groupBy(label_col).agg(F.count("*").alias("n"))
    tot = per.agg(F.sum("n").alias("total"), F.count("*").alias("k"))
    return per.crossJoin(F.broadcast(tot)).select(
        label_col,
        "n",
        F.round(F.col("total") / (F.col("k") * F.col("n")), 6).alias("weight"),
    )


# PII patterns — deliberately RE2-compatible (no backrefs, no
# lookaround) so the same pattern string runs in Spark (Java regex),
# DuckDB (RE2), and Flink/Trino if ported.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<email>"),
    (r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<phone>"),
    (r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<ip>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text", out_col: str = "scrubbed") -> DataFrame:
    """Replace emails, phone numbers, and IPv4 addresses with typed
    placeholder tokens.  A chain of regexp_replace — one codegen'd
    projection, order matters (emails first: an email must not be
    half-eaten by the phone pattern)."""
    c = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out_col, c)


def contamination(
    train: DataFrame, bench: DataFrame, n: int = 5
) -> DataFrame:
    """Per-benchmark-doc n-gram contamination against a training corpus.

    (doc_id, n_grams, n_hit, contaminated) — n_hit is how many of the
    bench doc's distinct word n-grams appear anywhere in train.  The
    join runs shingle-keyed (one shuffle on the n-gram string); at
    100 TB the train side is the big one, so Spark hash-partitions
    both on the shingle and the bench side (tiny) broadcasts if under
    threshold — either plan gives the same counts.
    """
    from lnex_spark.operators.dedup import shingles

    t_sh = shingles(train, n=n).select("shingle").distinct()
    b_sh = shingles(bench, n=n)
    per = b_sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        b_sh.join(t_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        per.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def quality_funnel(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """First-failing-rule attribution for a filter chain:
    too_short → high_punct → dup_fingerprint → kept.

    Returns (reason, n) counts.  Rules are evaluated as one CASE
    projection; the duplicate rule keeps the smallest doc_id per
    normalized-text fingerprint (deterministic survivor), which needs
    the one hash agg in the op.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.when(F.length(F.trim(t)) == 0, 0).otherwise(F.size(F.split(F.trim(t), r"\s+")))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    fp = F.md5(F.lower(F.trim(t)))

    with_fp = docs.select(F.col("doc_id"), t.alias("_t"), fp.alias("_fp"))
    survivor = with_fp.groupBy("_fp").agg(F.min("doc_id").alias("_keep_id"))
    flagged = with_fp.join(survivor, "_fp").select(
        "doc_id",
        F.col("_t").alias(text_col),
        (F.col("doc_id") != F.col("_keep_id")).alias("_is_dup"),
    )
    reason = (
        F.when(n_tokens < 5, "too_short")
        .when(punct_ratio > 0.2, "high_punct")
        .when(F.col("_is_dup"), "dup_fingerprint")
        .otherwise("kept")
    )
    return flagged.select(reason.alias("reason")).groupBy("reason").agg(
        F.count("*").alias("n")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "wsamp-v1",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis exponential sort): each row gets
    ``skey = -ln(u) / w`` with ``u`` an md5-gated uniform on the
    16-bit lattice, and the k smallest keys win — inclusion odds
    proportional to weight, yet a pure function of content, so the
    sample is identical across engines, reruns, and repartitionings
    (``df.sample``'s engine-private RNG is neither).  Quantized-u
    collisions at equal weight produce exactly equal keys on both
    engines; the id column breaks those ties.  The global top-k plans
    as TakeOrderedAndProject — per-partition heaps, no full sort.
    """
    u = (hash_bucket(F.col(id_col), salt) + 1) / float(_HASH_SPACE + 1)
    key = -F.log(u) / F.col(weight_col)
    return (
        df.withColumn("skey", key)
        .orderBy(F.col("skey").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pack_sequences(
    docs: DataFrame, budget: int = 128, shard_size: int = 100
) -> DataFrame:
    """Greedy first-fit sequence packing — the batch-construction step
    of an LLM training pipeline: assign documents, in doc_id order, to
    token-budgeted bins (a new bin starts whenever adding the next doc
    would exceed ``budget``; an oversized doc gets a bin to itself).

    Packing is inherently sequential, so it is SHARDED: docs are
    grouped into contiguous ``doc_id // shard_size`` shards and packed
    independently per shard — embarrassingly parallel, one
    ``applyInPandas`` island whose per-group state is a shard, not the
    corpus (this is how production packers scale: sequentiality is
    confined to a bounded shard, global order across shards is
    irrelevant to the training batches).  Deterministic: bin ids are a
    pure function of (doc_id, n_tokens) per shard.

    Returns ``(doc_id, shard, bin, n_tokens)`` — bin numbering is
    per-shard, starting at 0.
    """
    from lnex_spark.operators.textquality import token_count_col

    d = docs.select(
        "doc_id",
        F.expr(f"doc_id DIV {int(shard_size)}").alias("shard"),
        token_count_col(F.col("text")).alias("n_tokens"),
    )

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins: list[int] = []
        cur, b = 0, 0
        for i, n in enumerate(pdf["n_tokens"]):
            n = int(n)
            if i == 0:
                cur = n
            elif cur + n > budget:
                b += 1
                cur = n
            else:
                cur += n
            bins.append(b)
        pdf["bin"] = bins
        return pdf[["doc_id", "shard", "bin", "n_tokens"]]

    return d.groupBy("shard").applyInPandas(
        pack, "doc_id long, shard long, bin long, n_tokens long"
    )


def surviving_conversations(
    t: DataFrame,
    min_turns: int = 10,
    len_band: tuple[float, float] = (5.0, 200.0),
) -> DataFrame:
    """Conversation-level exact dedup + quality gate → one-column
    (conv_id) survivor list, conversation cardinality (broadcastable).

    Duplicate SPEC: two conversations are duplicates iff their
    (turn_idx, text) pair sequences are equal — turn indices are part
    of a transcript's identity (equal texts re-indexed differently are
    NOT duplicates).  The fingerprint combines per-turn
    xxhash64(turn_idx, text) hashes with the commutative
    _multiset_fingerprint combine (sum of the two 32-bit hash halves +
    row count, re-hashed) — commutative, so the groupBy aggregates
    map-side and its exchange carries one row per conversation, never
    the text volume; xxhash64 stays JVM-native (no hex/string detour —
    an md5+conv variant of the same fingerprint measured ~2.5x slower
    on the one obligatory full-text scan).  Sums are multiset-faithful
    where a bit_xor is NOT (xor self-cancels a duplicated row, making
    [(0,a),(0,a),(1,b)] collide with [(1,b)]); because the pair
    multiset determines the pair sequence (ordered by (turn_idx,
    text)), the fingerprint collides iff the spec holds (up to a
    ~2^-64 hash collision), and the DuckDB twin implements the SAME
    spec in its readable form — md5 over 'turn_idx:text' lines in turn
    order — so the value-hash check proves the equivalence.
    Winner per class = min(conv_id) via a window over the
    conversation-cardinality aggregate (NOT a second aggregate branch:
    a groupBy+self-join form recomputes the full-text pass twice).
    Gate: n_turns ≥ min_turns and mean raw-text length within len_band
    (the Gopher-gate idiom at conversation granularity)."""
    from pyspark.sql import Window

    head = t.groupBy("conv_id").agg(
        *_multiset_fingerprint_aggs(),
        F.count("*").alias("n_turns"),
        F.avg(F.length("text")).alias("mean_len"),
    )
    head = head.withColumn("fingerprint", _multiset_fingerprint_combine()).drop(
        "_fp_lo", "_fp_hi", "_fp_n"
    )
    return (
        head.withColumn(
            "winner", F.min("conv_id").over(Window.partitionBy("fingerprint"))
        )
        .where(
            (F.col("conv_id") == F.col("winner"))
            & (F.col("n_turns") >= min_turns)
            & F.col("mean_len").between(*len_band)
        )
        .select("conv_id")
    )


def emit_training_pairs(
    t: DataFrame,
    min_turns: int = 10,
    len_band: tuple[float, float] = (5.0, 200.0),
) -> DataFrame:
    """Write-time emission: (conv_id, turn_idx, context, target) for
    every assistant turn of a surviving conversation, with the
    digit-run PII mask applied and the previous ≤3 turns joined with
    ' <SEP> '.  This is the ONLY place assembled strings exist —
    ``curate_transcripts`` plans the packing from token arithmetic
    alone, so string bytes hit exactly one shuffle (this one), only
    for survivors, only at write time.

    CONTRACT (same as ``curate_transcripts``): ``turn_idx`` must be
    DENSE per conversation (0,1,2,… with no gaps).  The cross-chunk
    halo is selected by ``turn_idx % CTX_CHUNK``, so a gapped index
    can silently lose context predecessors that fall across a chunk
    boundary — re-index with a per-conversation row_number first if
    the source index has holes."""
    from pyspark.sql import Window

    # no broadcast hint on the conversation-cardinality gate table —
    # forced broadcast fails outright past the driver limit at the
    # 10^12-turn design point; AQE still picks broadcast when small
    gated = surviving_conversations(t, min_turns, len_band)
    clean = t.join(gated, "conv_id").withColumn(
        "scrubbed", F.regexp_replace("text", PII_DIGIT_RUN, PII_DIGIT_TOKEN)
    )
    # chunked context window with a CTX_PREV halo (same skew-proof
    # shape as curate_transcripts, round 4): the write-time string
    # stage must not pin a hot conversation to one task either
    chunk = F.floor(F.col("turn_idx") / CTX_CHUNK)
    main = clean.withColumn("_chunk", chunk).withColumn("_halo", F.lit(False))
    halo = (
        clean.where(F.col("turn_idx") % CTX_CHUNK >= CTX_CHUNK - CTX_PREV)
        .withColumn("_chunk", chunk + 1)
        .withColumn("_halo", F.lit(True))
    )
    w = (
        Window.partitionBy("conv_id", "_chunk")
        .orderBy("turn_idx")
        .rowsBetween(-CTX_PREV, -1)
    )
    return (
        main.unionByName(halo)
        .withColumn("context", F.concat_ws(SEP, F.collect_list("scrubbed").over(w)))
        .where(~F.col("_halo") & (F.col("role") == "assistant"))
        .select("conv_id", "turn_idx", "context", F.col("scrubbed").alias("target"))
    )


def curate_transcripts(
    t: DataFrame,
    budget: int = 120,
    shards: int = 256,
    min_turns: int = 10,
    len_band: tuple[float, float] = (5.0, 200.0),
) -> DataFrame:
    """The transcript-curation flagship composition: conversation-level
    exact dedup → conversation quality gate → digit-run PII mask →
    previous-3-turn context assembly → sharded greedy sequence packing.
    Input: (conv_id, turn_idx, role, text); output one row per packed
    training sequence (seq_id, n_pairs, n_tokens).

    Scale shape: the dedup/gate pass shuffles ONE ROW PER CONVERSATION,
    not the text volume.  The oracle-spec fingerprint (md5 over
    'turn_idx:text' lines in turn order — duplicates are conversations
    with equal (turn_idx, text) sequences) is replaced by an
    order-equivalent commutative one — summed xxhash64(turn_idx, text)
    halves + count (see ``surviving_conversations`` for why the
    equivalence is exact): the duplicate CLASSES — the only thing the
    output depends on — are identical, and the DuckDB twin keeps the
    readable ordered-md5 definition, making the value-hash check a
    proof of that equivalence.  Being commutative, the fingerprint
    aggregates map-side (partial sums/count/avg), so the groupBy
    exchange carries conversation cardinality only.  The survivor list
    broadcasts back; the context/packing windows then shuffle only
    (conv_id, turn_idx, role, tok:int) rows — text NEVER enters a
    shuffle (the first version shuffled the full text volume twice and
    measured 4→16-core scaling eff 0.56 at 10M turns), and since
    round 4 no per-turn stage is keyed on BARE conv_id either: the
    context window runs per (conv_id, turn_idx div CTX_CHUNK) with a
    CTX_PREV-row halo, so the north rule's long-tail hot conversation
    spreads across tasks instead of pinning one (measured: the fused
    conv-window scaled 0.43 for 4→16 cores at 30M turns with the
    20%-hot key; this shape lifted end-to-end curation scaling to
    0.807 and cut 16-core wall 42%).  The packing cumsum is a window
    over an md5-derived shard key — never global, so no
    single-partition running sum at 10^12 turns.  Sequences never
    straddle shards, so per-shard budgets lose nothing.  Zero Python
    rows.  ``emit_training_pairs`` is the string-materializing
    emission for the survivors (write-time path).

    ``shards`` bounds the packing stage's parallelism (the cumsum
    window has exactly ``shards`` distinct keys): size it O(cluster
    cores), at most 65536 (the md5-prefix width backing the shard
    key) — measured on this host, shards=8 capped 4→16-core scaling
    at 0.44 efficiency.  The value changes seq_id assignment, so pin
    it when comparing runs."""
    from pyspark.sql import Window

    # ONE text scan.  The previous shape (surviving_conversations pass,
    # then a broadcast-join back to ``t`` for token counting) read the
    # full text column TWICE — the join filters only after the second
    # read, so the double scan was paid at every duplication level.
    # Here every text-derived quantity (token count, raw length, the
    # fingerprint hash halves) is projected in a single pass and text
    # is never touched again; measured at 30M turns this cut ~11-15%
    # wall at 4/16 cores, and at 100 TB it halves the dominant term
    # (the corpus read).
    #
    # Token accounting WITHOUT materializing context strings.  A token
    # is a \S+ run; runs cannot merge across the " <SEP> " joiners or
    # the context/target join (both insert whitespace), so
    #   tokens(context ⊕ target) = Σ_prev(tok_i + 1) − 1 + tok_target
    # (the −1 converts k separators to the k−1 the join inserts; the
    # coalesce handles the no-context first turns).  The digit-run PII
    # mask replaces [0-9]{4,} with the non-empty whitespace-free
    # '<NUM>', which cannot create or destroy \S+ runs — so the scrub
    # is token-count-invariant and the post-scan path carries only
    # ~56-byte arithmetic rows through the single conv_id exchange —
    # never assembled strings, never text.  The DuckDB twin assembles
    # the scrubbed strings and counts runs literally, so the
    # value-hash check proves this arithmetic.  String materialization
    # for surviving pairs is emit_training_pairs.
    h = F.xxhash64("turn_idx", "text")
    rows = t.select(
        "conv_id",
        "turn_idx",
        "role",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("tok"),
        F.length("text").alias("_tlen"),
        h.bitwiseAND(F.lit(0xFFFFFFFF)).alias("_h_lo"),
        F.shiftrightunsigned(h, 32).alias("_h_hi"),
    )
    # SKEW-PROOF per-conversation plan (round 4).  The previous shape
    # ran ONE fused conv_id-keyed WindowExec — clean, but a window
    # partition is indivisible: a planted 20%-hot conversation (the
    # transcripts north-rule skew model) pins 20% of the corpus to a
    # single task.  Measured at 30M turns / 16 pinned cores, that one
    # task alone ran ~20s while fifteen cores idled — the window stage
    # scaled at 0.43 (4→16) while a width-matched SYNTHETIC (uniform
    # conversations) null probe of the same window shape scaled at
    # 1.00, proving the ceiling was the hot key, not the host.  The
    # rewrite splits the conversation axis:
    #
    #   1. context window runs per (conv_id, CHUNK) — chunk =
    #      turn_idx div CTX_CHUNK — with each chunk's last CTX_PREV
    #      rows duplicated into the next chunk as halo rows (dropped
    #      after the window), so the bounded (-CTX_PREV,-1) frame sees
    #      its cross-boundary predecessors.  A hot conversation now
    #      spreads over n_turns/CTX_CHUNK tasks.  Correctness of the
    #      halo relies on the T1 ordering contract: turn_idx is the
    #      DENSE per-conversation position (0,1,2,…), which is what
    #      both the driver's transcripts and turn_order/T1 emit.
    #   2. the per-conversation fingerprint/gate quantities are ALL
    #      commutative, so they aggregate from the chunked frame with
    #      map-side partials (each (conv,chunk) task pre-collapses to
    #      one partial row — the hot key arrives at its reducer as
    #      ~n_chunks partials, never as raw rows) — skew-immune by
    #      construction.
    #   3. the duplicate winner (min conv_id per fingerprint) moves to
    #      the CONVERSATION-level stats frame — the old form ran it as
    #      a window over 30M per-turn rows, re-creating the same hot
    #      partition under _fp.
    #
    # Everything still reads the text exactly ONCE (the chunked frame
    # carries the hash halves/length through its single exchange and
    # stats aggregate from it, not from a second scan).
    chunk = F.floor(F.col("turn_idx") / CTX_CHUNK)
    main = rows.withColumn("_chunk", chunk).withColumn("_halo", F.lit(False))
    halo = (
        rows.where(F.col("turn_idx") % CTX_CHUNK >= CTX_CHUNK - CTX_PREV)
        .withColumn("_chunk", chunk + 1)
        .withColumn("_halo", F.lit(True))
    )
    wctx = (
        Window.partitionBy("conv_id", "_chunk")
        .orderBy("turn_idx")
        .rowsBetween(-CTX_PREV, -1)
    )
    rows = (
        main.unionByName(halo)
        .withColumn(
            "ctx_tok",
            F.coalesce(F.sum(F.col("tok") + 1).over(wctx), F.lit(1)) - 1,
        )
        .where(~F.col("_halo"))
    )
    # conversation stats from the chunked frame: commutative partials
    # (sum/sum/count/avg) — the exchange carries ~one row per
    # (conv, chunk), reducers see no raw-row skew
    stats = rows.groupBy("conv_id").agg(
        F.sum("_h_lo").alias("_s_lo"),
        F.sum("_h_hi").alias("_s_hi"),
        F.count("*").alias("_n_turns"),
        F.avg("_tlen").alias("_mean_len"),
    )
    gated = stats.where(
        (F.col("_n_turns") >= min_turns) & F.col("_mean_len").between(*len_band)
    ).select(
        "conv_id", F.xxhash64("_s_lo", "_s_hi", "_n_turns").alias("_fp")
    )
    # winner per duplicate class at CONVERSATION granularity (gate
    # outcomes are identical across duplicates, so gating first is
    # unchanged semantics)
    survivors = (
        gated.groupBy("_fp")
        .agg(F.min("conv_id").alias("conv_id"))
        .select("conv_id")
    )
    # no broadcast hint: survivors is conversation-cardinality — at the
    # module's 10^12-turn design point that is 10^8-10^9 rows, far past
    # any broadcast threshold, and a FORCED broadcast would fail where
    # a shuffled left_semi degrades gracefully.  AQE picks broadcast on
    # its own whenever the runtime size is actually small (the local
    # bench case), so the hint bought nothing but the failure mode.
    pairs = rows.join(survivors, "conv_id", "left_semi").where(
        F.col("role") == "assistant"
    )
    toks = pairs.select(
        "conv_id",
        "turn_idx",
        (F.col("ctx_tok") + F.col("tok")).alias("n_tok"),
        # 4 hex chars = 65536 raw values before the modulo — 2 chars
        # silently capped effective parallelism at 256 shards
        (F.conv(F.substring(F.md5("conv_id"), 1, 4), 16, 10).cast("int") % shards).alias(
            "shard"
        ),
    )
    cum_w = (
        Window.partitionBy("shard")
        .orderBy("conv_id", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = toks.withColumn("cum", F.sum("n_tok").over(cum_w))
    # seq_id = shard·2^40 + bin: the 2^40 stride gives each shard
    # budget·2^40 (> 10^14) tokens before bins could collide across
    # shards — a 10^6 stride overflowed at ~10^8 tokens/shard, i.e.
    # routinely at bench scale
    return packed.groupBy(
        (F.col("shard") * F.lit(1 << 40) + F.floor((F.col("cum") - F.col("n_tok")) / budget))
        .cast("long")
        .alias("seq_id")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


def _multiset_fingerprint_aggs() -> list[Column]:
    """The commutative multiset-fingerprint partials: per-row
    xxhash64(turn_idx, text) split into its two unsigned 32-bit
    halves, each SUMMED (multiset-faithful — a bit_xor would
    self-cancel duplicated rows), plus the row count.  Each half is
    < 2^32 so the int64 sums are overflow-safe for conversations up
    to 2^31 rows (no ANSI overflow risk)."""
    h = F.xxhash64("turn_idx", "text")
    return [
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("_fp_lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("_fp_hi"),
        F.count("*").alias("_fp_n"),
    ]


def _multiset_fingerprint_combine() -> Column:
    """Collapse the three partials back to one 8-byte fingerprint."""
    return F.xxhash64("_fp_lo", "_fp_hi", "_fp_n")


def conversation_fingerprints(t: DataFrame) -> DataFrame:
    """(conv_id, fingerprint) per conversation — the commutative
    multiset fingerprint of ``surviving_conversations`` (sum of
    xxhash64(turn_idx, text) halves + count, re-hashed), exposed as
    the persistent dedup-state shape: at ingestion scale you store
    THIS table (one 16-byte row per conversation), bucketed by
    fingerprint, and never re-scan the historical corpus.  Aggregates
    map-side; the exchange carries conversation cardinality."""
    return (
        t.groupBy("conv_id")
        .agg(*_multiset_fingerprint_aggs())
        .select("conv_id", _multiset_fingerprint_combine().alias("fingerprint"))
    )


def classify_new_conversations(state_fp: DataFrame, batch: DataFrame) -> DataFrame:
    """Incremental ingestion dedup: classify each conversation of a new
    batch against the accumulated fingerprint state —

      dup_of_state  fingerprint already present in ``state_fp``
      dup_in_batch  novel vs state, but another batch conversation with
                    the same fingerprint wins (lexicographically least
                    conv_id, mirroring surviving_conversations)
      novel         the batch winner of a fingerprint unseen in state

    Scale shape: one fingerprint-cardinality aggregate over the batch,
    then a left join + min-window both keyed on fingerprint — the join
    shuffle already partitions by fingerprint, so the winner window
    adds a sort but NO second exchange.  State participates only
    through its (distinct) fingerprint column; with the state table
    bucketed by fingerprint the join needs no state-side shuffle at
    all.  The batch→state direction means daily ingestion touches
    state proportional to the batch, never the 10^12-turn history."""
    from pyspark.sql import Window

    b = conversation_fingerprints(batch)
    st = state_fp.select("fingerprint").distinct().withColumn("in_state", F.lit(True))
    w = Window.partitionBy("fingerprint")
    return (
        b.join(st, "fingerprint", "left")
        .withColumn("winner", F.min("conv_id").over(w))
        .select(
            "conv_id",
            F.when(F.col("in_state").isNotNull(), F.lit("dup_of_state"))
            .when(F.col("conv_id") != F.col("winner"), F.lit("dup_in_batch"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
    )
