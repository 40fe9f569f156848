"""Semantic invariants for the curation operators
(operators/curation.py), pinned on hand-checkable inputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lnex_spark.operators.curation import (
    class_weights,
    contamination,
    pii_scrub,
    quality_funnel,
    split_assign,
)


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 2000).select(F.col("id").alias("doc_id"))


def test_split_is_deterministic_and_proportional(ids):
    a = {r.doc_id: r.split for r in split_assign(ids).collect()}
    b = {r.doc_id: r.split for r in split_assign(ids.repartition(7)).collect()}
    assert a == b  # invariant under partitioning / rerun
    n = len(a)
    frac_train = sum(1 for v in a.values() if v == "train") / n
    frac_val = sum(1 for v in a.values() if v == "val") / n
    assert frac_train == pytest.approx(0.8, abs=0.05)
    assert frac_val == pytest.approx(0.1, abs=0.03)


def test_split_is_stable_under_corpus_growth(spark, ids):
    small = {r.doc_id: r.split for r in split_assign(ids.filter("doc_id < 500")).collect()}
    big = {r.doc_id: r.split for r in split_assign(ids).collect()}
    assert all(big[k] == v for k, v in small.items())  # no reassignment


def test_split_salt_changes_assignment(ids):
    a = {r.doc_id: r.split for r in split_assign(ids, salt="s1").collect()}
    b = {r.doc_id: r.split for r in split_assign(ids, salt="s2").collect()}
    assert any(a[k] != b[k] for k in a)


def test_class_weights_balanced_is_one(spark):
    df = spark.createDataFrame([(i, i % 4) for i in range(400)], "id long, label int")
    w = {r.label: r.weight for r in class_weights(df).collect()}
    assert all(v == pytest.approx(1.0) for v in w.values())


def test_class_weights_inverse_frequency(spark):
    df = spark.createDataFrame(
        [(i, 0) for i in range(90)] + [(i, 1) for i in range(10)], "id long, label int"
    )
    w = {r.label: r.weight for r in class_weights(df).collect()}
    assert w[1] == pytest.approx(9 * w[0])  # rare class weighted up 9x


def test_pii_scrub_patterns(spark):
    df = spark.createDataFrame(
        [
            (0, "mail bob.smith+x@corp.example.org now"),
            (1, "call +44 (20) 7946-0958 today"),
            (2, "host 192.168.10.255 down"),
            (3, "clean text stays clean"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.scrubbed for r in pii_scrub(df).collect()}
    assert out[0] == "mail <email> now"
    assert out[1] == "call <phone> today"
    assert out[2] == "host <ip> down"
    assert out[3] == "clean text stays clean"


def test_contamination_counts(spark):
    train = spark.createDataFrame(
        [(0, "one two three four five six seven")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [
            # shares the 5-grams starting at 'one' / 'two' / 'three'
            (10, "one two three four five six seven"),
            (11, "alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_grams, r.n_hit, r.contaminated) for r in contamination(train, bench).collect()}
    assert out[10] == (3, 3, True)
    assert out[11] == (2, 0, False)


def test_quality_funnel_attribution(spark):
    df = spark.createDataFrame(
        [
            (0, "solid document with plenty of words inside it"),
            (1, "solid document with plenty of words inside it"),  # dup of 0
            (2, "tiny"),  # too_short
            (3, "a! b! c! d! e! f!"),  # high_punct
        ],
        "doc_id long, text string",
    )
    out = {r.reason: r.n for r in quality_funnel(df).collect()}
    assert out == {"kept": 1, "dup_fingerprint": 1, "too_short": 1, "high_punct": 1}


def test_pack_sequences_greedy_and_oversize(spark):
    from lnex_spark.operators.curation import pack_sequences

    # shard 0: token counts 3,3,3 with budget 6 -> bins [0,0,1]
    # oversize doc (8 tokens > budget) gets its own bin
    rows = [
        (0, "a b c"),
        (1, "d e f"),
        (2, "g h i"),
        (3, "x " * 7 + "y"),  # 8 tokens
        (100, "a b"),  # new shard -> bin numbering restarts
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.shard, r.bin, r.n_tokens)
        for r in pack_sequences(docs, budget=6, shard_size=100).collect()
    }
    assert got == {
        0: (0, 0, 3),
        1: (0, 0, 3),
        2: (0, 1, 3),
        3: (0, 2, 8),
        100: (1, 0, 2),
    }


def _tiny_transcripts(spark, with_dup=True, with_short=True):
    # conv "a": 6 turns alternating user/assistant, every text >= 5 chars
    rows = []
    for i in range(6):
        role = "assistant" if i % 2 else "user"
        rows.append(("a", i, role, f"hello turn {i} word"))
    if with_dup:
        # conv "b": exact text duplicate of "a" -> dedup keeps min("a","b")
        rows += [("b", i, r, t) for (_, i, r, t) in rows[:6]]
    if with_short:
        rows += [("zz", 0, "user", "short conversation"), ("zz", 1, "assistant", "below min_turns")]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")


def test_curate_transcripts_dedup_and_gate(spark):
    from lnex_spark.operators.curation import curate_transcripts

    kw = dict(budget=10, shards=4, min_turns=4, len_band=(1.0, 200.0))
    full = curate_transcripts(_tiny_transcripts(spark), **kw).collect()
    # duplicate conv and the short conv must contribute nothing: result
    # equals the run on conv "a" alone
    solo = curate_transcripts(
        _tiny_transcripts(spark, with_dup=False, with_short=False), **kw
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, solo))
    # conv "a" has 3 assistant turns -> 3 (context, target) pairs
    assert sum(r.n_pairs for r in full) == 3


def test_curate_transcripts_token_totals(spark):
    from lnex_spark.operators.curation import curate_transcripts

    # single conv, deterministic token math: assistant turns at idx 1,3,5;
    # context = previous <=3 turns joined " <SEP> ", target appended.
    # each turn text = "hello turn {i} word" = 4 tokens; "<SEP>" adds 1.
    # idx1: ctx=1 turn (4+0 sep) + tgt 4 -> 8
    # idx3: ctx=3 turns (12 tok + 2 sep) + tgt 4 -> 18
    # idx5: ctx=3 turns (12 tok + 2 sep) + tgt 4 -> 18
    out = curate_transcripts(
        _tiny_transcripts(spark, with_dup=False, with_short=False),
        budget=100, shards=4, min_turns=4, len_band=(1.0, 200.0),
    ).collect()
    assert sum(r.n_tokens for r in out) == 8 + 18 + 18
    assert sum(r.n_pairs for r in out) == 3


def test_emit_training_pairs_strings(spark):
    from lnex_spark.operators.curation import emit_training_pairs

    rows = [
        ("a", 0, "user", "hi there 12345678 ok"),
        ("a", 1, "assistant", "hello friend"),
        ("a", 2, "user", "more words here"),
        ("a", 3, "assistant", "final answer"),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    got = {
        r.turn_idx: (r.context, r.target)
        for r in emit_training_pairs(t, min_turns=2, len_band=(1.0, 200.0)).collect()
    }
    # digit run masked; previous <=3 turns joined with ' <SEP> '
    assert got[1] == ("hi there <NUM> ok", "hello friend")
    assert got[3] == (
        "hi there <NUM> ok <SEP> hello friend <SEP> more words here",
        "final answer",
    )


def test_token_arithmetic_matches_string_assembly(spark):
    """The packing path counts tokens arithmetically; prove it equals
    counting \\S+ runs in the assembled emit_training_pairs strings,
    including empty-text and whitespace edge cases."""
    from pyspark.sql import functions as F
    from lnex_spark.operators.curation import curate_transcripts, emit_training_pairs

    rows = [
        ("a", 0, "user", "one two"),
        ("a", 1, "assistant", ""),            # empty turn text
        ("a", 2, "user", "  padded   "),      # lead/trail whitespace
        ("a", 3, "assistant", "x 1234567 y"),
        ("a", 4, "user", "tail"),
        ("a", 5, "assistant", "z"),
        ("b", 0, "assistant", ""),            # fully-empty pair: no ctx, empty target
        ("b", 1, "user", "x"),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    kw = dict(min_turns=2, len_band=(0.0, 200.0))
    total_arith = (
        curate_transcripts(t, budget=10_000, shards=4, **kw)
        .agg(F.sum("n_tokens")).collect()[0][0]
    )
    # token = \S+ run of the assembled string (a fully-empty pair is 0
    # tokens; split-on-whitespace would miscount it as 1)
    total_string = (
        emit_training_pairs(t, **kw)
        .select(
            F.regexp_count(F.concat_ws(" ", "context", "target"), F.lit(r"\S+")).alias("n")
        )
        .agg(F.sum("n")).collect()[0][0]
    )
    assert total_arith == total_string
    # both conversations survive: 3 pairs from "a" + 1 empty pair from "b"
    assert (
        curate_transcripts(t, budget=10_000, shards=4, **kw)
        .agg(F.sum("n_pairs")).collect()[0][0]
    ) == 4


def test_classify_new_conversations(spark):
    from lnex_spark.operators.curation import (
        classify_new_conversations,
        conversation_fingerprints,
    )

    def conv(cid, texts):
        return [(cid, i, txt) for i, txt in enumerate(texts)]

    state = spark.createDataFrame(
        conv("s1", ["alpha", "beta"]) + conv("s2", ["gamma", "delta"]),
        "conv_id string, turn_idx int, text string",
    )
    batch = spark.createDataFrame(
        conv("b1", ["alpha", "beta"])        # dup of state s1
        + conv("b2", ["fresh", "content"])   # novel, but see b0
        + conv("b0", ["fresh", "content"])   # in-batch dup class winner (b0 < b2)
        + conv("b3", ["unique", "thing"]),   # novel
        "conv_id string, turn_idx int, text string",
    )
    got = {
        r.conv_id: r.status
        for r in classify_new_conversations(conversation_fingerprints(state), batch).collect()
    }
    assert got == {
        "b1": "dup_of_state",
        "b0": "novel",
        "b2": "dup_in_batch",
        "b3": "novel",
    }
    # order of turns matters: same texts in a different order are novel
    swapped = spark.createDataFrame(
        conv("x1", ["beta", "alpha"]), "conv_id string, turn_idx int, text string"
    )
    got2 = {
        r.conv_id: r.status
        for r in classify_new_conversations(conversation_fingerprints(state), swapped).collect()
    }
    assert got2 == {"x1": "novel"}


def test_fingerprint_is_multiset_faithful(spark):
    """Regression: a bit_xor fingerprint self-cancels a duplicated
    (turn_idx, text) row, colliding [(0,a),(0,a),(1,b)] with [(1,b)].
    The summed-halves fingerprint must keep them distinct, while still
    collapsing true duplicates."""
    from lnex_spark.operators.curation import conversation_fingerprints

    rows = [
        ("dupRow", 0, "a"), ("dupRow", 0, "a"), ("dupRow", 1, "b"),
        ("single", 1, "b"),
        ("copy1", 3, "x"), ("copy1", 4, "y"),
        ("copy2", 3, "x"), ("copy2", 4, "y"),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    fp = {r["conv_id"]: r["fingerprint"] for r in conversation_fingerprints(t).collect()}
    assert fp["dupRow"] != fp["single"]  # xor would have collided these
    assert fp["copy1"] == fp["copy2"]  # true duplicates still collapse


def test_dup_winner_chosen_among_all_roles(spark):
    """Spec pin: role is NOT part of the duplicate fingerprint, and the
    duplicate winner is min(conv_id) over ALL turns of the class. Here
    the min conv ('a') has no assistant turns, so the whole class emits
    nothing — a role-filtered winner selection would wrongly promote
    'b' and emit its pairs."""
    from lnex_spark.operators.curation import curate_transcripts

    rows = [
        ("a", 0, "user", "hello world"), ("a", 1, "user", "more text"),
        ("b", 0, "assistant", "hello world"), ("b", 1, "assistant", "more text"),
        # control class: unique conversation with an assistant turn
        ("c", 0, "user", "fine day"), ("c", 1, "assistant", "indeed sir"),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    got = curate_transcripts(t, shards=4, min_turns=2, len_band=(0.0, 1e9)).collect()
    # only conv 'c' contributes pairs: one assistant turn -> one sequence
    assert len(got) == 1 and got[0]["n_pairs"] == 1


def test_chunked_ctx_window_matches_plain_window(spark, monkeypatch):
    """The round-4 skew-proof context window (per (conv_id, chunk) with
    a CTX_PREV halo) must be value-identical to the plain per-conv
    window — exercised ACROSS chunk boundaries by shrinking CTX_CHUNK
    below the conversation length."""
    from pyspark.sql import Window

    from lnex_spark.operators import curation

    monkeypatch.setattr(curation, "CTX_CHUNK", 8)
    rows = []
    for c in range(3):
        for i in range(30):  # 30 turns >> chunk width 8
            rows.append(
                (f"c{c}", i, "assistant" if i % 2 else "user",
                 f"word " * ((i * 7 + c) % 9 + 1))
            )
    # one duplicate conversation (same (turn_idx, text) sequence as c0)
    rows += [("zdup", i, r, t) for (cid, i, r, t) in rows if cid == "c0"]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")

    got = sorted(
        tuple(r)
        for r in curation.curate_transcripts(
            t, budget=25, shards=16, min_turns=2, len_band=(1.0, 1e5)
        ).collect()
    )

    # reference: the pre-rewrite single-window formulation
    h = F.xxhash64("turn_idx", "text")
    base = t.select(
        "conv_id", "turn_idx", "role",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("tok"),
        F.length("text").alias("_tlen"),
        h.bitwiseAND(F.lit(0xFFFFFFFF)).alias("_h_lo"),
        F.shiftrightunsigned(h, 32).alias("_h_hi"),
    )
    wc = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wctx = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-3, -1)
    ref_rows = base.select(
        "conv_id", "turn_idx", "role", "tok",
        F.xxhash64(F.sum("_h_lo").over(wc), F.sum("_h_hi").over(wc),
                   F.count("*").over(wc)).alias("_fp"),
        F.count("*").over(wc).alias("_n"),
        F.avg("_tlen").over(wc).alias("_ml"),
        (F.coalesce(F.sum(F.col("tok") + 1).over(wctx), F.lit(1)) - 1).alias("ctx_tok"),
    ).where((F.col("_n") >= 2) & F.col("_ml").between(1.0, 1e5))
    wf = Window.partitionBy("_fp")
    ref_pairs = ref_rows.withColumn("_w", F.min("conv_id").over(wf)).where(
        (F.col("conv_id") == F.col("_w")) & (F.col("role") == "assistant")
    )
    ref_toks = ref_pairs.select(
        "conv_id", "turn_idx",
        (F.col("ctx_tok") + F.col("tok")).alias("n_tok"),
        (F.conv(F.substring(F.md5("conv_id"), 1, 4), 16, 10).cast("int") % 16).alias("shard"),
    )
    cum_w = Window.partitionBy("shard").orderBy("conv_id", "turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ref = sorted(
        tuple(r)
        for r in ref_toks.withColumn("cum", F.sum("n_tok").over(cum_w))
        .groupBy(
            (F.col("shard") * F.lit(1 << 40)
             + F.floor((F.col("cum") - F.col("n_tok")) / 25)).cast("long").alias("seq_id")
        )
        .agg(F.count("*").alias("n_pairs"), F.sum("n_tok").cast("long").alias("n_tokens"))
        .collect()
    )
    assert got == ref
    assert len(got) > 3  # the fixture actually packs several sequences


def test_emit_pairs_chunked_context_matches_plain_window(spark, monkeypatch):
    """emit_training_pairs' string context assembly under the chunked
    halo window must equal the plain per-conv window across chunk
    boundaries."""
    from pyspark.sql import Window

    from lnex_spark.operators import curation

    monkeypatch.setattr(curation, "CTX_CHUNK", 8)
    rows = []
    for i in range(30):
        rows.append(("cA", i, "assistant" if i % 2 else "user", f"turn number {i} body 12345"))
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")

    got = sorted(
        (r["turn_idx"], r["context"], r["target"])
        for r in curation.emit_training_pairs(t, min_turns=2, len_band=(1.0, 1e5)).collect()
    )
    gated = curation.surviving_conversations(t, 2, (1.0, 1e5))
    clean = t.join(F.broadcast(gated), "conv_id").withColumn(
        "scrubbed", F.regexp_replace("text", curation.PII_DIGIT_RUN, curation.PII_DIGIT_TOKEN)
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-curation.CTX_PREV, -1)
    ref = sorted(
        (r["turn_idx"], r["context"], r["target"])
        for r in clean.withColumn(
            "context", F.concat_ws(curation.SEP, F.collect_list("scrubbed").over(w))
        ).where(F.col("role") == "assistant")
        .select("turn_idx", "context", F.col("scrubbed").alias("target"))
        .collect()
    )
    assert got == ref and len(got) == 15
    assert "<NUM>" in got[0][2]  # PII mask applied to targets too
