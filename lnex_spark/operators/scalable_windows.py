"""Distributed global rank / running sum — the 100 TB replacement for
``Window.orderBy(...)`` with no partition spec.

An unpartitioned window forces every row through ONE task (Spark even
warns: "No Partition Defined for Window operation! Moving all data to
a single partition").  Fine over a provably tiny table; a scale-killer
over anything row-proportional.  This module is the engine-wide scale
path, the windowed-rank generalization of
operators/quantiles.bucketed_exact_quantile:

  1. assign each row an order-aligned BUCKET — computed as a pure
     function of the row against driver-collected splitter literals
     (a deterministic hash-sample of the ordering key, one cheap
     column-pruned job per call);
  2. rank / running-sum WITHIN each bucket (a partitioned window —
     parallel, spill-safe);
  3. per-bucket row counts / value sums (one tiny agg, ≤ n_parts
     rows) prefix-summed with a global window that is bounded by the
     BUCKET COUNT, not the row count, then broadcast back as offsets.

Why not ``repartitionByRange`` + ``spark_partition_id()``: Spark's
range exchange samples its boundaries NON-deterministically per
execution (measured on 4.1: two collects over the same frame return
different partition sizes), and the offsets subtree re-executes the
exchange whenever ReuseExchange fails (e.g. divergent column pruning),
silently joining offsets computed against DIFFERENT boundaries.  A
bucket that is a function of the data cannot disagree between
subtrees, whatever the physical partitioning does.

The result is value-identical to the single-partition window for any
total ordering (callers must fully specify order, same contract as
before).  Splitter quality only affects BALANCE, never values: with an
empty/short sample everything lands in one bucket — correct, just not
parallel, which is exactly the small-input case where one task is fine.
"""

from __future__ import annotations

import re
from functools import cmp_to_key

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BKT = "__sw_bucket"
_INTRA_RN = "__sw_rn"
_INTRA_CS = "__sw_cs"
_ROWS_OFF = "__sw_row_off"
_SUM_OFF = "__sw_sum_off"

_SAMPLE_MOD = 64          # deterministic 1/64 hash-sample of the key
_SAMPLE_CAP = 100_000     # driver-side cap on collected sample rows

_ORDER_RE = re.compile(
    r"^Column<'(.*?)(?: (ASC|DESC) NULLS (FIRST|LAST))?'>$", re.DOTALL
)


def _parse_order(order: list[Column | str]) -> list[tuple[Column, Column, bool]]:
    """Normalize to [(plain_col, sort_expr, ascending)].

    Accepts plain column names, plain Columns, and ``.asc()`` /
    ``.desc()`` / ``F.desc(...)`` sort expressions with the DEFAULT
    null placement (asc→NULLS FIRST, desc→NULLS LAST) — explicit
    nulls_first/nulls_last overrides are rejected because the bucket
    comparator must mirror the sort exactly.
    """
    out: list[tuple[Column, Column, bool]] = []
    for o in order:
        if isinstance(o, str):
            out.append((F.col(o), F.col(o).asc(), True))
            continue
        m = _ORDER_RE.match(str(o))
        if not m:
            raise ValueError(f"cannot parse order expression {o}")
        expr_sql, direction, nulls = m.group(1), m.group(2) or "ASC", m.group(3)
        asc = direction == "ASC"
        default_nulls = "FIRST" if asc else "LAST"
        if nulls is not None and nulls != default_nulls:
            raise ValueError(
                f"non-default null ordering in {o} is not supported by "
                "scalable_windows (bucket comparator assumes asc→NULLS "
                "FIRST, desc→NULLS LAST)"
            )
        c = F.expr(expr_sql)
        out.append((c, c.asc() if asc else c.desc(), asc))
    return out


def _collect_splitters(
    df: DataFrame, keys: list[tuple[Column, Column, bool]], n_parts: int
) -> list[tuple]:
    """Driver-collect ≤ n_parts-1 splitter tuples from a deterministic
    hash-sample of the ordering key.  Splitters only steer balance;
    every choice (including none) yields correct results."""
    proj = df.select(*[k.alias(f"_sw_k{i}") for i, (k, _, _) in enumerate(keys)])
    h = F.xxhash64(*[F.col(f"_sw_k{i}") for i in range(len(keys))])
    # Pushdown barrier: under ANSI mode Catalyst would push a plain
    # deterministic hash filter below the caller's plan — it gets
    # merged INTO a join condition ahead of the join's own guarding
    # conjunct (e.g. theilsen's (xb-xa)/(tb-ta) with tb>ta), evaluating
    # the division on rows the guard excludes and failing the sample
    # job with DIVIDE_BY_ZERO.  Adding monotonically_increasing_id()*0
    # to the hash marks the WHOLE predicate nondeterministic
    # (PushDownPredicates skips it; it is one conjunct, so And-splitting
    # cannot take it apart) while its VALUE stays exactly the
    # deterministic content hash — mid() is non-null and x*0 is not
    # folded for non-literal x.  Rejected barriers, both erased by
    # Spark 4's optimizer (verified: the folded filter landed inside
    # the BNLJ condition before tb > ta): rand(seed) >= -1
    # (constant-folds against rand's known [0,1) range) and
    # when(isnotnull(uuid()), ...) (uuid is non-nullable, so the
    # branch folds away).  The barrier'd filter evaluates above the
    # join in plan order, where the caller's guards have already run.
    pred = (
        F.pmod(h + F.monotonically_increasing_id() * F.lit(0), F.lit(_SAMPLE_MOD)) == 0
    )
    try:
        samp = [tuple(r) for r in proj.filter(pred).limit(_SAMPLE_CAP).collect()]
    except Exception:
        # belt-and-suspenders: any residual analysis/runtime failure of
        # the sample job degrades to a head sample — splitters only
        # steer balance, any set is correct.
        samp = []
    if len(samp) < 4 * n_parts:
        # small input (or filter fallback): sample the head instead —
        # the content of limit() is arbitrary but ANY splitter set is
        # correct, and the head-limit never evaluates guarded
        # expressions on excluded rows
        samp = [tuple(r) for r in proj.limit(_SAMPLE_CAP).collect()]
    if not samp:
        return []
    dirs = [asc for _, _, asc in keys]

    def cmp(a: tuple, b: tuple) -> int:
        for x, y, asc in zip(a, b, dirs):
            if x is None and y is None:
                continue
            if x is None:
                return -1 if asc else 1   # asc: NULLS FIRST
            if y is None:
                return 1 if asc else -1   # desc: NULLS LAST
            if x < y:
                return -1 if asc else 1
            if x > y:
                return 1 if asc else -1
        return 0

    samp.sort(key=cmp_to_key(cmp))
    step = len(samp) / n_parts
    picks = []
    for i in range(1, n_parts):
        t = samp[min(int(i * step), len(samp) - 1)]
        if not picks or cmp(picks[-1], t) != 0:
            picks.append(t)
    return picks


def _bucket_expr(
    keys: list[tuple[Column, Column, bool]], splitters: list[tuple]
) -> Column:
    """bucket(row) = number of splitters ≤ row in sort order — a pure
    row function, so every subtree computes identical buckets."""
    if not splitters:
        return F.lit(0)

    def ge(b: tuple, i: int) -> Column:
        # sort-order row >= b, comparing components i..end
        if i == len(keys):
            return F.lit(True)
        col, _, asc = keys[i]
        bv = b[i]
        if bv is None:
            # asc (nulls first): row >= null-component unless... every
            # row is >= (null is minimal); desc (nulls last): only a
            # null row is >= a null component
            gt_i = col.isNotNull() if asc else F.lit(False)
            eq_i = col.isNull()
        else:
            gt_i = (col.isNotNull() & (col > F.lit(bv))) if asc else (
                col.isNull() | (col < F.lit(bv))
            )
            eq_i = col.eqNullSafe(F.lit(bv))
        return gt_i | (eq_i & ge(b, i + 1))

    out = F.lit(0)
    for b in splitters:
        out = out + ge(b, 0).cast("int")
    return out


def attach_rank(
    df: DataFrame,
    order: list[Column | str],
    rank_col: str = "rn",
    cumsum_of: str | Column | None = None,
    cumsum_col: str = "cum",
    n_parts: int | None = None,
    cumsums: list[tuple[str | Column, str]] | None = None,
) -> DataFrame:
    """Add a global ``row_number`` (and optionally global running sums)
    under ``ORDER BY order`` without ever moving the data to a single
    partition.

    ``cumsums`` takes ``[(value_expr, out_col), ...]`` for several
    running totals in ONE pass (one shuffle, shared offsets table);
    ``cumsum_of``/``cumsum_col`` remain as the single-sum shorthand.
    ``order`` must be a total order (include a tie-breaking key) for
    the rank to be deterministic — identical to the contract of the
    unpartitioned-window form this replaces.

    NOTE: collects the splitter sample eagerly (one column-pruned job
    per call) — same driver-scalar pattern as
    quantiles.bucketed_exact_quantile.
    """
    if n_parts is None:
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    sums = list(cumsums or [])
    if cumsum_of is not None:
        sums.append((cumsum_of, cumsum_col))
    keys = _parse_order(order)
    sort_exprs = [s for _, s, _ in keys]
    splitters = _collect_splitters(df, keys, n_parts)
    # coalesce: the bucket can never be NULL by construction, but the
    # downstream equi-join would otherwise infer isnotnull(bucket_expr)
    # and push the caller's order expression (which may THROW under
    # ANSI, e.g. a division guarded by a join condition) into earlier
    # operators; isnotnull(coalesce(e, 0)) constant-folds away instead
    d = df.withColumn(_BKT, F.coalesce(_bucket_expr(keys, splitters), F.lit(0)))
    d = d.repartition(n_parts, F.col(_BKT))

    intra = Window.partitionBy(_BKT).orderBy(*sort_exprs)
    run = intra.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = d.withColumn(_INTRA_RN, F.row_number().over(intra))
    aggs = [F.count(F.lit(1)).alias("_sw_n")]
    for i, (expr, _) in enumerate(sums):
        e = F.col(expr) if isinstance(expr, str) else expr
        d = d.withColumn(f"{_INTRA_CS}{i}", F.sum(e).over(run))
        aggs.append(F.sum(e).alias(f"_sw_s{i}"))

    # per-bucket totals: ≤ n_parts rows, keyed by the DATA-derived
    # bucket id — the only global window left runs over this
    # bucket-count-bounded table
    sizes = d.groupBy(_BKT).agg(*aggs)
    woff = Window.orderBy(_BKT).rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.withColumn(_ROWS_OFF, F.coalesce(F.sum("_sw_n").over(woff), F.lit(0)))
    drop_tmp = ["_sw_n"]
    for i in range(len(sums)):
        offs = offs.withColumn(
            f"{_SUM_OFF}{i}", F.coalesce(F.sum(f"_sw_s{i}").over(woff), F.lit(0))
        )
        drop_tmp.append(f"_sw_s{i}")
    offs = offs.drop(*drop_tmp)

    out = d.join(F.broadcast(offs), _BKT).withColumn(
        rank_col, (F.col(_INTRA_RN) + F.col(_ROWS_OFF)).cast("int")
    )
    dropme = [_BKT, _INTRA_RN, _ROWS_OFF]
    for i, (_, name) in enumerate(sums):
        out = out.withColumn(name, F.col(f"{_INTRA_CS}{i}") + F.col(f"{_SUM_OFF}{i}"))
        dropme += [f"{_INTRA_CS}{i}", f"{_SUM_OFF}{i}"]
    return out.drop(*dropme)


def attach_running_sum(
    df: DataFrame,
    order: list[Column | str],
    value_col: str | Column,
    out_col: str = "cum",
    n_parts: int | None = None,
) -> DataFrame:
    """Global running total of ``value_col`` under ``ORDER BY order``
    (inclusive of the current row), distributed exactly like
    :func:`attach_rank`."""
    return attach_rank(
        df,
        order,
        rank_col="__sw_drop_rn",
        cumsum_of=value_col,
        cumsum_col=out_col,
        n_parts=n_parts,
    ).drop("__sw_drop_rn")


def attach_rank_ties(
    df: DataFrame,
    order: list[Column | str],
    order_key_cols: list[str],
    rank_col: str = "rk",
    n_parts: int | None = None,
) -> DataFrame:
    """Distributed ``rank()`` (ties share the rank of their first row):
    global row_number, then each distinct ordering key takes the MIN
    row_number over its tie group — a hash agg + equi-join on the
    ordering columns, both parallel, no single-partition stage.

    ``order_key_cols`` must name exactly the columns ``order`` sorts by
    (rank() tie groups are defined by ordering-key equality)."""
    d = attach_rank(df, order, rank_col="__sw_rn_t", n_parts=n_parts)
    firsts = d.groupBy(*order_key_cols).agg(F.min("__sw_rn_t").alias(rank_col))
    # null-SAFE equi-join: rank() keeps rows whose ordering key is NULL
    # (they form their own tie group, exactly as groupBy grouped them);
    # a plain equi-join on the key columns would silently drop them
    renamed = firsts.select(
        *[F.col(c).alias(f"__sw_tk_{i}") for i, c in enumerate(order_key_cols)],
        rank_col,
    )
    cond = None
    for i, c in enumerate(order_key_cols):
        this = d[c].eqNullSafe(renamed[f"__sw_tk_{i}"])
        cond = this if cond is None else (cond & this)
    return d.join(renamed, cond).drop(
        "__sw_rn_t", *[f"__sw_tk_{i}" for i in range(len(order_key_cols))]
    )


def attach_shift(
    df: DataFrame,
    order: list[Column | str],
    cols: list[str],
    offset: int = -1,
    suffix: str | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """Distributed ``lag``/``lead`` by |offset| rows under a GLOBAL
    ordering (offset=-1 → lag 1, offset=+2 → lead 2, …): attach the
    distributed row number, then self-equi-join on ``rn == rn+offset``.
    The join shuffles on rn — uniformly distributed by construction, so
    no skew — and both sides prune to (rn, cols).

    New columns are named ``{col}{suffix}`` with suffix defaulting to
    ``_lag{n}`` / ``_lead{n}``; missing neighbors are NULL, matching
    the window form's default."""
    if offset == 0:
        raise ValueError("offset must be nonzero")
    if suffix is None:
        suffix = f"_lag{-offset}" if offset < 0 else f"_lead{offset}"
    d = attach_rank(df, order, rank_col="__sw_rn_s", n_parts=n_parts)
    other = d.select(
        (F.col("__sw_rn_s") - F.lit(offset)).alias("__sw_rn_o"),
        *[F.col(c).alias(f"{c}{suffix}") for c in cols],
    )
    return d.join(
        other, d["__sw_rn_s"] == other["__sw_rn_o"], "left"
    ).drop("__sw_rn_o", "__sw_rn_s")


def attach_running_extremum(
    df: DataFrame,
    order: list[Column | str],
    value_col: str | Column,
    out_col: str = "runmax",
    kind: str = "max",
    n_parts: int | None = None,
) -> DataFrame:
    """Distributed running max/min of ``value_col`` under ``ORDER BY
    order``: per-bucket running extremum combined with the extremum of
    all preceding buckets (offsets table, ≤ n_parts rows)."""
    if n_parts is None:
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    agg = F.max if kind == "max" else F.min
    comb = F.greatest if kind == "max" else F.least
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    keys = _parse_order(order)
    sort_exprs = [s for _, s, _ in keys]
    splitters = _collect_splitters(df, keys, n_parts)
    # coalesce: the bucket can never be NULL by construction, but the
    # downstream equi-join would otherwise infer isnotnull(bucket_expr)
    # and push the caller's order expression (which may THROW under
    # ANSI, e.g. a division guarded by a join condition) into earlier
    # operators; isnotnull(coalesce(e, 0)) constant-folds away instead
    d = df.withColumn(_BKT, F.coalesce(_bucket_expr(keys, splitters), F.lit(0)))
    d = d.repartition(n_parts, F.col(_BKT))
    intra = Window.partitionBy(_BKT).orderBy(*sort_exprs).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = d.withColumn("__sw_rx", agg(v).over(intra))
    sizes = d.groupBy(_BKT).agg(agg(v).alias("__sw_px"))
    woff = Window.orderBy(_BKT).rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.withColumn("__sw_po", agg("__sw_px").over(woff)).drop("__sw_px")
    return (
        d.join(F.broadcast(offs), _BKT)
        .withColumn(out_col, comb(F.col("__sw_rx"), F.col("__sw_po")))
        .drop(_BKT, "__sw_rx", "__sw_po")
    )


def ntile_expr(rank_col: str, total: Column, k: int) -> Column:
    """Spark-semantics NTILE(k) from a precomputed global rank and the
    total row count: the first ``n % k`` tiles get ``n//k + 1`` rows.
    Use with :func:`attach_rank` + a broadcast count scalar."""
    rn = F.col(rank_col).cast("long")
    base = (total / k).cast("long")
    rem = total - base * k
    big = rem * (base + 1)
    return (
        F.when(rn <= big, (rn - 1) / (base + 1))
        .otherwise(rem + (rn - 1 - big) / base)
        .cast("long")
        + 1
    ).cast("int")


def attach_edge_values(
    df: DataFrame,
    order: list[Column | str],
    specs: list[tuple[Column, str, str]],
    n_parts: int | None = None,
) -> DataFrame:
    """Distributed ``last_value IGNORE NULLS ... 1 PRECEDING`` /
    ``first_value IGNORE NULLS 1 FOLLOWING ...`` under a GLOBAL order.

    ``specs`` is ``[(value_expr, out_col, 'prev'|'next'), ...]`` — all
    computed in one bucket pass: within-bucket edge value via a
    partitioned window, cross-bucket carry from a bucket-count-bounded
    edge table (per-bucket last/first non-null via max_by/min_by over
    the sort key), combined with coalesce.

    Restricted to pure-ASCENDING orders (the per-bucket max_by/min_by
    key is a struct, which compares ascending field-wise)."""
    if n_parts is None:
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    keys = _parse_order(order)
    if not all(asc for _, _, asc in keys):
        raise ValueError("attach_edge_values supports ascending orders only")
    sort_exprs = [s for _, s, _ in keys]
    skey = F.struct(*[k for k, _, _ in keys])
    splitters = _collect_splitters(df, keys, n_parts)
    d = df.withColumn(_BKT, F.coalesce(_bucket_expr(keys, splitters), F.lit(0)))
    d = d.repartition(n_parts, F.col(_BKT))
    intra = Window.partitionBy(_BKT).orderBy(*sort_exprs)

    edge_aggs = []
    for i, (v, _, kind) in enumerate(specs):
        d = d.withColumn(f"__sw_v{i}", v)
        if kind == "prev":
            d = d.withColumn(
                f"__sw_e{i}",
                F.last(f"__sw_v{i}", ignorenulls=True).over(
                    intra.rowsBetween(Window.unboundedPreceding, -1)
                ),
            )
            edge_aggs.append(
                F.max_by(
                    f"__sw_v{i}", F.when(F.col(f"__sw_v{i}").isNotNull(), skey)
                ).alias(f"__sw_b{i}")
            )
        elif kind == "next":
            d = d.withColumn(
                f"__sw_e{i}",
                F.first(f"__sw_v{i}", ignorenulls=True).over(
                    intra.rowsBetween(1, Window.unboundedFollowing)
                ),
            )
            edge_aggs.append(
                F.min_by(
                    f"__sw_v{i}", F.when(F.col(f"__sw_v{i}").isNotNull(), skey)
                ).alias(f"__sw_b{i}")
            )
        else:
            raise ValueError(f"bad edge kind {kind!r}")

    # one row per bucket: its last/first non-null value per spec
    edges = d.groupBy(_BKT).agg(*edge_aggs)
    for i, (_, _, kind) in enumerate(specs):
        if kind == "prev":
            w = Window.orderBy(_BKT).rowsBetween(Window.unboundedPreceding, -1)
            edges = edges.withColumn(
                f"__sw_c{i}", F.last(f"__sw_b{i}", ignorenulls=True).over(w)
            )
        else:
            w = Window.orderBy(_BKT).rowsBetween(1, Window.unboundedFollowing)
            edges = edges.withColumn(
                f"__sw_c{i}", F.first(f"__sw_b{i}", ignorenulls=True).over(w)
            )
    edges = edges.select(_BKT, *[F.col(f"__sw_c{i}") for i in range(len(specs))])

    out = d.join(F.broadcast(edges), _BKT)
    dropme = [_BKT]
    for i, (_, name, _) in enumerate(specs):
        out = out.withColumn(
            name, F.coalesce(F.col(f"__sw_e{i}"), F.col(f"__sw_c{i}"))
        )
        dropme += [f"__sw_v{i}", f"__sw_e{i}", f"__sw_c{i}"]
    return out.drop(*dropme)
