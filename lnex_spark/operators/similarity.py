"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute-force cosine top-k — the correctness baseline. Pure
    built-ins: broadcast the (small) query set, zip_with/aggregate for
    the dot product, window top-k. Exact; O(N*Q) but fully codegen'd
    and embarrassingly parallel — fine when Q is small even at 100 TB.
  * LSH-bucketed top-k — the scale path. Random-hyperplane signatures
    (deterministic seed) via one vectorized numpy UDF, candidate
    generation by signature-bucket join (optionally multi-probe via
    neighboring buckets), exact re-rank of candidates only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cosine(a, b):  # Column, Column -> Column
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    # clamp matches the Arrow twins' np.maximum(norm, 1e-300) guard so a
    # zero vector scores cosine 0.0 on BOTH paths (0/0 would be NaN here
    # but 0.0 in the twins — keep/drop and top-k membership must agree)
    return dot / F.greatest(na * nb, F.lit(1e-300))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


# Driver-collect guard for the Arrow/PQ paths' "queries ≪ corpus"
# contract: the query set rides the driver and the UDF closure, so it
# must stay closure-sized. 100k queries × 128-dim float64 ≈ 100 MB —
# past that the caller is doing an all-pairs/corpus-vs-corpus job and
# must use the DataFrame-native relational form instead
# (cosine_topk_bruteforce / cosine_topk_lsh / cosine_topk_ivf), whose
# query side is a distributed table, not a broadcast closure.  Mirrors
# the MAX_NAMES guard of gazetteer/build.collect_gazetteer and
# check_max_names: the limit bounds the collect itself, so checking
# cannot OOM.
MAX_DRIVER_QUERIES = 100_000


def _collect_query_rows(queries: DataFrame, max_queries: int | None = None) -> list:
    cap = MAX_DRIVER_QUERIES if max_queries is None else max_queries
    rows = queries.select("query_id", "embedding").limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"query set exceeds max_queries={cap}: the Arrow/PQ top-k "
            "paths broadcast the query set in the UDF closure and only "
            "hold for queries ≪ corpus. Use the DataFrame-native "
            "relational form (cosine_topk_bruteforce / cosine_topk_lsh "
            "/ cosine_topk_ivf) for corpus-scale query sets, or raise "
            "max_queries explicitly if the driver can hold them."
        )
    return rows


def cosine_topk_bruteforce(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    embeddings(vec_id, embedding), queries(query_id, embedding) →
    (query_id, vec_id, cosine, rank). Self-matches excluded when ids
    collide."""
    e = embeddings.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("emb_e")
    )
    q = queries.select(
        F.col("query_id"), _as_double(F.col("embedding")).alias("emb_q")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(_cosine(F.col("emb_q"), F.col("emb_e")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def rademacher_signs(dim: int, n_planes: int) -> np.ndarray:
    """±1 hyperplanes with md5-derived signs: sign[p][d] = +1 iff the
    low bit of int(md5(f"{p}:{d}")[:8], 16) is set.  Rademacher planes
    are a standard SimHash/hyperplane-LSH choice (same collision-
    probability guarantee as Gaussian up to constants) and — unlike a
    seeded numpy RNG — are reproducible in plain SQL, which lets the
    DuckDB oracle value-check the whole LSH path."""
    import hashlib

    s = np.empty((n_planes, dim), dtype=np.int64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            s[p, d] = 1 if int(h[:8], 16) & 1 else -1
    return s


def lsh_signatures_rademacher(
    embeddings: DataFrame, dim: int, n_planes: int = 8
) -> DataFrame:
    """Hyperplane-LSH signatures with exact integer arithmetic: the
    vector is quantized to floor(x * 2^20) int64 (exact — 2^20 is a
    power of two, so the float32→double scaling loses no bits) and
    projected onto ±1 planes with integer dot products.  Every engine
    computes the identical signature — no float summation-order or
    SIMD-blocking ulp hazard — so this variant is value-checkable
    against SQL while staying a real LSH (quantization at 2^-20 is far
    below any meaningful cosine resolution)."""
    signs = rademacher_signs(dim, n_planes)

    @F.pandas_udf("int")
    def sig(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.values).astype(np.float64)
        q = np.floor(mat * 1048576.0).astype(np.int64)
        bits = (q @ signs.T) > 0
        out = np.zeros(len(emb), dtype=np.int32)
        for j in range(n_planes):
            out |= bits[:, j].astype(np.int32) << j
        return pd.Series(out)

    return embeddings.withColumn("lsh_sig", sig(F.col("embedding")))


def lsh_signatures(embeddings: DataFrame, dim: int, n_planes: int = 12, seed: int = 42) -> DataFrame:
    """Random-hyperplane LSH signature per vector (one numpy-vectorized
    pandas UDF — Arrow batches, matrix multiply per batch)."""
    planes = _hyperplanes(dim, n_planes, seed)

    @F.pandas_udf("int")
    def sig(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.values).astype(np.float64)  # (batch, dim)
        bits = (mat @ planes.T) > 0  # (batch, n_planes)
        out = np.zeros(len(emb), dtype=np.int32)
        for j in range(n_planes):
            out |= bits[:, j].astype(np.int32) << j
        return pd.Series(out)

    return embeddings.withColumn("lsh_sig", sig(F.col("embedding")))


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    seed: int = 42,
    planes: str = "gaussian",
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing the query's LSH
    bucket, re-ranked exactly. The join is bucket-equi, never all-pairs.
    ``planes='rademacher'`` swaps in the SQL-reproducible integer
    signature (lsh_signatures_rademacher) — same plan shape.

    ``probe_bits`` enables multi-probe LSH (Lv et al., VLDB 2007 idea in
    its simplest Hamming-ball form): each query also probes every bucket
    whose signature differs in ≤ probe_bits bits.  probe_bits=1 expands
    the broadcast-side query set ×(n_planes+1) — still tiny, queries are
    the small side — and lifts recall from the single-probe cliff
    (collision prob p^n_planes) to ~(p + n_planes·(1-p)·p)·p^(n_planes-1)
    without touching the corpus-side plan: same single shuffle-free
    broadcast equi-join, candidates deduped before re-rank."""
    if probe_bits > 2:
        raise ValueError("probe_bits > 2 explodes the probe set; use fewer planes instead")
    if planes == "rademacher":
        _sigs = lambda df: lsh_signatures_rademacher(df, dim, n_planes)
    else:
        _sigs = lambda df: lsh_signatures(df, dim, n_planes, seed)
    e = _sigs(embeddings).select(
        "vec_id", F.col("lsh_sig").alias("sig_e"), _as_double(F.col("embedding")).alias("emb_e")
    )
    q = _sigs(queries).select(
        F.col("query_id"), F.col("lsh_sig").alias("sig_q"), _as_double(F.col("embedding")).alias("emb_q")
    )
    if probe_bits >= 1:
        # probe signatures = sig XOR every mask of popcount <= probe_bits;
        # built as an array column and exploded on the (broadcast) query side
        masks = [0] + [1 << j for j in range(n_planes)]
        if probe_bits == 2:
            masks += [
                (1 << i) | (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)
            ]
        q = q.withColumn(
            "sig_q",
            F.explode(F.array([F.col("sig_q").bitwiseXOR(F.lit(m)) for m in masks])),
        )
    cand = e.join(F.broadcast(q), F.col("sig_e") == F.col("sig_q")).filter(
        F.col("vec_id") != F.col("query_id")
    )
    if probe_bits >= 1:
        # a vector can land in several probed buckets of the same query
        cand = cand.dropDuplicates(["query_id", "vec_id"])
    scored = cand.select(
        "query_id", "vec_id", F.round(_cosine(F.col("emb_q"), F.col("emb_e")), 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assign(
    embeddings: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (ties →
    smaller centroid id). centroids(cell_id, embedding) is broadcast —
    the IVF coarse quantizer is always tiny relative to the corpus."""
    e = embeddings.select(id_col, _as_double(F.col("embedding")).alias("emb"))
    c = centroids.select("cell_id", _as_double(F.col("embedding")).alias("cemb"))
    scored = e.crossJoin(F.broadcast(c)).select(
        id_col, "emb", "cell_id", F.round(_cosine(F.col("emb"), F.col("cemb")), 6).alias("csim")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cell_id").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, "cell_id", "emb")
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 5,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse centroids (default: the
    first ``n_cells`` vectors by id; pass ``centroids(cell_id,
    embedding)`` from clustering.kmeans_lloyd for trained cells — the
    partition/probe plumbing is identical), vectors bucketed by
    nearest centroid, each query probed against its ``nprobe`` nearest
    cells only, exact cosine re-rank inside.

    Scale shape: the candidate join is an equi-join on cell_id —
    corpus-sized side shuffles ONCE by cell, queries broadcast; no
    all-pairs stage anywhere. Recall grows with nprobe."""
    if centroids is None:
        centroids = (
            embeddings.orderBy("vec_id")
            .limit(n_cells)
            .select(F.col("vec_id").cast("int").alias("cell_id"), "embedding")
        )
    assigned = ivf_assign(embeddings, centroids)  # (vec_id, cell_id, emb)

    q = queries.select("query_id", _as_double(F.col("embedding")).alias("qemb"))
    c = centroids.select("cell_id", _as_double(F.col("embedding")).alias("cemb"))
    qcells = q.crossJoin(F.broadcast(c)).select(
        "query_id", "qemb", "cell_id", F.round(_cosine(F.col("qemb"), F.col("cemb")), 6).alias("csim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cell_id").asc())
    probes = (
        qcells.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= nprobe)
        .select("query_id", "qemb", "cell_id")
    )
    cand = assigned.join(F.broadcast(probes), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id", "vec_id", F.round(_cosine(F.col("qemb"), F.col("emb")), 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _centroid_mat(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(cell_ids int64[], Cn normalized float64[k, d]) — driver-side
    copy of the coarse quantizer (always tiny by contract).  cell_id
    must be unique: the positional probe mask in
    cosine_topk_ivf_pruned maps scanned rows to positions via
    searchsorted, which lands on the FIRST duplicate — a silent
    candidate drop — so duplicates are rejected here."""
    rows = sorted(centroids.collect(), key=lambda r: int(r["cell_id"]))
    cids = np.array([int(r["cell_id"]) for r in rows], dtype=np.int64)
    if len(np.unique(cids)) != len(cids):
        raise ValueError("centroids must have unique cell_id values")
    C = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    return cids, Cn


def _assign_np(X: np.ndarray, cids: np.ndarray, Cn: np.ndarray) -> np.ndarray:
    """Nearest-centroid cell per row under ivf_assign's rule:
    round(cosine, 6) desc, cell_id asc on ties.  round-to-6 makes the
    key integer-exact, so the tiebreak encodes as one int64 argmax:
    csim_int * (max_cell+2) - cell_id.  np.rint, NOT astype: a round-6
    value like 0.000249 stores as 248.99999999999997 × 1e-6, and a
    truncating cast maps it to 248 — collapsing strictly-ordered
    cosines into false ties (and truncating negatives toward zero),
    which diverges from the relational twin on ~1% of grid values.

    Parity contract: same as the module's other Arrow twins
    (cosine_topk_bruteforce_arrow etc.) — np.round is half-even on the
    stored double while Spark's F.round is HALF_UP on its shortest
    decimal repr, so a cosine landing EXACTLY on a round-6 half-grid
    point (e.g. 2.5e-6) can round differently, and BLAS-vs-fold
    summation order can differ in the last ulp near grid boundaries.
    These are measure-zero on real-valued data; the pinned parity
    tests and the driver's hash oracles verify agreement on the actual
    corpora, not a proof over every representable double."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    S = np.round(Xn @ Cn.T, 6)
    key = np.rint(S * 1_000_000).astype(np.int64) * (int(cids.max()) + 2) - cids[None, :]
    return cids[np.argmax(key, axis=1)]


def write_ivf_index(
    embeddings: DataFrame, centroids: DataFrame, path: str
) -> None:
    """Materialize the IVF index as a CELL-PARTITIONED table — the
    physical layout that makes IVF pay at 100 TB: probing nprobe of
    n_cells cells becomes partition pruning at scan planning, so the
    query never reads the other cells' files at all (on a cluster this
    is the Iceberg ``partitionedBy(cell_id)`` table; locally,
    parquet ``partitionBy``).  Assignment runs as ONE Arrow pass with
    the centroid matrix in the closure (BLAS argmax per batch) —
    bit-identical cells to the relational :func:`ivf_assign` (same
    round-6 + cell-id tiebreak), measured ~40× faster at 1M×64.

    Index build is the amortized one-time cost (like kmeans training);
    reads go through :func:`cosine_topk_ivf_pruned`."""
    import pandas as pd

    cids, Cn = _centroid_mat(centroids)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "cell_id": _assign_np(X, cids, Cn).astype(np.int32),
                }
            )

    (
        embeddings.select("vec_id", _as_double(F.col("embedding")).alias("embedding"))
        .mapInPandas(assign, "vec_id long, embedding array<double>, cell_id int")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(path)
    )


def cosine_topk_ivf_pruned(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    max_queries: int | None = None,
) -> DataFrame:
    """IVF top-k over a :func:`write_ivf_index` table — result-identical
    to :func:`cosine_topk_ivf` (same probe rule, same round-6 cosine,
    same (cosine desc, vec_id asc) ranking, self-matches excluded) but
    with the two scale mechanisms the relational form can't show
    locally:

      * probed-cell PRUNING at the scan: the ``cell_id IN (...)``
        filter is a partition filter, so only the probed cells' files
        are planned/read (``.explain`` shows the pruned scan) — at
        100 TB this is the difference between scanning nprobe/n_cells
        of the corpus and scanning all of it;
      * BLAS scoring per Arrow batch with a per-query probe-membership
        mask instead of per-pair interpreted lambdas.

    Probe selection runs driver-side against the tiny centroid matrix
    (numpy twin of the relational qcells window)."""
    import pandas as pd

    cids, Cn = _centroid_mat(centroids)
    q_rows = sorted(_collect_query_rows(queries, max_queries), key=lambda r: r["query_id"])
    q_ids = np.array([int(r["query_id"]) for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in q_rows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    # probes: round-6 csim desc, cell_id asc — same int64 key (and the
    # same np.rint guard against truncation) as _assign_np
    Sq = np.round(Qn @ Cn.T, 6)
    key = np.rint(Sq * 1_000_000).astype(np.int64) * (int(cids.max()) + 2) - cids[None, :]
    order = np.argsort(-key, axis=1, kind="stable")[:, :nprobe]
    probe_cells = cids[order]  # (Q, nprobe)
    # compact (Q, n_cells) membership mask indexed by POSITION in the
    # sorted cids, not by raw cell id — cell ids can be sparse/large
    # (the module's own default centroids use vec_id as cell_id), and
    # a max-id-sized dense mask would scale with the id space
    pmask = np.zeros((len(q_ids), len(cids)), dtype=bool)
    for qi in range(len(q_ids)):
        pmask[qi, order[qi]] = True
    cells_union = sorted({int(c) for row in probe_cells for c in row})

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            S = np.round(Xn @ Qn.T, 6)  # (b, Q)
            vids = pdf["vec_id"].to_numpy()
            # map raw cell ids -> positions in sorted cids (every cell
            # in the scan is a centroid cell by construction of the
            # index write + the cells_union filter)
            cpos = np.searchsorted(cids, pdf["cell_id"].to_numpy())
            out_q, out_v, out_c = [], [], []
            for j, qid in enumerate(q_ids):
                mask = pmask[j, cpos] & (vids != qid)
                vv, cc = vids[mask], S[mask, j]
                if not len(vv):
                    continue
                idx = np.lexsort((vv, -cc))[:k]
                out_q.extend([qid] * len(idx))
                out_v.extend(vv[idx])
                out_c.extend(cc[idx])
            yield pd.DataFrame({"query_id": out_q, "vec_id": out_v, "cosine": out_c})

    df = spark.read.parquet(index_path).filter(
        F.col("cell_id").isin([int(c) for c in cells_union])
    )
    cand = df.select("vec_id", "embedding", "cell_id").mapInPandas(
        score, "query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _pq_quantize(mat: np.ndarray) -> np.ndarray:
    """floor(x * 2^20) int64 — the module's exact-integer embedding
    quantization (see lsh_signatures_rademacher): float32→double is
    exact, scaling by a power of two is exact, so every engine gets
    the identical integers and all PQ distances below are exact
    integer arithmetic with no summation-order hazard."""
    return np.floor(mat.astype(np.float64) * 1048576.0).astype(np.int64)


def _pq_codebook_np(embeddings: DataFrame, m_subspaces: int, n_codes: int) -> np.ndarray:
    """(M, K, ds) int64 codebook from the ``n_codes`` smallest vec_ids
    — deterministic, SQL-re-derivable (the analogue of cosine_topk_ivf's
    default centroids; train per-subspace k-means and pass the vectors
    through ``codebook_rows`` for production recall)."""
    rows = (
        embeddings.orderBy("vec_id")
        .limit(n_codes)
        .select("vec_id", "embedding")
        .collect()
    )
    base = _pq_quantize(np.vstack([r.embedding for r in rows]))  # (K, dim)
    dim = base.shape[1]
    ds = dim // m_subspaces
    if ds * m_subspaces != dim:
        raise ValueError(f"dim {dim} not divisible into {m_subspaces} subspaces")
    return np.stack([base[:, m * ds : (m + 1) * ds] for m in range(m_subspaces)])


def train_pq_codebook(
    embeddings: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 256,
    sample_n: int = 20_000,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Production-recall PQ codebook (the upgrade the `_pq_codebook_np`
    docstring points at): per-subspace Lloyd k-means over a bounded
    deterministic sample (first ``sample_n`` by vec_id), trained in the
    module's exact-integer quantized space and floored back to int64 so
    the result drops into the SAME integer-ADC path as the default
    codebook — distances stay exact integers, no summation-order
    hazard.  Driver work is bounded by sample_n × dim (train-small /
    apply-big, like the kmeans centroid collect); measured on the
    clustered 1M-vector bench corpus this lifts IVF-PQ recall@10
    ~3-4× over the first-K-vectors codebook (tools/ann_quality_bench)."""
    rows = (
        embeddings.orderBy("vec_id").limit(sample_n).select("embedding").collect()
    )
    base = _pq_quantize(np.vstack([r.embedding for r in rows])).astype(np.float64)
    dim = base.shape[1]
    ds = dim // m_subspaces
    if ds * m_subspaces != dim:
        raise ValueError(f"dim {dim} not divisible into {m_subspaces} subspaces")
    rng = np.random.default_rng(seed)
    out = []
    for m in range(m_subspaces):
        sub = base[:, m * ds : (m + 1) * ds]
        k = min(n_codes, len(sub))
        cb = sub[rng.choice(len(sub), k, replace=False)].copy()
        for _ in range(iters):
            d = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for j in range(k):
                msk = a == j
                if msk.any():
                    cb[j] = sub[msk].mean(axis=0)
        out.append(np.floor(cb).astype(np.int64))
    return np.stack(out)


def _pq_encode_np(mat_q: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """codes (n, M) int32: per subspace, argmin L2² against the
    codebook — np.argmin takes the FIRST minimum, i.e. ties break to
    the smaller code id, matching the SQL twin's (dist, c) ordering."""
    m_sub, _, ds = cb.shape
    codes = np.empty((mat_q.shape[0], m_sub), dtype=np.int32)
    for m in range(m_sub):
        sub = mat_q[:, m * ds : (m + 1) * ds]  # (n, ds)
        d = ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)  # (n, K)
        codes[:, m] = np.argmin(d, axis=1)
    return codes


def pq_codes(
    embeddings: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """Product-quantization encode: (vec_id, m, code) — each vector
    compressed to M sub-codes (here 8×4 bits ≡ 4 bytes per 64-dim
    vector, a 64× compression of float32).

    Scale shape: the codebook is tiny ((M·K·ds) ints — broadcast via
    UDF closure), encoding is ONE zero-shuffle Arrow pass with all math
    numpy-vectorized; emitted exploded (no array columns) for direct
    value-hash checks.  Pass ``codebook`` when the caller already
    derived it (ann_ivfpq_topk needs it for the distance tables too —
    deriving it twice costs a second sort+collect driver job)."""
    cb = codebook if codebook is not None else _pq_codebook_np(
        embeddings, m_subspaces, n_codes
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _pq_quantize(np.vstack(pdf["embedding"].values))
            codes = _pq_encode_np(mat, cb)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].values, m_subspaces),
                    "m": np.tile(np.arange(m_subspaces, dtype=np.int32), n),
                    "code": codes.reshape(-1),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        gen, "vec_id long, m int, code int"
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 5,
    max_queries: int | None = None,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k (Jégou, Douze & Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    queries precompute per-subspace distance tables against the
    codebook; each corpus vector's approximate distance is M table
    lookups summed over its codes — no full-dimension math per
    (query, vector) pair.

    Scale shape (the piece IVF/LSH don't cover — compressed exhaustive
    scan): distance tables are (Q·M·K) ints, broadcast in the UDF
    closure; ONE zero-shuffle Arrow pass over the corpus encodes each
    batch and emits only the per-batch top-k per query, so the rows
    that reach the final exact window are batches×Q×k, never the
    corpus (a per-batch top-k is a superset of the global one — no
    candidate loss).  Composes with IVF: run inside each probed cell.
    Exact-integer math end-to-end → the DuckDB oracle re-derives
    identical adc values.

    ``codebook``: pass :func:`train_pq_codebook`'s output for
    production recall; default keeps the SQL-re-derivable first-K
    codebook (the oracle contract)."""
    cb = codebook if codebook is not None else _pq_codebook_np(
        embeddings, m_subspaces, n_codes
    )
    q_rows = _collect_query_rows(queries, max_queries)
    q_ids = np.array([r.query_id for r in q_rows], dtype=np.int64)
    q_mat = _pq_quantize(np.vstack([r.embedding for r in q_rows]))
    m_sub, n_k, ds = cb.shape
    # dt[q, m, c] = L2²(query subvector, codebook entry) — ints, exact
    dt = np.empty((len(q_ids), m_sub, n_k), dtype=np.int64)
    for m in range(m_sub):
        qs = q_mat[:, m * ds : (m + 1) * ds]
        dt[:, m, :] = ((qs[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vec_id"].values.astype(np.int64)
            codes = _pq_encode_np(_pq_quantize(np.vstack(pdf["embedding"].values)), cb)
            # adc (Q, n): per-subspace table lookups summed — the two
            # advanced indices ((1,M) subspace ids, (n,M) codes)
            # broadcast to (n,M) and combine with the leading slice to
            # (Q,n,M); sum over M
            adc = dt[:, np.arange(m_sub)[None, :], codes].sum(axis=2)
            out_q, out_v, out_d = [], [], []
            for qi in range(len(q_ids)):
                mask = vids != q_ids[qi]
                vv, dd = vids[mask], adc[qi][mask]
                # k smallest by (adc, vec_id): primary key dd, tie vv —
                # same order as the final window, so truncation at k is
                # lossless even through ties
                idx = np.lexsort((vv, dd))[:k]
                out_q.append(np.full(len(idx), q_ids[qi], dtype=np.int64))
                out_v.append(vv[idx])
                out_d.append(dd[idx])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "adc": np.concatenate(out_d),
                }
            )

    cand = embeddings.select("vec_id", "embedding").mapInPandas(
        gen, "query_id long, vec_id long, adc long"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    m_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 5,
    centroids: DataFrame | None = None,
    max_queries: int | None = None,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ: the coarse quantizer restricts each query to its
    ``nprobe`` nearest cells (exactly cosine_topk_ivf's assign/probe
    plumbing), then candidates are re-ranked by PQ asymmetric distance
    instead of full-dimension cosine — the standard composed index
    (Jégou et al., TPAMI 2011 §V).

    Scale shape: centroids and the (Q·M·K) distance-table rows are
    broadcast; the corpus-sized sides move through ONE cell-keyed
    shuffle (assign) and the PQ codes' M-row explosion feeds a
    broadcast join + partially-aggregated sum — candidate volume is
    already cut to the probed cells before any per-pair work, and no
    full-dimension arithmetic touches a candidate (the M table lookups
    replace it).  Exact-integer ADC (see pq_adc_topk) keeps the whole
    composition SQL-re-derivable."""
    if centroids is None:
        centroids = (
            embeddings.orderBy("vec_id")
            .limit(n_cells)
            .select(F.col("vec_id").cast("int").alias("cell_id"), "embedding")
        )
    assigned = ivf_assign(embeddings, centroids).select("vec_id", "cell_id")

    q = queries.select("query_id", _as_double(F.col("embedding")).alias("qemb"))
    c = centroids.select("cell_id", _as_double(F.col("embedding")).alias("cemb"))
    qcells = q.crossJoin(F.broadcast(c)).select(
        "query_id", "cell_id", F.round(_cosine(F.col("qemb"), F.col("cemb")), 6).alias("csim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cell_id").asc())
    probes = (
        qcells.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= nprobe)
        .select("query_id", "cell_id")
    )
    # PQ fine quantizer: corpus codes (Arrow pass) + query distance
    # tables (driver-side numpy over the tiny query set, broadcast).
    # Pass codebook=train_pq_codebook(...) for production recall; the
    # default first-K codebook is the SQL-re-derivable oracle contract.
    cb = codebook if codebook is not None else _pq_codebook_np(
        embeddings, m_subspaces, n_codes
    )
    q_rows = _collect_query_rows(queries, max_queries)
    q_mat = _pq_quantize(np.vstack([r.embedding for r in q_rows]))
    m_sub, n_k, ds = cb.shape
    dt_rows = []
    for qi, r in enumerate(q_rows):
        for m in range(m_sub):
            qs = q_mat[qi, m * ds : (m + 1) * ds]
            d2 = ((qs[None, :] - cb[m]) ** 2).sum(axis=1)
            dt_rows.extend(
                (int(r.query_id), m, int(ci), int(d2[ci])) for ci in range(n_k)
            )
    spark = embeddings.sparkSession
    dt_df = spark.createDataFrame(dt_rows, "query_id long, m int, code int, d2 long")

    codes = pq_codes(embeddings, m_subspaces, n_codes, codebook=cb)
    cand = assigned.join(F.broadcast(probes), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(dt_df), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 12,
    planes: str = "gaussian",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (doc-level dedup by
    semantic similarity): LSH-bucketed candidates + exact cosine
    filter. Bucket-array pair unrolling, not a self-join — a self-join
    would run the numpy signature UDF twice over the corpus (see
    dedup.lsh_candidate_pairs). Buckets carry the vectors; with
    n_planes=12 the expected bucket is corpus/4096, so the per-bucket
    arrays stay small at scale (and a degenerate bucket is the same
    hazard either way).

    Pass ``dim`` explicitly in production — the None fallback probes it
    with a driver-side .first(), which is a convenience for small
    interactive use only.  ``planes='rademacher'`` uses the
    SQL-reproducible integer signatures."""
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    if planes == "rademacher":
        sig_df = lsh_signatures_rademacher(embeddings, dim, n_planes)
    else:
        sig_df = lsh_signatures(embeddings, dim, n_planes)
    sigs = sig_df.select(
        "vec_id", "lsh_sig", _as_double(F.col("embedding")).alias("emb")
    )
    buckets = (
        sigs.groupBy("lsh_sig")
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "emb"))).alias("ps"))
        .filter(F.size("ps") > 1)
    )
    ps = F.col("ps")
    pairs = F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + F.lit(2), F.size(ps) - i - 1),
                lambda y: F.struct(
                    x["vec_id"].alias("vec_a"),
                    y["vec_id"].alias("vec_b"),
                    F.round(_cosine(x["emb"], y["emb"]), 6).alias("cosine"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.vec_a", "p.vec_b", "p.cosine")
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_cells: int = 8,
    tau: float = 0.98,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with a coarse quantizer,
    then inside each cluster drop every vector that is ≥ ``tau``
    cosine-similar to a keeper-preferred vector. Keeper order is the
    paper's keep-low-centroid-similarity variant: lower similarity to
    the own-cluster centroid wins, ties broken by smaller id.

    Deterministic relational variant (documented divergence from the
    paper): the paper's greedy pass keeps a vector when every MORE
    preferred *kept* vector is dissimilar; here a vector is dropped
    when ANY more-preferred vector (kept or not) is ≥ tau similar —
    an EXISTS over the intra-cluster pair join. This prunes at least
    as much as greedy, is order-independent, and is expressible as
    pure SQL, so the whole decision is value-hash verifiable.

    Scale shape: the only corpus-sized shuffle is the equi-join on
    cell_id — pair generation never leaves a cluster, so cost is
    Σ|cell|², bounded by the quantizer granularity (pass kmeans_lloyd
    centroids with n_cells ∝ corpus/target_cluster_size at scale; the
    default first-n_cells-by-id centroids are for small/test use,
    like cosine_topk_ivf).

    Returns (id_col, cell_id, csim, keep) for every input vector.
    """
    if centroids is None:
        centroids = (
            embeddings.orderBy(id_col)
            .limit(n_cells)
            .select(F.col(id_col).cast("int").alias("cell_id"), "embedding")
        )
    e = embeddings.select(id_col, _as_double(F.col("embedding")).alias("emb"))
    c = centroids.select("cell_id", _as_double(F.col("embedding")).alias("cemb"))
    scored = e.crossJoin(F.broadcast(c)).select(
        id_col,
        "emb",
        "cell_id",
        F.round(_cosine(F.col("emb"), F.col("cemb")), 6).alias("csim"),
    )
    # argmax via min-of-struct AGGREGATION, not a ranking window: the
    # hash agg gets map-side partials (the exchange carries ~1 row per
    # vector) and needs no per-vector sort — same reasoning as L2/L3
    # (operators/link.py). Tie on csim → smaller cell_id, matching the
    # oracle's row_number ordering.
    assigned = (
        scored.groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("csim")).alias("neg_csim"),
                    F.col("cell_id").alias("cell_id"),
                    F.col("csim").alias("csim"),
                    F.col("emb").alias("emb"),
                )
            ).alias("_best")
        )
        .select(id_col, "_best.cell_id", "_best.emb", "_best.csim")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    aid, bid = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    # b is dominated by a: same cell, a precedes b in keeper order,
    # and they are near-duplicates. Equi-key cell_id drives the join;
    # the ordering + cosine predicates evaluate post-match.
    dominated = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (
                (F.col("a.csim") < F.col("b.csim"))
                | ((F.col("a.csim") == F.col("b.csim")) & (aid < bid))
            ),
        )
        .filter(F.round(_cosine(F.col("a.emb"), F.col("b.emb")), 6) >= tau)
        .select(bid.alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(dominated, id_col, "left")
        .select(
            id_col,
            "cell_id",
            "csim",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
        )
    )


def semantic_dedup_arrow(
    embeddings: DataFrame,
    n_cells: int = 8,
    tau: float = 0.98,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow/BLAS twin of :func:`semantic_dedup` — identical spec
    (keeper order = (round(csim,6) asc, id asc); drop b iff ANY
    more-preferred a in b's cell has round(cos(a,b),6) >= tau), but the
    two hot kernels run as numpy matmuls instead of per-element
    Catalyst lambda interpretation (``aggregate(zip_with(...))`` is
    interpreted per array element — measured ~6s for a mere 2k x 64
    corpus at local[32], entirely lambda-eval bound).

    Shape for 100 TB:
      * assignment — centroids are quantizer-sized by construction, so
        they ride the UDF closure as one k x d matrix; ONE mapInPandas
        pass computes ``Xn @ Cn.T`` per Arrow batch. Zero shuffle.
      * prune — ONE shuffle on cell_id, then applyInPandas per cell:
        ``S = Xn @ Xn.T`` + keeper-order upper-triangle any(). The same
        O(|cell|^2) the relational EXISTS pays, at BLAS speed; |cell| is
        bounded by the quantizer granularity either way.

    The relational form stays the ORACLE (full SQL re-derivation,
    driver value-hash); this is the throughput path. Both round
    cosines to 6 decimals before ordering/thresholding, so they agree
    except when a true cosine sits within ~1 ulp of a 6th-decimal
    boundary (tests assert exact keep/drop equality on the driver
    tables).
    """
    import pandas as pd  # local: match module style

    if centroids is None:
        centroids = (
            embeddings.orderBy(id_col)
            .limit(n_cells)
            .select(F.col(id_col).cast("int").alias("cell_id"), "embedding")
        )
    crows = sorted(
        ((int(r["cell_id"]), np.asarray(r["embedding"], dtype=np.float64)) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cell_ids = np.array([c for c, _ in crows], dtype=np.int32)
    C = np.stack([v for _, v in crows])
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    id_type = embeddings.schema[id_col].dataType.simpleString()
    mid_schema = f"{id_col} {id_type}, cell_id int, csim double, emb array<double>"

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            sims = np.round(Xn @ Cn.T, 6)
            # argmax returns the FIRST max → smallest cell_id on ties,
            # matching the relational min-struct tie-break (C is sorted)
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell_id": cell_ids[best],
                    "csim": sims[np.arange(len(best)), best],
                    "emb": list(X),
                }
            )

    assigned = embeddings.select(id_col, "embedding").mapInPandas(assign, mid_schema)

    out_schema = f"{id_col} {id_type}, cell_id int, csim double, keep boolean"

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf.sort_values(["csim", id_col], kind="mergesort").reset_index(drop=True)
        X = np.stack(order["emb"].to_numpy())
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        S = np.round(Xn @ Xn.T, 6)
        dominated = np.triu(S >= tau, k=1).any(axis=0)
        return pd.DataFrame(
            {
                id_col: order[id_col],
                "cell_id": order["cell_id"],
                "csim": order["csim"],
                "keep": ~dominated,
            }
        )

    return assigned.groupBy("cell_id").applyInPandas(prune, out_schema)


def cosine_topk_bruteforce_arrow(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_queries: int | None = None,
) -> DataFrame:
    """BLAS/Arrow twin of :func:`cosine_topk_bruteforce` — identical
    results (round(cosine,6), rank ties by vec_id, self-matches
    excluded), but the N x Q score matrix is one ``Xn @ Qn.T`` matmul
    per Arrow batch instead of N*Q interpreted ``aggregate(zip_with)``
    lambdas.

    Scale shape (same as pq_adc_topk): queries ride the UDF closure
    (Q x d — top-k queries are small by the op's contract even at
    100 TB), ONE zero-shuffle pass over the corpus emits only each
    batch's top-k per query (a per-batch top-k is a superset of the
    global one — no candidate loss), and the final exact window ranks
    batches x Q x k rows, never the corpus."""
    import pandas as pd

    q_rows = sorted(_collect_query_rows(queries, max_queries), key=lambda r: r["query_id"])
    q_ids = np.array([int(r["query_id"]) for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in q_rows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            S = np.round(Xn @ Qn.T, 6)  # (b, Q)
            vids = pdf["vec_id"].to_numpy()
            out_q, out_v, out_c = [], [], []
            for j, qid in enumerate(q_ids):
                col = S[:, j]
                mask = vids != qid  # self-match exclusion, as relational
                vv, cc = vids[mask], col[mask]
                if not len(vv):
                    continue
                # per-batch top-k on (-cosine, vec_id) — matches the
                # final window's ordering, so the batch cut is lossless
                order = np.lexsort((vv, -cc))[:k]
                out_q.extend([qid] * len(order))
                out_v.extend(vv[order])
                out_c.extend(cc[order])
            yield pd.DataFrame({"query_id": out_q, "vec_id": out_v, "cosine": out_c})

    cand = embeddings.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
