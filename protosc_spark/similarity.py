"""Similarity search over an embedding column (array<float>).

* :func:`brute_force_topk` — exact cosine top-k for a (small,
  broadcast) query set against the full corpus: JVM-side dot products
  (``zip_with`` + ``aggregate``), window top-k. The correctness
  baseline; cost |queries| x |corpus|.
* :func:`lsh_topk` — random-hyperplane LSH: deterministic seeded
  planes broadcast to an Arrow-vectorized signature UDF; candidates
  share a bucket in any of L tables; exact cosine re-rank of the
  candidates only. The scale path (cost follows collisions).
* :func:`ivf_topk` — inverted-file ANN: deterministic spherical
  k-means coarse quantizer trained on a hash-ordered sample (driver
  numpy), distributed cell assignment, per-query probing of the
  nearest n_probe cells, exact re-rank of cell members. The other
  standard scale path; n_probe == n_centroids degenerates to exact.
* :func:`ivf_topk_batch` / :func:`knn_graph` — the DISTRIBUTED query
  path: queries as a DataFrame (probe cells derived executor-side, no
  per-query driver artifacts), so the query set can be the corpus
  itself — kNN-graph construction at retrieval scale.
* :func:`ivfpq_topk_batch` — IVF-PQ composition (Faiss ``IVFx,PQy``):
  inverted-file candidate pruning + in-kernel ADC scoring over m-byte
  PQ codes + exact re-rank, queries as a DataFrame.
* :func:`cosine_neardup_pairs` — near-duplicate detection by embedding
  cosine (exact via self-join on LSH bucket prefilter).
* :func:`semantic_dedup` — SemDeDup-style corpus deduplication:
  k-means cells + within-cell pair comparison + min-id survivor rule.
* :func:`sq8_topk` — scalar int8 quantization (Faiss-SQ8 analog):
  corpus as dim-byte binary codes (8x smaller than float64),
  asymmetric-distance scan + exact re-rank. The memory-compression
  scale path; deterministic (no hash family), so gate-frozen.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def with_unit_vectors(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Normalize once up front — downstream cosine becomes a plain dot."""
    n = _norm(F.col(col))
    return df.withColumn(
        "unit",
        F.transform(F.col(col), lambda x: x.cast("double") / n),
    )


def brute_force_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine) — exact, self excluded.

    Ties broken by neighbor_id so results are total-ordered and
    reproducible at any parallelism.
    """
    base = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("unit")
    )
    queries = base.where(F.col("neighbor_id").isin(*[int(q) for q in query_ids])).select(
        F.col("neighbor_id").alias("query_id"), F.col("unit").alias("q_unit")
    )
    scored = base.crossJoin(F.broadcast(queries)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(_dot(F.col("q_unit"), F.col("unit")), 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _planes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def lsh_bucket_signatures(
    df: DataFrame,
    planes: np.ndarray | tuple[int, int, int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, bucket) — sign-bit bucket per LSH table.

    One Arrow pass; ``planes`` is either a precomputed [n_tables,
    n_planes, dim] tensor riding the closure, or a lazy spec
    ``(n_planes, n_tables, seed)`` — then each executor derives the
    IDENTICAL tensor from (seed, batch dim) on first use, so no driver
    action is ever needed to learn the embedding dimension.
    """
    lazy_spec = not isinstance(planes, np.ndarray)
    cache: dict[int, np.ndarray] = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        X = np.array(vecs.tolist(), dtype=np.float64)  # [batch, dim]
        if lazy_spec:
            n_planes, n_tables, seed = planes
            P = cache.get(X.shape[1])
            if P is None:
                P = cache[X.shape[1]] = _planes(
                    X.shape[1], n_planes, n_tables, seed
                )
        else:
            P = planes
            n_tables, n_planes, _dim = P.shape
        out = np.zeros((len(X), n_tables), dtype=np.int64)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        for t in range(n_tables):
            bits = (X @ P[t].T) > 0  # [batch, n_planes]
            out[:, t] = bits @ weights
        return pd.Series(list(out))

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(buckets_udf(F.col(vec_col))).alias("table", "bucket"),
    )


def lsh_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket-join candidates, exact cosine re-rank.

    No driver action before candidate generation: the plane tensor is
    derived executor-side from (seed, dim) via the lazy spec."""
    base = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "unit"
    ).cache()
    sigs = lsh_bucket_signatures(
        emb, (n_planes, n_tables, seed), id_col, vec_col
    )

    qids = [int(q) for q in query_ids]
    q_sigs = sigs.where(F.col("id").isin(*qids)).select(
        F.col("id").alias("query_id"), "table", "bucket"
    )
    cand = (
        sigs.join(F.broadcast(q_sigs), ["table", "bucket"])
        .where(F.col("id") != F.col("query_id"))
        .select(F.col("query_id"), F.col("id").alias("neighbor_id"))
        .distinct()
    )
    q_vec = base.where(F.col("neighbor_id").isin(*qids)).select(
        F.col("neighbor_id").alias("query_id"), F.col("unit").alias("q_unit")
    )
    scored = (
        cand.join(base, "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_unit"), F.col("unit")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + cell-pruned search
# ---------------------------------------------------------------------------


def ivf_train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 5,
    sample_n: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer.

    Standard IVF practice: train on a SAMPLE (driver-side numpy Lloyd
    iterations over <= sample_n unit vectors), assign the full corpus
    distributed. Determinism: the sample is the first ``sample_n``
    vectors in xxhash64(id) order (TakeOrdered — no full sort
    materialization, no rand()), init = first n_centroids of the
    sample, ties and empty cells resolved by fixed rules — identical
    centroids at any parallelism.
    """
    sample = (
        with_unit_vectors(emb, vec_col)
        .select(F.col(id_col).alias("id"), "unit")
        .orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(sample_n)
        .toPandas()
    )
    X = np.array(sample["unit"].tolist(), dtype=np.float64)
    if len(X) < n_centroids:
        raise ValueError(f"need >= {n_centroids} vectors, got {len(X)}")
    C = X[:n_centroids].copy()
    for _ in range(n_iter):
        assign = np.argmax(X @ C.T, axis=1)  # cosine == dot on units
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    C[c] = m / norm
        # empty cells keep their previous centroid (deterministic)
    return C


def ivf_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, unit): nearest-centroid cell per vector — one Arrow
    pass, centroid matrix rides the closure (executor-broadcast)."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def cell_udf(units: pd.Series) -> pd.Series:
        X = np.array(units.tolist(), dtype=np.float64)
        return pd.Series(np.argmax(X @ C.T, axis=1).astype(np.int32))

    base = with_unit_vectors(emb, vec_col)
    return base.select(
        F.col(id_col).alias("id"),
        cell_udf(F.col("unit")).alias("cell"),
        "unit",
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``n_probe`` nearest
    cells and exact-cosine re-ranks only their members — cost
    ~ n_probe/n_centroids of the corpus per query, the standard
    inverted-file ANN shape (train on sample -> assign distributed ->
    probe -> re-rank). ``n_probe == n_centroids`` degenerates to exact
    brute force (pinned against brute_force_topk in tests AND the
    driver's DuckDB oracle).
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            emb, n_centroids, id_col=id_col, vec_col=vec_col
        )
    assigned = ivf_assign(emb, centroids, id_col, vec_col)

    qids = [int(q) for q in query_ids]
    q_pdf = (
        assigned.where(F.col("id").isin(*qids))
        .select("id", "unit")
        .toPandas()
    )
    C = np.asarray(centroids, dtype=np.float64)
    probe_rows = []
    for _, r in zip(range(len(q_pdf)), q_pdf.itertuples()):
        scores = C @ np.asarray(r.unit, dtype=np.float64)
        order = np.lexsort((np.arange(len(scores)), -scores))
        for cell in order[:n_probe]:
            probe_rows.append(
                (int(r.id), int(cell), [float(v) for v in r.unit])
            )
    spark = emb.sparkSession
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cell int, q_unit array<double>"
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(_dot(F.col("q_unit"), F.col("unit")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_assign_probes(
    emb: DataFrame,
    centroids: np.ndarray,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, cell, q_unit): each vector's ``n_probe`` nearest
    coarse cells — the DISTRIBUTED query-side of IVF search. One Arrow
    pass; the centroid matrix rides the closure (executor-broadcast),
    so unlike :func:`ivf_topk`'s bounded-query-set path there is NO
    per-query driver artifact: a 10^11-row corpus can be the query set.
    Tie rule matches ivf_topk (score desc, cell asc — stable argsort).
    """
    C = np.asarray(centroids, dtype=np.float64)
    npb = int(n_probe)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes_udf(units: pd.Series) -> pd.Series:
        X = np.array(units.tolist(), dtype=np.float64)
        S = X @ C.T  # [batch, n_centroids]
        order = np.argsort(-S, axis=1, kind="stable")[:, :npb]
        return pd.Series(list(order.astype(np.int32)))

    base = with_unit_vectors(emb, vec_col)
    return base.select(
        F.col(id_col).alias("query_id"),
        F.explode(probes_udf(F.col("unit"))).alias("cell"),
        F.col("unit").alias("q_unit"),
    )


def _salt_hot_cells(
    probes: DataFrame,
    members: DataFrame,
    max_cell_rows: int,
    n_members: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Bound the per-task candidate-set size of the per-cell cogroup
    kernels: cells with more than ``max_cell_rows`` members are split
    into ceil(|cell| / max_cell_rows) hash-salted sub-cells (members
    hashed on id, probes replicated across every sub-cell of each
    probed cell), so a hot cell (unbalanced quantizer, clustered
    corpus) becomes many bounded tasks instead of one straggler.
    Lossless: each (query, member) pair still arises exactly once, and
    the per-sub-cell partial top-k uses the exact global tie rule, so
    the global merge window reconstructs the unsalted answer bit-for-
    bit (pinned in tests/test_similarity.py with one planted giant
    cell). Fully distributed — the cell-count table is n_centroids
    rows, broadcast to both sides; no driver collect.

    ``n_members`` is the caller's (cheap) total-corpus count: when the
    WHOLE corpus fits in one task bound, no cell can exceed it, so the
    exact cell-count aggregation — which costs a second assignment
    pass over the corpus — is skipped entirely and a constant salt is
    attached (measured 5.8 -> 3.2 s on the sf0.1 kNN-graph bench leg).
    At 100-TB scale the corpus exceeds the bound and the exact path
    runs; its one extra columnar scan is then small relative to the
    retrieval itself and buys a hard per-task bound."""
    if n_members is not None and n_members <= max_cell_rows:
        return (
            probes.withColumn("salt", F.lit(0)),
            members.withColumn("salt", F.lit(0)),
        )
    cellcnt = members.groupBy("cell").agg(
        F.ceil(
            F.count(F.lit(1)) / F.lit(int(max_cell_rows))
        ).cast("int").alias("n_sub")
    )
    # two renamed copies: probes/members share lineage with emb AND
    # both join cellcnt, which trips the ambiguous-self-join check
    members_s = (
        members.join(
            F.broadcast(cellcnt.withColumnRenamed("n_sub", "__m_sub")),
            "cell",
        )
        .withColumn(
            "salt",
            F.pmod(
                F.xxhash64(F.col("neighbor_id")), F.col("__m_sub")
            ).cast("int"),
        )
        .drop("__m_sub")
    )
    probes_s = (
        probes.join(
            F.broadcast(cellcnt.withColumnRenamed("n_sub", "__q_sub")),
            "cell",
        )
        .withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.col("__q_sub") - F.lit(1))),
        )
        .drop("__q_sub")
    )
    return probes_s, members_s


def ivf_topk_batch(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    max_cell_rows: int = 1 << 20,
) -> DataFrame:
    """IVF top-k with the query set as a DATAFRAME — the retrieval
    shape for corpus-scale query sets (kNN-graph construction,
    all-corpus retrieval audits), where :func:`ivf_topk`'s
    driver-built probe rows would not fit. ``queries=None`` searches
    the corpus against itself with self-matches excluded (the kNN
    graph); pass any (id, vec) DataFrame otherwise — external query
    sets get NO self-exclusion, so a query whose id happens to equal a
    corpus id still sees that corpus vector (ids in the two tables are
    unrelated namespaces).

    Scale shape — every stage is distributed and bounded:
    1. coarse quantizer trained on a fixed-size hash-ordered sample
       (the only driver work, 2048 rows regardless of corpus size);
    2. corpus cell assignment: one Arrow pass;
    3. query probe expansion: one Arrow pass emitting n_probe
       (query, cell) rows per query — no collect, no driver lut;
    4. candidate generation: one COGROUP on ``cell`` (both sides
       shuffle-partitioned by cell). A member belongs to exactly one
       cell and probe cells are distinct, so a (query, member) pair
       arises at most once — no distinct needed. Cogroup keys are NOT
       skew-split by AQE, so oversized cells are bounded explicitly:
       any cell with more than ``max_cell_rows`` members is salted
       into ceil(|cell| / max_cell_rows) sub-cells (members hashed,
       probes replicated across the sub-cells), and the per-sub-cell
       partial top-ks merge losslessly in the global window because
       they use the exact global tie rule;
    5. exact-cosine scoring JVM-side + per-query top-k window.
    Cost ~ (n_probe / n_centroids) x |queries| x |corpus| / (cell
    balance), never the n^2 cross join. ``n_probe == n_centroids``
    degenerates to exact brute force — the driver-gate config
    (independent SQL oracle); pruned-recall behavior is pinned in
    tests/test_similarity.py.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            emb, n_centroids, id_col=id_col, vec_col=vec_col
        )
    members = ivf_assign(emb, centroids, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "cell", "unit"
    )
    probes = ivf_assign_probes(
        emb if queries is None else queries,
        centroids,
        n_probe,
        id_col,
        vec_col,
    )

    # Scoring backend: ONE cogroup on cell, then per cell a single BLAS
    # matmul Q @ M.T plus a PARTIAL top-k per (query, cell) inside the
    # kernel. Two wins over scoring pairs row-by-row after a plain
    # join: (a) each vector crosses the wire once per probed cell,
    # never once per PAIR (the join shape shuffles |probes|x|cell|
    # 64-double arrays); (b) the global top-k window sees only
    # n_probe*k candidate rows per query instead of every scored pair
    # (measured 7.9 s -> ~2 s on the 5000-vector sf0.1 kNN graph).
    # The per-cell selection uses the EXACT global tie rule (cosine
    # rounded to 6 desc, neighbor_id asc), so pruning can never drop a
    # row the global top-k would keep — full probing stays exact.
    kk = int(k)
    # self-exclusion ONLY for the corpus-as-queries (kNN-graph) mode:
    # an external query table's ids are an unrelated namespace, so an
    # id collision must NOT silently drop that corpus vector
    exclude_self = queries is None

    def cell_topk(ppdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        if len(ppdf) == 0 or len(mpdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype(
                {
                    "query_id": "int64",
                    "neighbor_id": "int64",
                    "cosine": "float64",
                }
            )
        Q = np.array(ppdf["q_unit"].tolist(), dtype=np.float64)
        M = np.array(mpdf["unit"].tolist(), dtype=np.float64)
        qids = ppdf["query_id"].to_numpy()
        nids = mpdf["neighbor_id"].to_numpy()
        out_q, out_n, out_c = [], [], []
        # chunk the query side so a skewed (hot) cell never builds a
        # |probes| x |members| score matrix beyond ~32M doubles
        step = max(1, (32 << 20) // max(1, len(nids) * 8))
        for s in range(0, len(qids), step):
            S = np.round(Q[s : s + step] @ M.T, 6)  # [chunk, n_members]
            for r in range(S.shape[0]):
                row = S[r]
                if exclude_self:
                    mask = nids != qids[s + r]
                    cand_n, cand_c = nids[mask], row[mask]
                else:
                    cand_n, cand_c = nids, row
                if len(cand_n) > kk:
                    part = np.lexsort((cand_n, -cand_c))[:kk]
                else:
                    part = np.lexsort((cand_n, -cand_c))
                out_q.extend([qids[s + r]] * len(part))
                out_n.extend(cand_n[part])
                out_c.extend(cand_c[part])
        return pd.DataFrame(
            {
                "query_id": np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "cosine": np.array(out_c, dtype=np.float64),
            }
        )

    probes_s, members_s = _salt_hot_cells(
        probes, members, max_cell_rows, n_members=emb.count()
    )
    scored = (
        probes_s.groupBy("cell", "salt")
        .cogroup(members_s.groupBy("cell", "salt"))
        .applyInPandas(
            cell_topk, "query_id long, neighbor_id long, cosine double"
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivfpq_topk_batch(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_rows: int = 1 << 20,
) -> DataFrame:
    """IVF-PQ retrieval with a DataFrame query set — the Faiss
    ``IVFx,PQy`` composition: the inverted file prunes WHICH vectors
    are scored (n_probe/n_centroids of the corpus per query) and
    product quantization compresses HOW they are scored (m-byte codes,
    64x smaller than float64 at dim 64). ``queries=None`` = corpus as
    queries (compressed-index kNN graph).

    ADC is computed IN THE KERNEL, never on the driver: the candidate
    join carries (q_unit, code) pairs, and one Arrow pass reconstructs
    candidates from the codebook (a [m, ksub, dsub] gather riding the
    closure) and dots them with their query — mathematically identical
    to the per-query lookup-table formulation but with no per-query
    driver artifact, so the query set can be the corpus. Exact-cosine
    re-rank of each query's top (k * rerank_factor) ADC candidates,
    same tie rule as brute_force_topk.
    """
    centroids = ivf_train_centroids(
        emb, n_centroids, id_col=id_col, vec_col=vec_col
    )
    books = pq_train(emb, m=m, id_col=id_col, vec_col=vec_col)
    B = np.asarray(books, dtype=np.float64)
    mm, ksub, dsub = B.shape

    members = ivf_assign(emb, centroids, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "cell", "unit"
    )
    codes = pq_encode(emb, books, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "code"
    )
    members = members.join(codes, "neighbor_id").select(
        "neighbor_id", "cell", "code"
    )
    probes = ivf_assign_probes(
        emb if queries is None else queries,
        centroids,
        n_probe,
        id_col,
        vec_col,
    )

    # Same per-cell kernel shape as ivf_topk_batch: codes are decoded
    # ONCE per cell into reconstructed vectors (a codebook gather), one
    # Q @ R.T matmul scores every (probe, member) pair in the cell, and
    # only each query's per-cell top (k * rerank_factor) ADC candidates
    # leave the kernel — the global shortlist window then sees
    # n_probe * k * rerank rows per query, never every scored pair.
    # Per-cell pruning uses the same (approx desc, neighbor_id asc)
    # rule as the global shortlist, so it never drops a row the global
    # top would keep.
    cap = int(k) * int(rerank_factor)
    # same self-exclusion rule as ivf_topk_batch: kNN-graph mode only
    exclude_self = queries is None

    def cell_adc_topk(ppdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        if len(ppdf) == 0 or len(mpdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "approx": []}
            ).astype(
                {
                    "query_id": "int64",
                    "neighbor_id": "int64",
                    "approx": "float64",
                }
            )
        Q = np.array(ppdf["q_unit"].tolist(), dtype=np.float64)
        C = (
            np.frombuffer(b"".join(mpdf["code"]), dtype=np.uint8)
            .reshape(len(mpdf), mm)
            .astype(np.int64)
        )
        # [n_members, dim] reconstruction: per-subspace codebook gather
        R = B[np.arange(mm)[None, :], C].reshape(len(mpdf), mm * dsub)
        qids = ppdf["query_id"].to_numpy()
        nids = mpdf["neighbor_id"].to_numpy()
        out_q, out_n, out_a = [], [], []
        step = max(1, (32 << 20) // max(1, len(nids) * 8))
        for s in range(0, len(qids), step):
            S = Q[s : s + step] @ R.T
            for r in range(S.shape[0]):
                if exclude_self:
                    mask = nids != qids[s + r]
                    cand_n, cand_a = nids[mask], S[r][mask]
                else:
                    cand_n, cand_a = nids, S[r]
                part = np.lexsort((cand_n, -cand_a))[:cap]
                out_q.extend([qids[s + r]] * len(part))
                out_n.extend(cand_n[part])
                out_a.extend(cand_a[part])
        return pd.DataFrame(
            {
                "query_id": np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "approx": np.array(out_a, dtype=np.float64),
            }
        )

    probes_s, members_s = _salt_hot_cells(
        probes, members, max_cell_rows, n_members=emb.count()
    )
    cand = (
        probes_s.groupBy("cell", "salt")
        .cogroup(members_s.groupBy("cell", "salt"))
        .applyInPandas(
            cell_adc_topk, "query_id long, neighbor_id long, approx double"
        )
    )
    w_cand = W.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id")
    )
    shortlist = (
        cand.withColumn("crank", F.row_number().over(w_cand))
        .where(F.col("crank") <= cap)
        .select("query_id", "neighbor_id")
    )
    base = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "unit"
    )
    q_base = with_unit_vectors(
        emb if queries is None else queries, vec_col
    ).select(F.col(id_col).alias("query_id"), F.col("unit").alias("q_unit"))
    rer = (
        shortlist.join(base, "neighbor_id")
        .join(q_base, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_unit"), F.col("unit")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivfsq8_topk_batch(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_rows: int = 1 << 20,
) -> DataFrame:
    """IVF + SQ8 retrieval with a DataFrame query set — the scalar-
    quantized sibling of :func:`ivfpq_topk_batch`, completing batch
    (corpus-as-queries) support for every compressed-index family
    (round-4 verdict #6; :func:`sq8_topk` remains the bounded
    driver-built query-ID path). The inverted file prunes WHICH codes
    are scored; SQ8 compresses HOW (dim uint8 bytes, 8x smaller than
    float64). ADC in the per-cell kernel: codes dequantize once per
    cell ((code * scale + lo), re-normalized), one Q @ X.T matmul, per-
    cell partial top-(k*rerank) with the global tie rule; exact-cosine
    re-rank of the global shortlist. Same hot-cell salting and
    self-exclusion rules as the IVF/IVF-PQ kernels."""
    centroids = ivf_train_centroids(
        emb, n_centroids, id_col=id_col, vec_col=vec_col
    )
    lo, hi = sq8_train(emb, vec_col)
    lo = np.asarray(lo, dtype=np.float64)
    scale = (np.asarray(hi, dtype=np.float64) - lo) / 255.0

    members = ivf_assign(emb, centroids, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "cell"
    )
    codes = sq8_encode(emb, lo, lo + scale * 255.0, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "code"
    )
    members = members.join(codes, "neighbor_id")
    probes = ivf_assign_probes(
        emb if queries is None else queries,
        centroids,
        n_probe,
        id_col,
        vec_col,
    )
    cap = int(k) * int(rerank_factor)
    exclude_self = queries is None

    def cell_sq8_topk(ppdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        if len(ppdf) == 0 or len(mpdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "approx": []}
            ).astype(
                {
                    "query_id": "int64",
                    "neighbor_id": "int64",
                    "approx": "float64",
                }
            )
        Q = np.array(ppdf["q_unit"].tolist(), dtype=np.float64)
        D = (
            np.frombuffer(b"".join(mpdf["code"]), dtype=np.uint8)
            .reshape(len(mpdf), -1)
            .astype(np.float64)
        )
        X = D * scale + lo  # dequantize once per cell
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        X /= nrm
        qids = ppdf["query_id"].to_numpy()
        nids = mpdf["neighbor_id"].to_numpy()
        out_q, out_n, out_a = [], [], []
        step = max(1, (32 << 20) // max(1, len(nids) * 8))
        for s in range(0, len(qids), step):
            S = Q[s : s + step] @ X.T
            for r in range(S.shape[0]):
                if exclude_self:
                    mask = nids != qids[s + r]
                    cand_n, cand_a = nids[mask], S[r][mask]
                else:
                    cand_n, cand_a = nids, S[r]
                part = np.lexsort((cand_n, -cand_a))[:cap]
                out_q.extend([qids[s + r]] * len(part))
                out_n.extend(cand_n[part])
                out_a.extend(cand_a[part])
        return pd.DataFrame(
            {
                "query_id": np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "approx": np.array(out_a, dtype=np.float64),
            }
        )

    probes_s, members_s = _salt_hot_cells(
        probes, members, max_cell_rows, n_members=emb.count()
    )
    cand = (
        probes_s.groupBy("cell", "salt")
        .cogroup(members_s.groupBy("cell", "salt"))
        .applyInPandas(
            cell_sq8_topk, "query_id long, neighbor_id long, approx double"
        )
    )
    w_cand = W.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id")
    )
    shortlist = (
        cand.withColumn("crank", F.row_number().over(w_cand))
        .where(F.col("crank") <= cap)
        .select("query_id", "neighbor_id")
    )
    base = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "unit"
    )
    q_base = with_unit_vectors(
        emb if queries is None else queries, vec_col
    ).select(F.col(id_col).alias("query_id"), F.col("unit").alias("q_unit"))
    rer = (
        shortlist.join(base, "neighbor_id")
        .join(q_base, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_unit"), F.col("unit")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def knn_graph(
    emb: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_rows: int = 1 << 20,
) -> DataFrame:
    """k-nearest-neighbor graph of the corpus against itself (the
    100 TB retrieval/curation primitive behind SemDeDup-style analyses
    and graph-based sampling): :func:`ivf_topk_batch` with
    queries == corpus. Returns (query_id, neighbor_id, rank, cosine),
    k rows per vector, self excluded."""
    return ivf_topk_batch(
        emb,
        None,
        k=k,
        n_centroids=n_centroids,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        max_cell_rows=max_cell_rows,
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    tau: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """(id_a, id_b, cosine >= tau), id_a < id_b.

    ``exact=True`` does the full O(n^2) self-join (small inputs /
    oracle checks); default prunes with LSH-bucket equality first —
    at tau >= 0.95 the probability both vectors share a bucket in at
    least one of 8 tables is ~1-(1-(1-0.1)^8)^8 ≈ 0.9995.
    """
    base = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("id"), "unit"
    )
    if exact:
        a, b = base.alias("a"), base.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(_dot(F.col("a.unit"), F.col("b.unit")), 6).alias("cosine"),
        )
        return pairs.where(F.col("cosine") >= tau)

    sigs = lsh_bucket_signatures(
        emb, (n_planes, n_tables, seed), id_col, vec_col
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ua = base.select(F.col("id").alias("id_a"), F.col("unit").alias("unit_a"))
    ub = base.select(F.col("id").alias("id_b"), F.col("unit").alias("unit_b"))
    return (
        cand.join(ua, "id_a")
        .join(ub, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(_dot(F.col("unit_a"), F.col("unit_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= tau)
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication
# ---------------------------------------------------------------------------


def semantic_dedup(
    emb: DataFrame,
    tau: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Embedding-space deduplication (the SemDeDup recipe): k-means
    the corpus into cells, compare pairs ONLY within a cell, and drop
    every vector that has a same-cell near-duplicate (cosine >= tau)
    with a smaller id. Returns the surviving ``(id, cell)`` rows.

    Semantics (deterministic, order-free): a vector is dropped iff
    some same-cell vector with a smaller id is within tau — the
    standard keep-one-representative rule (min-id survivor), expressed
    as one within-cell pair join + one left-anti join. With
    ``n_clusters=1`` the cell restriction vanishes and the result is
    exactly "drop everything with a smaller tau-neighbor" — the form
    the driver gate's DuckDB oracle recomputes; the clustered path is
    pinned against it in tests (within-cell pairs are a subset of
    exact pairs, so clustered survivors are a superset; recall of the
    exact drop-set is the quality metric).

    Scale shape: cost is sum over cells of |cell|^2 instead of n^2 —
    n_clusters is the knob (SemDeDup used ~11k cells for LAION-scale;
    choose n_clusters ~ n / sqrt(affordable_cell_pairs)). The join is
    a plain equi-join on ``cell`` (shuffle both sides by cell, AQE
    splits skewed cells); the quantizer trains on a hash-ordered
    sample driver-side and assignment is one Arrow pass, identical to
    the IVF index build.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            emb, n_clusters, id_col=id_col, vec_col=vec_col
        )
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    # Within-cell pair comparison as ONE grouped BLAS kernel per cell
    # (same backend shape as ivf_topk_batch): U @ U.T in row-chunks of
    # bounded size instead of a per-pair JVM dot self-join — each unit
    # vector crosses the wire once per cell, never once per pair, and
    # only the dropped ids leave the kernel. Semantics identical
    # (cosine rounded to 6 >= tau against any smaller-id same-cell
    # vector); the round matches the SQL oracle's.
    tau_f = float(tau)

    def cell_dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        U = np.array(pdf["unit"].tolist(), dtype=np.float64)[order]
        n = len(ids)
        dropped_mask = np.zeros(n, dtype=bool)
        step = max(1, (32 << 20) // max(1, n * 8))
        for s in range(0, n, step):
            S = np.round(U[s : s + step] @ U.T, 6)  # [chunk, n]
            for r in range(S.shape[0]):
                i = s + r
                # neighbors with a SMALLER id: strictly earlier rows
                hits = np.flatnonzero(S[r, :i] >= tau_f)
                if len(hits):
                    dropped_mask[i] = True
        return pd.DataFrame({"id": ids[dropped_mask].astype(np.int64)})

    dropped = (
        assigned.select("cell", "id", "unit")
        .groupBy("cell")
        .applyInPandas(cell_dropped, "id long")
    )
    return (
        assigned.join(dropped, "id", "left_anti")
        .select("id", "cell")
    )


# ---------------------------------------------------------------------------
# SQ8 — scalar int8 quantization (compressed-index scale path)
# ---------------------------------------------------------------------------


def sq8_train(
    emb: DataFrame, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) over the UNIT-normalized corpus — the
    trained state of a scalar quantizer (Faiss SQ8 analog). One
    posexplode + map-side-combined groupBy(dim); the result is
    dim-sized (tiny), collected once at index-build time.

    Training on unit vectors (not raw) means the codes directly encode
    the geometry cosine search uses, and dequantization error is
    bounded per dim by (max-min)/255/2.
    """
    stats = (
        with_unit_vectors(emb, vec_col)
        .select(F.posexplode("unit").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("dim")
        .toPandas()
    )
    return (
        stats["lo"].to_numpy(dtype=np.float64),
        stats["hi"].to_numpy(dtype=np.float64),
    )


def sq8_encode(
    emb: DataFrame,
    lo: np.ndarray,
    hi: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code: binary) — each UNIT vector as ``dim`` uint8 bytes:
    code = round((x - lo) / scale), scale = (hi - lo)/255 (a constant
    dim keeps scale 0 and dequantizes back to lo exactly). 8x smaller
    than array<double>: at 100 TB of float64 embeddings the code table
    is ~12.5 TB, the difference between spilling every scan and a
    RAM-resident index. The (lo, hi, scale) arrays are dim-sized and
    ride the UDF closure (executor-broadcast)."""
    lo = np.asarray(lo, dtype=np.float64)
    scale = (np.asarray(hi, dtype=np.float64) - lo) / 255.0
    safe = np.where(scale > 0, scale, 1.0)

    @F.pandas_udf(T.BinaryType())
    def enc_udf(units: pd.Series) -> pd.Series:
        X = np.array(units.tolist(), dtype=np.float64)
        codes = np.clip(np.rint((X - lo) / safe), 0, 255).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    return with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("id"), enc_udf(F.col("unit")).alias("code")
    )


def sq8_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 10,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over the COMPRESSED (int8) index with
    exact re-rank — fully deterministic (no hash family, no RNG):
    quantization error is the only approximation, so the driver gate
    freezes its output like the other hash-defined ANN paths.

    1. train + encode: corpus scanned as dim-byte codes, not floats.
    2. asymmetric scoring (queries stay float64 — standard ADC): one
       Arrow pass computes every query's cosine against the
       DEQUANTIZED candidate, ``batch @ Q.T`` vectorized.
    3. per-query top (k * rerank_factor) candidates on approx scores.
    4. exact JVM re-rank of the candidates only (same tie rule as
       brute_force_topk: cosine desc, neighbor_id asc).
    """
    lo, hi = sq8_train(emb, vec_col)
    scale = (hi - lo) / 255.0
    codes = sq8_encode(emb, lo, hi, id_col, vec_col)

    qids = [int(q) for q in query_ids]
    base = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "unit"
    )
    q_pdf = (
        base.where(F.col("neighbor_id").isin(*qids))
        .orderBy("neighbor_id")
        .toPandas()
    )
    Q = np.array(q_pdf["unit"].tolist(), dtype=np.float64)  # [nq, dim]
    q_order = q_pdf["neighbor_id"].to_numpy()

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def approx_udf(code_s: pd.Series) -> pd.Series:
        D = (
            np.frombuffer(b"".join(code_s), dtype=np.uint8)
            .reshape(len(code_s), -1)
            .astype(np.float64)
        )
        X = D * scale + lo  # dequantized unit-ish vectors
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        S = (X / nrm) @ Q.T  # [batch, nq]
        return pd.Series(list(S))

    scored = codes.select(
        F.col("id").alias("neighbor_id"),
        F.posexplode(approx_udf(F.col("code"))).alias("qi", "approx"),
    ).withColumn(
        "query_id",
        F.element_at(
            F.array(*[F.lit(int(q)) for q in q_order]), F.col("qi") + 1
        ).cast("long"),
    ).where(F.col("neighbor_id") != F.col("query_id"))

    w_cand = W.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("crank", F.row_number().over(w_cand))
        .where(F.col("crank") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )

    q_vec = base.where(F.col("neighbor_id").isin(*qids)).select(
        F.col("neighbor_id").alias("query_id"), F.col("unit").alias("q_unit")
    )
    rer = (
        cand.join(base, "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_unit"), F.col("unit")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# PQ — product quantization (ADC lookup-scan scale path)
# ---------------------------------------------------------------------------


def pq_train(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 256,
    n_iter: int = 5,
    sample_n: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic product-quantizer codebooks: the unit-vector space
    is split into ``m`` contiguous subspaces and each gets its own
    k-means codebook of ``ksub`` centroids (Faiss PQ analog; codes are
    m bytes per vector — 64x smaller than a 64-dim float64 array).

    Same determinism recipe as ivf_train_centroids: sample = first
    ``sample_n`` vectors in xxhash64(id) order, init = first ksub
    sample rows per subspace, Lloyd with empty cells keeping their
    centroid. Returns [m, ksub, dim/m] float64.
    """
    sample = (
        with_unit_vectors(emb, vec_col)
        .select(F.col(id_col).alias("id"), "unit")
        .orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(sample_n)
        .toPandas()
    )
    X = np.array(sample["unit"].tolist(), dtype=np.float64)
    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    k = min(ksub, n)
    dsub = dim // m
    books = np.zeros((m, k, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[:k].copy()
        for _ in range(n_iter):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def pq_encode(
    emb: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code: binary) — per subspace, the nearest-codeword index as
    one uint8 byte. One Arrow pass; the [m, ksub, dsub] codebook rides
    the closure (executor-broadcast)."""
    B = np.asarray(books, dtype=np.float64)
    m, k, dsub = B.shape

    @F.pandas_udf(T.BinaryType())
    def enc_udf(units: pd.Series) -> pd.Series:
        X = np.array(units.tolist(), dtype=np.float64)
        codes = np.empty((len(X), m), dtype=np.uint8)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    return with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("id"), enc_udf(F.col("unit")).alias("code")
    )


def pq_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 10,
    m: int = 8,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over PQ codes with exact re-rank —
    asymmetric distance computation (ADC): per query, a [m, ksub]
    lookup table of query-subvector x codeword dot products is built
    once on the driver (tiny) and the corpus scan is m byte-indexed
    table lookups per row, never a float dot product. Deterministic
    end-to-end (sampled k-means with fixed init, no RNG).

    Same output contract and tie rule as brute_force_topk; candidates
    = top (k * rerank_factor) by ADC score, exact-cosine re-ranked.
    """
    books = pq_train(emb, m=m, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(emb, books, id_col, vec_col)
    mm, ksub, dsub = books.shape

    qids = [int(q) for q in query_ids]
    base = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "unit"
    )
    q_pdf = (
        base.where(F.col("neighbor_id").isin(*qids))
        .orderBy("neighbor_id")
        .toPandas()
    )
    Q = np.array(q_pdf["unit"].tolist(), dtype=np.float64)  # [nq, dim]
    q_order = q_pdf["neighbor_id"].to_numpy()
    # ADC tables: lut[qi, j, c] = q_sub . codeword  (cosine = sum_j lut)
    lut = np.einsum(
        "qjd,jcd->qjc", Q.reshape(len(Q), mm, dsub), books
    )  # [nq, m, ksub]

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def adc_udf(code_s: pd.Series) -> pd.Series:
        C = (
            np.frombuffer(b"".join(code_s), dtype=np.uint8)
            .reshape(len(code_s), mm)
            .astype(np.int64)
        )
        # S[b, q] = sum_j lut[q, j, C[b, j]]
        S = np.zeros((len(C), lut.shape[0]))
        for j in range(mm):
            S += lut[:, j, C[:, j]].T
        return pd.Series(list(S))

    scored = codes.select(
        F.col("id").alias("neighbor_id"),
        F.posexplode(adc_udf(F.col("code"))).alias("qi", "approx"),
    ).withColumn(
        "query_id",
        F.element_at(
            F.array(*[F.lit(int(q)) for q in q_order]), F.col("qi") + 1
        ).cast("long"),
    ).where(F.col("neighbor_id") != F.col("query_id"))

    w_cand = W.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("crank", F.row_number().over(w_cand))
        .where(F.col("crank") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )
    q_vec = base.where(F.col("neighbor_id").isin(*qids)).select(
        F.col("neighbor_id").alias("query_id"), F.col("unit").alias("q_unit")
    )
    rer = (
        cand.join(base, "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_unit"), F.col("unit")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroid, long form: (label, dim, centroid).
    The grouped-vector-mean reduction behind class prototypes /
    nearest-centroid classifiers / cluster drift audits.

    Shape: posexplode to (label, dim, value) -> ONE map-side-combined
    groupBy(label, dim) average. No driver collect, no UDF; works for
    any dim because the reduction is per-(group, dim) scalar, and the
    output is |labels| x dim rows — tiny relative to the corpus.
    """
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(vec_col).alias("dim", "v"),
        )
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
    )


def centroid_affinity(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    unit: int = 10**9,
) -> DataFrame:
    """Pairwise cosine similarity between per-group embedding
    centroids — the drift/affinity matrix on top of
    :func:`label_centroids`: which sources/classes occupy the same
    region of embedding space (near-duplicate SOURCES, label
    confusion, domain collapse), read from |groups|^2 numbers
    instead of a corpus-sized pair join.

    Exactness: each component is quantized to integer 1/``unit``
    units BEFORE the per-(group, dim) sum (house rule — float sums
    drift with partial-agg order), and cosine is computed directly
    on the integer sum vectors: cosine is scale-invariant, so the
    1/n and 1/unit factors cancel and

        cos(a, b) = sum_d qa_d qb_d
                    / (sqrt(sum qa^2) * sqrt(sum qb^2))

    is one float expression of exact DECIMAL integers, replayed
    verbatim in the SQL oracle. Envelope: qa_d ~ unit * sum|v| stays
    inside DECIMAL(38) products for ~1e9 rows x unit 1e9 per group.

    Scale shape: posexplode -> one map-side-combined groupBy(group,
    dim) -> a |groups| x dim table; the pair join runs over THAT
    (groups^2 x dim intermediate, nothing corpus-sized). Output:
    (label_a, label_b, n_a, n_b, cosine) for label_a < label_b;
    cosine NULL for a zero centroid."""
    dec = "decimal(38,0)"
    u = F.lit(float(unit))
    q = emb.select(
        F.col(label_col).alias("__l"),
        F.posexplode(vec_col).alias("__d", "__v"),
    ).select(
        "__l",
        "__d",
        F.floor(F.col("__v").cast("double") * u).cast(dec).alias(
            "__q"
        ),
    )
    cent = q.groupBy("__l", "__d").agg(
        F.sum("__q").alias("__s"),
        (F.count(F.lit(1))).alias("__cnt"),
    )
    counts = emb.groupBy(F.col(label_col).alias("__l")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    norms = cent.groupBy("__l").agg(
        F.sum(F.col("__s") * F.col("__s")).alias("__nrm")
    )
    a = cent.select(
        F.col("__l").alias("la"), "__d", F.col("__s").alias("sa")
    )
    b = cent.select(
        F.col("__l").alias("lb"), "__d", F.col("__s").alias("sb")
    )
    dots = (
        a.join(b, "__d")
        .where(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("__dot"))
    )
    na = norms.select(
        F.col("__l").alias("la"), F.col("__nrm").alias("__na")
    )
    nb = norms.select(
        F.col("__l").alias("lb"), F.col("__nrm").alias("__nb")
    )
    ca = counts.select(
        F.col("__l").alias("la"), F.col("__n").alias("n_a")
    )
    cb = counts.select(
        F.col("__l").alias("lb"), F.col("__n").alias("n_b")
    )
    return (
        dots.join(na, "la")
        .join(nb, "lb")
        .join(ca, "la")
        .join(cb, "lb")
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            "n_a",
            "n_b",
            F.when(
                (F.col("__na") > 0) & (F.col("__nb") > 0),
                F.col("__dot").cast("double")
                / (
                    F.sqrt(F.col("__na").cast("double"))
                    * F.sqrt(F.col("__nb").cast("double"))
                ),
            ).alias("cosine"),
        )
    )


def silhouette_labels(
    emb: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    unit: int = 10**9,
    s_unit: int = 10**9,
) -> DataFrame:
    """Simplified silhouette of the label partition in embedding
    space — "are the labels actually separated clusters, or one
    blob?", the partition-quality verdict on top of
    :func:`centroid_affinity` (affinity says which centroids are
    close; silhouette says whether POINTS sit closer to their own
    centroid than to the nearest other one). Per point, with cosine
    distance d(x, C) = 1 - cos(x, C):

        a(i) = d(x_i, C_own),   b(i) = min_{L != own} d(x_i, C_L),
        s(i) = (b - a) / max(a, b)          (0 when max = 0)

    (the "simplified silhouette" — centroid distances instead of
    mean pairwise distances, the standard corpus-scale substitution:
    O(n * |labels|) instead of O(n^2)).

    Exactness: components quantized to integer 1/``unit`` units
    before the per-(label, dim) centroid sums (cosine's scale
    invariance cancels 1/n and 1/unit — the centroid_affinity
    contract); per-point dot, point norm and centroid norm are exact
    DECIMAL integers; each point's s is ONE float expression,
    quantized to 1/``s_unit`` before the per-label mean so the mean
    is an integer sum divided once.

    Scale shape: posexplode -> (point, dim) rows; the centroid table
    (|labels| x dim) BROADCASTS onto it (no corpus shuffle), one
    map-side-combined groupBy(point, candidate-label) — the corpus x
    |labels| fan-out every silhouette must pay — then a per-point
    pivot and a per-label rollup. The point norm rides the same
    aggregation (sum qx^2 repeats per candidate), so there is no
    second corpus join. Output: (label, n, n_scored, mean_sil);
    mean_sil NULL when no point could be scored (single label or
    zero vectors)."""
    dec = "decimal(38,0)"
    u = F.lit(float(unit))
    qpt = emb.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__own"),
        F.posexplode(vec_col).alias("__d", "__v"),
    ).select(
        "__id",
        "__own",
        "__d",
        F.floor(F.col("__v").cast("double") * u).cast(dec).alias(
            "__qx"
        ),
    )
    cent = qpt.groupBy(
        F.col("__own").alias("__cand"), "__d"
    ).agg(F.sum("__qx").alias("__s"))
    cnorm = cent.groupBy("__cand").agg(
        F.sum(F.col("__s") * F.col("__s")).alias("__cn")
    )
    pairs = (
        qpt.join(F.broadcast(cent), "__d")
        .groupBy("__id", "__own", "__cand")
        .agg(
            F.sum(F.col("__qx") * F.col("__s")).alias("__dot"),
            F.sum(F.col("__qx") * F.col("__qx")).alias("__pn"),
        )
        .join(F.broadcast(cnorm), "__cand")
    )
    cos = F.col("__dot").cast("double") / (
        F.sqrt(F.col("__pn").cast("double"))
        * F.sqrt(F.col("__cn").cast("double"))
    )
    dist = F.when(
        (F.col("__pn") > 0) & (F.col("__cn") > 0),
        F.lit(1.0) - cos,
    )
    per_pt = pairs.groupBy("__id", "__own").agg(
        F.max(
            F.when(F.col("__cand") == F.col("__own"), dist)
        ).alias("__a"),
        F.min(
            F.when(F.col("__cand") != F.col("__own"), dist)
        ).alias("__b"),
    )
    ab_max = F.greatest(F.col("__a"), F.col("__b"))
    s = F.when(
        F.col("__a").isNotNull() & F.col("__b").isNotNull(),
        F.when(ab_max > 0, (F.col("__b") - F.col("__a")) / ab_max)
        .otherwise(F.lit(0.0)),
    )
    su = F.lit(float(s_unit))
    scored = per_pt.select(
        "__own", F.floor(s * su).cast(dec).alias("__sq")
    )
    out = scored.groupBy(F.col("__own").alias(label_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("__sq").cast("bigint").alias("n_scored"),
        F.sum("__sq").alias("__ssum"),
    )
    return out.select(
        label_col,
        "n",
        "n_scored",
        F.when(
            F.col("n_scored") > 0,
            F.col("__ssum").cast("double")
            / (F.col("n_scored").cast("double") * su),
        ).alias("mean_sil"),
    )


def cronbach_alpha(
    emb: DataFrame,
    id_col: str = "vec_id",
    group_col: str | None = "label",
    vec_col: str = "embedding",
    unit: int = 10**6,
) -> DataFrame:
    """Cronbach's alpha internal-consistency of the embedding
    dimensions per group — the classic reliability readout for a
    feature block (protosc's feature-matrix world): do the k
    dimensions covary as ONE scale (alpha -> 1), or are they
    independent measurements (alpha -> 0, negative when they
    anti-covary)?

        alpha = k/(k-1) * (1 - sum_d var_d / var_total)

    with var_d the per-dimension variance and var_total the variance
    of the per-row dimension SUM. Exactness: components are
    quantized to integer 1/``unit`` units (floor), so per-dimension
    moments (S_d, Q_d), per-row totals t_i and their moments are all
    exact DECIMAL(38,0); the shared variance normalization cancels
    in the ratio, leaving integer V_d = n Q_d - S_d^2 and
    V_tot = n Q_tot - S_tot^2 and ONE float expression — identical
    at any parallelism, replayable by any SQL engine. Exactness
    envelope: n * (dim * unit)^2 * n must stay inside DECIMAL(38) —
    with unit = 1e6 and dim = 64 that is ~1e11 rows per group;
    shrink ``unit`` (or slice finer) beyond that.

    Scale shape: posexplode -> (row, dim) rows, one groupBy(group,
    dim) and one groupBy(group, row) over them (both map-side
    combined), then |groups| x dim and |groups| rows. Output:
    (group?, n, k_items, alpha); alpha NULL when k < 2, n < 2 or
    var_total = 0."""
    dec = "decimal(38,0)"
    u = F.lit(float(unit))
    keys = [group_col] if group_col else []
    q = emb.select(
        *keys,
        F.col(id_col).alias("__id"),
        F.posexplode(vec_col).alias("__d", "__v"),
    ).select(
        *keys,
        "__id",
        "__d",
        F.floor(F.col("__v").cast("double") * u).cast(dec).alias(
            "__qx"
        ),
    ).localCheckpoint(eager=True)  # feeds dim AND row rollups
    per_dim = q.groupBy(*keys, "__d").agg(
        F.sum("__qx").alias("__s"),
        F.sum(F.col("__qx") * F.col("__qx")).alias("__q"),
    )
    per_id = q.groupBy(*keys, "__id").agg(
        F.sum("__qx").alias("__t")
    )
    tot = per_id.groupBy(*keys).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum("__t").alias("__st"),
        F.sum(F.col("__t") * F.col("__t")).alias("__qt"),
    )
    dims = (
        per_dim.join(tot.select(*keys, "__n"), keys or None)
        if keys
        else per_dim.crossJoin(F.broadcast(tot.select("__n")))
    )
    sv = dims.groupBy(*keys).agg(
        F.sum(
            F.col("__n") * F.col("__q") - F.col("__s") * F.col("__s")
        ).alias("__sv"),
        F.count(F.lit(1)).cast("bigint").alias("__k"),
    )
    g = (
        tot.join(sv, keys or None)
        if keys
        else tot.crossJoin(F.broadcast(sv))
    )
    vt = F.col("__n") * F.col("__qt") - F.col("__st") * F.col(
        "__st"
    )
    kd = F.col("__k").cast("double")
    alpha = (kd / (kd - F.lit(1.0))) * (
        F.lit(1.0) - F.col("__sv").cast("double") / vt.cast("double")
    )
    ok = (F.col("__k") >= 2) & (F.col("__n") >= 2) & (vt > 0)
    return g.select(
        *keys,
        F.col("__n").cast("bigint").alias("n"),
        F.col("__k").alias("k_items"),
        F.when(ok, alpha).alias("alpha"),
    )


def hard_negatives(
    emb: DataFrame,
    anchor_pred: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hardest negatives per anchor: the top-k nearest vectors whose
    label DIFFERS from the anchor's — the contrastive-training mining
    step (in-batch random negatives are easy; the informative ones sit
    just across the decision boundary). Filtering happens INSIDE the
    ranking, so a same-label-dense neighborhood can never starve the
    negative list (top-k-then-filter would).

    Exact kernel, same contract as :func:`brute_force_topk`: anchors
    are a bounded set (``anchor_pred``) broadcast against the corpus,
    ties broken by neighbor id. Rows with NULL labels never qualify as
    negatives (label inequality is three-valued), and an anchor with a
    NULL label has no negatives: it is filtered out of the anchor set
    before the broadcast cross join, so it yields no rows. For corpus-as-
    anchors at scale, compose the per-cell kernels instead
    (:func:`knn_graph` with over-fetch + label mask carries the same
    tie rule).

    Output: (query_id, anchor_label, neighbor_id, neighbor_label,
    rank).
    """
    base = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col("unit"),
    )
    anchors = (
        with_unit_vectors(
            emb.where(anchor_pred & F.col(label_col).isNotNull()), vec_col
        )
        .select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("anchor_label"),
            F.col("unit").alias("q_unit"),
        )
    )
    scored = (
        base.crossJoin(F.broadcast(anchors))
        .where(F.col("neighbor_label") != F.col("anchor_label"))
        .select(
            "query_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            F.round(_dot(F.col("q_unit"), F.col("unit")), 6).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            "rank",
        )
    )
