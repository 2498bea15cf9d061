"""Similarity search over embedding columns (``array<float>``).

LLM-data-pipeline extensions (BASELINE.json north star; the reference
has no vector operators — every op here is new surface). The search
ladder, exact to compressed:

* ``knn`` — brute-force cosine top-k for one query vector, a batch of
  one over ``knn_batch``'s scorer: broadcast the query row, score every
  vector with the UDF-free cosine from functions/vectors.py,
  TakeOrderedAndProject. The correctness baseline; at 100 TB it is a
  single linear scan (fast, but reads everything).
* ``nearest_neighbor_per_vector`` — all-pairs top-1 neighbor. O(n²)
  baseline used for oracle-checking the scale paths. It and the rest
  of the exact-neighbor family (``cosine_dup_pairs``,
  ``nearest_neighbor_blocked`` / ``_capped``, ``semantic_prune`` /
  ``_capped``, ``knn_density_outliers``) score every bucket with ONE
  kernel, ``_bucket_cos`` over the fold-exact ``_cos_matrix``; the
  operators differ only in their bucketed frame (query-replication
  blocks, fixed-k or capped centroid buckets) and their reduction
  (top-1, threshold pairs, earliest-survives prune, top-k sum).
* ``ivf_knn`` — the scale path: IVF-style bucketed search. Vectors are
  assigned to their nearest centroid once (a broadcast join against the
  centroid set), and a query probes only the ``n_probe`` closest
  centroids' buckets — the scan shrinks by ~n_centroids/n_probe. With a
  pre-materialized assignment table this is a partition-pruned read.
  Centroids here are taken deterministically from the dataset itself
  (first ``n_centroids`` vec_ids) so the operator — and its SQL oracle —
  are fully reproducible without an ML training step.
* ``project_embeddings`` / ``pq_codes`` / ``ivfpq_knn`` — the
  compressed leg: JL random projection (16 doubles stand in for the
  vector during candidate generation), product-quantization codes
  (m small ints stand in for the vector in storage), and IVF-PQ search
  (coarse probe + code-based asymmetric scoring + exact re-rank of a
  short list) — the shape billion-scale ANN systems actually run.

Ordering for top-k uses the 6-dp-rounded cosine plus vec_id tie-break:
double-precision sums can differ in the last ulp across engines, and
ranking on the rounded value keeps result sets cross-engine deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_example_spark.functions.materialize import materialize

from data_pipeline_example_spark.functions import vectors as V
from data_pipeline_example_spark.sources.tables import read_parquet_pinned


def valid_embeddings(df: DataFrame, col: str = "embedding") -> DataFrame:
    """COMPUTE-valid embedding rows: present, non-empty, and at least
    one nonzero component (a zero-norm vector has no cosine). Every
    geometry operator funnels through this guard — at 100 TB a corpus
    WILL carry encoder-failure rows, and without the guard they either
    crash the vectorized paths (ragged ``np.vstack``) or poison results
    with NaN cosines. The census operators (``embedding_profile``,
    ``embedding_dimension_health``, ``quantize_embeddings``) deliberately
    see the RAW column — they are how the rejects get counted. Dimension
    UNIFORMITY among valid rows is asserted by
    ``embedding_dimension_health``, not here (it needs an aggregate).
    SQL oracle twin: plans/oracles._EMB_VALID (r15 degenerate sweep)."""
    c = F.col(col)
    return df.filter(
        c.isNotNull() & (F.size(c) > 0) & F.exists(c, lambda x: x != 0.0)
    )


def _as_double(df: DataFrame) -> DataFrame:
    return valid_embeddings(df).select(
        "vec_id", V.to_double_array(F.col("embedding")).alias("v")
    )


def _as_float(df: DataFrame) -> DataFrame:
    """Raw float32 vectors — for Arrow-bound paths: half the transfer
    bytes of the double cast, and float→double widening inside NumPy is
    exact, so downstream float64 math is bit-identical to _as_double."""
    return valid_embeddings(df).select("vec_id", F.col("embedding").alias("v"))


def _with_norm(df: DataFrame) -> DataFrame:
    """vec_id, v, nrm — the L2 norm computed ONCE per vector, below any
    join, so an n²-pair scoring stage pays one dot product per pair
    instead of dot + two norms (3× fewer higher-order-function passes;
    the norms ride through the join as plain scalars)."""
    return _as_double(df).select("vec_id", "v", V.norm(F.col("v")).alias("nrm"))


def knn(embeddings: DataFrame, query_id: int = 0, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k neighbors of ``query_id`` (self included).

    BASELINE ONLY — exact single-linear-scan oracle anchor; at corpus
    scale use ``ivf_knn`` (probe-pruned bucketed search, same schema).
    A batch of one over :func:`knn_batch`'s scorer (:func:`_knn_core`),
    cut by a TakeOrdered instead of the per-query window.
    Output: vec_id, cos_sim (6 dp), best first.
    """
    return _knn_core(_as_double(embeddings), [query_id], k).select("vec_id", "cos_sim")


def _knn_core(e: DataFrame, query_ids, k: int) -> DataFrame:
    """THE exact top-k scorer for a query batch over ``e`` (vec_id, v):
    the rows whose vec_id is in ``query_ids`` broadcast as the query
    matrix and every corpus vector scores against all of them in one
    pass. Norms are factored out of the per-(row, query) cosine (r15):
    the row norm is a projection below the join (once per ROW, not per
    query) and each query norm a column of the broadcast build, so
    dot/(nv·nq) is value-identical to cosine() at 64 instead of 192
    mult-adds per pair. Cut by :func:`_top_k` (one query: TakeOrdered).
    Output: query_id, vec_id, cos_sim (6 dp), rank (≤ k per query)."""
    ids = [int(q) for q in query_ids]
    qs = e.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        V.norm(F.col("v")).alias("nq"),
    )
    scored = (
        e.select("vec_id", "v", V.norm(F.col("v")).alias("nv"))
        .crossJoin(F.broadcast(qs))
        .select(
            "query_id",
            "vec_id",
            F.round(
                V.dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq")),
                6,
            ).alias("cos_sim"),
        )
    )
    return _top_k(scored, "cos_sim", k, "rank", len(ids) == 1)


#: query-replication blocks of the exact all-pairs ops
#: (:func:`_block_scored`)
_N_BLOCKS = 16

_NN_SCHEMA = "vec_id long, nn_id long, cos_sim double"


def _bucket_cos(rows, queries=None):
    """THE in-bucket scorer of the exact-neighbor family. ``rows`` (a
    pandas frame with vec_id, v) sorted by vec_id ascending — so a
    first-max argmax picks the lowest id on rounded-cosine ties, the
    oracles' ``ORDER BY cos DESC, id ASC`` — and the :func:`_cos_matrix`
    cosines (6 dp, bit-exact with the oracle's fold) of ``queries``
    (default: the same rows) against them, every self-pair (equal
    vec_id, the oracles' ``a.vec_id != b.vec_id``) masked to -inf.
    Returns ``(rows_sorted, query_ids, row_ids, S)``."""
    import numpy as np

    rows = rows.sort_values("vec_id")
    qs = rows if queries is None else queries
    R = np.vstack(rows["v"].to_numpy()).astype(np.float64)
    Q = R if queries is None else np.vstack(qs["v"].to_numpy()).astype(np.float64)
    q_ids, r_ids = qs["vec_id"].to_numpy(), rows["vec_id"].to_numpy()
    S = _cos_matrix(Q, R)
    S[q_ids[:, None] == r_ids[None, :]] = -np.inf
    return rows, q_ids, r_ids, S


def _top1(q_ids, r_ids, S):
    """Top-1 reduction of a :func:`_bucket_cos` matrix: each query's
    best row (first max = lowest id on ties); a query whose only
    candidate is itself emits no row (the oracles' singleton rule)."""
    import numpy as np
    import pandas as pd

    j = np.argmax(S, axis=1)
    best = S[np.arange(len(q_ids)), j]
    keep = best != -np.inf
    return pd.DataFrame(
        {"vec_id": q_ids[keep], "nn_id": r_ids[j[keep]], "cos_sim": best[keep]}
    )


def _block_scored(embeddings: DataFrame, reduce, schema: str) -> DataFrame:
    """The query-replication block frame of the exact all-pairs ops
    (block nested loop with vectorized NumPy scoring): every valid
    vector is a query in each of the ``_N_BLOCKS`` blocks and a corpus
    row in block ``pmod(vec_id, _N_BLOCKS)``; one ``applyInPandas`` call
    per block scores (queries × block rows) with :func:`_bucket_cos`
    and returns ``reduce(query_ids, row_ids, S)`` rows of ``schema``.
    Arrow transfer is (_N_BLOCKS + 1)·n·d floats; each block's matmul
    is embarrassingly parallel and the O(n²·d) arithmetic runs at BLAS
    speed."""
    import pandas as pd

    e = _as_float(embeddings)
    blocks = F.explode(F.array(*[F.lit(i) for i in range(_N_BLOCKS)]))
    frame = e.select(
        blocks.alias("blk"), F.lit(True).alias("is_query"), "vec_id", "v"
    ).unionByName(
        e.select(
            F.pmod("vec_id", F.lit(_N_BLOCKS)).cast("int").alias("blk"),
            F.lit(False).alias("is_query"),
            "vec_id",
            "v",
        )
    )
    cols = [c.split()[0] for c in schema.split(",")]

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        qs, rs = pdf[pdf["is_query"]], pdf[~pdf["is_query"]]
        if qs.empty or rs.empty:
            return pd.DataFrame({c: [] for c in cols})
        return reduce(*_bucket_cos(rs, qs)[1:])

    return frame.groupBy("blk").applyInPandas(per_block, schema)


def _fixed_buckets(embeddings: DataFrame, n_centroids: int) -> DataFrame:
    """vec_id, v (float), centroid_id — the fixed-k bucketed frame (the
    capped twins use :func:`assign_centroids_capped` instead)."""
    return _as_float(embeddings).join(assign_centroids(embeddings, n_centroids), "vec_id")


def _nn_buckets(bucketed: DataFrame, *keys: str) -> DataFrame:
    """Top-1 neighbor of every vector inside its ``keys`` bucket."""
    return bucketed.groupBy(*keys).applyInPandas(
        lambda pdf: _top1(*_bucket_cos(pdf)[1:]), _NN_SCHEMA
    )


def _prune_buckets(bucketed: DataFrame, threshold: float, *keys: str) -> DataFrame:
    """SemDeDup keep decision inside every ``keys`` bucket: a vector is
    dropped when an EARLIER (lower vec_id) member of its bucket scores
    >= ``threshold`` — the lower triangle of the sorted bucket's matrix,
    rolled up per vector in the same batch, so no pair list is ever
    materialized or shuffled. Output: vec_id, <keys>, keep,
    n_earlier_dups, max_cos (NULL for kept vectors)."""
    import pandas as pd

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        rows, ids, _, S = _bucket_cos(pdf)
        hit = np.tril(S >= threshold, k=-1)  # row j vs earlier cols i<j
        n_dups = hit.sum(axis=1)
        # explicit nullable Float64 with pd.NA for kept vectors — the
        # NULL contract is stated in the dtype, not left to Arrow's
        # NaN→NULL coercion of a float64 ndarray
        masked = np.where(hit, S, -np.inf)
        max_cos = pd.array(masked.max(axis=1, initial=-np.inf), dtype="Float64")
        max_cos[n_dups == 0] = pd.NA
        return pd.DataFrame(
            {
                "vec_id": ids,
                **{key: rows[key].to_numpy() for key in keys},
                "keep": (n_dups == 0).astype("int32"),
                "n_earlier_dups": n_dups.astype("int64"),
                "max_cos": max_cos,
            }
        )

    key_ddl = "".join(f"{k} {bucketed.schema[k].dataType.simpleString()}, " for k in keys)
    return bucketed.groupBy(*keys).applyInPandas(
        prune,
        f"vec_id long, {key_ddl}keep int, n_earlier_dups long, max_cos double",
    )


def nearest_neighbor_per_vector(embeddings: DataFrame) -> DataFrame:
    """For every vector: its top-1 neighbor (excluding itself).

    BASELINE ONLY — all-pairs O(n²·d), the exact anchor the approximate
    paths are checked against; at corpus scale use
    ``nearest_neighbor_blocked`` (fixed-k buckets) or
    ``nearest_neighbor_capped`` (adaptive k + hard bucket cap).

    Output: vec_id, nn_id, cos_sim (6 dp).

    Scored on the query-replication block frame (:func:`_block_scored`):
    per-block top-1 partials (:func:`_top1`) reduce to the global top-1
    with a ``max_by`` hash aggregate with map-side partials — no global
    sort, no window shuffle of n² scored rows. Tie-break (desc cos_sim,
    asc nn_id) is encoded as max over (cos_sim, -nn_id); the rounded
    cosine is what's ranked, keeping the winner cross-engine
    deterministic.
    """
    best = F.max_by(
        F.struct("nn_id", "cos_sim"), F.struct(F.col("cos_sim"), -F.col("nn_id"))
    ).alias("best")
    partials = _block_scored(embeddings, _top1, _NN_SCHEMA)
    return partials.groupBy("vec_id").agg(best).select(
        "vec_id",
        F.col("best.nn_id").alias("nn_id"),
        F.col("best.cos_sim").alias("cos_sim"),
    )


def assign_centroids(
    embeddings: DataFrame, n_centroids: int = 16, keep_sim: bool = False
) -> DataFrame:
    """Assign each vector to its nearest 'centroid' (cosine, tie-break
    lowest centroid id). Centroids = embeddings with vec_id < n_centroids.
    Output: vec_id, centroid_id (+ cos_sim when ``keep_sim``). The
    centroid set is tiny → broadcast.

    Argmax is a ``min(struct(-cos, cid))`` aggregation, not a window
    rank: min-of-struct is partially aggregable, so the one exchange
    carries ONE narrow row per vector (map-side combined) instead of
    the window's corpus × n_centroids rows sorted per vec_id — the
    difference between shuffling the scored cross product and shuffling
    the answer. Lexicographic struct ordering IS the tie-break
    (-cos asc = cos desc, then cid asc), identical to the rank version
    and to every oracle's ``ORDER BY cos DESC, cid ASC ... rn = 1``.
    """
    e = _as_double(embeddings)
    cents = e.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        F.round(V.cosine(F.col("v"), F.col("cv")), 6).alias("cos_sim"),
    )
    best = scored.groupBy("vec_id").agg(
        F.min(
            F.struct(
                (-F.col("cos_sim")).alias("nc"), F.col("centroid_id").alias("cid")
            )
        ).alias("b")
    )
    out = best.select(
        "vec_id",
        F.col("b.cid").alias("centroid_id"),
        (-F.col("b.nc")).alias("cos_sim"),
    )
    cols = ["vec_id", "centroid_id"] + (["cos_sim"] if keep_sim else [])
    return out.select(*cols)


def n_centroids_for(
    n_rows: int, target_bucket: int = 64, max_centroids: int = 65536
) -> int:
    """Adaptive centroid count: enough centroids that the EXPECTED
    bucket holds ``target_bucket`` rows, clamped to [1, max_centroids].
    SemDeDup-style per-bucket O(size²) work then stays constant as the
    corpus grows (k scales with n) instead of growing quadratically at
    a fixed k — the round-3 verdict's one structural scale gap."""
    import math

    return max(1, min(max_centroids, math.ceil(n_rows / max(target_bucket, 1))))


def _cos_matrix(M, C):
    """Rounded (6 dp) cosine of every row of ``M`` against every row of
    ``C``, float64 — BIT-IDENTICAL to the strict left-to-right fold
    with ``dot / (na * nb)`` normalization (the SQL ``aggregate`` fold
    and DuckDB's ``list_cosine_similarity``), at BLAS speed.

    Hybrid verify-the-boundary scheme: the bulk runs as one
    ``M @ C.T`` matmul (re-associated sums — may differ from the fold
    in the last ulp, ~1e-15 relative), then every entry whose value
    lies within 1e-9 of a 0.5e-6 rounding boundary is recomputed with
    the exact fold recipe (``np.cumsum`` left-to-right, the same order
    as ``srp_dup_pairs``'s pair verification). Away from the band, a
    1e-15 perturbation cannot change ``round(x, 6)``, so BLAS and fold
    round identically; inside the band the fold value is used outright.
    Net: rounded output == fold output EXACTLY for every entry (guard
    test compares against a scalar Python fold), knife-edge centroid
    assignments and keep/drop decisions can never flip between engines,
    and the band is ~2e-3 of entries so the recompute cost is noise
    (the all-cumsum variant measured ~10x slower at sf1 — memory-bound
    rank-3 tensor vs a compute-bound matmul).
    """
    import numpy as np

    # norms via cumsum: exactly the fold's left-to-right accumulation
    na = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
    nc = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])
    S = (M @ C.T) / (na[:, None] * nc[None, :])
    R = np.round(S, 6)
    frac = np.abs(np.modf(S * 1e6)[0])
    i, j = np.where(np.abs(frac - 0.5) < 1e-3)
    # cumsum along each row is the same strict left-to-right sum per
    # entry, one vectorized pass over the band instead of a Python loop
    dot = np.cumsum(M[i] * C[j], axis=1)[:, -1]
    R[i, j] = np.round(dot / (na[i] * nc[j]), 6)
    return R


def _fine_to_coarse(C_fine, fine_ids, C_coarse, coarse_ids, kc):
    """The deterministic two-level routing table: each FINE centroid's
    coarse group. Fine centroids that ARE coarse centroids (vec_id <
    kc — the coarse set is a prefix of the fine set under the shared
    vec_id rule) route to THEMSELVES (cosine-to-self is 1.0 up to a
    final-ulp wobble; pinning the identity removes the one knife edge
    that could leave a coarse group empty); the rest route to their
    argmax-cosine coarse centroid, 6-dp rounded, lowest coarse_id on
    ties — the exact rule vectors use, so the SQL oracle replays it
    verbatim. Returns ``{coarse_id: (fine_matrix, fine_ids_asc)}``.
    """
    import numpy as np

    routed = np.empty(len(fine_ids), dtype="int64")
    is_self = fine_ids < kc
    routed[is_self] = fine_ids[is_self]
    rest = ~is_self
    if rest.any():
        S = _cos_matrix(C_fine[rest], C_coarse)
        # coarse_ids ascending → argmax first-max = lowest coarse_id
        routed[rest] = coarse_ids[np.argmax(S, axis=1)]
    groups = {}
    for cid in np.unique(routed):
        m = routed == cid
        # fine_ids is ascending, so each group's id list stays ascending
        groups[int(cid)] = (C_fine[m], fine_ids[m])
    return groups


def _capped_assigner(bc_cents):
    """Build the ``mapInPandas`` assigner for
    :func:`assign_centroids_capped` around a BROADCAST handle holding
    ``(C_coarse, coarse_ids, groups)`` — the two-level routing state.

    Per batch: one (batch × kc) cosine matrix routes every vector to
    its coarse group (argmax, 6-dp rounded, lowest-id ties), then one
    (rows × |group|) matrix per coarse group present in the batch
    picks the fine centroid within that group — ~2·√k cosines per row
    instead of the flat path's k (the r7 verdict's measured quadratic:
    k grows with n pre-clamp, so flat assignment was O(n²/target)).

    The matrices ride a torrent broadcast (deserialized once per
    executor), NOT the task closure: at the documented 65536-centroid
    clamp a closure-captured matrix is a multi-hundred-MB pickle
    shipped with every task — a driver-memory and task-dispatch
    bottleneck at exactly the scale the operator targets. The returned
    function's own pickled payload is a few KB regardless of centroid
    count (asserted by test).
    """
    import pandas as pd

    def assign(batches):
        import numpy as np

        C_coarse, coarse_ids, groups = bc_cents.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            S1 = _cos_matrix(M, C_coarse)
            # coarse_ids ascending by construction → np.argmax's
            # first-max rule = lowest coarse_id on rounded-cosine
            # ties, same as the oracle's ORDER BY cos DESC, id ASC
            routed = coarse_ids[np.argmax(S1, axis=1)]
            cent = np.empty(len(pdf), dtype="int64")
            for cid in np.unique(routed):
                rows = np.where(routed == cid)[0]
                Fm, fids = groups[int(cid)]
                S2 = _cos_matrix(M[rows], Fm)
                cent[rows] = fids[np.argmax(S2, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "centroid_id": cent,
                }
            )

    return assign


def assign_centroids_capped(
    embeddings: DataFrame,
    target_bucket: int = 64,
    cap: int = 96,
) -> DataFrame:
    """Centroid assignment with a HARD per-bucket size bound.

    Two scale fixes over :func:`assign_centroids`:

    * **Adaptive k** — ``n_centroids_for(count, target_bucket)``; the
      corpus row count is one collected scalar (planning-stats-sized,
      the same adaptive idea as AQE), so expected bucket size is
      constant at any corpus scale.
    * **Zero-shuffle, two-level assignment** — the k fine centroids
      (vec_id < k, the same deterministic rule as the fixed-k path)
      are collected once and routed on the driver to kc = ceil(√k)
      COARSE centroids (vec_id < kc — a prefix of the fine set;
      coarse-resident fine centroids route to themselves, the rest to
      their argmax-cosine coarse, 6-dp rounded, lowest-id ties — see
      :func:`_fine_to_coarse`). The coarse matrix plus the per-group
      fine matrices ride ONE torrent **broadcast** (never the task
      closure), and scoring runs inside an Arrow-batched
      ``mapInPandas``: per row, kc coarse cosines pick the group, then
      |group| fine cosines pick the centroid — all with the strict
      left-to-right fold order (:func:`_cos_matrix`), argmax with
      lowest-id tie-break, so every decision matches the SQL oracle
      bit-exactly. **Assignment work per row is kc + |group| ≈ 2·√k
      cosines — sub-linear in n everywhere** (≤ 2·256 at the 65536
      clamp); the r7-measured flat argmax was k = ceil(n/64) cosines
      per row, O(n²·dims/64) total pre-clamp (`knn_density_outliers`
      ×11.6 on ×10 data). Skew caveat: a coarse group can hold more
      than √k fine centroids (routing is data-dependent), so the
      per-row bound is kc + max-group, worst-case kc + k if every fine
      centroid routes to one coarse — the expected cost is √k, the
      hard cap is still ≤ the old flat cost. No n×k row blow-up, no
      per-vector window — the fixed-k path shuffles n·k rows through a
      window; this shuffles nothing.

    Oversized buckets (skewed corpora — many vectors near one centroid)
    are then re-split: ``sub_id = (row_number within bucket − 1) div
    cap`` over a hash-partitioned window, so every (centroid_id,
    sub_id) bucket holds AT MOST ``cap`` rows — a hard bound, not an
    expected one (hash salting) or a best-effort one (recursive
    re-clustering, which preserves more recall but still needs a hard
    fallback; the rank split IS that fallback, kept as the whole
    mechanism because it is deterministic and oracle-expressible).
    Sub-buckets are contiguous vec_id ranges, so the SemDeDup
    earliest-survives order is preserved within each. Buckets at or
    under the cap get sub_id 0 — the split is a no-op until needed.

    Output: vec_id, v (double array), centroid_id, sub_id.
    """
    import math

    import numpy as np

    # planning count over the COMPUTE-VALID rows — k must be derived
    # from the same population the assignment runs on (oracle twin:
    # _CAPPED_SUBBED counts FROM the guarded e)
    n = valid_embeddings(embeddings).count()
    spark = embeddings.sparkSession
    out_schema = "vec_id long, v array<double>, centroid_id long"
    if n == 0:
        return spark.createDataFrame([], out_schema + ", sub_id int")
    k = n_centroids_for(n, target_bucket)
    kc = math.ceil(math.sqrt(k))  # sqrt is correctly-rounded IEEE in
    # both engines, so the oracle's ceil(sqrt(k)) lands on the same kc
    e = _as_double(embeddings)
    cents = e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    C_fine = np.vstack([r["v"] for r in cents]).astype(np.float64)
    fine_ids = np.array([r["vec_id"] for r in cents], dtype="int64")
    is_coarse = fine_ids < kc
    C_coarse = C_fine[is_coarse]
    coarse_ids = fine_ids[is_coarse]
    groups = _fine_to_coarse(C_fine, fine_ids, C_coarse, coarse_ids, kc)
    bc_cents = spark.sparkContext.broadcast((C_coarse, coarse_ids, groups))

    assigned = e.mapInPandas(_capped_assigner(bc_cents), out_schema)
    w = Window.partitionBy("centroid_id").orderBy("vec_id")
    # integer `div`, not double `/`+cast: float division of two longs
    # can misround past 2^53 (same reason length_buckets' cuts path
    # avoids it), and the SQL oracle uses integer `// cap`
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .withColumn("sub_id", F.expr(f"cast((rn - 1) div {cap} as int)"))
        .drop("rn")
    )


def semantic_prune_capped(
    embeddings: DataFrame,
    threshold: float = 0.35,
    target_bucket: int = 64,
    cap: int = 96,
) -> DataFrame:
    """:func:`semantic_prune` with bounded per-bucket work — the 100 TB
    shape. Centroid count adapts to corpus size and every similarity
    matrix is at most cap×cap (see :func:`assign_centroids_capped`), so
    per-task time AND memory are constant in corpus size; total work is
    O(n·(√k + cap)·dims) — the two-level assignment term (≈2√k cosines
    per row, ≤512 at the 65536-centroid clamp) plus the capped
    per-bucket dedup — instead of fixed-k's O(n²/k) bucket blow-up or
    the r7 flat assignment's O(n·k) scoring. Recall tradeoff:
    a near-dup pair straddling two sub-buckets of the same centroid is
    missed (exactly the tradeoff the fixed-k operator already makes
    across centroid buckets, applied one level down).

    Output: vec_id, centroid_id, sub_id, keep, n_earlier_dups, max_cos
    — the fixed-k schema plus the sub-bucket id, so the bound is
    auditable downstream.
    """
    bucketed = assign_centroids_capped(embeddings, target_bucket, cap)
    return _prune_buckets(bucketed, threshold, "centroid_id", "sub_id")


def nearest_neighbor_capped(
    embeddings: DataFrame,
    target_bucket: int = 64,
    cap: int = 96,
) -> DataFrame:
    """:func:`nearest_neighbor_blocked` with adaptive centroid count and
    a hard per-bucket cap (see :func:`assign_centroids_capped`): every
    per-bucket cosine matrix is at most cap×cap, total work
    O(n·(√k + cap)·dims) — two-level assignment plus the capped
    per-bucket scan — at any corpus size. Recall approximate (neighbor must share the
    sub-bucket), precision exact; singleton sub-buckets emit no row,
    matching the SQL oracle. Output: vec_id, nn_id, cos_sim (6 dp).
    """
    bucketed = assign_centroids_capped(embeddings, target_bucket, cap)
    return _nn_buckets(bucketed, "centroid_id", "sub_id")


def cosine_dup_pairs(embeddings: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b).

    All-pairs exact scoring, kept when >= threshold. Output: vec_a,
    vec_b, cos_sim (6 dp). Runs on the query-replication block frame
    of ``nearest_neighbor_per_vector`` (:func:`_block_scored`): each
    unordered pair is scored exactly once — in the corpus-block of its
    higher vec_id — so no dedup pass is needed. Exact recall; for
    approximate-recall candidate pruning at corpus scale see
    ``cosine_dup_pairs_blocked`` (centroid buckets).
    """
    import pandas as pd

    def pairs(q_ids, r_ids, S) -> pd.DataFrame:
        import numpy as np

        qi, ri = np.where((S >= threshold) & (q_ids[:, None] < r_ids[None, :]))
        return pd.DataFrame(
            {"vec_a": q_ids[qi], "vec_b": r_ids[ri], "cos_sim": S[qi, ri]}
        )

    return _block_scored(embeddings, pairs, "vec_a long, vec_b long, cos_sim double")


def cosine_dup_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_centroids: int = 16,
) -> DataFrame:
    """Scale path for embedding near-dup: candidates limited to pairs
    assigned to the same centroid bucket, so the join is an equi-join on
    centroid_id instead of an all-pairs cross product — per-bucket cost
    is (n/k)² and buckets shuffle independently. Recall is approximate
    (a pair straddling two buckets is missed); precision exact. Fixed k
    is the oracle-stable registered shape; at corpus scale derive k with
    :func:`n_centroids_for` (or use the hard-capped assignment of
    :func:`assign_centroids_capped`) so per-bucket work stays bounded.
    """
    e = _with_norm(embeddings)
    assigned = assign_centroids(embeddings, n_centroids)
    # both sides of the block self-join read the normed+assigned frame —
    # materialize once so the corpus is scanned and assigned once, not
    # once per side (PLANS.md scans column: 12 → 0 + 1 construction)
    ea = e.join(assigned, "vec_id").transform(materialize)
    a = ea.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "centroid_id",
    )
    b = ea.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "centroid_id",
    )
    return (
        a.join(b, ["centroid_id"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_prune(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_centroids: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication decision per vector: inside
    each centroid bucket, a vector is DROPPED when any earlier vector
    (lower vec_id, same bucket) is cosine-similar above ``threshold``;
    the earliest member of every near-dup group survives (Abbas et al.,
    SemDeDup — the declarative, non-iterative keep rule).

    One shuffle keyed on centroid_id, then per-bucket BLAS inside
    Arrow-batched ``applyInPandas`` (:func:`_prune_buckets`): each
    bucket's (n/k)² matrix comes from :func:`_cos_matrix`, bit-exact
    with the oracle's sequential fold after 6-dp rounding, so no
    knife-edge keep/drop decision can flip between engines.

    Output: vec_id, centroid_id, keep (1/0 — int for cross-engine hash
    parity), n_earlier_dups, max_cos (max_cos NULL for kept vectors —
    nothing above threshold to report).

    Fixed ``n_centroids`` keeps this entry oracle-stable; the 100 TB
    path is :func:`semantic_prune_capped` — adaptive k + a hard
    per-bucket cap + two-level assignment, total work
    O(n·(√k + cap)·dims) instead of O(n²/k).
    """
    return _prune_buckets(_fixed_buckets(embeddings, n_centroids), threshold, "centroid_id")


def embedding_prototypes(
    embeddings: DataFrame, per_bucket: int = 8, n_centroids: int = 16
) -> DataFrame:
    """Cluster-stratified prototype selection: the ``per_bucket`` most
    central vectors (highest cosine to their assigned centroid) from
    every centroid bucket — the prototypicality ranking data-pruning
    curricula sort by (Sorscher et al.: keep prototypes for small
    budgets, hard examples for large ones; flip the ordering for the
    latter).

    Two window passes, both over naturally small partitions: the
    assignment window groups k rows per vec_id, the ranking window
    ~n/k rows per bucket — at 100 TB swap the ranking window for a
    per-bucket top-m aggregate if buckets grow beyond task memory.
    Output: vec_id, centroid_id, cos_centroid, rank.
    """
    assigned = assign_centroids(embeddings, n_centroids, keep_sim=True)
    w = Window.partitionBy("centroid_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        assigned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_bucket)
        .select(
            "vec_id",
            "centroid_id",
            F.col("cos_sim").alias("cos_centroid"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def nearest_neighbor_blocked(
    embeddings: DataFrame, n_centroids: int = 16
) -> DataFrame:
    """IVF-blocked hybrid NN — the scale-safe all-corpus neighbor search
    promised in ``nearest_neighbor_per_vector``'s docstring: candidates
    come from the centroid assignment (the same index ``ivf_knn`` probes),
    and scoring runs as one BLAS matmul per centroid bucket.

    Per-bucket cost is O((n/k)²·d) instead of the exact baseline's
    O(n²·d); buckets shuffle and compute independently, and no vector is
    replicated (each row is Arrow-transferred exactly once), so the shape
    survives a 100×-corpus scale-up by raising ``n_centroids``. Recall is
    approximate — a vector whose true neighbor lives in another bucket
    gets its best same-bucket neighbor — precision exact. Singleton
    buckets emit no row (no candidate exists), matching the SQL oracle.
    Fixed k is the oracle-stable shape; :func:`nearest_neighbor_capped`
    adds adaptive k + a hard bucket cap for unbounded corpora.

    Output: vec_id, nn_id, cos_sim (6 dp). Tie-break: ranked on the
    6-dp-rounded cosine, lowest nn_id wins (rows sorted asc, first
    argmax), cross-engine deterministic.
    """
    return _nn_buckets(_fixed_buckets(embeddings, n_centroids), "centroid_id")


def _pynorm(vec) -> float:
    """Driver-side L2 norm, BIT-IDENTICAL to ``V.norm``'s expression:
    the same left-to-right ``acc + x·x`` fold over the same doubles
    (IEEE-754 add/mul are correctly rounded and deterministic in both
    runtimes; CPython floats ARE doubles) followed by a correctly-
    rounded sqrt. No decimal rounding is involved anywhere — the
    engine-vs-Python divergence class lives in ``round()``'s
    decimal-string HALF_UP, which norms never touch. Pinned equal to
    the engine on real + adversarial corpora by test."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + x * x
    return math.sqrt(acc)


def _dmat_sql(vecs) -> Column:
    """One parsed SQL literal for a (nested) list of doubles — a vector,
    a matrix, or deeper; ``CAST('<repr>' AS DOUBLE)`` round-trips the
    exact double (None is a NULL double), and a single ``expr()`` parse
    replaces O(rows × dims) py4j literal Columns (the ivf_knn plan-build
    discipline)."""

    def lit(x):
        if isinstance(x, (list, tuple)):
            return "array(" + ",".join(map(lit, x)) + ")"
        return "CAST(NULL AS DOUBLE)" if x is None else f"CAST('{x!r}' AS DOUBLE)"

    return F.expr(lit(vecs))


def _ids_sql(ids) -> Column:
    """Long-array SQL literal (companion of :func:`_dmat_sql`)."""
    return F.expr("array(" + ",".join(f"{int(i)}L" for i in ids) + ")")


def _let(binds: dict, body) -> Column:
    """Lambda-let: evaluate each bind ONCE per row and hand them to
    ``body`` as lambda-variable struct fields. Loop-invariant
    subexpressions (norms, slices) referenced inside higher-order-
    function lambdas are otherwise re-evaluated PER ELEMENT: HOF bodies
    run interpreted (CodegenFallback) with no common-subexpression
    elimination, and CollapseProject inlines single-use projection
    aliases straight into the lambda body — a projection column is NOT
    a safe hoist. A lambda VARIABLE is: the optimizer cannot substitute
    through it, so ``transform`` over a one-element struct array is the
    expression-level `let`. Measured ×1.4–2 on the literal-centroid
    assignment at sf0.1, bit-identical results."""
    s = F.array(F.struct(*[c.alias(k) for k, c in binds.items()]))
    return F.element_at(F.transform(s, body), 1)


def _inline_best(vcol: Column, cent_rows, cent_norms, nv: Column) -> Column:
    """Scan-local nearest-centroid struct over literal centroids — the
    ``assign_centroids`` argmax verbatim (min over (-cos, cid) structs,
    6-dp rounding) as a per-row expression: ZERO exchanges instead of a
    corpus-sized aggregate. ``cent_rows`` must be (cid, vec) pairs
    sorted by cid ascending; ``cent_norms`` their :func:`_pynorm` norms
    (same order); ``nv`` a let-bound column holding ``V.norm(vcol)``.
    The score is ``dot/(nv·nc)`` — value-identical to
    ``cosine = dot/(norm(a)·norm(b))`` (same fold, same grouping, norms
    the same doubles) but the row norm is computed once per ROW instead
    of once per centroid, and the centroid norms are constants.
    Returns the winning struct; read ``.getField("cid")``."""
    cmat = _dmat_sql([cv for _, cv in cent_rows])
    cids = _ids_sql([cid for cid, _ in cent_rows])
    nlits = _dmat_sql(cent_norms)
    idx = F.sequence(F.lit(0), F.lit(len(cent_rows) - 1))
    return F.array_min(
        F.transform(
            idx,
            lambda i: F.struct(
                (
                    -F.round(
                        V.dot(vcol, F.element_at(cmat, i + 1))
                        / (nv * F.element_at(nlits, i + 1)),
                        6,
                    )
                ).alias("nc"),
                F.element_at(cids, i + 1).alias("cid"),
            ),
        )
    )


@dataclass(frozen=True)
class AnnParams:
    """The IVF / IVF-PQ parameters as ONE frozen value. A fetch records
    the object it was built with and every scorer reads it from there,
    so a fetch shared between callers is accepted only when its object
    EQUALS the callee's — every field, so a dims=64 fetch can never
    score a dims=32 call over the wrong slices. ``dims % m`` is checked
    here, once, with a ValueError (an ``assert`` vanishes under
    ``python -O``)."""

    n_centroids: int = 16
    n_probe: int = 4
    m: int = 4
    ks: int = 16
    dims: int = 64
    rerank: int = 64

    def __post_init__(self):
        if self.m <= 0 or self.dims % self.m:
            raise ValueError(f"m={self.m} must divide dims={self.dims}")

    @property
    def sub_len(self) -> int:
        return self.dims // self.m


def _probe_order(scored):
    """(c, cid) pairs in the engine's ``desc(c), asc(cid)`` order: NaN
    first (Spark sorts NaN greatest), then real values descending with
    -0.0 == 0.0, then NULL last — so a zero-norm centroid/query cosine
    is probed only after every real one, and an inf-component vector's
    NaN cosine cannot break the sort's total order. The ONE driver-side
    probe ranking; pinned against ``orderBy`` by test."""

    def key(t):
        c, cid = t
        if c is None:
            return (2, 0.0, cid)
        return (0, 0.0, cid) if c != c else (1, -c, cid)

    return sorted(scored, key=key)


@dataclass(frozen=True)
class _Fetch:
    """What :func:`_fetch` collected, all bounded by the parameters: the
    (id, vector) centroid and codebook rows (ascending id; no codebook
    for an IVF-only fetch), the queries found, and per query the
    engine-rounded probe cosines (``cents`` order) and ADC lookup
    entries (per group, ``cb`` order)."""

    params: AnnParams
    query_ids: tuple
    pq: bool
    n_head: int
    queries: list
    cents: list
    cb: list
    probe: list
    lut: list
    counts: object = None

    @property
    def probed(self):
        """Per query: the ``n_probe`` centroid ids it probes."""
        cids = [c for c, _ in self.cents]
        return [
            [cid for _, cid in _probe_order(zip(s, cids))[: self.params.n_probe]]
            for s in self.probe
        ]

    @property
    def probed_union(self):
        """Every centroid id some query probes, ascending."""
        return sorted({c for ps in self.probed for c in ps})

    def check(self, p: AnnParams, query_ids, pq: bool) -> None:
        """Reject a shared fetch built for other parameters or queries."""
        mismatch = self.params != p or self.query_ids != tuple(query_ids)
        if mismatch or (pq and not self.pq):
            raise ValueError(
                f"shared fetch built with {self.params}, queries "
                f"{self.query_ids}, pq={self.pq} does not match callee {p}, "
                f"queries {tuple(query_ids)}, pq={pq}"
            )


def _fetch(src, p, query_ids=(), query_vecs=(), pq=True, counts=()) -> _Fetch:
    """ONE bounded construct job for every IVF / IVF-PQ path: collect the
    head rows of ``src`` — a (vec_id, v) frame that is either the corpus
    (queries are its rows, named by ``query_ids``) or a written index's
    centroids file (queries are the literal ``query_vecs``) — then score
    probe cosines and the ADC lookup table with the ENGINE's own
    ``round(cosine(...), 6)`` over exact ``CAST('<repr>' AS DOUBLE)``
    literals, in a projection over a one-row VALUES relation. Spark
    folds that projection into a LocalRelation on the driver, so the
    scoring fires NO job and needs no broadcast join, and the values
    are the ones an in-plan computation produces.

    ``counts``: extra aggregate columns (filtered_ivf_knn's selectivity
    counts) — the head rows then ride the same aggregate as a bounded
    collect_list, so construct still scans the corpus exactly once."""
    ids = tuple(int(i) for i in query_ids)
    pred = F.col("vec_id") < (max(p.n_centroids, p.ks) if pq else p.n_centroids)
    if ids:
        pred = pred | F.col("vec_id").isin(list(ids))
    if counts:
        row = src.agg(
            F.collect_list(F.when(pred, F.struct("vec_id", "v"))).alias("_h"),
            *counts,
        ).collect()[0]
        rows = row["_h"]
    else:
        row, rows = None, src.filter(pred).collect()
    head = {int(r["vec_id"]): [float(x) for x in r["v"]] for r in rows}
    queries = [(q, head[q]) for q in ids if q in head] + [
        (int(q), [float(x) for x in v]) for q, v in query_vecs
    ]
    cents = [(c, head[c]) for c in sorted(head) if c < p.n_centroids]
    cb = [(c, head[c]) for c in sorted(head) if c < p.ks] if pq else []
    probe, lut = [], []
    if queries and cents:
        qmat = _dmat_sql([v for _, v in queries])
        cmat = _dmat_sql([v for _, v in cents])
        cbmat = _dmat_sql([v for _, v in cb])
        n = p.sub_len

        def sl(a, g):
            return F.slice(a, g * n + 1, F.lit(n))

        cols = [
            F.transform(
                qmat, lambda q: F.transform(cmat, lambda c: F.round(V.cosine(c, q), 6))
            ).alias("probe")
        ]
        if cb:
            cols.append(
                F.transform(
                    qmat,
                    lambda q: F.transform(
                        F.sequence(F.lit(0), F.lit(p.m - 1)),
                        lambda g: F.transform(
                            cbmat, lambda c: F.round(V.cosine(sl(c, g), sl(q, g)), 6)
                        ),
                    ),
                ).alias("lut")
            )
        one_row = src.sparkSession.sql("SELECT * FROM VALUES (0) AS t(_)")
        scored = one_row.select(*cols).collect()[0]
        probe = [list(s) for s in scored["probe"]]
        lut = [[list(c) for c in g] for g in scored["lut"]] if cb else []
    return _Fetch(p, ids, pq, len(head), queries, cents, cb, probe, lut, row)


def _encoded(e: DataFrame, f: _Fetch, codes: bool = True, only=None) -> DataFrame:
    """``e`` plus THE scan-local IVF(-PQ) encoding of its column ``v``:
    nv (row norm), cid (nearest centroid — the ``assign_centroids``
    argmax verbatim, via :func:`_inline_best`) and code_0..code_{m-1}
    (per group the nearest codebook slice: min over (-cos, codebook
    vec_id) structs — the ``pq_codes`` tie-break; codes are codebook
    vec_ids, the stored index layout). All over literal centroid/
    codebook matrices, so encoding is a per-row expression with ZERO
    exchanges. Row norm, cid, slices and slice norms are let-bound (once
    per row, not once per centroid/codebook entry — see :func:`_let`);
    centroid/codebook norms are :func:`_pynorm` literals, so dot/(n·n)
    is value-identical to ``cosine()``.

    ``only``: centroid ids whose rows need codes — a serving scan codes
    just the rows some query probes (NULL codes elsewhere; the CASE
    branch is not evaluated), the rest pay only the assignment. Used by
    the corpus serving scans, ``write_ann_index`` and ``update_ann_index``."""
    n, cents, cb = f.params.sub_len, f.cents, f.cb
    groups = range(f.params.m) if codes else range(0)
    if not cents or (codes and not cb):
        # no head rows to encode against: no row can be encoded (an
        # empty frame with the same columns — e.g. an EMPTY index)
        names = ["cid"] + [f"code_{g}" for g in groups]
        return e.select(
            *e.columns,
            F.lit(None).cast("double").alias("nv"),
            *[F.lit(None).cast("long").alias(c) for c in names],
        ).limit(0)
    cent_norms = [_pynorm(v) for _, v in cents]
    cb_ids = _ids_sql([c for c, _ in cb])
    cidx = F.sequence(F.lit(0), F.lit(len(cb) - 1))

    def code(s, g):
        cbmat = _dmat_sql([v[g * n : (g + 1) * n] for _, v in cb])
        cbn = _dmat_sql([_pynorm(v[g * n : (g + 1) * n]) for _, v in cb])
        return F.array_min(
            F.transform(
                cidx,
                lambda i: F.struct(
                    (
                        -F.round(
                            V.dot(s[f"sl_{g}"], F.element_at(cbmat, i + 1))
                            / (s[f"nsl_{g}"] * F.element_at(cbn, i + 1)),
                            6,
                        )
                    ).alias("nc"),
                    F.element_at(cb_ids, i + 1).alias("cid"),
                ),
            )
        ).getField("cid")

    def pq(v):
        sl = {f"sl_{g}": F.slice(v, g * n + 1, n) for g in groups}
        return _let(
            sl,
            lambda s1: _let(
                {k: s1[k] for k in sl}
                | {f"nsl_{g}": V.norm(s1[f"sl_{g}"]) for g in groups},
                lambda s2: F.struct(*[code(s2, g).alias(f"code_{g}") for g in groups]),
            ),
        )

    def body(s):
        fields = [s["nv"].alias("nv"), s["cid"].alias("cid")]
        if groups:
            c = pq(s["v"])
            if only is not None:
                c = F.when(F.array_contains(_ids_sql(only or [-1]), s["cid"]), c)
            fields.append(c.alias("codes"))
        return F.struct(*fields)

    enc = _let(
        {"v": F.col("v"), "nv": V.norm(F.col("v"))},
        lambda s: _let(
            {
                "v": s["v"],
                "nv": s["nv"],
                "cid": _inline_best(s["v"], cents, cent_norms, s["nv"]).getField("cid"),
            },
            body,
        ),
    )
    # the struct is read field by field; referenced more than once, it is
    # not collapsed into its readers, so each row is encoded once
    return e.withColumn("_enc", enc).select(
        *e.columns,
        F.col("_enc.nv").alias("nv"),
        F.col("_enc.cid").alias("cid"),
        *[F.col(f"_enc.codes.code_{g}").alias(f"code_{g}") for g in groups],
    )


def _fan_out(cand: DataFrame, f: _Fetch, *cols: str) -> DataFrame:
    """``cols`` of every candidate row once per query whose probe set
    holds its bucket ``cid``, with the query's position ``qp`` and its
    ``query_id``: rows probed by nobody drop out, so ONE scan serves the
    whole batch and a solo query is a batch of one. (Rejected in r13:
    exploding the FULL query range before pruning — 16.4 s at sf1.)"""
    lists = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{c}L" for c in ps) + ")"
            if ps
            else "array(CAST(-1 AS BIGINT))"
            for ps in f.probed
        )
        + ")"
    )
    qps = F.filter(
        F.sequence(F.lit(0), F.lit(len(f.queries) - 1)),
        lambda qp: F.array_contains(F.element_at(lists, qp + 1), F.col("cid")),
    )
    return cand.select(*cols, F.explode(qps).alias("qp")).withColumn(
        "query_id", F.element_at(_ids_sql([q for q, _ in f.queries]), F.col("qp") + 1)
    )


def _top_k(df: DataFrame, score: str, n: int, name: str, one: bool) -> DataFrame:
    """Per-query top ``n`` by (score DESC, vec_id ASC) as ``name``: the
    ``row_number() <= n`` window compiles to WindowGroupLimit, so map
    tasks pre-trim before the one exchange (O(n × queries × tasks)
    rows, corpus-independent — the ``knn_batch`` discipline). For
    ``one`` query the cut is a TakeOrdered instead — a bounded heap per
    task and no separate shuffle job; the rows and ranks are the same."""
    order = (F.desc(score), F.asc("vec_id"))
    if one:
        return df.orderBy(*order).limit(n).withColumn(
            name, F.row_number().over(Window.orderBy(*order))
        )
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn(name, F.row_number().over(w)).filter(F.col(name) <= n)


def _ivf_core(e: DataFrame, f: _Fetch, k: int, pred: Column | None = None):
    """THE IVF probe-and-score scan for a query batch: one pass over
    ``e`` (vec_id, v, extra columns kept in the output), restricted by
    the optional scan ``pred`` BEFORE any cosine is computed, encoded
    inline, fanned out to the probing queries and scored as dot/(nv·nq)
    (value-identical to ``cosine()``; query norms are literals).
    Output: query_id, vec_id, <extra>, cos_sim (6 dp), rank (≤ k)."""
    extra = [c for c in e.columns if c not in ("vec_id", "v")]
    if not f.queries or not f.cents:
        return e.select(
            F.col("vec_id").cast("long").alias("query_id"),
            "vec_id",
            *extra,
            F.lit(0.0).alias("cos_sim"),
            F.lit(1).alias("rank"),
        ).limit(0)
    qp = F.col("qp") + 1
    qmat = _dmat_sql([v for _, v in f.queries])
    qnorms = _dmat_sql([_pynorm(v) for _, v in f.queries])
    cand = _encoded(e if pred is None else e.filter(pred), f, codes=False)
    scored = _fan_out(cand, f, "vec_id", "v", *extra, "nv").select(
        "query_id",
        "vec_id",
        *extra,
        F.round(
            V.dot(F.col("v"), F.element_at(qmat, qp))
            / (F.col("nv") * F.element_at(qnorms, qp)),
            6,
        ).alias("cos_sim"),
    )
    return _top_k(scored, "cos_sim", k, "rank", len(f.queries) == 1)


_PQ_SCHEMA = "query_id long, vec_id long, approx_sim double, cos_sim double, rank int"


def _ivfpq_core(cand: DataFrame, f: _Fetch, k: int) -> DataFrame:
    """THE IVF-PQ scorer for a query batch over ``cand`` — (vec_id, v,
    cid, code_0..code_{m-1}) rows from either the corpus scan with
    inline encoding or a written index's probed partitions: fan out to
    the probing queries, ADC = the m per-group LUT cosines summed in
    group order and re-rounded to 6 dp (a per-row literal lookup), a
    per-query ``rerank`` shortlist, then exact cosine against the query
    for the final per-query top-k. Output: query_id, vec_id,
    approx_sim, cos_sim, rank (≤ k per query, by exact cosine)."""
    p, one = f.params, len(f.queries) == 1
    if not f.queries or not f.cents or not f.cb:
        return cand.sparkSession.createDataFrame([], _PQ_SCHEMA)
    # a zero-norm codebook/query SUB-slice gives a NULL cosine that the
    # oracle's SUM() would skip; the literal lookup cannot, so it fails
    # loudly. Corpus ROWS with a zero-norm sub-slice remain a documented-
    # unsupported input class (the inline argmin folds their NULL
    # sub-scores first), never produced by the engine's writers.
    if any(c is None or c != c for q in f.lut for g in q for c in g):
        raise ValueError(
            "NULL/NaN ADC lookup entry (zero-norm codebook/query "
            "sub-vector) — unsupported by the inline-LUT serving path"
        )
    # per query, per group: a ks-long literal indexed by code + 1 (codes
    # ARE codebook vec_ids; ids absent from the codebook stay NULL)
    cb_ids = [c for c, _ in f.cb]
    luts = [
        [[dict(zip(cb_ids, r)).get(i) for i in range(p.ks)] for r in q] for q in f.lut
    ]
    qlut = F.element_at(_dmat_sql(luts), F.col("qp") + 1)
    terms = [
        F.element_at(F.element_at(qlut, g + 1), (F.col(f"code_{g}") + 1).cast("int"))
        for g in range(p.m)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    codes = [f"code_{g}" for g in range(p.m)]
    scored = _fan_out(cand, f, "vec_id", "v", *codes).select(
        "query_id", "vec_id", "v", "qp", F.round(adc, 6).alias("approx_sim")
    )
    qv = F.element_at(_dmat_sql([v for _, v in f.queries]), F.col("qp") + 1)
    return _top_k(
        _top_k(scored, "approx_sim", p.rerank, "rn", one).select(
            "query_id",
            "vec_id",
            "approx_sim",
            F.round(V.cosine(F.col("v"), qv), 6).alias("cos_sim"),
        ),
        "cos_sim",
        k,
        "rank",
        one,
    )


def ivf_knn(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: probe only the n_probe buckets whose
    centroids are closest to the query. Output: vec_id, cos_sim (6 dp).

    A batch of one over :func:`_ivf_core` (row-identical to its
    :func:`ivf_knn_batch` slice, pinned by test): ONE corpus scan with
    inline assignment over literal centroids and a scan-local probe
    membership test. Construct runs one bounded job, the
    (n_centroids + 1)-row head fetch (:func:`_fetch`); callers that
    need a fully lazy plan serve from a written index
    (``ivfpq_knn_index_batch``).
    """
    e = _as_double(embeddings)
    f = _fetch(e, AnnParams(n_centroids, n_probe), [query_id], pq=False)
    # a batch of one in its solo shape: rank order, no query_id
    return _ivf_core(e, f, k).orderBy("rank").limit(k).select("vec_id", "cos_sim")


def embedding_centroids(embeddings: DataFrame, k: int = 8) -> DataFrame:
    """Per-bucket centroid statistics over the embedding column — the
    aggregate-a-vector-column pattern (mean vector per group), expressed
    as posexplode → per-component avg → recompose. Component averages
    are rounded to 6 dp before the norm so cross-engine float-sum order
    can't flip the result. Shuffles carry (bucket, pos, partial-sum)
    triples, never whole vectors. Output: bucket, n_vecs, centroid_norm.
    """
    ex = _as_double(embeddings).select(
        (F.col("vec_id") % k).alias("bucket"),
        F.posexplode("v").alias("pos", "val"),
    )
    comp = ex.groupBy("bucket", "pos").agg(F.round(F.avg("val"), 6).alias("m"))
    norms = comp.groupBy("bucket").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm")
    )
    counts = (
        _as_double(embeddings)
        .groupBy((F.col("vec_id") % k).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    return (
        counts.join(norms, "bucket")
        .select("bucket", "n_vecs", "centroid_norm")
        .orderBy("bucket")
    )


def embedding_profile(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding-space profile: vector count and L2-norm
    distribution (mean/min/max) for every label — the drift monitor a
    production embedding pipeline runs per batch (collapsed norms flag
    a dead encoder; a drifting mean flags distribution shift).

    Norms are computed once in a projection (`_with_norm`), then it is
    one |labels|-group aggregation — map-side combinable, the vectors
    themselves never shuffle. Output: label, n_vectors, avg_norm,
    min_norm, max_norm.
    """
    e = embeddings.select(
        "label", V.norm(V.to_double_array(F.col("embedding"))).alias("nrm")
    )
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization summary — the storage-side
    companion of similarity search: at corpus scale embeddings ship and
    sit quantized (4× smaller than float32, 8× than float64), and this
    operator computes the quantization deterministically in pure column
    expressions (no UDF, single scan, no shuffle).

    scale = round(127 / max|v_i|, 6) (rounded BEFORE use so both engines
    multiply by the identical double); q_i = floor(v_i·scale + 0.5) —
    explicit round-half-up, portable across engines unlike bankers'
    rounding. The query returns the audit row (scale + quantized
    sum/min/max), not the byte arrays, so the result is fixed-width;
    zero vectors quantize to all-zero with scale 0. Output: vec_id,
    scale, q_sum, q_min, q_max.
    """
    # CENSUS semantics: every row is summarized, degenerates included
    # (NULL vector → NULL q_*, empty vector → scale 0 / q_sum 0), so
    # this reads the RAW column, not the valid_embeddings funnel
    e = embeddings.select(
        "vec_id", V.to_double_array(F.col("embedding")).alias("v")
    )
    max_abs = F.array_max(F.transform("v", lambda x: F.abs(x)))
    # scale materialized in a lower projection so the transform below
    # references the bound column, not a duplicated max/divide subtree
    base = e.select(
        "vec_id",
        "v",
        F.when(max_abs > 0, F.round(F.lit(127.0) / max_abs, 6))
        .otherwise(F.lit(0.0))
        .alias("scale"),
    )
    withq = base.select(
        "vec_id",
        "scale",
        F.transform(
            "v", lambda x: F.floor(x * F.col("scale") + 0.5).cast("long")
        ).alias("q"),
    )
    return withq.select(
        "vec_id",
        "scale",
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


def kmeans_embeddings(
    embeddings: DataFrame, k: int = 8, iterations: int = 5
) -> DataFrame:
    """K-means over the embedding column with pure DataFrame ops — the
    iterative-refinement workload class (like the connected-components
    operator, driver-side loop over distributed steps; no MLlib, no
    UDFs in the assignment step).

    Initialization is deterministic (the k lowest vec_ids seed the
    centroids). Each iteration: (a) assign — crossJoin against the
    broadcast centroid table, squared-L2 via ``F.aggregate(zip_with)``,
    argmin with one ``min_by``; (b) update — per-cluster component
    means via posexplode (shuffles carry (cluster, pos, sum) scalars,
    never vectors). The k-row centroid checkpoint truncates each
    iteration's lineage. Not SQL-expressible in one query → rows-only check; the
    unit test asserts inertia is monotonically non-increasing.
    Output: cluster, n_vecs, inertia (2 dp).
    """
    vecs = _as_double(embeddings).transform(materialize)
    centroids = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("cluster"),
            F.col("v").alias("c"),
        )
        .transform(materialize)
    )
    # 6-dp rounding on BOTH the distance and the updated component
    # means makes every iteration's argmin/average engine-deterministic
    # — the contract that lets the DuckDB oracle replay the whole
    # refinement as an unrolled CTE chain (this op used to be the
    # rows-only entry; the rounding is what upgraded it to hash-exact)
    sqdist = F.round(
        F.aggregate(
            F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    # per-iteration job shape (r15): the ASSIGNMENT frame stays lazy —
    # the k-row centroid checkpoint already truncates lineage, so each
    # round's assignment computes INSIDE the next centroid update's
    # blocking job (one job per round, not two, and no corpus-sized
    # assigned blocks written per round). The LAST round's centroid
    # update is skipped outright: nothing reads it (the old form paid a
    # full posexplode aggregate job whose result was dropped). Blocking
    # jobs: 2 + (iterations − 1), was 2 + 2·iterations.
    assigned = None
    for it in range(iterations):
        scored = vecs.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "v", "cluster", sqdist.alias("d2")
        )
        assigned = (
            scored.groupBy("vec_id")
            .agg(
                F.min_by("cluster", F.struct("d2", "cluster")).alias("cluster"),
                F.min("d2").alias("d2"),
            )
            .join(vecs, "vec_id")
        )
        if it == iterations - 1:
            break
        comp = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
        )
        centroids = (
            comp.groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cluster",
                F.expr("transform(pm, x -> x.m)").alias("c"),
            )
            .transform(materialize)
        )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("d2"), 2).alias("inertia"),
        )
        .orderBy("cluster")
    )


def _srp_signs(n_bits: int, dims: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix for signed random projections.

    Component (j, i) is +1 when the first hex digit of md5("j:i") is
    < 8, else −1 — a Rademacher vector family derived from a public
    hash, so the same hyperplanes are reproducible in any engine (the
    oracle embeds the identical literals) without shipping an RNG seed
    or a trained artifact.
    """
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) < 8 else -1.0
            for i in range(dims)
        ]
        for j in range(n_bits)
    ]


def srp_signature_expr(
    vec_col: str = "embedding", n_bits: int = 16, dims: int = 64
) -> str:
    """SQL expression string computing the full ``n_bits``-bit SRP
    signature of a vector column as ONE bigint — the property that makes
    hyperplane LSH the streaming-ingest dedup key: the hyperplanes are
    fixed (md5-derived, the same family ``srp_dup_pairs`` banks on), so
    the signature is a pure per-row expression with NO corpus statistics,
    no fitted centroids, and no state — it can be computed on a
    micro-batch row the moment it arrives, or precomputed once and
    stored beside the corpus as an 8-byte column.

    Identical vectors and near-parallel vectors (within ~1/2^bits of the
    angular space) share the signature; ``streaming/curation.py`` keys
    ``dropDuplicatesWithinWatermark`` on it for bounded-state embedding
    near-dup admission.

    Bit j is ``shiftleft(cast(bit as bigint), j)``, OR-ed together, so
    the expression is a bigint for every ``n_bits`` from 1 to 64 (bit
    63 is the two's-complement sign bit, the numpy int64 packing).
    """
    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits must be in [1, 64], got {n_bits}")
    signs = _srp_signs(n_bits, dims)
    terms = []
    for j in range(n_bits):
        arr = ", ".join(f"{s:.1f}D" for s in signs[j])
        bit = (
            f"round(aggregate(zip_with(cast({vec_col} as array<double>), "
            f"array({arr}), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x), 6) >= 0"
        )
        terms.append(f"shiftleft(cast({bit} as bigint), {j})")
    return "(" + " | ".join(terms) + ")"


def srp_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_bits: int | None = None,
    bands: int = 4,
    dims: int = 64,
) -> DataFrame:
    """Signed-random-projection (hyperplane) LSH near-dup pairs — the
    data-INDEPENDENT bucketed scale path for embedding dedup.

    Charikar SRP: bit j of a vector's signature is the sign of its dot
    product with a fixed ±1 hyperplane; P[bits agree] = 1 − θ/π for
    angle θ. Signatures are banded (``bands`` bands of n_bits/bands
    bits); pairs colliding in ≥1 band are candidates, verified with the
    exact cosine and kept at >= ``threshold``. Output: vec_a, vec_b,
    cos_sim (6 dp) — same schema as ``cosine_dup_pairs``, a subset of
    its rows (recall at cos 0.35 with 4×4-bit bands is ~0.5 by the
    closed form 1−(1−p⁴)⁴, p = 1−θ/π; raise bands for recall, bits per
    band for candidate precision).

    vs ``cosine_dup_pairs_blocked`` (centroid buckets): SRP needs no
    stats of the corpus — no centroid pass, no assignment join — so a
    signature is a pure per-row expression. That makes it the variant
    that drops into a STREAMING ingest (sign bits computed per
    micro-batch row with zero state) and lets signatures be precomputed
    once and stored as a 64-bit column beside the corpus. Candidates
    meet only inside (band, bucket) partitions. Banded first-match
    emission (a pair counts only in the first band where it collides)
    keeps each pair single-sourced with no dedup shuffle — same trick
    as ``minhash_lsh_pairs``/``simhash_pairs``.

    Plan: a single Arrow pipeline — signatures computed batch-wise,
    then ONE hash shuffle on (band, bucket) and an ``applyInPandas``
    that enumerates same-bucket pairs, applies the first-match band
    mask, and verifies with row-wise dots in the same task. Every sum is
    taken with ``np.cumsum`` (strict left-to-right float64, the same
    order as the SQL oracle's ``aggregate`` fold and DuckDB's list
    fold; no pairwise/BLAS re-association anywhere near a rounding
    boundary), so a knife-edge signature bit or cosine can't flip
    between engines. The shuffle carries each vector ``bands`` times
    (fixed-size replicas), and per-task memory is bounded by the
    largest (band, bucket) group, the usual bucketed-BLAS tradeoff (a
    hot bucket means too few bits per band).

    ``n_bits=None`` (default) derives the signature length from the
    corpus: bits per band = max(4, ceil(log2(n / 64))), so the bucket
    count grows WITH the corpus and expected bucket occupancy stays
    ~constant (~64). With fixed bits, occupancy is n/2^bits and the
    candidate set grows as n² — measured as a 45× wall-clock blow-up on
    a 10× corpus before this; adaptive sizing brings the same step to
    ~linear. The SQL oracle replicates the
    same width formula (scalar-subquery nb selecting among unrolled
    banding branches — `plans.oracles._srp_oracle_adaptive`), so the
    hash contract holds at EVERY corpus size, not only at the ≤500-row
    floor where nb = 4. The recall/bits tradeoff is the
    usual banded-LSH one (more bits per band → fewer false candidates,
    lower recall per band — raise ``bands`` to recover recall at scale).
    """
    if n_bits is None:
        import math

        # one planning-stats scalar, counted over the compute-valid rows
        # like the SQL twin
        n = valid_embeddings(embeddings).count()
        nb = max(4, math.ceil(math.log2(max(n, 1) / 64)) if n > 64 else 4)
        n_bits = nb * bands
    nb_per_band = n_bits // bands
    if nb_per_band * bands != n_bits:
        raise ValueError(f"bands must divide n_bits: {bands} does not divide {n_bits}")

    import numpy as np
    import pandas as pd

    H = np.array(_srp_signs(n_bits, dims), dtype=np.float64)  # (n_bits, dims)
    ef = _as_float(embeddings)
    bucket_cols = ", ".join(f"bucket{b} int" for b in range(bands))
    sig_schema = f"vec_id long, v array<float>, {bucket_cols}"

    def sig_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            # (rows × n_bits × dims) elementwise product, summed
            # LEFT-TO-RIGHT via cumsum → identical to the fold
            prod = M[:, None, :] * H[None, :, :]
            dots = np.round(np.cumsum(prod, axis=2)[:, :, -1], 6)
            bits_m = dots >= 0  # -0.0 >= 0 is True, as in SQL
            out = {"vec_id": pdf["vec_id"], "v": pdf["v"]}
            for b in range(bands):
                val = np.zeros(len(pdf), dtype="int32")
                for j in range(nb_per_band):
                    val += bits_m[:, b * nb_per_band + j].astype("int32") << j
                out[f"bucket{b}"] = val
            yield pd.DataFrame(out)

    sig = ef.mapInPandas(sig_batches, sig_schema)
    band_structs = ", ".join(
        f"struct({b} AS band, bucket{b} AS bucket)" for b in range(bands)
    )
    banded = sig.selectExpr(
        "vec_id",
        "v",
        *[f"bucket{b}" for b in range(bands)],
        f"explode(array({band_structs})) AS bb",
    ).selectExpr(
        "vec_id",
        "v",
        *[f"bucket{b}" for b in range(bands)],
        "bb.band AS band",
        "bb.bucket AS bucket",
    )

    def pair_verify(key, pdf):
        band = key[0]
        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []})
        m = len(pdf)
        if m < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        ai, bi = np.triu_indices(m, k=1)  # ids sorted → vec_a < vec_b
        # first-match emission: candidate counted in THIS band only
        # if every earlier band's buckets differ
        ok = np.ones(len(ai), dtype=bool)
        for k in range(band):
            bk = pdf[f"bucket{k}"].to_numpy()
            ok &= bk[ai] != bk[bi]
        ai, bi = ai[ok], bi[ok]
        if not len(ai):
            return empty
        M = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        A, B = M[ai], M[bi]
        dot = np.cumsum(A * B, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
        cos = np.round(dot / (na * nb), 6)
        keep = cos >= threshold
        return pd.DataFrame(
            {"vec_a": ids[ai[keep]], "vec_b": ids[bi[keep]], "cos_sim": cos[keep]}
        )

    return banded.groupBy("band", "bucket").applyInPandas(
        pair_verify, "vec_a long, vec_b long, cos_sim double"
    )


def project_embeddings(
    embeddings: DataFrame, out_dims: int = 16, dims: int = 64
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: compress ``dims``-dim
    embeddings to ``out_dims`` components with the SAME deterministic
    md5-derived Rademacher hyperplane family ``srp_dup_pairs`` banks on
    (``_srp_signs``) — component j is ``round(dot(v, h_j) / sqrt(out_dims),
    6)``, i.e. the SRP bit j is exactly ``sign(p_j)``.  Pairwise distances
    are preserved to within ~1/sqrt(out_dims) (JL lemma), which is what a
    100 TB similarity pipeline stores and shuffles: 16 doubles instead of
    64 floats per vector for candidate generation, with exact re-ranking
    against the full vectors only for the survivors.

    Pure column expressions (zip_with + sequential aggregate fold, the
    oracle-stable order), zero shuffle, single scan, no UDF — the plan is
    one Project over the parquet scan, so it scales with the scan.  The
    hyperplanes are literals baked into the plan (out_dims x dims signs),
    not a fitted artifact: no driver state, no broadcast, reproducible in
    any engine.  Output: vec_id, p00..p{out_dims-1} (doubles, 6 dp).

    The reference has no vector ops; this extends its surface per
    BASELINE.json (dim-reduction leg of the similarity-search story).
    """
    import math

    signs = _srp_signs(out_dims, dims)
    inv = 1.0 / math.sqrt(out_dims)
    e = _as_double(embeddings)
    cols = [
        F.round(
            V.dot(F.col("v"), F.array(*[F.lit(s) for s in signs[j]])) * F.lit(inv),
            6,
        ).alias(f"p{j:02d}")
        for j in range(out_dims)
    ]
    return e.select("vec_id", *cols)


def pq_codes(
    embeddings: DataFrame,
    m: int = 4,
    ks: int = 16,
    dims: int = 64,
) -> DataFrame:
    """Product-quantization codes: split each vector into ``m`` contiguous
    subspaces of ``dims // m`` components and snap every sub-vector to its
    nearest sub-centroid (cosine, tie-break lowest centroid id, 6-dp
    rounding — the repo-wide oracle contract).  Sub-centroids are the
    matching slices of the vectors with ``vec_id < ks`` — the same
    deterministic data-derived scheme every centroid op here uses, so the
    codebook needs no training artifact and the DuckDB oracle can rebuild
    it in pure SQL.

    Storage story at 100 TB: m codes of ceil(log2 ks) bits replace the
    full vector (4 bytes/vector at m=4, ks=16 vs 256 for float32x64 — a
    64x compression), and asymmetric-distance kNN scans codes instead of
    vectors.  Plan shape: the codebook frame is m*ks rows -> broadcast
    hash join against the posexploded sub-vectors (m narrow rows per
    input row, no shuffle to produce), then ONE map-side-combined hash
    aggregation re-assembles the m codes per vec_id — min over a
    (-cos, cid) struct is partially aggregable, so the only exchange
    carries one narrow row per vector.  Zero-norm sub-vectors yield NULL
    cosine and fall out of min(); synthetic corpora don't produce them
    (documented, matching cosine_dup_pairs' contract).

    Output: vec_id, code_0..code_{m-1} (long).
    """
    sub_len = AnnParams(m=m, ks=ks, dims=dims).sub_len
    e = _as_double(embeddings)
    slices = F.array(*[F.slice("v", g * sub_len + 1, sub_len) for g in range(m)])
    parts = e.select("vec_id", F.posexplode(slices).alias("g", "sv"))
    cparts = e.filter(F.col("vec_id") < ks).select(
        F.col("vec_id").alias("cid"), F.posexplode(slices).alias("g", "cv")
    )
    scored = parts.join(F.broadcast(cparts), "g").select(
        "vec_id",
        "g",
        "cid",
        F.round(V.cosine(F.col("sv"), F.col("cv")), 6).alias("cos"),
    )
    # min over (-cos, cid): highest cosine wins, ties to the lowest
    # centroid id — lexicographic struct ordering IS the tie-break
    codes = [
        F.min(
            F.when(
                F.col("g") == g,
                F.struct((-F.col("cos")).alias("nc"), F.col("cid").alias("cid")),
            )
        )
        .getField("cid")
        .alias(f"code_{g}")
        for g in range(m)
    ]
    return scored.groupBy("vec_id").agg(*codes)


def ivfpq_knn(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    dims: int = 64,
    rerank: int = 64,
) -> DataFrame:
    """IVF-PQ approximate top-k — the full billion-scale ANN shape on
    DataFrames: an IVF coarse quantizer prunes the corpus to ``n_probe``
    buckets, PQ codes stand in for vectors during candidate scoring
    (asymmetric distance: per-subspace query-vs-codebook cosine lookup
    tables, summed over the m codes), and only the top ``rerank``
    candidates are re-scored against their REAL vectors for the final
    top-k. Completes the suite knn (exact brute) -> ivf_knn (pruned
    exact) -> ivfpq_knn (pruned + compressed scoring).

    Rounding contract: LUT entries and all emitted similarities round
    to 6 dp; approx_sim is a sum of m 6-dp values (re-rounded), so
    cross-engine accumulation order cannot flip it. Ties break on
    vec_id everywhere. The query ranks first (cos 1.0) by construction.

    A batch of one over :func:`_ivfpq_core` with the corpus scan as
    candidate source: ONE corpus scan, zero corpus-sized exchanges
    (encoding, probe membership and the ADC sum are per-row
    expressions; the shortlist and top-k are TakeOrdered cuts).
    Output: vec_id, approx_sim, cos_sim — top-k by exact cosine over
    the PQ shortlist.
    """
    p = AnnParams(n_centroids, n_probe, m, ks, dims, rerank)
    e = _as_double(embeddings)
    f = _fetch(e, p, [query_id])
    out = _ivfpq_core(_encoded(e, f, only=f.probed_union), f, k)
    return out.orderBy("rank").limit(k).select("vec_id", "approx_sim", "cos_sim")


def write_ann_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 4,
    ks: int = 16,
    dims: int = 64,
) -> None:
    """Materialize the IVF-PQ index: one pass computes the coarse
    assignment + PQ codes (:func:`_encoded`) and writes

    * ``{path}/index`` — vec_id, v, code_0..code_{m-1}, PARTITIONED BY
      centroid_id (repartitioned on it first: one file per bucket, not
      one per task x bucket), and
    * ``{path}/centroids`` — the vec_id < max(n_centroids, ks) rows
      (centroids and sub-codebook), tiny.

    After this runs once, queries are served by
    ``ivfpq_knn_index_batch``: read the tiny centroids file, pick the
    probed buckets, and scan ONLY those partitions of the index
    (partition pruning — asserted by test). Build shape: ONE corpus
    scan + ONE exchange (the centroid_id repartition feeding the
    partitioned write).
    """
    e = _as_double(embeddings)
    f = _fetch(e, AnnParams(n_centroids, m=m, ks=ks, dims=dims))
    codes = [f"code_{g}" for g in range(m)]
    indexed = _encoded(e, f).select(
        "vec_id", "v", F.col("cid").alias("centroid_id"), *codes
    )
    (
        indexed.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/index")
    )
    e.filter(F.col("vec_id") < max(n_centroids, ks)).select(
        "vec_id", F.col("v").alias("cv")
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def _ann_centroids(spark, path: str) -> DataFrame:
    """The ``centroids`` file of a :func:`write_ann_index` layout, read
    with its written schema pinned (no inference job), as vec_id, v."""
    return read_parquet_pinned(
        spark, f"{path}/centroids", "vec_id bigint, cv array<double>", "ann centroids"
    ).withColumnRenamed("cv", "v")


def _ann_index(spark, path: str, m: int) -> DataFrame:
    """The ``index`` of a :func:`write_ann_index` layout written with
    ``m`` codes, read with its written schema pinned (no inference job):
    vec_id, v, code_0..code_{m-1}, centroid_id (the partition column,
    ``int`` as partition discovery types it). A layout written with
    another ``m`` fails the footer check (ValueError)."""
    codes = "".join(f", code_{g} bigint" for g in range(m))
    return read_parquet_pinned(
        spark,
        f"{path}/index",
        f"vec_id bigint, v array<double>{codes}, centroid_id int",
        "ann index",
        partition_cols=("centroid_id",),
    )


def ivfpq_recall(
    embeddings: DataFrame, query_id: int = 0, k: int = 10, **ivfpq_kwargs
) -> DataFrame:
    """Recall audit for the compressed ANN path: |ivfpq top-k ∩ exact
    top-k| / k — the similarity-search counterpart of
    ``dedup.lsh_recall_summary``, composing two certified operators so
    the metric's ground truth is definitionally the oracle-checked
    queries. Both sides are k-row frames; the intersection is a
    broadcast semi-join, the counts one crossJoin of two 1-row
    aggregates — no collect. Output (one row): k, n_hits, recall (4 dp).
    """
    exact = knn(embeddings, query_id=query_id, k=k).select("vec_id")
    approx = ivfpq_knn(embeddings, query_id=query_id, k=k, **ivfpq_kwargs).select(
        "vec_id"
    )
    hits = approx.join(F.broadcast(exact), "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    total = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return hits.crossJoin(total).select(
        F.lit(k).cast("int").alias("k"),
        F.col("n_hits"),
        F.round(F.col("n_hits") / F.col("n_exact"), 4).alias("recall"),
    )


def srp_recall_summary(embeddings: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Self-measured SRP-LSH quality: recall of ``srp_dup_pairs``
    against the exact ``cosine_dup_pairs`` ground truth at the same
    threshold — completing the audit family (`dedup.lsh_recall_summary`
    for text MinHash, `ivfpq_recall` for compressed kNN, this for the
    embedding near-dup path). Precision is 1.0 by construction
    (candidates are exact-cosine verified before emission), so the
    metric reduces to two 1-row counts; the truth side is the
    documented O(n²) exact baseline — a validation query, not a
    hot-path one. Output: n_true, n_lsh, recall (4 dp).
    """
    n_true = cosine_dup_pairs(embeddings, threshold=threshold).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    n_lsh = srp_dup_pairs(embeddings, threshold=threshold).agg(
        F.count(F.lit(1)).alias("n_lsh")
    )
    return n_true.crossJoin(F.broadcast(n_lsh)).select(
        "n_true",
        "n_lsh",
        F.when(
            F.col("n_true") > 0, F.round(F.col("n_lsh") / F.col("n_true"), 4)
        ).alias("recall"),
    )


def pq_distortion(
    embeddings: DataFrame, m: int = 4, ks: int = 16, dims: int = 64
) -> DataFrame:
    """Quantization-quality audit for the PQ codebook — the third leg
    of the audit family (recall audits measure search quality; this
    measures REPRESENTATION quality): per subspace, the mean cosine
    between each sub-vector and its chosen sub-centroid, and how many
    sub-vectors land below 0.8 (poorly covered by the codebook — the
    signal to raise ks or retrain). Same broadcast-codebook scoring
    shape as `pq_codes`, one map-side-combined aggregation.

    Output: g, n_vecs, mean_best_cos (4 dp), n_low.
    """
    sub_len = AnnParams(m=m, ks=ks, dims=dims).sub_len
    e = _as_double(embeddings)
    slices = F.array(*[F.slice("v", g * sub_len + 1, sub_len) for g in range(m)])
    parts = e.select("vec_id", F.posexplode(slices).alias("g", "sv"))
    cparts = e.filter(F.col("vec_id") < ks).select(
        F.col("vec_id").alias("cid"), F.posexplode(slices).alias("g", "cv")
    )
    scored = parts.join(F.broadcast(cparts), "g").select(
        "vec_id", "g", F.round(V.cosine(F.col("sv"), F.col("cv")), 6).alias("cos")
    )
    best = scored.groupBy("vec_id", "g").agg(F.max("cos").alias("best"))
    return (
        best.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("best"), 4).alias("mean_best_cos"),
            F.sum(F.when(F.col("best") < 0.8, 1).otherwise(0)).alias("n_low"),
        )
        .orderBy("g")
    )


def cluster_balance_audit(embeddings: DataFrame, n_centroids: int = 16) -> DataFrame:
    """IVF bucket-health audit: the size distribution of
    ``assign_centroids`` buckets — the number an ANN deployment tunes
    ``n_centroids``/``n_probe`` by. A balance factor near 1 means probes
    cost what the math says; a hot bucket means probe latency is
    whatever that bucket costs (the embedding-space analogue of
    ``users.skew_report``).

    One assignment pass (broadcast centroids, narrow-row exchange),
    one map-side-combined count per bucket, constant-size output:
    n_buckets, n_vecs, min_bucket, max_bucket, avg_bucket (4 dp),
    balance_factor (max/avg, 4 dp).
    """
    counts = assign_centroids(embeddings, n_centroids).groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").alias("n_vecs"),
        F.min("n").alias("min_bucket"),
        F.max("n").alias("max_bucket"),
        F.round(F.avg("n"), 4).alias("avg_bucket"),
        F.round(F.max("n") / F.avg("n"), 4).alias("balance_factor"),
    )


def knn_batch(embeddings: DataFrame, n_queries: int = 4, k: int = 5) -> DataFrame:
    """Batched exact top-k — the serving shape for scoring MANY queries
    against the corpus in ONE scan (:func:`_knn_core`; ``knn`` is its
    batch of one). The ``n_queries`` lowest vec_ids play the query
    batch: the query matrix broadcasts, every corpus vector scores
    against all queries in a single pass, and the per-query ``rank ≤ k``
    window compiles to WindowGroupLimit — map tasks pre-trim to k rows
    per query BEFORE the exchange, so the shuffle carries
    O(k × queries × tasks) rows regardless of corpus size. Self included
    at rank 1 (cos 1.0), the ``knn`` contract. Output: query_id, vec_id,
    cos_sim (6 dp), rank.
    """
    return _knn_core(_as_double(embeddings), range(n_queries), k)


def ivf_knn_batch(
    embeddings: DataFrame,
    n_queries: int = 4,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    head_fetch: _Fetch | None = None,
) -> DataFrame:
    """Batched IVF serving WITHOUT a materialized index — ``ivf_knn``
    for a query batch in ONE corpus scan (:func:`_ivf_core`): the
    ``n_queries`` lowest vec_ids play the query batch, each row is
    assigned inline and fans out only to the queries whose probe set
    holds its bucket, and the per-query rank window pre-trims to k rows
    per query per task before the single tiny exchange.

    Row-for-row identical to per-query ``ivf_knn`` calls (pinned by
    test) at 1/n_queries of the scans. ``head_fetch``: a :func:`_fetch`
    result a caller already ran (``retrieval_quality`` shares one
    across its ivf and ivfpq legs); it must have been built with this
    call's parameters and queries, else ValueError.
    Output: query_id, vec_id, cos_sim (6 dp), rank (≤ k per query).
    """
    e = _as_double(embeddings)
    p, ids = AnnParams(n_centroids, n_probe), range(n_queries)
    if head_fetch is None:
        head_fetch = _fetch(e, p, ids, pq=False)
    head_fetch.check(p, ids, pq=False)
    return _ivf_core(e, head_fetch, k)


def ivfpq_knn_batch(
    embeddings: DataFrame,
    n_queries: int = 4,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    dims: int = 64,
    rerank: int = 64,
    head_fetch: _Fetch | None = None,
) -> DataFrame:
    """Batched IVF-PQ serving without a materialized index — the
    ``ivfpq_knn`` chain for a query batch with every corpus-sized stage
    computed ONCE (:func:`_ivfpq_core` over the inline-encoded corpus
    scan): each row explodes only the queries that probed its bucket,
    per-(query, row) ADC is a literal-LUT lookup sum, and the one
    exchange carries WindowGroupLimit-trimmed per-query shortlists.
    Row-for-row identical to per-query ``ivfpq_knn`` calls (pinned by
    test). ``head_fetch`` as in :func:`ivf_knn_batch`. Output:
    query_id, vec_id, approx_sim, cos_sim, rank (≤ k per query, ranked
    by exact cosine).
    """
    e = _as_double(embeddings)
    p = AnnParams(n_centroids, n_probe, m, ks, dims, rerank)
    ids = range(n_queries)
    if head_fetch is None:
        head_fetch = _fetch(e, p, ids)
    head_fetch.check(p, ids, pq=True)
    cand = _encoded(e, head_fetch, only=head_fetch.probed_union)
    return _ivfpq_core(cand, head_fetch, k)


def ivfpq_knn_index_batch(
    spark,
    path: str,
    query_vecs: list[tuple[int, list[float]]],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    dims: int = 64,
    rerank: int = 64,
) -> DataFrame:
    """Serve a QUERY BATCH (one query is a batch of one) from a
    materialized `write_ann_index` layout — the production retrieval
    shape. The fetch reads the planning-sized centroids file; the union
    of every query's probed partitions is then read ONCE with an
    explicit ``centroid_id IN (...)`` partition filter (pruning asserted
    by test), and :func:`_ivfpq_core` scores each query over exactly the
    buckets IT probed — the stored codes and vectors are what the
    corpus path would compute, so the rows are bit-identical to
    per-query ``ivfpq_knn`` (pinned by test).

    Output: query_id, vec_id, approx_sim, cos_sim, rank (≤ k rows per
    query, ranked by exact cosine desc).
    """
    p = AnnParams(n_centroids, n_probe, m, ks, dims, rerank)
    f = _fetch(_ann_centroids(spark, path), p, query_vecs=query_vecs)
    # the codebook is the stored rows with vec_id < ks — if the writer
    # stored fewer rows than the CORPUS has low-id vectors, it would
    # silently truncate and approx_sim diverge from the ivfpq_knn twin.
    # A TINY corpus legitimately stores fewer than max(ks, n_centroids)
    # rows (ivfpq_knn's `vec_id < n` filters degrade the same way), so
    # the guard compares against the index itself, not a fixed count.
    need, stored = max(ks, n_centroids), f.n_head
    if 0 < stored < need:
        low = _ann_index(spark, path, m).filter(F.col("vec_id") < need).count()
        if low != stored:
            raise ValueError(
                f"index at {path} stores {stored} centroid rows but its corpus "
                f"has {low} vectors below max(ks, n_centroids)={need} — the "
                "layout was written with smaller parameters; rebuild with "
                "write_ann_index"
            )
    if not f.cents or not f.cb:
        return spark.createDataFrame([], _PQ_SCHEMA)
    idx = _ann_index(spark, path, m).filter(
        F.col("centroid_id").isin(f.probed_union)
    )
    cand = idx.select(
        "vec_id",
        "v",
        F.col("centroid_id").cast("long").alias("cid"),
        *[f"code_{g}" for g in range(m)],
    )
    return _ivfpq_core(cand, f, k)


def knn_density_outliers(
    embeddings: DataFrame,
    k: int = 5,
    target_bucket: int = 64,
    cap: int = 96,
) -> DataFrame:
    """kNN-density scoring for embedding-space data pruning (the
    SemDeDup/D4 family's ranking signal): each vector's mean cosine to
    its ``k`` nearest neighbors WITHIN its capped centroid sub-bucket.
    Low density = isolated/noisy sample; high density = redundant
    dense region — both ends are what curation prunes first.

    Same bounded machinery as :func:`nearest_neighbor_capped`: hard
    ≤cap sub-buckets, so every cosine matrix is ≤ cap×cap and total
    work is O(n·(√k + cap)·dims) — two-level assignment plus the
    capped per-bucket scan — at any corpus size (the r7-measured ×11.6
    blow-up was the old FLAT assignment's O(n·k) term, k ∝ n
    pre-clamp); recall is bucket-approximate, precision exact. Exactness: per-neighbor cosines are the 6-dp
    fold-order values, scaled to integer MICRO units and summed as
    longs (order-independent; a float top-k mean would depend on
    accumulation order), with ONE 4-dp division at the end (certified
    single-division precedent). Vectors with fewer than k in-bucket
    neighbors average over what exists; singleton sub-buckets emit no
    row (capped-family precedent). Output: vec_id, n_nbrs,
    knn_sum_micro, density (4 dp).
    """
    import pandas as pd

    bucketed = assign_centroids_capped(embeddings, target_bucket, cap)

    def bucket_density(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        _, ids, _, S = _bucket_cos(pdf)
        if len(ids) < 2:
            return pd.DataFrame({"vec_id": [], "n_nbrs": [], "knn_sum_micro": []})
        kk = min(k, len(ids) - 1)
        top = -np.sort(-S, axis=1)[:, :kk]  # self (-inf) sorts last
        micro = np.rint(top * 1e6).astype(np.int64).sum(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "n_nbrs": np.full(len(ids), kk, dtype=np.int64),
                "knn_sum_micro": micro,
            }
        )

    out = bucketed.groupBy("centroid_id", "sub_id").applyInPandas(
        bucket_density, "vec_id long, n_nbrs long, knn_sum_micro long"
    )
    return out.select(
        "vec_id",
        "n_nbrs",
        "knn_sum_micro",
        F.round(F.col("knn_sum_micro") / (F.col("n_nbrs") * F.lit(1e6)), 4).alias(
            "density"
        ),
    )


def label_separation_matrix(embeddings: DataFrame) -> DataFrame:
    """Pairwise cosine between LABEL centroids — the class-separation
    audit an embedding pipeline reads next to
    :func:`embedding_profile`'s norm drift: two labels whose centroids
    sit at cosine ≈ 1 are indistinguishable to any downstream
    classifier/router, and a label whose centroid drifts toward
    another's shows up here before accuracy drops.

    Mechanics — the :func:`embedding_centroids` aggregate-a-vector
    pattern: posexplode → per-(label, pos) component mean rounded to
    6 dp (cross-engine float-sum order can't flip the value), then the
    pairwise dot/norms are computed on the CENTROID frame only —
    |labels| × dims rows, planning-sized at any corpus scale, so the
    pos-equijoined self-join is trivially broadcastable and no
    vector-sized shuffle exists beyond the one component aggregate.

    Exactness: component means 6-dp-rounded before any product
    (embedding_centroids precedent); norms and the cosine are each one
    sqrt/division + 6-dp round. Output: label_a, label_b, n_a, n_b,
    centroid_cos — one row per unordered label pair (labels counted
    over rows with a non-empty embedding — the rows the centroid is
    actually the mean of).

    Single-scan: the component aggregate is materialized once
    (|labels|×dims rows) and EVERY downstream branch — norms, label
    counts (max per-pos row count == rows with len ≥ 1), and both
    sides of the pairwise self-join — reads that frame; without it
    the plan re-scanned the corpus and re-ran the posexplode
    aggregate per branch (the r6 single-scan-sweep hazard).
    """
    base = valid_embeddings(embeddings).select(
        "label", V.to_double_array(F.col("embedding")).alias("v")
    )
    ex = base.select("label", F.posexplode("v").alias("pos", "val"))
    comp = ex.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 6).alias("m"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    ).transform(materialize)
    norms = comp.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("nrm")
    )
    counts = comp.groupBy("label").agg(F.max("cnt").alias("n"))
    a, b = comp.alias("a"), comp.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.col("a.m") * F.col("b.m")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nrm_b"))
    ca = counts.select(F.col("label").alias("label_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("label").alias("label_b"), F.col("n").alias("n_b"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .join(F.broadcast(ca), "label_a")
        .join(F.broadcast(cb), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.round(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6).alias(
                "centroid_cos"
            ),
        )
        .orderBy("label_a", "label_b")
    )


def embedding_drift(
    embeddings: DataFrame,
    n_epochs: int = 10,
    n_bits: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Embedding-space distribution drift across ingestion epochs — the
    vector twin of ``text.vocab_drift``: per adjacent epoch pair, the
    total-variation distance between SRP-bucket occupancy distributions
    plus bucket churn. A drifting TV says the embedding distribution
    (upstream model, content mix, or preprocessing) changed between
    cuts; the fixed 2^n_bits bucket domain makes epochs comparable
    without any fitted artifact.

    Scale: the SRP signature is a PURE per-row expression over
    md5-derived hyperplanes (:func:`srp_signature_expr` — no corpus
    statistics, no centroids, no state), so the whole op is one scan,
    one (epoch, bucket) count aggregate over a ≤ n_epochs × 2^n_bits
    domain, and a bucket-keyed fold to ≤ n_epochs − 1 rows. Epochs are
    the positional ``(vec_id * n_epochs) div (max_id + 1)`` ranges
    (the ``text.ngram_novelty`` rule). Shares are integer micro-units
    over exact BIGINTs. Output: epoch_from, epoch_to, union_buckets,
    new_buckets, dropped_buckets, tv_micro.
    """
    # drift is a geometry statistic: compute-valid vectors only (the
    # guard also keeps epoch boundaries and bucket counts consistent
    # between engines on corpora with degenerate rows — r15 sweep)
    ve = valid_embeddings(embeddings).filter(F.col("vec_id").isNotNull())
    n = ve.agg((F.max("vec_id") + 1).alias("n"))
    counts = (
        ve.crossJoin(F.broadcast(n))
        .select(
            F.expr(f"(vec_id * {int(n_epochs)}) div n").alias("epoch"),
            F.expr(
                srp_signature_expr("embedding", n_bits=n_bits, dims=dims)
            ).alias("bucket"),
        )
        .groupBy("epoch", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(materialize)
    )
    totals = counts.groupBy("epoch").agg(F.sum("cnt").cast("long").alias("tot"))
    shares = counts.join(F.broadcast(totals), "epoch").select(
        "epoch", "bucket", F.expr("(cnt * 1000000) div tot").alias("share")
    )
    cur = shares.select(
        F.col("epoch").alias("epoch_to"), "bucket", F.col("share").alias("p")
    )
    prev = shares.select(
        (F.col("epoch") + 1).alias("epoch_to"),
        "bucket",
        F.col("share").alias("q"),
    ).filter(F.col("epoch_to") < int(n_epochs))
    joined = cur.join(prev, ["epoch_to", "bucket"], "full_outer").filter(
        F.col("epoch_to") >= 1
    )
    return (
        joined.groupBy("epoch_to")
        .agg(
            F.count(F.lit(1)).cast("long").alias("union_buckets"),
            F.sum(F.when(F.col("q").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("new_buckets"),
            F.sum(F.when(F.col("p").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("dropped_buckets"),
            F.sum(
                F.abs(
                    F.coalesce(F.col("p"), F.lit(0))
                    - F.coalesce(F.col("q"), F.lit(0))
                )
            )
            .cast("long")
            .alias("tv_micro"),
        )
        .select(
            (F.col("epoch_to") - 1).alias("epoch_from"),
            "epoch_to",
            "union_buckets",
            "new_buckets",
            "dropped_buckets",
            "tv_micro",
        )
        .orderBy("epoch_to")
    )


def clustering_silhouette(
    embeddings: DataFrame, n_centroids: int = 16
) -> DataFrame:
    """Per-cluster cosine silhouette — the clustering-QUALITY audit the
    balance audit can't give (:func:`cluster_balance_audit` says buckets
    are evenly sized; silhouette says vectors actually BELONG to their
    bucket): s = (b − a) / max(a, b) with a = cosine distance to the
    assigned centroid and b = distance to the best OTHER centroid
    (the standard simplified/centroid silhouette — full pairwise
    silhouette is O(n²) by definition and stays out).

    Exactness: cosines are the certified 6-dp rounds; a and b become
    exact micro longs, and both the per-vector ratio and the per-cluster
    mean are sign-split integral divisions (negative ``div`` truncates
    differently across engines, so the sign is factored out first).

    Plan shape: one broadcast-centroid cross score (n × k narrow rows,
    never materialized wide), then a rank ≤ 2 window partitioned by
    vec_id — Spark compiles the filter to WindowGroupLimit, so map
    tasks pre-trim to two rows per vector BEFORE the exchange (the
    :func:`knn_batch` precedent); the rollup is one map-side-combined
    aggregate over the bounded cluster domain. Fixed ``n_centroids`` is
    the oracle-anchor family (assign_centroids); at corpus scale the
    same silhouette composes over ``assign_centroids_capped``'s
    adaptive buckets with b restricted to probed centroids.
    Output: cluster_id, n_vecs, mean_silhouette_micro, ordered by
    cluster_id.
    """
    if n_centroids < 2:
        raise ValueError(
            f"silhouette needs a second-best centroid: n_centroids={n_centroids} < 2"
        )
    e = _as_double(embeddings)
    cents = e.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        F.round(V.cosine(F.col("v"), F.col("cv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_sim"), F.asc("centroid_id")
    )
    top2 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    micro = F.round((1 - F.col("cos_sim")) * 1e6, 0).cast("long")
    per_vec = top2.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("centroid_id"))).alias("cluster_id"),
        F.max(F.when(F.col("rn") == 1, micro)).alias("a_micro"),
        F.max(F.when(F.col("rn") == 2, micro)).alias("b_micro"),
    )
    s_micro = F.expr(
        "CASE WHEN b_micro - a_micro >= 0 THEN "
        "((b_micro - a_micro) * 1000000) div greatest(greatest(a_micro, b_micro), 1) "
        "ELSE -(((a_micro - b_micro) * 1000000) "
        "div greatest(greatest(a_micro, b_micro), 1)) END"
    )
    return (
        per_vec.select("cluster_id", s_micro.cast("long").alias("s_micro"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("s_micro").cast("long").alias("ssum"),
        )
        .select(
            "cluster_id",
            "n_vecs",
            F.expr(
                "CASE WHEN ssum >= 0 THEN ssum div n_vecs "
                "ELSE -((-ssum) div n_vecs) END"
            )
            .cast("long")
            .alias("mean_silhouette_micro"),
        )
        .orderBy("cluster_id")
    )


def hard_negatives(
    embeddings: DataFrame,
    target_bucket: int = 64,
    cap: int = 96,
) -> DataFrame:
    """Hard-negative mining for contrastive training — per anchor, the
    most-similar vector with a DIFFERENT label: the pair-construction
    step every embedding-model training pipeline runs (hard negatives
    carry the gradient signal; random negatives are trivially
    separable). Same approximate-recall/exact-precision contract as
    :func:`nearest_neighbor_capped`: candidates are restricted to the
    anchor's hard-capped sub-bucket (two-level assignment, ≈2·√k
    cosines per row + one ≤cap×cap matrix per bucket), so the mined
    negative is the hardest LOCAL one — exactly the trade ANN-based
    miners (FAISS-backed) make at production scale.

    Anchors whose bucket holds no other-label vector emit no row
    (mirrored by the oracle); null labels group under -1. Cosines are
    the boundary-verified 6-dp ``_cos_matrix`` values, ties break to
    the lowest neg_id (ascending-sorted buckets + argmax). Output:
    vec_id, label, neg_id, neg_label, cos_sim.
    """
    import pandas as pd

    bucketed = assign_centroids_capped(embeddings, target_bucket, cap)
    lab = embeddings.select(
        "vec_id", F.coalesce(F.col("label"), F.lit(-1)).cast("long").alias("label")
    )
    joined = bucketed.join(lab, "vec_id")

    out_schema = (
        "vec_id long, label long, neg_id long, neg_label long, cos_sim double"
    )

    def bucket_neg(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")  # asc → argmax = lowest neg_id on ties
        labels = pdf["label"].to_numpy()
        if len(pdf) < 2 or (labels == labels[0]).all():
            return pd.DataFrame(
                {c.split(" ")[0]: [] for c in out_schema.split(", ")}
            )
        M = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        S = _cos_matrix(M, M)
        S[labels[:, None] == labels[None, :]] = -np.inf  # self included
        ids = pdf["vec_id"].to_numpy()
        j = np.argmax(S, axis=1)
        rows = np.arange(len(ids))
        ok = np.isfinite(S[rows, j])
        return pd.DataFrame(
            {
                "vec_id": ids[ok],
                "label": labels[ok],
                "neg_id": ids[j[ok]],
                "neg_label": labels[j[ok]],
                "cos_sim": S[rows[ok], j[ok]],
            }
        )

    return joined.groupBy("centroid_id", "sub_id").applyInPandas(
        bucket_neg, out_schema
    )


def contrastive_triplets(
    embeddings: DataFrame,
    target_bucket: int = 64,
    cap: int = 96,
) -> DataFrame:
    """Triplet mining for contrastive training — per anchor, the
    hardest (anchor, positive, negative) triple within its hard-capped
    sub-bucket: positive = most-similar SAME-label vector, negative =
    most-similar DIFFERENT-label vector (:func:`hard_negatives`'
    selection), plus the triplet MARGIN cos(a,p) − cos(a,n) — the
    quantity a triplet/InfoNCE loss actually trains on, and the mining
    report real pipelines use to pick margin hyperparameters (a mostly
    negative-margin corpus means the labels or the embedder are broken).

    Same approximate-recall/exact-precision contract and cost shape as
    :func:`hard_negatives` (≈2·√k assignment cosines per row + one
    ≤cap×cap matrix per bucket — ONE matrix serves both selections).
    Anchors lacking a same-label or different-label bucket-mate emit no
    row (a triplet needs both; oracle-mirrored). Cosines are 6-dp
    boundary-verified; the margin is exact integer micro-units of the
    rounded cosines, so the sign is engine-stable. Ties break to the
    lowest pos_id/neg_id. Output: vec_id, label, pos_id, cos_pos,
    neg_id, cos_neg, margin_micro.
    """
    import pandas as pd

    bucketed = assign_centroids_capped(embeddings, target_bucket, cap)
    lab = embeddings.select(
        "vec_id", F.coalesce(F.col("label"), F.lit(-1)).cast("long").alias("label")
    )
    joined = bucketed.join(lab, "vec_id")

    out_schema = (
        "vec_id long, label long, pos_id long, cos_pos double, "
        "neg_id long, cos_neg double, margin_micro long"
    )

    def bucket_triplets(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")  # asc → argmax = lowest id on ties
        labels = pdf["label"].to_numpy()
        cols = [c.split(" ")[0] for c in out_schema.split(", ")]
        if len(pdf) < 3:
            return pd.DataFrame({c: [] for c in cols})
        M = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        S = _cos_matrix(M, M)
        same = labels[:, None] == labels[None, :]
        Sp = S.copy()
        Sp[~same] = -np.inf
        np.fill_diagonal(Sp, -np.inf)  # self is not a positive
        Sn = S.copy()
        Sn[same] = -np.inf  # self is same-label → excluded already
        ids = pdf["vec_id"].to_numpy()
        jp = np.argmax(Sp, axis=1)
        jn = np.argmax(Sn, axis=1)
        rows = np.arange(len(ids))
        ok = np.isfinite(Sp[rows, jp]) & np.isfinite(Sn[rows, jn])
        cp = Sp[rows[ok], jp[ok]]
        cn = Sn[rows[ok], jn[ok]]
        margin = np.rint(cp * 1e6).astype(np.int64) - np.rint(cn * 1e6).astype(
            np.int64
        )
        return pd.DataFrame(
            {
                "vec_id": ids[ok],
                "label": labels[ok],
                "pos_id": ids[jp[ok]],
                "cos_pos": cp,
                "neg_id": ids[jn[ok]],
                "cos_neg": cn,
                "margin_micro": margin,
            }
        )

    return joined.groupBy("centroid_id", "sub_id").applyInPandas(
        bucket_triplets, out_schema
    )


def filtered_ivf_knn(
    embeddings: DataFrame,
    query_id: int = 0,
    label: int = 3,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 1,
) -> DataFrame:
    """Filtered vector search — IVF top-k restricted to a metadata
    predicate (``label == target``), with SELECTIVITY-WIDENED probing:
    the named hard problem of production vector stores (a fixed probe
    count tuned for unfiltered search under-recalls once a filter
    removes most candidates from the probed buckets; the standard fix —
    what FAISS/Qdrant-style engines do — is to widen the probe set by
    the filter's inverse selectivity).

    Here: n_probe_eff = min(n_centroids, ⌈n_probe · n_total /
    n_filtered⌉) from the counts that ride the head fetch's aggregate
    (ONE construct scan; exact integer ceiling division, engine-
    portable), then :func:`_ivf_core` with the widened probe count and
    the label predicate applied AT THE SCAN (pushdown-eligible — the
    filter prunes rows before any cosine is computed). An empty filter
    yields an empty result (oracle-mirrored). Output: vec_id, label,
    cos_sim (6 dp), top-k by (cos DESC, vec_id).
    """
    e = valid_embeddings(embeddings).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.coalesce(F.col("label"), F.lit(-1)).cast("long").alias("label"),
    )
    p = AnnParams(n_centroids, n_probe)
    f = _fetch(
        e,
        p,
        [query_id],
        pq=False,
        counts=[
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.count(F.when(F.col("label") == label, 1))
            .cast("long")
            .alias("n_filtered"),
        ],
    )
    n_total, n_filtered = f.counts["n_total"], f.counts["n_filtered"]
    if n_filtered:
        eff = (int(n_probe) * n_total + n_filtered - 1) // n_filtered
        f = replace(f, params=replace(p, n_probe=min(int(n_centroids), eff)))
    else:
        f = replace(f, queries=[])
    out = _ivf_core(e, f, k, pred=F.col("label") == label)
    return out.orderBy("rank").limit(k).select("vec_id", "label", "cos_sim")


def coreset_selection(embeddings: DataFrame, k: int = 8) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985, public; the
    2-approximation behind k-Center data pruning / active-learning
    seed picks) — choose ``k`` maximally-spread vectors: seed = lowest
    vec_id, then k−1 rounds of "farthest point from the chosen set".
    A coreset is the data-SELECTION primitive (which ROWS represent
    the corpus) next to :func:`kmeans_embeddings`' synthetic centroids
    and :func:`embedding_prototypes`' per-label means.

    Determinism: distances are pure integers after the repo's 6-dp
    cosine rounding — d_micro = 1e6 − round(round(cos, 6)·1e6), the
    min over chosen centers and the argmax over vectors are integer
    comparisons with lowest-vec_id ties, so the DuckDB oracle replays
    the loop as an unrolled CTE chain (the :func:`kmeans_embeddings`
    discipline). Already-chosen vectors sit at d = 0 and can't repeat.

    Eager contract (the :func:`ivf_knn` note): each round runs one
    corpus scan computing ≤ r cosines per row against the ≤ k
    broadcast-literal centers and collects ONE row — k scans total,
    never more than k·k cosines per vector; at 100 TB the scan
    dominates and the round count is the k the caller asked for.
    Output: rank (selection order), vec_id, dist_micro (the max-min
    distance at selection; 0 for the seed).
    """
    e = _as_double(embeddings)
    seed_rows = e.orderBy("vec_id").limit(1).collect()
    if not seed_rows:
        return e.sparkSession.createDataFrame(
            [], "rank int, vec_id long, dist_micro long"
        )
    seed = seed_rows[0]
    picked = [(1, int(seed["vec_id"]), 0)]
    center_vecs = [[float(x) for x in seed["v"]]]
    for rank in range(2, int(k) + 1):
        # min over centers of (1e6 − cos_micro) == 1e6 − max over
        # centers of cos_micro (exact integer identity). The centers
        # ride in ONE ArrayType literal and the per-center similarity
        # is ONE transform lambda — round r used to build r separate
        # cosine expression trees (F.least over per-center F.array
        # literals), so every round re-paid codegen linear in r; the
        # matrix fold keeps the compiled expression size constant
        # per round (r15; same rounding, same values).
        cmat = F.lit(center_vecs)
        idx = F.sequence(F.lit(0), F.lit(len(center_vecs) - 1))
        dm = F.lit(1000000) - F.array_max(
            F.transform(
                idx,
                lambda i: F.round(
                    F.round(
                        V.cosine(F.col("v"), F.element_at(cmat, i + 1)), 6
                    )
                    * 1e6,
                    0,
                ).cast("long"),
            )
        )
        rows = (
            e.select("vec_id", "v", dm.alias("dm"))
            .orderBy(F.desc("dm"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not rows or int(rows[0]["dm"]) <= 0:
            # max-min distance 0: every remaining vector coincides with
            # a chosen center (k > effective corpus diversity) — more
            # picks add no coverage and would re-emit chosen ids. The
            # max-min distance is monotone non-increasing, so stopping
            # here equals the oracle's dm > 0 row filter.
            break
        pick = rows[0]
        picked.append((rank, int(pick["vec_id"]), int(pick["dm"])))
        center_vecs.append([float(x) for x in pick["v"]])
    return e.sparkSession.createDataFrame(
        picked, "rank int, vec_id long, dist_micro long"
    ).orderBy("rank")


def update_ann_index(
    new_embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 4,
    ks: int = 16,
    dims: int = 64,
) -> list[int]:
    """Incremental maintenance for a :func:`write_ann_index` layout —
    the IVM-for-ANN a 100 TB corpus needs: a daily crawl delta is a
    fraction of the corpus, and rebuilding the whole index to admit it
    re-pays the full corpus scan + write. This encodes ONLY the new
    vectors with the build's own encoder (:func:`_encoded`) against the
    index's STORED centroids and codebook (both read from the tiny
    ``{path}/centroids`` file — never recomputed, so code/bucket
    meanings are stable across updates), then rewrites ONLY the
    affected centroid partitions.

    Exactly-once discipline (the ``compact_ivm_partials`` rules): the
    rewrite is ONE dynamic-partition-overwrite job whose content is
    (existing rows of affected partitions ANTI-JOINED on vec_id) ∪ new
    rows — re-running the same delta replaces those partitions with
    identical content (idempotent), a crash before commit leaves only
    ``_temporary`` debris, and untouched partitions are never listed,
    read, or rewritten. Equivalence contract (pinned by test): after
    updating with a delta, the index — and every served answer — is
    bit-identical to a full rebuild over the union, provided the first
    max(n_centroids, ks) vec_ids were in the original corpus
    (centroid/codebook stability, the same data-derived-centroid rule
    every op here uses).

    Returns the affected centroid ids (bounded by ``n_centroids`` —
    callers log them as the maintenance audit trail).
    """
    spark = new_embeddings.sparkSession
    p = AnnParams(n_centroids, m=m, ks=ks, dims=dims)
    f = _fetch(_ann_centroids(spark, path), p)
    cols = ["vec_id", "v"] + [f"code_{g}" for g in range(m)] + ["centroid_id"]
    new_rows = (
        _encoded(_as_double(new_embeddings), f)
        .withColumnRenamed("cid", "centroid_id")
        .select(*cols)
    ).transform(materialize)
    affected = sorted(
        r["centroid_id"]
        for r in new_rows.select("centroid_id").distinct().collect()
    )
    if not affected:
        return []
    # materialize the surviving old rows BEFORE the overwrite: the
    # write targets the same path the read plans against, and lazy
    # self-read-overwrite is committer/version-sensitive (Spark's
    # "cannot overwrite a path that is also being read from" check, or
    # a non-atomic committer exposing partially-deleted partitions
    # mid-job) — cutting lineage here makes the merge content a fact
    # on the cluster, not a plan over the files being replaced
    old = (
        _ann_index(spark, path, m)
        .filter(F.col("centroid_id").isin(affected))
        .join(new_rows.select("vec_id"), "vec_id", "left_anti")
        .select(*cols)
    ).transform(materialize)
    merged = old.unionByName(new_rows.select(*cols))
    (
        merged.repartition("centroid_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid_id")
        .parquet(f"{path}/index")
    )
    return affected


def embedding_dimension_health(embeddings: DataFrame) -> DataFrame:
    """Per-DIMENSION embedding health — the collapsed-encoder audit
    that :func:`embedding_profile`'s per-label norms can't see: a
    dimension whose variance pins to ~0 is dead weight in every
    similarity computation (undertrained projection, an always-zero
    feature, or rank collapse), and production embedding pipelines
    track the per-dimension variance spectrum per model release.

    Plan: ONE posexplode projection (dims narrow rows per vector, no
    join), then a |dims|-group map-side-combinable aggregate — vectors
    never shuffle whole. Exactness: components are rounded once to
    integer micro (means) and milli (second moments); the variance is
    the schoolbook two-step integral division
    (Σs² div n) − (Σs div n)², each term ≤ 1e6 at ANY corpus size, so
    nothing overflows and both engines floor identically. ``is_dead``
    flags variance 0 in milli² — i.e. the component spread is under
    the milli quantization floor. Output: pos, n_vectors, mean_micro,
    var_milli2, is_dead — one row per dimension, ordered by pos.
    """
    # CENSUS semantics: every stored component counts, zero-norm
    # vectors included (they are exactly what a collapsed encoder
    # emits) — raw column, not the valid_embeddings funnel; posexplode
    # skips NULL/empty vectors on its own, matching the raw oracle
    ex = embeddings.select(
        V.to_double_array(F.col("embedding")).alias("v")
    ).select(
        F.posexplode("v").alias("pos", "val")
    ).select(
        "pos",
        F.round(F.col("val") * 1e6, 0).cast("long").alias("s_micro"),
        F.round(F.col("val") * 1e3, 0).cast("long").alias("s_milli"),
    )
    agg = ex.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("s_micro").alias("sum_micro"),
        F.sum("s_milli").alias("sum_milli"),
        F.sum(F.col("s_milli") * F.col("s_milli")).alias("sum_sq_milli"),
    )
    return agg.select(
        "pos",
        "n_vectors",
        F.expr("sum_micro div n_vectors").cast("long").alias("mean_micro"),
        F.expr(
            "(sum_sq_milli div n_vectors) - "
            "(sum_milli div n_vectors) * (sum_milli div n_vectors)"
        )
        .cast("long")
        .alias("var_milli2"),
    ).select(
        "pos",
        "n_vectors",
        "mean_micro",
        "var_milli2",
        (F.col("var_milli2") <= 0).cast("int").alias("is_dead"),
    ).orderBy("pos")
