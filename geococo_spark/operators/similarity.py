"""Similarity search over embedding columns (driver brief): brute-force
cosine top-k baseline + an LSH-bucketed approximate variant as the
scale path.

Scale design:
- the exact path broadcasts the (small) probe set and computes dot
  products with built-in higher-order functions (``zip_with`` +
  ``aggregate``) — JVM-side, no Python in the loop,
- the oracle-checkable variant quantizes embeddings to integers
  (round(x*1000)) so Spark and DuckDB produce hash-identical values,
- the approximate path buckets vectors by random-hyperplane signatures
  (seeded numpy in one Arrow pass), joins on bucket, and re-ranks
  exactly — candidate generation never cross-joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window


def _qvec(col: "F.Column", scale: int = 1000) -> "F.Column":
    return F.transform(col, lambda x: F.round(x * scale).cast("long"))


def _dot(a: "F.Column", b: "F.Column") -> "F.Column":
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


@pandas_udf(LongType())
def _qdot_batch(qa: pd.Series, qb: pd.Series) -> pd.Series:
    """Exact integer dot products for a batch of quantized-vector pairs —
    ONE numpy matmul per Arrow batch (VERDICT r03 #3: the per-pair JVM
    ``F.aggregate`` fold allocated a zipped array per candidate and was
    the dominant verify cost at ~300k candidates; einsum over the batch
    is ~20-25% faster end-to-end and the gap widens with candidate
    count). int64-exact, so downstream division/rounding is unchanged
    and the DuckDB oracle still hash-matches."""
    if len(qa) == 0:  # np.vstack raises on an empty Arrow batch (ADVICE r04)
        return pd.Series([], dtype="int64")
    A = np.vstack(qa.to_numpy())
    B = np.vstack(qb.to_numpy())
    return pd.Series(np.einsum("ij,ij->i", A, B))


def brute_force_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact cosine top-k of each probe against all vectors.

    Embeddings are quantized (x1000, integer dot products) so the result
    is bit-deterministic and reproducible by the ANSI-SQL oracle.
    Returns (probe_id, vec_id, cos_sim, rank); excludes self-matches.
    """
    v = vectors.select(
        F.col(id_col).alias("vec_id"), _qvec(F.col(emb_col)).alias("qv")
    ).withColumn("nv", _dot(F.col("qv"), F.col("qv")))
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), _qvec(F.col(emb_col)).alias("qp")
    ).withColumn("np_", _dot(F.col("qp"), F.col("qp")))
    joined = (
        v.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("qv"), F.col("qp"))
                / (F.sqrt(F.col("nv").cast("double")) * F.sqrt(F.col("np_").cast("double"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )


def hyperplane_signature_udf(dim: int, n_planes: int = 16, seed: int = 7):
    """Random-hyperplane LSH signature (sign bits packed into a long) —
    one numpy matmul per Arrow batch."""
    rng = np.random.RandomState(seed)
    planes = rng.randn(dim, n_planes)

    @pandas_udf(LongType())
    def _sig(emb: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(e, dtype=np.float64) for e in emb])
        bits = (mat @ planes) > 0
        weights = (1 << np.arange(n_planes, dtype=np.uint64)).astype(np.uint64)
        return pd.Series((bits.astype(np.uint64) @ weights).astype(np.int64))

    return _sig


def lsh_topk(
    vectors: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    probe_id_col: str = "probe_id",
    int_planes: bool = False,
    seed: int = 100,
    broadcast_vectors_rows: int = 200_000,
) -> DataFrame:
    """Approximate top-k: same output shape as brute_force_topk but
    candidates are restricted to vectors sharing >= 1 LSH bucket with the
    probe across ``n_tables`` hyperplane tables. Exact re-rank on the
    candidate set; recall measured against brute force in the tests.

    Scale shape (VERDICT r02 #3, mirroring embedding_near_duplicates):
    the banded join carries *ids only* — (id, t, b) rows — so embeddings
    never ride the xn_tables explode or the candidate-dedupe exchange;
    quantized embeddings + squared norms (computed once per vector)
    re-attach to the deduped candidate set afterwards.

    ``int_planes=True`` (VERDICT r03 #4) switches to integer hyperplanes
    over QUANTIZED embeddings — the same exact-integer sign test as
    embedding_near_duplicates, so the candidate set (and therefore the
    whole result) is reproducible by the ANSI-SQL oracle with the plane
    matrices embedded as literals (q_ann_lsh)."""
    # all tables computed in ONE Arrow pass (posexplode position == table)
    if int_planes:
        planes = [int_plane_matrix(dim, n_planes, seed + t) for t in range(n_tables)]
        sig_all = multi_table_signature_udf(planes)
        sig_input = _qvec(F.col(emb_col))
    else:
        # same plane family as hyperplane_signature_udf(seed=100+t)
        planes = [
            np.random.RandomState(seed + t).randn(dim, n_planes) for t in range(n_tables)
        ]
        sig_all = multi_table_signature_udf(planes, dtype=np.float64)
        sig_input = F.col(emb_col)

    def with_buckets_tagged(df, ident, renamed):
        return df.select(
            F.col(ident).alias(renamed), F.posexplode(sig_all(sig_input)).alias("t", "b")
        ).select(renamed, F.col("t").cast("int").alias("t"), "b")

    vb = with_buckets_tagged(vectors, id_col, "vec_id")
    pb = with_buckets_tagged(probes, probe_id_col, "probe_id")
    cand_ids = (
        vb.join(F.broadcast(pb), ["t", "b"], "inner")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .dropDuplicates(["probe_id", "vec_id"])
    )
    v = vectors.select(
        F.col(id_col).alias("vec_id"), _qvec(F.col(emb_col)).alias("qv")
    ).withColumn("nv", _dot(F.col("qv"), F.col("qv")))
    if broadcast_vectors_rows and vectors.count() <= broadcast_vectors_rows:
        # same measured fix as embedding_near_duplicates: below the
        # threshold the quantized side broadcasts into the verify join
        # instead of sort-merging the (much larger) candidate side
        v = F.broadcast(v)
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), _qvec(F.col(emb_col)).alias("qp")
    ).withColumn("np_", _dot(F.col("qp"), F.col("qp")))
    scored = (
        cand_ids.join(v, "vec_id")
        .join(F.broadcast(p), "probe_id")
        # batched exact integer dots (one numpy matmul per Arrow batch);
        # division + rounding stay JVM-side — bit-identical to the fold
        .withColumn("pair_dot", _qdot_batch(F.col("qv"), F.col("qp")))
        .withColumn(
            "cos_sim",
            F.round(
                F.col("pair_dot")
                / (F.sqrt(F.col("nv").cast("double")) * F.sqrt(F.col("np_").cast("double"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )


def int_plane_matrix(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Integer hyperplane matrix in [-1000, 1000] — shared by the Spark
    kernel and the SQL oracle (embedded there as literals). With
    quantized embeddings the sign test ``qv @ plane > 0`` is exact
    integer arithmetic, identical in both engines."""
    rng = np.random.RandomState(seed)
    return rng.randint(-1000, 1001, size=(dim, n_planes)).astype(np.int64)


def int_hyperplane_signature_udf(planes: np.ndarray):
    """LSH signature over QUANTIZED embeddings (array<long> input):
    one integer matmul per Arrow batch, sign bits packed into a long."""
    n_planes = planes.shape[1]
    weights = (1 << np.arange(n_planes, dtype=np.uint64)).astype(np.uint64)

    @pandas_udf(LongType())
    def _sig(qv: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(e, dtype=np.int64) for e in qv])
        bits = (mat @ planes) > 0
        return pd.Series((bits.astype(np.uint64) @ weights).astype(np.int64))

    return _sig


def multi_table_signature_udf(planes_list: list[np.ndarray], dtype=np.int64):
    """ALL hash tables' bucket signatures in ONE Arrow pass.

    The per-table UDF design paid one ArrowEvalPython round-trip of the
    embedding column per table (xn_tables serialization — measured as
    the dominant cost of q_embedding_neardup at sf0.1). Concatenating
    the plane matrices into a single (dim, n_tables*n_planes) matmul
    produces bit-identical buckets with a single embedding transfer;
    the caller pairs it with ``posexplode`` so the array position IS
    the table index. Works for integer planes over quantized vectors
    (oracle-portable) and float planes alike.
    """
    n_tables = len(planes_list)
    n_planes = planes_list[0].shape[1]
    all_planes = np.concatenate(planes_list, axis=1)
    weights = (1 << np.arange(n_planes, dtype=np.uint64)).astype(np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def _sigs(qv: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(e, dtype=dtype) for e in qv])
        bits = ((mat @ all_planes) > 0).reshape(len(mat), n_tables, n_planes)
        vals = (bits.astype(np.uint64) @ weights).astype(np.int64)
        return pd.Series([[int(v) for v in row] for row in vals])

    return _sigs


def train_ivf_centroids(
    vectors: DataFrame,
    dim: int,
    n_centroids: int = 16,
    sample_rows: int = 4096,
    iters: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Deterministic coarse quantizer for IVF: a BOUNDED sample (first
    ``sample_rows`` by id — standard practice; centroid quality needs a
    sample, not the corpus) trained with seeded Lloyd iterations on the
    driver. Returns L2-normalized (n_centroids, dim) centroids."""
    sample = np.array(
        [
            r[0]
            for r in vectors.orderBy(id_col).select(emb_col).limit(sample_rows).collect()
        ],
        dtype=np.float64,
    )
    if sample.size == 0:
        raise ValueError(
            "train_ivf_centroids: the vectors table produced an empty sample "
            "(no rows, or all-null embeddings) — cannot train a coarse quantizer"
        )
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.maximum(norms, 1e-12)
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)]
    for _ in range(iters):
        sims = sample @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def _centroid_assign_udf(cents: np.ndarray, top: int = 1):
    """Nearest-``top`` centroids by cosine (inputs need not be
    normalized: centroids are unit vectors, so argmax of dot/|v| ==
    argmax of dot) — one matmul per Arrow batch."""

    @pandas_udf(ArrayType(LongType()))
    def _assign(emb: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(e, dtype=np.float64) for e in emb])
        sims = mat @ cents.T
        idx = np.argsort(-sims, axis=1)[:, :top]
        return pd.Series([[int(c) for c in row] for row in idx])

    return _assign


def ivf_topk(
    vectors: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    probe_id_col: str = "probe_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k — the driver brief's second ANN scale path
    (alongside lsh_topk): vectors land in ONE coarse-quantizer cell
    each; probes search their ``n_probe`` nearest cells; candidates come
    from the cell equi-join and are re-ranked exactly (same quantized
    cosine as brute_force_topk). Never a cross join; the vector side
    shuffles once on the cell id."""
    if centroids is None:
        centroids = train_ivf_centroids(vectors, dim, n_centroids, id_col=id_col, emb_col=emb_col)
    v_assign = _centroid_assign_udf(centroids, top=1)
    p_assign = _centroid_assign_udf(centroids, top=n_probe)
    vb = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("vec_emb")
    ).withColumn("cid", F.element_at(v_assign(F.col("vec_emb")), 1))
    pb = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(emb_col).alias("probe_emb")
    ).withColumn("cid", F.explode(p_assign(F.col("probe_emb"))))
    cand = vb.join(F.broadcast(pb), "cid").filter(F.col("vec_id") != F.col("probe_id"))
    scored = cand.withColumn(
        "cos_sim",
        F.round(
            _dot(_qvec(F.col("vec_emb")), _qvec(F.col("probe_emb")))
            / (
                F.sqrt(_dot(_qvec(F.col("vec_emb")), _qvec(F.col("vec_emb"))).cast("double"))
                * F.sqrt(_dot(_qvec(F.col("probe_emb")), _qvec(F.col("probe_emb"))).cast("double"))
            ),
            6,
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )


def neardup_candidate_ids(
    base: DataFrame,
    dim: int,
    n_planes: int = 10,
    n_tables: int = 6,
    seed: int = 500,
    max_bucket_size: int | None = None,
    persist_tagged: bool = False,
) -> DataFrame:
    """Candidate-pair generation half of
    :func:`embedding_near_duplicates` — hyperplane banding over ids-only
    rows, optional hot-bucket cap, canonical dedup. Split out (round 5)
    so scaling benches can phase-decompose banding vs verify wall time;
    ``base`` must carry (vid, emb) columns.

    ``persist_tagged`` pins the (vid, table, bucket) rows: the self-join
    (and the cap census when enabled) otherwise recomputes the signature
    Arrow pass per use — ReusedExchange never fires because the two
    sides' exchanges differ."""
    planes = [int_plane_matrix(dim, n_planes, seed + t) for t in range(n_tables)]
    # all tables in ONE Arrow pass; posexplode's position == table index
    # (bit-identical buckets to the per-table UDFs, same oracle SQL)
    sig_all = multi_table_signature_udf(planes)
    qcol = _qvec(F.col("emb"))
    tagged = base.select(
        "vid", F.posexplode(sig_all(qcol)).alias("t", "b")
    ).select("vid", F.col("t").cast("int").alias("t"), "b")
    if persist_tagged:
        tagged = tagged.persist()
    if max_bucket_size is not None:
        keep = (
            tagged.groupBy("t", "b")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .select("t", "b")
        )
        tagged = tagged.join(keep, ["t", "b"])
    return (
        tagged.alias("a")
        .join(
            tagged.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _bucket_pair_dots_fn(threshold: float, max_bucket_size: int | None, margin: float = 2e-6):
    """Per-(table, bucket) verify body for the grouped near-dup path
    (round 8, guide §8: decide with small matrices, never attach vectors
    to an exploded candidate set). One BLAS matmul per bucket computes
    every member-pair integer dot product; pairs whose cosine clears
    ``threshold - margin`` are emitted as (id_a, id_b, pair_dot, na, nb)
    scalars and re-verified EXACTLY (JVM division + HALF_UP rounding) by
    the caller, so the margin can only admit extra rows for the exact
    filter to drop — never lose one (round(x, 6) moves x by <= 5e-7, and
    the numpy cosine is computed from the same int64-exact dot and norms
    with correctly-rounded IEEE ops, so it matches the JVM double bit for
    bit; the margin is 4x that bound). Non-finite cosines (zero-norm
    vectors -> 0/0) are passed through because Spark's NaN semantics
    order NaN above every threshold — the JVM filter must decide those.

    Exactness of the matmul: quantized values q satisfy
    ``dim * max|q|^2 < 2^52`` for any real embedding scale, making every
    float64 product/sum an exact integer; a pathological bucket beyond
    that bound falls back to an int64 matmul whose wraparound matches
    Java long arithmetic (the fold the attach path uses).

    ``max_bucket_size`` is enforced HERE (group size == the bucket census
    the census-join used to compute): an oversize bucket emits nothing —
    identical semantics, zero extra shuffle. Memory per task is the
    bucket's (m x dim) matrix plus one (block x m) dot block — bounded by
    the row-block loop, never the full m x m matrix."""

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "pair_dot": pd.Series([], dtype="int64"),
                "na": pd.Series([], dtype="int64"),
                "nb": pd.Series([], dtype="int64"),
            }
        )
        m = len(pdf)
        if m < 2 or (max_bucket_size is not None and m > max_bucket_size):
            return empty
        vids = pdf["vid"].to_numpy(dtype=np.int64)
        A = np.vstack([np.asarray(q, dtype=np.int64) for q in pdf["qv"].to_numpy()])
        order = np.argsort(vids, kind="stable")
        vids = vids[order]
        A = A[order]
        dim = A.shape[1]
        maxabs = int(np.abs(A).max()) if A.size else 0
        exact_f64 = dim * maxabs * maxabs < (1 << 52)
        Af = A.astype(np.float64)
        if exact_f64:
            ns = np.einsum("ij,ij->i", Af, Af).astype(np.int64)
        else:
            ns = np.einsum("ij,ij->i", A, A)
        sq = np.sqrt(ns.astype(np.float64))
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_d: list[np.ndarray] = []
        cut = threshold - margin
        B = 2048
        for lo in range(0, m, B):
            hi = min(lo + B, m)
            if exact_f64:
                G = Af[lo:hi] @ Af.T
            else:
                G = (A[lo:hi] @ A.T).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = G / (sq[lo:hi, None] * sq[None, :])
            cand = (cos >= cut) | ~np.isfinite(cos)
            ri, cj = np.nonzero(cand)
            keep = vids[cj] > vids[ri + lo]
            ri, cj = ri[keep], cj[keep]
            if len(ri):
                out_a.append(ri + lo)
                out_b.append(cj)
                out_d.append(G[ri, cj])
        if not out_a:
            return empty
        ia = np.concatenate(out_a)
        ib = np.concatenate(out_b)
        dots = np.concatenate(out_d).astype(np.int64)
        return pd.DataFrame(
            {
                "id_a": vids[ia],
                "id_b": vids[ib],
                "pair_dot": dots,
                "na": ns[ia],
                "nb": ns[ib],
            }
        )

    return _fn


def embedding_near_duplicates(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 6,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = 500,
    max_bucket_size: int | None = None,
    broadcast_vectors_rows: int = 200_000,
    persist_intermediates: bool = True,
    verify_mode: str = "bucket",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup driver brief): LSH-bucketed
    self-join + exact cosine filter; canonical (id_a < id_b) pairs.

    ``broadcast_vectors_rows`` (round 4, measured): when the corpus has
    at most this many vectors (one cheap count decides), the quantized
    (qv, norm) side BROADCASTS into both verify attach joins. The
    default sort-merge plan sorts the (huge) candidate side twice —
    phase-profiled at 64k vectors / 76M candidates as the reason the
    verify phase stopped scaling with cores (verify ~110-120 s at BOTH
    local[8] and local[32]); forcing the ~40 MB build side broadcast
    cut the same query 200-264 s -> 92 s at local[32]. Spark's 10 MB
    auto-broadcast threshold is far below what any real executor
    carries — 200k vectors ~ 120 MB is still a trivially safe
    broadcast, while a 10^9-vector corpus correctly falls back to the
    shuffle join. Set 0 to disable the broadcast regime (the single
    metadata count job still runs — it sizes the shuffle-hash build
    partitions).

    Scale shape (VERDICT r01 #6): the banded self-join carries *ids only*
    — (vid, t, b) rows — and embeddings re-attach to the (small)
    candidate set afterwards, mirroring the MinHash design. Signatures
    use integer planes on quantized vectors, so the candidate set is
    reproducible by the ANSI-SQL oracle.

    ``max_bucket_size`` (round 4; the hyperplane analog of ngram's
    ``max_shingle_df`` hot-shingle cap): a (table, bucket) with more
    than this many members is dropped from candidate generation — an
    adversarial corpus (e.g. millions of identical embeddings) otherwise
    makes one bucket contribute O(n^2) candidate pairs, the only
    remaining unbounded key in the dedup fleet. The size census is keyed
    exactly like the self-join (one extra light shuffle over ids-only
    rows); pairs co-bucketed ONLY in over-full buckets are missed
    (recall-only tradeoff — the verify threshold is unchanged). Mirror
    the cap in the oracle SQL when used.

    ``persist_intermediates`` (default True) pins the banded id rows and
    the quantized (qv, norm) table, which otherwise each compute TWICE
    (both sides of the candidate self-join / both verify attaches —
    ReusedExchange never fires because the sides differ). Measured 1.15x
    at the bench scale (BENCH/BASELINE.md round 7); the saving is two
    full-corpus Arrow passes, so it grows with corpus size. The pinned
    footprint is ~(1 + n_tables) thin rows per vector plus the quantized
    vectors — disable when executor storage is the binding constraint.
    (Both persist knobs apply to the ``attach`` verify mode only — the
    default ``bucket`` mode touches every input exactly once.)

    ``verify_mode`` (round 8, guide §8 "move heavy bytes once"):

    - ``"bucket"`` (default) — the quantized vectors ride the ONE
      banding exchange (keyed on (table, bucket)) and every bucket's
      pairwise dots come from a single BLAS matmul inside a grouped
      Arrow pass (:func:`_bucket_pair_dots_fn`); only near-threshold
      survivor pairs (plus non-finite-cosine degenerates) leave the
      bucket, are deduped across tables, and re-verified exactly in the
      JVM. Shuffle volume is O(n_tables x corpus bytes) and NOTHING is
      ever attached per candidate — the attach path's candidate-side
      cost (2 x dim longs through Arrow per candidate) grows with the
      co-bucket pair count, which is quadratic in bucket size: at the
      driver bench's 6-plane/10-table query this rewrote a 128 s verify
      into single-digit seconds at sf1.0. Values are bit-identical (the
      exact division + HALF_UP rounding still happen JVM-side).
    - ``"attach"`` — the round-5/7 shape (ids-only banding self-join,
      candidates deduped, vectors attached per candidate by
      broadcast/shuffle-hash join). Kept for A/B and for regimes with
      very fine banding where candidates ≪ n_tables x corpus.
    """
    if verify_mode not in ("bucket", "attach"):
        raise ValueError(f"unknown verify_mode: {verify_mode!r}")
    base = vectors.select(F.col(id_col).alias("vid"), F.col(emb_col).alias("emb"))
    if verify_mode == "bucket":
        # the signature Arrow pass runs in the SCAN stage, so a compact
        # input (one parquet file -> 1-2 splits) would serialize it on
        # 1-2 cores regardless of cluster size; spread small inputs
        # before the UDF (a corpus that already has enough splits skips
        # the exchange)
        par = vectors.sparkSession.sparkContext.defaultParallelism
        if base.rdd.getNumPartitions() < par:
            base = base.repartition(par, F.col("vid"))
        planes = [int_plane_matrix(dim, n_planes, seed + t) for t in range(n_tables)]
        sig_all = multi_table_signature_udf(planes)
        qcol = _qvec(F.col("emb"))
        tagged = base.select(
            "vid",
            qcol.alias("qv"),
            F.posexplode(sig_all(qcol)).alias("t", "b"),
        ).select("vid", "qv", F.col("t").cast("int").alias("t"), "b")
        survivors = tagged.groupBy("t", "b").applyInPandas(
            _bucket_pair_dots_fn(threshold, max_bucket_size),
            "id_a long, id_b long, pair_dot long, na long, nb long",
        )
        pairs = survivors.dropDuplicates(["id_a", "id_b"])
        cos = F.round(
            F.col("pair_dot")
            / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
            6,
        )
        return (
            pairs.withColumn("cos_sim", cos)
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim")
        )
    cand_ids = neardup_candidate_ids(
        base, dim, n_planes=n_planes, n_tables=n_tables, seed=seed,
        max_bucket_size=max_bucket_size, persist_tagged=persist_intermediates,
    )
    # verify on candidates only, with squared norms computed ONCE per
    # vector (the per-pair re-computation was 3 array-dots per candidate
    # — the dominant cost at millions of candidates)
    qbase = base.select(
        "vid", _qvec(F.col("emb")).alias("qv")
    ).withColumn("nv", _dot(F.col("qv"), F.col("qv")))
    if persist_intermediates:
        # qbase feeds both attach sides; without the pin the _qvec Arrow
        # pass runs once per side (no ReusedExchange: the sides broadcast
        # or exchange under different projections)
        qbase = qbase.persist()
    qa_side = qbase.select(
        F.col("vid").alias("id_a"), F.col("qv").alias("qa"), F.col("nv").alias("na")
    )
    qb_side = qbase.select(
        F.col("vid").alias("id_b"), F.col("qv").alias("qb"), F.col("nv").alias("nb")
    )
    n_vec = vectors.count()
    small_corpus = bool(broadcast_vectors_rows) and n_vec <= broadcast_vectors_rows
    if small_corpus:
        qa_side, qb_side = F.broadcast(qa_side), F.broadcast(qb_side)
    else:
        # beyond-broadcast corpora (round 5, measured at 1M vectors /
        # 28.4M candidates): the default sort-merge attach SORTS the
        # huge candidate side twice and anti-scaled with cores (amp=256
        # campaign: verify ~50 s at local[8] -> ~89 s at local[32],
        # spill-bound). A shuffle-hash join hash-exchanges both sides
        # but builds only the (corpus-sized) qv side per partition —
        # no candidate-side sort at any scale. Same rows, same values;
        # join strategy only.
        #
        # Build-side partition sizing (round 5, found at 4.1M vectors):
        # SHUFFLE_HASH builds one in-memory hash map PER PARTITION of
        # the corpus side, so at the session's shuffle_partitions the
        # build can outgrow a task's execution-memory share and the
        # join fails outright ("Can't acquire ... bytes to build hash
        # relation" at 4.1M vectors x 8 partitions on an 8g heap).
        # Size the exchange so each build partition holds <= ~48 MB of
        # quantized vectors (dim longs + row overhead) — explicit
        # repartition on the join keys with a matching count on BOTH
        # sides co-partitions the join with no extra exchange, and the
        # user-specified count is exempt from AQE coalescing.
        import math

        build_bytes = n_vec * (dim * 8 + 96)
        n_part = max(
            int(vectors.sparkSession.conf.get("spark.sql.shuffle.partitions")),
            math.ceil(build_bytes / (48 << 20)),
        )
        qa_side = qa_side.repartition(n_part, "id_a").hint("SHUFFLE_HASH")
        qb_side = qb_side.repartition(n_part, "id_b").hint("SHUFFLE_HASH")
        cand_ids = cand_ids.repartition(n_part, "id_a")
    cand = cand_ids.join(qa_side, "id_a").join(qb_side, "id_b")
    # dot-product strategy by corpus regime (both int64-exact, so the
    # rounded cosine — division + HALF_UP stay JVM-side — is
    # bit-identical either way, and the oracle SQL matches both):
    # - small corpus (the broadcast regime): ONE Arrow pass + numpy
    #   matmul (_qdot_batch) — measured 20-25% faster at ~300k
    #   candidates (round 4),
    # - large corpus: the JVM zip_with/aggregate fold — the Arrow path
    #   ships both 64-long arrays per candidate to Python (~30 GB at
    #   28.4M candidates) and ANTI-SCALES with threads on shared DRAM
    #   (measured round 5, amp=256: dot phase 79 s at local[8] ->
    #   160 s at local[32], while the JVM fold went 44 -> 37 s).
    pair_dot = (
        _qdot_batch(F.col("qa"), F.col("qb"))
        if small_corpus
        else _dot(F.col("qa"), F.col("qb"))
    )
    cos = F.round(
        F.col("pair_dot")
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
        6,
    )
    return (
        cand.withColumn("pair_dot", pair_dot)
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
