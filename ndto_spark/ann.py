"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline. A
  query set of at most MAX_DRIVER_QUERIES rows is collected and the corpus
  streams through the Arrow vector kernel; a bigger one is broadcast and
  scored expression-side (zip_with + aggregate). The per-query top-k is
  taken with an aggregation (slice(sort_array(collect_list))) so the corpus
  never shuffles more than k rows per query per partition after partial
  aggregation.
- ``lsh_topk``: the scale path — random-hyperplane LSH buckets shrink the
  candidate set before the exact re-rank. Recall is tunable via
  (num_planes, num_tables).

Every score computed in Python (brute-force pairs, LSH plane projections,
IVF/k-means list assignment) comes from ``vectors.py``, whose one
NULL/ragged/NaN contract and ascending-index fold make it bit-identical to
the ``dot``/``norm`` expressions here; those stay as the over-cap scorers,
the kernels' test references and the DuckDB oracles' mirrors.
"""

from __future__ import annotations

import random
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the largest query (or eval) side collected to the driver for the Arrow
# scoring path; bigger sides take the broadcast-expression path
MAX_DRIVER_QUERIES = 4096


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine_sim), k rows per query,
    self-matches excluded. Ties broken by neighbor id (deterministic).
    Scores follow the vectors.py contract: a pair with a NULL, NULL-element
    or different-length vector, or a zero norm, scores NULL (and ranks
    FIRST, as NULL sorts first in two_phase_topk); NaN elements give NaN
    (ranked last).
    """
    return two_phase_topk(_cosine_pairs(corpus, queries, id_col, vec_col), k)


def _codes(col, values: list):
    """Each element's index in ``values`` (NULL matches None), -1 if
    absent — so pair filters on ids or groups are int compares."""
    import pyarrow as pa
    import pyarrow.compute as pc

    idx = pc.index_in(
        col, value_set=pa.array(values, type=col.type), skip_nulls=False
    )
    return idx.fill_null(-1).to_numpy(zero_copy_only=False)


def _cosine_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: Optional[str] = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine_sim) for every (query, corpus) pair
    whose ids are non-NULL and differ — and, with ``group_col``, whose
    groups differ null-safely (NULL == NULL).

    A query side of at most MAX_DRIVER_QUERIES rows is collected once and
    the corpus streams through one Arrow kernel pass (vectors.py) instead
    of a broadcast nested-loop join with an interpreted HOF fold per pair.
    Bigger query sides take that broadcast-expression path, which is also
    the kernel's test reference: both give bit-identical scores.
    """
    c_id = corpus.schema[id_col].dataType
    q_cols = [
        F.col(id_col).alias("qid"),
        # self-matches compare in the corpus id type, as the join does
        F.col(id_col).cast(c_id).alias("qkey"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ]
    c_cols = [F.col(id_col), F.col(vec_col).cast("array<double>")]
    if group_col is not None:
        c_group = corpus.schema[group_col].dataType
        q_cols.append(F.col(group_col).cast(c_group).alias("qg"))
        c_cols.append(F.col(group_col))
    q_rows = (
        queries.select(*q_cols)
        .filter(F.col("qid").isNotNull())
        .limit(MAX_DRIVER_QUERIES + 1)
        .collect()
    )
    if len(q_rows) <= MAX_DRIVER_QUERIES:
        import numpy as np
        import pyarrow as pa
        from pyspark.sql import types as T

        from . import vectors
        from .dedup import _spread

        Q = vectors.from_pylist([r["qv"] for r in q_rows])
        qn = vectors.own_norms(Q)
        q_ids = pa.array([r["qid"] for r in q_rows])

        def codes_of(field: str) -> "tuple[list, np.ndarray]":
            pos: dict = {}
            code = [pos.setdefault(r[field], len(pos)) for r in q_rows]
            return list(pos), np.asarray(code, dtype=np.int64)

        keys, q_key = codes_of("qkey")
        if group_col is not None:
            groups, q_group = codes_of("qg")

        def score(batch):
            ids = batch.column(0)
            cv = vectors.read(batch.column(1))
            S, ok = vectors.cosines(cv, vectors.own_norms(cv), Q, qn)
            keep = ids.is_valid().to_numpy(zero_copy_only=False)[:, None] & (
                _codes(ids, keys)[:, None] != q_key[None, :]
            )
            if group_col is not None:
                keep &= _codes(batch.column(2), groups)[:, None] != q_group
            r, q = np.nonzero(keep)
            yield [q_ids.take(q), ids.take(r), pa.array(S[r, q], mask=~ok[r, q])]

        schema = T.StructType(
            [
                T.StructField("query_id", queries.schema[id_col].dataType),
                T.StructField("neighbor_id", c_id),
                T.StructField("cosine_sim", T.DoubleType()),
            ]
        )
        return vectors.map_batches(
            _spread(corpus.select(*c_cols)), score, schema, len(q_rows)
        )

    # norms precomputed ONCE per vector, not per pair: HOFs run
    # interpreted, so cosine()'s 3 folds per pair cost 3x the necessary
    # work in an all-pairs scorer (measured 14.3 -> 6.7 s on a 1000-node
    # kNN graph). dot/(qn*cn) keeps cosine()'s exact fold and multiply
    # order — bit-identical floats, the oracles don't move; try_divide
    # makes a zero norm product NULL, as the kernel does. (A fixed-dim
    # UNROLL of the folds was tried and is ~1.8x SLOWER than the HOF
    # pass: 128 chained GetArrayItems per pair defeat codegen — don't
    # rediscover.)
    q_sel = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("_qn"),
    ]
    c_sel = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("_cn"),
    ]
    cond = F.col("query_id") != F.col("neighbor_id")
    if group_col is not None:
        q_sel.append(F.col(group_col).alias("qg"))
        c_sel.append(F.col(group_col).alias("cg"))
        cond = cond & ~F.col("qg").eqNullSafe(F.col("cg"))
    q = F.broadcast(queries.select(*q_sel))
    return corpus.select(*c_sel).join(q, cond).select(
        "query_id",
        "neighbor_id",
        F.try_divide(
            dot(F.col("qvec"), F.col("cvec")), F.col("_qn") * F.col("_cn")
        ).alias("cosine_sim"),
    )


def two_phase_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of a (query_id, neighbor_id, cosine_sim) frame.

    PLAN NOTE: two-phase top-k. A single groupBy(query).collect_list (or a
    global Window over all candidates) holds the ENTIRE candidate set per
    query in one reducer (partial aggregation merges but never truncates
    collect_list) — O(|candidates|) state per key, OOM at scale. Phase 1
    takes top-k per (query, input partition): each group lives in exactly
    one map task, so its list is bounded by partition size and is sliced to
    k BEFORE the shuffle. Phase 2 merges the ≤k-item per-partition
    survivors — O(k · n_partitions) state per query. Ties broken by
    neighbor id (deterministic). Callers must pre-deduplicate
    (query, neighbor) pairs.
    """
    local = (
        scored.withColumn("_part", F.spark_partition_id())
        .groupBy("query_id", "_part")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("cosine_sim")).alias("neg"),
                            F.col("neighbor_id").alias("nid"),
                        )
                    )
                ),
                1,
                k,
            ).alias("top")
        )
    )
    return (
        local.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("top"))), 1, k
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("t"))
        .select(
            "query_id",
            F.col("t.nid").alias("neighbor_id"),
            (-F.col("t.neg")).alias("cosine_sim"),
        )
    )


def _planes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one bit per plane, packed into a long."""
    bits = []
    for j, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in p]),
                lambda v, w: v.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_buckets_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    idname: str,
    tables: "list[list[list[float]]]",
    dim: int,
) -> DataFrame:
    """(idname, bucket) rows — ``num_tables`` per vector — computed in ONE
    vectorized Arrow pass instead of num_tables x num_planes interpreted
    HOF folds per row (lsh_bucket's zip_with+aggregate run on the
    CodegenFallback path and allocate a fresh array per fold; measured
    6.6 s -> ~0.5 s for 20k x 4x6 x 64 at sf1.0).

    BIT-EXACT to ``lsh_bucket``: every plane's projection is a
    vectors.dots fold, and the sign test counts NaN as positive, as
    F.when(proj > 0) does (Spark orders NaN above every number). Vectors
    that are not valid or not exactly ``dim`` long get signature 0 in
    every table, which is what the expression path's null-poisoned fold +
    when/otherwise(0) yields.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    from . import vectors

    ntab = len(tables)
    P = np.asarray(
        [p for planes in tables for p in planes], dtype=np.float64
    ).reshape(sum(len(planes) for planes in tables), dim)
    # plane -> its bit weight in its table's signature
    weights = np.zeros((P.shape[0], ntab), dtype=np.int64)
    j0 = 0
    for t, planes in enumerate(tables):
        weights[j0 : j0 + len(planes), t] = [1 << j for j in range(len(planes))]
        j0 += len(planes)
    prefix = pa.array([f"{t}:" for t in range(ntab)])
    schema = T.StructType(
        [
            T.StructField(idname, df.schema[id_col].dataType),
            T.StructField("bucket", T.StringType()),
        ]
    )

    def gen(batch):
        ids = batch.column(0)
        v = vectors.read(batch.column(1))
        rows = np.nonzero(v.valid & (v.lengths == dim))[0]
        proj = vectors.dots(vectors.matrix(v, rows, dim), P)
        sigs = np.zeros((len(ids), ntab), dtype=np.int64)
        sigs[rows] = ((proj > 0) | np.isnan(proj)).astype(np.int64) @ weights
        tab = np.tile(np.arange(ntab), len(ids))
        yield [
            ids.take(np.repeat(np.arange(len(ids)), ntab)),
            pc.binary_join_element_wise(
                prefix.take(tab), pa.array(sigs.ravel()).cast(pa.string()), ""
            ),
        ]

    src = df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
    return vectors.map_batches(src, gen, schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    spread: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: LSH-bucketed candidates, exact re-rank.

    Each vector lands in ``num_tables`` buckets (one signature per table);
    candidates are corpus vectors sharing any bucket with the query. At
    scale this replaces the full cross join with a bucket-key equi-join.
    """
    tables = [
        _planes(dim, num_planes, seed + t * 1000) for t in range(num_tables)
    ]

    # ids + buckets ONLY — the vectors never enter the bucket join or the
    # candidate-dedup shuffle (measured 2.4x on the sibling
    # embedding_near_dups pipeline when 64-double payloads rode through
    # both). Bucketing runs as one vectorized Arrow pass
    # (lsh_buckets_arrow — bit-exact to the lsh_bucket expression; the
    # interpreted HOF folds were the dominant cost of the whole query).
    def bucket_ids(df: DataFrame, idname: str) -> DataFrame:
        return lsh_buckets_arrow(df, id_col, vec_col, idname, tables, dim)

    qb = F.broadcast(bucket_ids(queries, "query_id"))
    corpus_rows = corpus
    if spread:
        # the Arrow stage must not ride the file-layout-bound scan stage
        # (one compact parquet file = ONE task); round-robin the raw rows
        # first so bucketing parallelizes (see dedup._spread)
        from .dedup import _spread

        corpus_rows = _spread(corpus.select(id_col, vec_col))
    cb = bucket_ids(corpus_rows, "neighbor_id")
    # candidate pairs dedup'd on bare ids (one shuffle of 2 ids per pair)
    cands = (
        cb.join(qb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # join the vectors back ONCE: queries broadcast, corpus vectors shuffle
    # a single time on neighbor_id (candidates only survive the join)
    # per-VECTOR norms computed in the (tiny) vector-lookup frames, not in
    # the per-PAIR expression (the brute_force_topk hoist, CLAUDE.md):
    # one dot fold per candidate instead of dot + two norms; dot/(qn*cn)
    # is cosine()'s exact op order, so the double is bit-identical
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
        ).withColumn("_qn", norm(F.col("qvec")))
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    ).withColumn("_cn", norm(F.col("cvec")))
    scored = (
        cands.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qvec"), F.col("cvec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("cosine_sim"),
        )
    )
    return two_phase_topk(scored, k)


# A codebook is driver-side metadata: centroid_outliers embeds it as k x dim
# LITERAL vectors in its expression, and the IVF/k-means assignment kernel
# ships it to every task and scores each row against all k lists — right
# for a COARSE codebook (k ≤ a few hundred), but a caller passing k in the
# thousands would build a multi-MB Catalyst tree (or a rows x k score
# matrix per batch) with no warning. Fail loudly instead; for
# large k use the bucketed hyperplane-LSH path (lsh_topk), whose bucket id
# is O(num_planes) expressions regardless of table count.
MAX_CODEBOOK_LITERALS = 65_536


def _check_codebook_size(k: int, dim: int) -> None:
    if k * dim > MAX_CODEBOOK_LITERALS:
        raise ValueError(
            f"codebook k*dim = {k}*{dim} = {k * dim} exceeds "
            f"MAX_CODEBOOK_LITERALS={MAX_CODEBOOK_LITERALS}: the codebook is "
            "embedded as literal vectors in the plan (driver planning blowup "
            "at this size); use fewer/coarser lists or the hyperplane-LSH "
            "path (lsh_topk) for large codebooks"
        )


def kmeans_centroids(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    n_iter: int = 5,
    quantize: Optional[float] = None,
) -> list[list[float]]:
    """Distributed Lloyd's k-means for the IVF coarse codebook.

    Each iteration is ONE Spark job: nearest-centroid assignment in the
    Arrow kernel (assign_cids_arrow — no shuffle, the same pass ivf_topk
    runs) followed by a groupBy(cid) with per-
    dimension avg aggregates (codegen'd, partial map-side combine). Only
    the k x dim centroid matrix ever reaches the driver. Empty clusters
    keep their previous centroid. Init = deterministic md5-ordered sample
    (the same pick ivf_topk uses standalone). Null or short vectors are
    excluded (they can't be assigned).

    ``quantize``: when set (e.g. 1e6), every centroid coordinate is
    truncated to floor(x * quantize) / quantize after each iteration.
    Spark's partial-aggregation merge order makes float avg()
    nondeterministic in the last ulps; quantizing the driver-side codebook
    makes the whole training loop bit-reproducible across engines (the
    DuckDB oracle replays the same truncation).
    """
    _check_codebook_size(k, dim)

    from .dedup import _spread

    # _spread before persisting: persist() caches the SCAN's partitioning,
    # and a single-row-group input would otherwise run every Lloyd's
    # iteration's k-fold assignment + dim avg aggregates on ONE core
    base = _spread(
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ).filter(F.col("vec").isNotNull() & (F.size("vec") >= dim))
    )
    # the training frame is scanned by the init sample AND by every Lloyd's
    # iteration (1 + n_iter jobs): persist for the loop so the source is
    # read once, not re-scanned + re-filtered per iteration (the repo's
    # iterative-operator convention, cf. dedup.near_dup_groups)
    base = base.persist()
    try:
        cents = [
            list(r.vec)
            for r in base.select(
                "vec", F.md5(F.col("vid").cast("string")).alias("h")
            )
            .orderBy("h")
            .limit(k)
            .collect()
        ]
        if not cents:
            # nothing to train on: an empty codebook (ivf_topk treats it as
            # "no lists → no neighbors"), not a zero-arm array() crash below
            return []
        return _lloyds_iterate(base, cents, dim, n_iter, quantize)
    finally:
        base.unpersist()


def _lloyds_iterate(
    base: DataFrame,
    cents: list[list[float]],
    dim: int,
    n_iter: int,
    quantize: Optional[float],
) -> list[list[float]]:
    """The Lloyd's loop over a (persisted) training frame; see
    kmeans_centroids for the plan shape and the quantize contract."""
    import math

    for _ in range(n_iter):
        # assignment via the vectorized Arrow kernel (Spark's struct order
        # over the k dot scores — see assign_cids_arrow)
        assigned = assign_cids_arrow(
            base, "vid", "vec", "x", list(enumerate(cents))
        ).select("cid", F.col("x_vec").alias("vec"))
        means = (
            assigned.groupBy("cid")
            # F.get (not []): ANSI mode throws on out-of-bounds GetArrayItem
            .agg(*[F.avg(F.get(F.col("vec"), i)).alias(f"d{i}") for i in range(dim)])
            .collect()
        )
        for r in means:
            if r.cid is None:
                continue
            new = [float(r[f"d{i}"]) for i in range(dim)]
            if quantize is not None:
                new = [math.floor(x * quantize) / quantize for x in new]
            cents[r.cid] = new
    return cents


def assign_cids_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    idname: str,
    cents: "list[tuple]",
    n: int = 1,
) -> DataFrame:
    """Nearest-list assignment — ``(idname, idname_vec, idname_nrm, cid)``
    rows, one per vector and probed list — in ONE vectorized Arrow pass
    (vectors.py) instead of one interpreted dot fold per row and centroid.

    ``cents`` is the codebook as (cid, vector) pairs; cids are ints, or
    None for a list nothing may join. A vector's lists are the ``n`` whose
    (-dot/(nrm·cn), cid) structs sort first in Spark's struct order —
    NULL scores first, then ascending with NaN greatest, ties to the
    smaller cid — with cn the centroid norm (0 read as 1). So a vector
    whose every score is NULL (wrong length, NULL element, zero norm)
    lands on the smallest cids. ``idname_nrm`` is the vector's own-length
    norm, NULL when the vector is not valid. Slots that pick a None cid
    emit no row."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from . import vectors

    # ascending cid order (None first): np.lexsort is stable, so score
    # ties keep the smaller cid
    cents = sorted(cents, key=lambda c: (c[0] is not None, c[0] or 0))
    cid_ok = np.array([c is not None for c, _ in cents], dtype=bool)
    cids = np.array([c or 0 for c, _ in cents], dtype=np.int64)
    C = vectors.from_pylist([v for _, v in cents])
    cn = vectors.own_norms(C)
    cn[cn == 0] = 1.0
    schema = T.StructType(
        [
            T.StructField(idname, df.schema[id_col].dataType),
            T.StructField(f"{idname}_vec", T.ArrayType(T.DoubleType())),
            T.StructField(f"{idname}_nrm", T.DoubleType()),
            T.StructField("cid", T.LongType()),
        ]
    )

    def gen(batch):
        v = vectors.read(batch.column(1))
        nrm = vectors.own_norms(v)
        S, ok = vectors.cosines(v, nrm, C, cn)
        neg = -S
        nan = np.isnan(neg)
        slot = np.lexsort((np.where(nan | ~ok, 0.0, neg), nan, ok))[:, :n]
        rows = np.repeat(np.arange(len(v.valid)), slot.shape[1])
        slot = slot.ravel()
        keep = cid_ok[slot]
        rows, slot = rows[keep], slot[keep]
        yield [
            batch.column(0).take(rows),
            batch.column(1).take(rows),
            pa.array(nrm[rows], mask=~v.valid[rows]),
            pa.array(cids[slot]),
        ]

    src = df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
    return vectors.map_batches(src, gen, schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: Optional[list[list[float]]] = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse quantize, probe lists.

    Every vector is assigned to its nearest centroid (one 'list'); a query
    scans only its ``n_probe`` nearest lists. The candidate scan becomes an
    equi-join on list id — the 100 TB replacement for the cross join.

    ``centroids`` takes a trained codebook (see kmeans_centroids; list ids
    are the codebook indices). Default: a deterministic md5-ordered sample
    of the corpus (portable — the DuckDB oracle reproduces the same pick);
    the IVF mechanics are identical either way, and the codebook is always
    driver-side metadata of size O(n_lists · dim) shipped to the
    assignment kernel (assign_cids_arrow) on both sides.
    """
    if centroids is not None:
        cents = list(enumerate(centroids))
    else:
        sample = (
            corpus.select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).cast("array<double>").alias("cvec"),
                F.md5(F.col(id_col).cast("string")).alias("h"),
            )
            .orderBy("h", "cid")
            .limit(n_lists)
            .collect()
        )
        # list ids are the RANKS of the sampled corpus ids: ranks are longs
        # whatever the id type, and break score ties exactly as the ids
        # would (a NULL id stays a None list id, which never joins)
        rank = {c: i for i, c in enumerate(sorted(
            r.cid for r in sample if r.cid is not None
        ))}
        cents = [(rank.get(r.cid), r.cvec) for r in sample]
    if not cents:
        # empty corpus (or an untrainable codebook): no lists, no neighbors —
        # an empty result with the contract schema
        from pyspark.sql import types as T

        return corpus.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        "query_id", queries.schema[id_col].dataType
                    ),
                    T.StructField(
                        "neighbor_id", corpus.schema[id_col].dataType
                    ),
                    T.StructField("cosine_sim", T.DoubleType()),
                ]
            ),
        )
    _check_codebook_size(
        len(cents), max((len(v) for _, v in cents if v is not None), default=0)
    )

    # corpus assignment as ONE vectorized Arrow pass, spread off the
    # file-layout-bound scan first; the (tiny, broadcast) query side runs
    # the same kernel for its n_probe nearest lists
    from .dedup import _spread

    corpus_lists = assign_cids_arrow(
        _spread(corpus.select(id_col, vec_col)),
        id_col,
        vec_col,
        "neighbor_id",
        cents,
    )
    query_lists = F.broadcast(
        assign_cids_arrow(queries, id_col, vec_col, "query_id", cents, n_probe)
    )
    # each corpus vector lives in exactly ONE list, so a (query, neighbor)
    # pair occurs at most once — no dedup shuffle needed; with the broadcast
    # list join and the map-side phase-1 of two_phase_topk, the corpus side
    # has NO full-row Exchange at all
    cands = corpus_lists.join(query_lists, "cid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # per-VECTOR norms hoisted out of the per-PAIR expression (the
    # brute_force_topk treatment): the assignment kernel
    # computes norm(vec) once per vector and carries it through the join,
    # so scoring runs ONE dot fold per pair instead of dot + two norm
    # folds; dot/(qn*cn) is the same op order cosine() ran, so the double
    # is bit-identical
    scored = cands.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("query_id_vec"), F.col("neighbor_id_vec"))
            / (F.col("query_id_nrm") * F.col("neighbor_id_nrm"))
        ).alias("cosine_sim"),
    )
    return two_phase_topk(scored, k)


def quantize_embeddings(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 vector quantization — the storage/transport prep for
    a vector index (4x smaller than float32, 8x than float64; IVF/LSH
    candidate scoring works on int8 with the per-vector scale).

    Per vector: absmax = max|x_i|, codes q_i = floor(x_i * 127 / absmax
    + 0.5) ∈ [-127, 127] (half-up — floor(+0.5) rather than a
    rounding-mode builtin, so every step is a single IEEE op both engines
    evaluate identically), dequantized value = q_i * absmax / 127. Emits
    per-vector quality alongside the codes:

      (id, dim, absmax_e9, codes, max_err_ratio_e6)

    where max_err_ratio = max_i |x_i*127/absmax − q_i| ≤ 0.5 by
    construction (a larger value means the quantizer is broken — the
    validation invariant), and absmax_e9 = floor(absmax * 1e9). Zero/empty
    vectors emit dim with NULL absmax/codes (nothing to scale — feed them
    to validate_embeddings, which flags them upstream).

    100 TB shape: pure per-row expression work (transform/aggregate inside
    codegen'd projections, max is order-independent so no fold-order
    pinning needed), zero shuffle, zero Python.
    """
    from .dedup import bind

    vc = F.col(vec_col).cast("array<double>")

    # nested let-bindings (dedup.bind): HOF lambda bodies re-evaluate their
    # subtrees PER ELEMENT, so both the vector and its absmax must be bound
    # once per row or the per-element code/err lambdas go O(dim^2)
    def _over_vec(v: Column) -> Column:
        raw_absmax = F.array_max(F.transform(v, F.abs))

        def _over_absmax(am0: Column) -> Column:
            am = F.when(am0 > 0, am0)  # NULL for zero/empty vectors

            def _over_codes(codes: Column) -> Column:
                err = F.array_max(
                    F.zip_with(
                        v,
                        codes,
                        lambda x, q: F.abs(x * F.lit(127.0) / am - q),
                    )
                )
                return F.struct(
                    F.size(v).cast("bigint").alias("dim"),
                    F.floor(am * F.lit(1e9)).cast("bigint").alias("absmax_e9"),
                    F.when(am.isNotNull(), codes).alias("codes"),
                    F.floor(err * F.lit(1e6))
                    .cast("bigint")
                    .alias("max_err_ratio_e6"),
                )

            codes = F.transform(
                v,
                lambda x: F.floor(x * F.lit(127.0) / am + F.lit(0.5)).cast(
                    "int"
                ),
            )
            return bind(codes, _over_codes)

        return bind(raw_absmax, _over_absmax)

    out = df.select(F.col(id_col), bind(vc, _over_vec).alias("_q"))
    return out.select(
        id_col, "_q.dim", "_q.absmax_e9", "_q.codes", "_q.max_err_ratio_e6"
    )


def quantized_topk(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Brute-force top-k over int8-QUANTIZED vectors — the search half of
    quantize_embeddings (both inputs are its output shape: (id, codes,
    absmax_e9); vectors with NULL codes — zero/empty — are skipped on both
    sides).

    score(q, d) = idot(q.codes, d.codes) · scale_q · scale_d with
    scale = absmax_e9 · 1e-9 / 127 — i.e. the dot product of the
    DEQUANTIZED vectors, computed as one exact integer dot (|idot| ≤
    dim · 127² — exact in int64 and in float64 up to 2^53) times two
    stored scales, in a FIXED multiply order so both engines produce
    bit-identical doubles. Ties break by neighbor id.

    100 TB shape: queries broadcast (query sets are small); the corpus
    scan reads codes + one bigint instead of float vectors — a 4-8x
    narrower scan, which is the point of a quantized index; then the same
    bounded two-phase top-k as brute_force_topk (state O(k·partitions)
    per query, never the candidate set).
    """
    q = F.broadcast(
        queries_q.filter(F.col("codes").isNotNull()).select(
            F.col("vec_id").alias("query_id"),
            F.col("codes").alias("qc"),
            F.col("absmax_e9").alias("qs"),
        )
    )
    c = corpus_q.filter(F.col("codes").isNotNull()).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("codes").alias("dc"),
        F.col("absmax_e9").alias("ds"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("dc"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scale = lambda e9: e9.cast("double") * F.lit(1e-9) / F.lit(127.0)  # noqa: E731
    score = (idot.cast("double") * scale(F.col("qs"))) * scale(F.col("ds"))
    scored = c.join(q, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", score.alias("cosine_sim")
    )
    out = two_phase_topk(scored, k)
    return out.select(
        "query_id", "neighbor_id", F.col("cosine_sim").alias("score")
    )


def unit_norm_embeddings(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """L2 unit normalization — the cosine-similarity prep every embedding
    pipeline runs before indexing (after it, dot product == cosine, so
    the ANN index skips per-pair norm work).

    Float discipline (the quantize_embeddings contract): the squared-sum
    folds LEFT in index order from 0.0, sqrt and each per-component
    division are single IEEE ops — any engine reproduces the normalized
    vector bit-exactly. Zero/empty vectors emit NULL norm and NULL unit
    vector (nothing to scale).

    Output: (id, dim, norm_e9, unit) with norm_e9 = floor(norm·1e9).

    100 TB shape: pure per-row expression work inside codegen'd
    projections (the vector and its norm are let-bound once per row —
    HOF lambda bodies re-evaluate subtrees per element), zero shuffle,
    zero Python.
    """
    from .dedup import bind

    vc = F.col(vec_col).cast("array<double>")

    def _over_vec(v: Column) -> Column:
        ss = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)

        def _over_norm(n0: Column) -> Column:
            n = F.when(n0 > 0, F.sqrt(n0))  # NULL for zero/empty vectors
            return F.struct(
                F.size(v).alias("dim"),
                F.floor(n * F.lit(1e9)).cast("bigint").alias("norm_e9"),
                bind(n, lambda nn: F.when(
                    nn.isNotNull(), F.transform(v, lambda x: x / nn)
                )).alias("unit"),
            )

        return bind(ss, _over_norm)

    out = df.select(F.col(id_col), bind(vc, _over_vec).alias("_s"))
    return out.select(
        id_col,
        F.col("_s.dim").alias("dim"),
        F.col("_s.norm_e9").alias("norm_e9"),
        F.col("_s.unit").alias("unit"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    query (anchor), the k most-similar corpus vectors whose ``group_col``
    DIFFERS from the anchor's — the near-miss negatives that teach a
    metric model its decision boundary (in-batch random negatives are
    trivially far at scale; hard ones carry the gradient signal).

    Same-group candidates (potential positives) and self-matches are
    excluded with a null-safe compare, so NULL-labeled rows are mutual
    negatives of everything, including each other. Ties break by
    neighbor id. Returns (query_id, neighbor_id, cosine_sim).

    100 TB shape: identical to ``brute_force_topk`` (it IS its scorer,
    plus the group filter) — ONE corpus scan, and the group filter prunes
    candidates BEFORE the bounded two-phase top-k (O(k·partitions) state
    per anchor, never the candidate set). For anchor sets too big to
    collect or broadcast, run per-shard.
    """
    return two_phase_topk(
        _cosine_pairs(corpus, queries, id_col, vec_col, group_col), k
    )


def centroid_outliers(
    df: DataFrame,
    centroids: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_e6: int = 2_000_000,
) -> DataFrame:
    """Embedding-space outlier detection: squared L2 distance to the
    NEAREST codebook centroid, flagged when the e6-quantized distance
    exceeds ``threshold_e6`` — the garbage-embedding probe (corrupt
    decodes, OOD inputs, collapsed encoders) run before vectors enter an
    ANN index or a SemDeDup pass.

    Distance math is fixed-order per centroid: ``(ssv − 2·dot) + ssc``
    with the vector's squared norm let-bound ONCE per row and each
    centroid's squared norm a Python-float literal; argmin ties break on
    the lower centroid index (lexicographic struct min). Output:
    (id, cid, dist2_e6, outlier).

    100 TB shape: pure expression-side projection — the codebook rides as
    plan literals (``_check_codebook_size`` guard), one corpus scan, zero
    joins/shuffles/Python; cost O(k·dim) per row, the IVF-assignment
    shape.
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    _check_codebook_size(len(centroids), max(len(c) for c in centroids))
    from .dedup import bind

    cents = [[float(x) for x in c] for c in centroids]
    ss_c = [sum(x * x for x in c) for c in cents]

    def _assign(v: Column) -> Column:
        ssv = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)

        def _over_ssv(sv: Column) -> Column:
            best = F.array_min(
                F.array(
                    *[
                        F.struct(
                            (
                                (sv - F.lit(2.0) * dot(v, F.array(*map(F.lit, c))))
                                + F.lit(ss_c[i])
                            ).alias("d2"),
                            F.lit(i).cast("bigint").alias("cid"),
                        )
                        for i, c in enumerate(cents)
                    ]
                )
            )
            return F.struct(
                best["cid"].alias("cid"),
                F.floor(best["d2"] * F.lit(1e6)).cast("bigint").alias("dist2_e6"),
            )

        return bind(ssv, _over_ssv)

    out = df.select(
        F.col(id_col),
        bind(F.col(vec_col).cast("array<double>"), _assign).alias("_a"),
    )
    return out.select(
        id_col,
        F.col("_a.cid").alias("cid"),
        F.col("_a.dist2_e6").alias("dist2_e6"),
    ).withColumn("outlier", F.col("dist2_e6") > F.lit(int(threshold_e6)))


def dimension_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**9,
) -> DataFrame:
    """Per-DIMENSION embedding health profile — the whitening/PCA prep
    and the dead-dim / scale-drift probe (a collapsed encoder shows up as
    dimensions with zero variance; a fine-tune gone wrong as a few
    dimensions dwarfing the rest).

    All aggregates are EXACT integers over e9-quantized components
    (float sums across rows are partition-order-dependent; integer sums
    are not — the engine-portability rule every cross-row float reduction
    here follows): (dim, n, n_zero, sum_q, sum_sq_q, min_q, max_q,
    dead = min_q == max_q). Means/variances divide out downstream at
    whatever precision the consumer wants.

    100 TB shape: posexplode_outer (rule-safe generator) → ONE
    partial-aggregated groupBy(dim) — state is |dims| rows per task, the
    shuffle carries |dims| partials per partition; no windows, no joins.
    """
    q = F.floor(F.col("x") * F.lit(float(scale))).cast("bigint")
    g = (
        df.select(
            F.posexplode_outer(F.col(vec_col).cast("array<double>")).alias(
                "dim", "x"
            )
        )
        .filter(F.col("x").isNotNull())
        .select(F.col("dim").cast("bigint").alias("dim"), q.alias("xq"),
                F.col("x"))
    )
    sq = F.floor(F.col("x") * F.col("x") * F.lit(float(scale))).cast("bigint")
    return (
        g.select("dim", "xq", sq.alias("x2q"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("xq") == 0).cast("bigint")).cast("bigint").alias("n_zero"),
            F.sum("xq").cast("bigint").alias("sum_q"),
            F.sum("x2q").cast("bigint").alias("sum_sq_q"),
            F.min("xq").cast("bigint").alias("min_q"),
            F.max("xq").cast("bigint").alias("max_q"),
        )
        .withColumn("dead", F.col("min_q") == F.col("max_q"))
    )


def class_prototypes(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**9,
) -> DataFrame:
    """Per-class embedding prototypes — the nearest-class-mean building
    block (few-shot heads, per-domain centroids for SemDeDup, drift
    probes comparing a class's prototype across snapshots). Emits one row
    per (label, dim) with exact integer aggregates over e9-quantized
    components: (label, dim, n, sum_q, mean_q = sum_q div n) — the
    ``dimension_profile`` order-independence rule, applied per class
    (float means across rows depend on partition order; integer sums
    don't).

    NULL labels are kept as their own class (they often ARE the
    interesting cohort). Zero/NULL vectors contribute nothing. ``mean_q``
    truncates toward zero (Spark ``div``; sums go negative — DuckDB's
    ``//`` FLOORS, so the oracle reconstructs truncation as
    ``(sum_q - sum_q % n) // n``).

    100 TB shape: posexplode_outer (rule-safe) → ONE partial-aggregated
    groupBy(label, dim); state per task ≤ |classes|·|dims| longs.
    """
    g = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode_outer(F.col(vec_col).cast("array<double>")).alias(
                "dim", "x"
            ),
        )
        .filter(F.col("x").isNotNull())
        .select(
            "label",
            F.col("dim").cast("bigint").alias("dim"),
            F.floor(F.col("x") * F.lit(float(scale))).cast("bigint").alias("xq"),
        )
    )
    return (
        g.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xq").cast("bigint").alias("sum_q"),
        )
        .withColumn("mean_q", F.expr("sum_q div n"))
    )


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    mutual_only: bool = False,
) -> DataFrame:
    """k-NN GRAPH over the corpus itself — the adjacency every
    graph-based curation step starts from (label propagation, UMAP/graph
    clustering, coreset selection): canonical undirected edges
    (id_a < id_b, cosine_sim) from each vector's top-k, with ``mutual`` =
    true iff BOTH endpoints rank each other (mutual-kNN edges are the
    noise-robust subset — a hub that one-sidedly attracts distant points
    doesn't get mutual edges). ``mutual_only=True`` keeps just those.

    Edge sim is bit-identical from either direction (the dot fold is the
    same ascending-index order, multiplication commutes), so the
    direction merge is an exact groupBy, not a float dedup.

    100 TB shape: this entry point scores with brute_force_topk (the
    exact O(n²) oracle twin — labeled small-scale like the other exact
    paths); at scale generate the directed top-k with lsh_topk / ivf_topk
    (same (query_id, neighbor_id, cosine_sim) contract) and reuse
    knn_edges_from_topk below — the canonicalize + direction-count
    groupBy is |directed edges| = n·k rows, map-side combinable.
    """
    return knn_edges_from_topk(
        brute_force_topk(df, df, id_col, vec_col, k), mutual_only
    )


def knn_edges_from_topk(nn: DataFrame, mutual_only: bool = False) -> DataFrame:
    """Canonicalize a directed (query_id, neighbor_id, cosine_sim) top-k
    frame into undirected (id_a, id_b, cosine_sim, mutual) edges."""
    e = nn.select(
        F.least("query_id", "neighbor_id").alias("id_a"),
        F.greatest("query_id", "neighbor_id").alias("id_b"),
        "cosine_sim",
    )
    out = (
        e.groupBy("id_a", "id_b")
        .agg(
            F.max("cosine_sim").alias("cosine_sim"),
            F.count(F.lit(1)).alias("_n_dirs"),
        )
        .withColumn("mutual", F.col("_n_dirs") == 2)
        .drop("_n_dirs")
    )
    return out.filter(F.col("mutual")) if mutual_only else out


def kcenter_coreset(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    start_id: "int | None" = None,
) -> DataFrame:
    """Greedy k-CENTER (farthest-first) coreset selection — the classic
    diversity subset for labeling budgets / eval carving / prototype
    pools: start from ``start_id`` (default: smallest id), then k−1 times
    pick the vector FARTHEST (cosine distance 1 − cos) from everything
    chosen so far. A 2-approximation of the optimal k-center cover.

    Determinism: every distance is the engine-exact ascending-index fold
    (the caption/outlier oracles' replay contract — Python's left-to-right
    center-norm sum runs the same IEEE adds), and the argmax is ONE
    max(struct(min_dist, −id)) aggregate — full-precision total order
    with smallest-id ties, reproducible at any parallelism.

    100 TB shape: the (id, vec, norm) base is persisted once; each round
    is one codegen projection (least of the running min-dist and the
    distance to the newest center — k×dim literals ride the plan, the
    kmeans codebook convention) + one 1-row argmax aggregate. The
    re-read min-dist frame is persisted per round and the superseded one
    released (the documented convention for re-read iterative frames) —
    k driver barriers total, no shuffle anywhere.

    Output: (pick_order, center_id, dist_e6) — dist_e6 the e6-floored
    min-distance the pick was made at (NULL for the start vector).
    """
    import math

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            norm(F.col(vec_col)).alias("n"),
        )
        .persist()
    )
    n_rows = base.count()
    if n_rows == 0:
        base.unpersist()
        return df.sparkSession.createDataFrame(
            [], "pick_order bigint, center_id bigint, dist_e6 bigint"
        )
    if start_id is None:
        start_id = base.agg(F.min("vid")).collect()[0][0]
    picks = [(0, int(start_id), None)]
    cur = int(start_id)
    state = None
    for j in range(1, min(k, n_rows)):
        cvec = base.filter(F.col("vid") == cur).select("v").collect()[0][0]
        acc = 0.0
        for x in cvec:  # Spark's norm fold order exactly
            acc += x * x
        cnorm = math.sqrt(acc)
        d = F.lit(1.0) - dot(
            F.col("v"), F.array(*[F.lit(float(x)) for x in cvec])
        ) / (F.col("n") * F.lit(cnorm))
        mind = d if state is None else F.least(F.col("mind"), d)
        new_state = base.join(
            state.select("vid", "mind"), "vid"
        ).select("vid", "v", "n", mind.alias("mind")) if state is not None \
            else base.select("vid", "v", "n", mind.alias("mind"))
        new_state = new_state.persist()
        row = new_state.agg(
            F.max(
                F.struct(F.col("mind"), (-F.col("vid")).alias("negid"))
            ).alias("w")
        ).collect()[0]["w"]
        if state is not None:
            state.unpersist()
        state = new_state
        cur = int(-row["negid"])
        picks.append((j, cur, int(math.floor(row["mind"] * 1e6))))
    if state is not None:
        state.unpersist()
    base.unpersist()
    return df.sparkSession.createDataFrame(
        picks, "pick_order bigint, center_id bigint, dist_e6 bigint"
    )
