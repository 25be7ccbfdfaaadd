"""The Arrow vector-kernel layer (ndto_spark/vectors.py): the matrix reader,
the ascending-index folds, path equivalence of every kernel against its
expression reference, and the guard that keeps list→matrix conversion in
one module."""

from __future__ import annotations

import math
import os
import struct
from unittest import mock

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ndto_spark import ann, vectors
from ndto_spark.dedup import semantic_decontaminate

PKG = os.path.join(os.path.dirname(__file__), os.pardir, "ndto_spark")
NAN = float("nan")


# --- the matrix reader --------------------------------------------------------

ROWS = [[1.0, 2.0], None, [3.0, None, 4.0], [], [5.0], [NAN, 1.0], [6.0, 7.0]]


def _as_lists(v: vectors.Vectors):
    return [
        list(v.flat[v.offsets[i] : v.offsets[i + 1]]) if ok else None
        for i, ok in enumerate(v.valid)
    ]


def _same(a, b) -> bool:
    return repr(a) == repr(b)  # NaN-aware list equality


def test_read_marks_null_rows_and_null_elements_invalid():
    v = vectors.read(pa.array(ROWS, pa.list_(pa.float64())))
    assert v.valid.tolist() == [True, False, False, True, True, True, True]
    assert v.lengths.tolist() == [2, 0, 3, 0, 1, 2, 2]
    assert _same(
        _as_lists(v), [[1.0, 2.0], None, None, [], [5.0], [NAN, 1.0], [6.0, 7.0]]
    )
    assert {d: r.tolist() for d, r in vectors.groups(v).items()} == {
        0: [3], 1: [4], 2: [0, 5, 6]
    }
    assert vectors.matrix(v, np.array([0, 6]), 2).tolist() == [
        [1.0, 2.0], [6.0, 7.0]
    ]


@pytest.mark.parametrize("start,length", [(0, 7), (2, 3), (1, 5), (6, 1), (3, 0)])
def test_read_sliced_array_matches_its_copy(start, length):
    arr = pa.array(ROWS, pa.list_(pa.float32())).slice(start, length)
    got = vectors.read(arr)
    want = vectors.read(pa.array(arr.to_pylist(), pa.list_(pa.float64())))
    assert got.valid.tolist() == want.valid.tolist()
    assert got.lengths.tolist() == want.lengths.tolist()
    assert _same(_as_lists(got), _as_lists(want))


def test_read_chunked_array_matches_combined():
    typ = pa.list_(pa.float64())
    chunks = pa.chunked_array([pa.array(ROWS[:3], typ), pa.array(ROWS[3:], typ)])
    got = vectors.read(chunks)
    want = vectors.read(pa.array(ROWS, typ))
    assert got.valid.tolist() == want.valid.tolist()
    assert _same(_as_lists(got), _as_lists(want))
    empty = vectors.read(pa.chunked_array([], typ))
    assert len(empty.valid) == 0 and vectors.groups(empty) == {}


def test_folds_are_the_ascending_left_fold():
    rng = np.random.default_rng(3)
    A, B = rng.normal(size=(5, 7)), rng.normal(size=(4, 7))

    def fold(xs, ys):
        acc = 0.0
        for x, y in zip(xs, ys):
            acc = acc + x * y
        return acc

    want = [[fold(a, b) for b in B] for a in A]
    assert vectors.dots(A, B).tolist() == want
    assert vectors.norms(A).tolist() == [math.sqrt(fold(a, a)) for a in A]


def test_cosines_null_for_ragged_invalid_and_zero_norm_pairs():
    a = vectors.from_pylist([[1.0, 0.0], [0.0, 0.0], [1.0], None, [NAN, 1.0]])
    b = vectors.from_pylist([[1.0, 1.0], [2.0], [1.0, None]])
    S, ok = vectors.cosines(a, vectors.own_norms(a), b, vectors.own_norms(b))
    assert ok.tolist() == [
        [True, False, False],
        [False, False, False],  # zero norm
        [False, True, False],
        [False, False, False],
        [True, False, False],
    ]
    assert S[0, 0] == 1.0 / math.sqrt(2.0) and S[2, 1] == 1.0
    assert math.isnan(S[4, 0])


# --- path equivalence: kernel vs expression reference -------------------------

# float32-representable values, so array<float> frames hold them exactly
ELEMS = st.one_of(
    st.floats(min_value=-4, max_value=4, allow_nan=False, width=32),
    st.sampled_from([0.0, NAN, None]),
)
VECS = st.one_of(
    st.none(),
    st.lists(ELEMS, min_size=2, max_size=2),
    st.lists(ELEMS, max_size=3),
    st.just([0.0, 0.0]),
)
IDS = {
    "bigint": st.one_of(st.none(), st.integers(0, 6)),
    "string": st.one_of(st.none(), st.sampled_from(["a", "b", "10", "9", "x"])),
}
LABELS = st.one_of(st.none(), st.integers(0, 2))
# top-k with k = MAX_ROWS shows every scored pair, not just the best few
MAX_ROWS = 8


@st.composite
def frames(draw):
    id_type = draw(st.sampled_from(sorted(IDS)))
    elem = draw(st.sampled_from(["double", "float"]))
    rows = draw(
        st.lists(
            st.tuples(IDS[id_type], VECS, LABELS, st.booleans()),
            max_size=MAX_ROWS,
        )
    )
    return rows, (
        f"vec_id {id_type}, embedding array<{elem}>, label int, q boolean"
    )


def _bits(x):
    if x is None:
        return None
    return struct.unpack("<q", struct.pack("<d", x))[0]


def _rows(df):
    out = [tuple(_bits(v) if isinstance(v, float) else v for v in r)
           for r in df.collect()]
    return sorted(out, key=repr)


def _both_paths(run):
    kernel = _rows(run())
    with mock.patch.object(ann, "MAX_DRIVER_QUERIES", 0):
        reference = _rows(run())
    return kernel, reference


@settings(max_examples=20, deadline=None)
@given(frames())
def test_brute_force_topk_kernel_matches_expression(spark, frame):
    df = spark.createDataFrame(*frame)
    kernel, reference = _both_paths(
        lambda: ann.brute_force_topk(df, df.filter("q"), k=MAX_ROWS)
    )
    assert kernel == reference


@settings(max_examples=20, deadline=None)
@given(frames())
def test_hard_negatives_kernel_matches_expression(spark, frame):
    df = spark.createDataFrame(*frame)
    kernel, reference = _both_paths(
        lambda: ann.hard_negatives(df, df.filter("q"), k=MAX_ROWS)
    )
    assert kernel == reference


@settings(max_examples=20, deadline=None)
@given(frames())
@example(  # a zero eval vector against a NaN-norm corpus vector: no hit
    (
        [(1, [0.0, 0.0], None, True), (2, [NAN, 0.0], None, False)],
        "vec_id bigint, embedding array<double>, label int, q boolean",
    )
)
def test_semantic_decontaminate_kernel_matches_expression(spark, frame):
    df = spark.createDataFrame(*frame)
    kernel, reference = _both_paths(
        lambda: semantic_decontaminate(
            df.filter("NOT q"), df.filter("q"), threshold=0.3
        )
    )
    assert kernel == reference


TABLES = [ann._planes(2, 3, seed) for seed in (1, 2)]


@settings(max_examples=20, deadline=None)
@given(frames())
def test_lsh_bucket_kernel_matches_expression(spark, frame):
    df = spark.createDataFrame(*frame)
    kernel = _rows(
        ann.lsh_buckets_arrow(df, "vec_id", "embedding", "vid", TABLES, 2)
    )
    reference = _rows(
        df.select(
            F.col("vec_id").alias("vid"),
            F.explode(
                F.array(
                    *[
                        F.concat(
                            F.lit(f"{t}:"),
                            ann.lsh_bucket(F.col("embedding"), planes).cast(
                                "string"
                            ),
                        )
                        for t, planes in enumerate(TABLES)
                    ]
                )
            ).alias("bucket"),
        )
    )
    assert kernel == reference


# --- pinned path-dependence cases ---------------------------------------------


def test_null_element_scores_null_and_ranks_as_expression_path(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, None]),  # full length, NULL element
            (2, [0.9, 0.1]),
            (3, [-1.0, 0.0]),
            (4, [0.0, 0.0]),  # zero norm
        ],
        "vec_id long, embedding array<double>",
    )
    kernel, reference = _both_paths(
        lambda: ann.brute_force_topk(df, df.filter("vec_id = 0"), k=3)
    )
    assert kernel == reference
    got = ann.brute_force_topk(df, df.filter("vec_id = 0"), k=3).collect()
    # a NULL score sorts FIRST in two_phase_topk's (-sim, id) order
    assert [(r.neighbor_id, r.cosine_sim) for r in got[:2]] == [
        (1, None), (4, None)
    ]
    assert got[2].neighbor_id == 2


def test_semantic_decontaminate_duplicate_and_null_ids_one_row_per_id(spark):
    co = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (1, [1.0, 0.1]),  # duplicate id: hits sum, max_sim is the max
            (None, [0.0, 1.0]),
            (None, [1.0, 1.0]),
            (2, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    kernel, reference = _both_paths(
        lambda: semantic_decontaminate(co, ev, threshold=0.5)
    )
    assert kernel == reference
    out = {
        r.vec_id: (r.n_hits, r.max_sim)
        for r in semantic_decontaminate(co, ev, threshold=0.5).collect()
    }
    assert out == {1: (2, 1.0), None: (3, 1.0)}


def _emb_rows(n, dim, seed):
    rng = np.random.default_rng(seed)
    return [rng.normal(size=dim).tolist() for _ in range(n)]


def test_untrained_ivf_takes_string_ids(spark):
    vecs = _emb_rows(60, 4, 11)
    df = spark.createDataFrame(
        [(f"v{i:03d}", v) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<double>",
    )
    queries = df.filter("vec_id < 'v005'")
    # probing every list is exact search: the brute-force answer, bit for bit
    ivf = ann.ivf_topk(df, queries, k=3, n_lists=6, n_probe=6)
    assert _rows(ivf) == _rows(ann.brute_force_topk(df, queries, k=3))


def test_untrained_ivf_numeric_string_ids_match_long_ids(spark):
    vecs = _emb_rows(60, 4, 12)
    longs = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    strs = longs.select(F.col("vec_id").cast("string").alias("vec_id"), "embedding")
    # same md5 sample ("12" hashes alike either way), so the same lists

    def run(df):
        queries = df.filter(F.col("vec_id").cast("long") < 5)
        out = ann.ivf_topk(df, queries, k=3, n_lists=6, n_probe=2)
        return sorted(
            (int(r.query_id), int(r.neighbor_id), _bits(r.cosine_sim))
            for r in out.collect()
        )

    got = run(strs)
    assert got and got == run(longs)


# --- one implementation -------------------------------------------------------


def _source(name: str) -> str:
    with open(os.path.join(PKG, name)) as fh:
        return fh.read()


def test_list_to_matrix_conversion_lives_in_vectors_py():
    for name in ("ann.py", "dedup.py"):
        src = _source(name)
        assert "np.fromiter(" not in src, f"{name}: read vectors via vectors.py"
        assert "mapInPandas(" not in src, f"{name}: use vectors.map_batches"
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and os.path.relpath(path, PKG) != "vectors.py":
                with open(path) as fh:
                    assert "mapInArrow(" not in fh.read(), path
    assert _source("vectors.py").count("mapInArrow(") == 1
