"""Arrow vector kernels: the one place a list column becomes numbers.

Every vector operator that scores in Python (``ann.brute_force_topk`` and
``ann.hard_negatives``, ``ann.lsh_buckets_arrow``, ``ann.assign_cids_arrow``,
``dedup.semantic_decontaminate``) streams its corpus through
``map_batches`` and reads vectors with ``read``: a list column's offsets and
flattened values, viewed as float64, plus ONE validity mask.

The contract, which is exactly what the expression folds of ``ann.dot`` /
``ann.norm`` compute (``zip_with`` pads the shorter side with NULLs, and a
NULL poisons the fold):

- a vector is *valid* when it is non-NULL and holds no NULL element; a
  valid vector's norm is its own-length fold, an invalid one's is NULL;
- a pair gets a score only when both vectors are valid and have the same
  length; every other pair scores NULL, and so does a pair whose norm
  product is 0 (``try_divide``'s answer to a zero divisor);
- NaN elements stay IEEE NaN through every op.

``dots`` and ``norms`` accumulate in ASCENDING index order from 0.0 — the
exact left-fold order of ``F.aggregate`` — with the same elementary IEEE
double ops (one product, one add per element; then one divide), so every
score is bit-identical to the expression path's, not merely close.

Ids and other pass-through columns stay Arrow arrays in their native Spark
type; they are never converted to Python objects.
"""

from __future__ import annotations

from typing import Callable, Iterator, NamedTuple, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# output pairs per kernel call: scoring an (n, m) block allocates a few
# n*m doubles, so a corpus batch is sliced to bound that working set
PAIR_BLOCK = 1 << 20


class Vectors(NamedTuple):
    """A list column read once: row i is ``flat[offsets[i]:offsets[i+1]]``
    (NULL elements read as NaN), usable iff ``valid[i]``."""

    offsets: np.ndarray  # (n + 1,) int64 positions into flat
    flat: np.ndarray  # float64 element values
    valid: np.ndarray  # (n,) bool: non-NULL vector, no NULL element

    @property
    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)


def read(arr: "pa.Array | pa.ChunkedArray") -> Vectors:
    """Read a (possibly sliced or chunked) list array of numbers."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if len(arr) == 0:
        return Vectors(np.zeros(1, np.int64), np.zeros(0), np.zeros(0, bool))
    offsets = np.asarray(arr.offsets, dtype=np.int64)
    lo = int(offsets[0])
    values = arr.values.slice(lo, int(offsets[-1]) - lo)
    offsets = offsets - lo
    if values.type != pa.float64():
        values = values.cast(pa.float64())
    flat = values.to_numpy(zero_copy_only=False)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    if values.null_count:
        nulls = np.concatenate(
            [[0], np.cumsum(values.is_null().to_numpy(zero_copy_only=False))]
        )
        valid = valid & (nulls[offsets[1:]] == nulls[offsets[:-1]])
    return Vectors(offsets, flat, valid)


def from_pylist(vecs: Sequence) -> Vectors:
    """Read driver-side vectors (lists of floats, None for NULL)."""
    return read(pa.array(list(vecs), type=pa.list_(pa.float64())))


def groups(v: Vectors) -> "dict[int, np.ndarray]":
    """Row indices of the valid vectors, keyed by length."""
    lens = v.lengths
    return {
        int(d): np.nonzero(v.valid & (lens == d))[0]
        for d in np.unique(lens[v.valid])
    }


def matrix(v: Vectors, rows: np.ndarray, d: int) -> np.ndarray:
    """The (len(rows), d) float64 matrix of ``rows``, all ``d`` long."""
    return v.flat[v.offsets[rows][:, None] + np.arange(d)[None, :]]


@np.errstate(all="ignore")
def norms(A: np.ndarray) -> np.ndarray:
    """Row norms of an (n, d) matrix: sqrt of the ascending-index fold."""
    acc = np.zeros(A.shape[0])
    for k in range(A.shape[1]):
        acc += A[:, k] * A[:, k]
    return np.sqrt(acc)


@np.errstate(all="ignore")
def dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, m) dot products of (n, d) and (m, d), ascending-index fold."""
    out = np.zeros((A.shape[0], B.shape[0]))
    tmp = np.empty_like(out)
    for k in range(A.shape[1]):
        np.multiply(A[:, k, None], B[None, :, k], out=tmp)
        out += tmp
    return out


def own_norms(v: Vectors) -> np.ndarray:
    """Each vector's own-length norm; NaN where the vector is not valid."""
    out = np.full(len(v.valid), np.nan)
    for d, rows in groups(v).items():
        out[rows] = norms(matrix(v, rows, d))
    return out


def cosines(
    a: Vectors, an: np.ndarray, b: Vectors, bn: np.ndarray
) -> "tuple[np.ndarray, np.ndarray]":
    """All-pairs ``dot / (an * bn)`` of two vector sets given their norms:
    (scores, ok) with ok False where the score is NULL (see the module
    contract)."""
    S = np.zeros((len(a.valid), len(b.valid)))
    ok = np.zeros(S.shape, dtype=bool)
    b_groups = groups(b)
    for d, ra in groups(a).items():
        rb = b_groups.get(d)
        if rb is None:
            continue
        with np.errstate(all="ignore"):
            den = an[ra][:, None] * bn[rb][None, :]
            s = dots(matrix(a, ra, d), matrix(b, rb, d)) / den
        cell = np.ix_(ra, rb)
        S[cell] = s
        ok[cell] = den != 0
    return S, ok


def map_batches(
    df: DataFrame,
    fn: Callable[[pa.RecordBatch], Iterator[list]],
    schema: T.StructType,
    pairs_per_row: int = 1,
) -> DataFrame:
    """Run ``fn`` over ``df``'s Arrow batches and return its output as a
    DataFrame. A kernel that scores each row against ``pairs_per_row``
    driver-side vectors gets batches sliced to PAIR_BLOCK pairs.

    ``fn`` yields lists of columns, one per ``schema`` field: Arrow or
    numpy arrays, each cast to the field's Arrow type.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        step = max(1, PAIR_BLOCK // max(pairs_per_row, 1))
        for batch in batches:
            for lo in range(0, batch.num_rows, step):
                for cols in fn(batch.slice(lo, step)):
                    cols = [
                        pa.array(c).cast(f.type)
                        if isinstance(c, np.ndarray)
                        else c.cast(f.type)
                        for c, f in zip(cols, out_schema)
                    ]
                    yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    return df.mapInArrow(run, schema)
