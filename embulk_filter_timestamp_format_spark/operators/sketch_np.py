"""Vectorized (Arrow + numpy) twins of the Catalyst sketch builders.

The MinHash signature and the SimHash majority vote are per-row folds
over an array column. Spark's higher-order functions (``aggregate`` /
``zip_with``) are CodegenFallback — every element evaluates through the
interpreted expression walker, and the MinHash fold additionally
allocates a fresh k-element accumulator array PER ELEMENT. Measured at
sf1.0 that put the sketch build at ~5-6 ms of core time per document,
the single largest cost of the whole dedup family (guide §4.2: hand
whole batches to vectorized native code instead).

These pandas UDFs compute bit-identical values with numpy:

* all arithmetic is exact 64-bit integer math (the affine products are
  < 2^62, the Mersenne reduction is shifts/adds — no '%' and no float);
* null arrays map to null, empty arrays to the same fold-over-nothing
  results the Catalyst expressions produce (the init vector for
  MinHash, the all-bits-set degenerate sketch for SimHash);
* the UDFs are pure functions of their input column, so plans keep the
  same shape (one projection column) and the SQL oracles are untouched.

They are the only sketch kernels the operators run. Equivalence with
the Catalyst folds (``dedup._minhash_fold`` / ``dedup._simhash_fold``)
is pinned in tests/test_sketch_np.py; every dedup-family oracle
exercises the values end-to-end against DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.types import ArrayType, LongType

from .dedup import MERSENNE61, SIMHASH_BITS, _MASK31, affine_params

_MINHASH_INIT = (1 << 63) - 1


def _mod_m61(p):
    """Exact x mod (2^61-1) for uint64 x < 2^63: fold the high bits down
    (Mersenne prime), then one conditional subtract."""
    m = np.uint64(MERSENNE61)
    r = (p & m) + (p >> np.uint64(61))
    return np.where(r >= m, r - m, r)


def minhash_signature_np(sh_col, num_hashes: int = 32, seed: int = 7):
    """Arrow/numpy twin of :func:`.dedup.minhash_signature` (affine
    scheme): k running minima of (a_i*(s & 2^31-1) + b_i) mod (2^61-1)
    over the shingle-key array, computed as k vectorized passes over the
    flattened batch instead of an interpreted per-element fold."""
    from pyspark.sql.pandas.functions import pandas_udf

    params = affine_params(num_hashes, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.uint64)
    b_vec = np.array([b for _, b in params], dtype=np.uint64)
    k = num_hashes
    mask31 = np.uint64(_MASK31)
    init = np.int64(_MINHASH_INIT)

    @pandas_udf(ArrayType(LongType()))
    def _sig(arrs: pd.Series) -> pd.Series:
        n = len(arrs)
        out = [None] * n
        # gather non-null rows; remember which are empty
        chunks, lens, idxs = [], [], []
        for i, v in enumerate(arrs):
            if v is None:
                continue
            arr = np.asarray(v, dtype=np.int64)
            if arr.size == 0:
                out[i] = np.full(k, init, dtype=np.int64)
            else:
                chunks.append(arr)
                lens.append(arr.size)
                idxs.append(i)
        if not idxs:
            return pd.Series(out)
        vals = np.concatenate(chunks).astype(np.uint64) & mask31
        lens_arr = np.asarray(lens, dtype=np.int64)
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens_arr[:-1], out=starts[1:])
        sigs = np.empty((len(idxs), k), dtype=np.int64)
        for h in range(k):
            hashed = _mod_m61(a_vec[h] * vals + b_vec[h])
            sigs[:, h] = np.minimum.reduceat(hashed, starts).astype(np.int64)
        for j, i in enumerate(idxs):
            out[i] = sigs[j]
        return pd.Series(out)

    return _sig(sh_col)


def simhash60_np(hashes_col):
    """Arrow/numpy twin of :func:`.dedup.simhash60`: bit b of the sketch
    is the majority of bit b across the 60-bit word hashes. Vectorized
    as a (elements x 60) bit unpack + per-row segment sums."""
    from pyspark.sql.pandas.functions import pandas_udf

    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64)

    @pandas_udf(LongType())
    def _sim(arrs: pd.Series) -> pd.Series:
        n = len(arrs)
        out = np.full(n, 0, dtype=object)
        chunks, lens, idxs = [], [], []
        for i, v in enumerate(arrs):
            if v is None:
                out[i] = None
            else:
                arr = np.asarray(v, dtype=np.int64)
                if arr.size == 0:
                    # fold over nothing: counts=0, n=0 -> 0*2 >= 0 is
                    # true for every bit (the Catalyst fold's exact
                    # degenerate value: all 60 weights summed)
                    out[i] = int(weights.sum())
                else:
                    chunks.append(arr)
                    lens.append(arr.size)
                    idxs.append(i)
        if not idxs:
            return pd.Series(out)
        vals = np.concatenate(chunks).astype(np.uint64)
        bits = ((vals[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        lens_arr = np.asarray(lens, dtype=np.int64)
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens_arr[:-1], out=starts[1:])
        counts = np.add.reduceat(bits, starts, axis=0)  # (rows, 60)
        nvec = np.asarray(lens, dtype=np.int64)[:, None]
        sims = ((counts * 2 >= nvec) * weights[None, :]).sum(axis=1)
        for j, i in enumerate(idxs):
            out[i] = int(sims[j])
        return pd.Series(out)

    return _sim(hashes_col)

