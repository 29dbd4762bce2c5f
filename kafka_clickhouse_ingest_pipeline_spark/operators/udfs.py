"""UDF surface (tier C13): the three Python extension points, all
Arrow-batched — scalar pandas_udf, grouped-agg pandas_udf, and
applyInPandas group transform.

The reference has no UDF surface at all (SURVEY.md §2 notes); this module
defines the engine's sanctioned escape hatches for logic the built-ins
can't express. Rules of engagement (enforced by example here):

- Never row-at-a-time `F.udf` — every entry point below receives whole
  Arrow batches / pandas groups (~10-100× less Python overhead).
- Python only when the built-ins genuinely can't express it; the operators
  in this repo that *could* have been UDFs (dot products, hashes, quality
  scores) are deliberately built-in expressions instead.
- Grouped transforms must assume nothing about group count or order: the
  group key is data, the schema is declared, state fits one group.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType


@F.pandas_udf(DoubleType())
def l2_norm_udf(vecs: pd.Series) -> pd.Series:
    """Scalar pandas_udf: L2 norm of an embedding column.

    The column arrives as a Series of numpy arrays. Squares are summed in
    float64 left to right (``add.accumulate`` never reassociates), the
    oracle's fold: ``np.dot`` on ``array<float>`` rows accumulates in
    float32 and rounded some norms differently in the 4th decimal.
    """

    def norm(v):
        sq = np.square(np.asarray(v, dtype=np.float64))
        return float(np.sqrt(np.add.accumulate(sq)[-1])) if len(sq) else 0.0

    return vecs.map(norm, na_action="ignore")


@F.pandas_udf(DoubleType())
def seqdot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched dot product, BIT-IDENTICAL to the engine's fold-order dot.

    The HOF reference (`operators.similarity.dot`) is a sequential left
    fold: ((0.0 + x0*y0) + x1*y1) + ... — the portability contract every
    oracle shares. np.dot/np.sum would break it (SIMD/pairwise summation
    reassociates the adds, shifting ulps past the round4 boundary), so
    this accumulates dim-by-dim — the SAME IEEE add sequence per pair —
    while vectorizing over the Arrow batch axis. ~64 numpy ops per batch
    instead of an interpreted 190-node expression per row (the measured
    hot spot of the candidate-pair verify paths).

    Rows where either vector is NULL, or the two differ in length (or
    are empty), return NaN→null like the HOF's zip_with null propagation
    would; uniform-width all-non-null batches take the fast path.
    """
    import math

    out = np.empty(len(a), dtype=np.float64)
    # NULL vectors arrive as None; len(None) would crash the worker
    _len = lambda v: -1 if v is None else len(v)  # noqa: E731
    la = a.map(_len).to_numpy() if len(a) else np.array([], dtype=np.int64)
    lb = b.map(_len).to_numpy() if len(b) else np.array([], dtype=np.int64)
    uniform = (
        len(a) > 0
        and la.min() == la.max()
        and (la == lb).all()
        and la.min() >= 0
    )
    if uniform:
        A = np.vstack(a.to_numpy())
        B = np.vstack(b.to_numpy())
        acc = np.zeros(len(a), dtype=np.float64)
        for i in range(A.shape[1]):
            acc += A[:, i] * B[:, i]
        out = acc
    else:
        for j, (va, vb) in enumerate(zip(a, b)):
            if va is None or vb is None or len(va) != len(vb):
                out[j] = math.nan
                continue
            s = 0.0
            for x, y in zip(va, vb):
                s += float(x) * float(y)
            out[j] = s
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def median_udf(values: pd.Series) -> float:
    """Grouped-aggregate pandas_udf: exact median (interpolated for even
    counts, matching ANSI PERCENTILE_CONT 0.5)."""
    return float(values.median())


def grouped_zscore(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """applyInPandas group transform: z-score normalize within each group.

    Demonstrates the full-group custom transform path (the reference for
    per-group model scoring, resampling, fitting). Each group must fit one
    executor's memory — at 100 TB, group by a key with bounded cardinality
    per group (here: event_type), or pre-aggregate.
    """
    schema = f"{group_col} string, event_id long, {value_col} double, zscore double"

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf[value_col].std(ddof=1)
        mean = pdf[value_col].mean()
        z = (pdf[value_col] - mean) / std if std and std > 0 else pdf[value_col] * 0.0
        return pd.DataFrame(
            {
                group_col: pdf[group_col],
                "event_id": pdf["event_id"],
                value_col: pdf[value_col],
                "zscore": z,
            }
        )

    return df.groupBy(group_col).applyInPandas(normalize, schema=schema)


def doc_token_stats_arrow(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """mapInPandas batch-iterator transform: per-doc token statistics.

    The fourth sanctioned Python entry point (scalar pandas_udf,
    grouped-agg pandas_udf, applyInPandas, mapInPandas): a streaming
    iterator of Arrow batches with no grouping requirement — the shape
    for bulk per-row Python work (tokenizers, parsers) where each batch
    is processed independently and memory stays bounded by batch size,
    not partition size.
    """
    schema = f"{id_col} long, n_tokens long, n_unique long"

    def stats(batches):
        for pdf in batches:
            toks = pdf[text_col].map(lambda s: s.split(" "))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": toks.map(len),
                    "n_unique": toks.map(lambda t: len(set(t))),
                }
            )

    return df.select(id_col, text_col).mapInPandas(stats, schema=schema)


@F.pandas_udf(LongType())
def lsh_bucket_udf(vecs: pd.Series) -> pd.Series:
    """Arrow-vectorized random-hyperplane LSH bucket, BIT-IDENTICAL to
    `operators.similarity.lsh_bucket` (and therefore to the
    `lsh_bucket_sql` oracle twin).

    The JVM expression is a flat 8-plane x 64-term signed sum — ~4k
    expression nodes whose generated code is too big to JIT well; it
    measured ~46µs/row (2.3 s for the sf0.1 corpus scan), dominating
    every bucket-side ANN query. This kernel replays the SAME IEEE add
    sequence — acc starts at 0.0 and adds/subtracts dims left to right,
    exactly the JVM fold — but vectorized across the Arrow batch axis:
    512 numpy ops per batch instead of 512 interpreted ops per row.
    np.dot/np.sum would reassociate the adds (SIMD/pairwise summation)
    and could flip a near-zero plane sign, so they are deliberately NOT
    used (the seqdot_udf contract).

    NULL vectors and missing dims contribute 0.0 per term, mirroring the
    JVM's coalesce(get(vec, i), 0.0) — a NULL vector lands in bucket 0.
    A NULL *element inside* a vector arrives through Arrow as NaN; it is
    masked to 0.0 (both paths) so it contributes 0.0 per term exactly
    like the JVM's per-element coalesce and the SQL oracle's per-element
    COALESCE. (Arrow's pandas conversion collapses null-element and
    literal-NaN-element to the same NaN, so a data NaN also maps to 0.0
    here — the testdata embeddings carry no literal NaNs, and the
    oracle's COALESCE(vec[i], 0.0) keeps a literal NaN as NaN only in a
    column that never has one.)
    """
    from .similarity import EMB_DIM, PLANES

    n = len(vecs)
    _len = lambda v: -1 if v is None else len(v)  # noqa: E731
    ls = vecs.map(_len).to_numpy() if n else np.array([], dtype=np.int64)
    bucket = np.zeros(n, dtype=np.int64)
    uniform = n > 0 and ls.min() == ls.max() and ls.min() >= 0
    if uniform:
        V = np.vstack(vecs.to_numpy()).astype(np.float64, copy=False)
        V = np.nan_to_num(V, nan=0.0, posinf=np.inf, neginf=-np.inf)
        width = min(V.shape[1], EMB_DIM)
        for p, plane in enumerate(PLANES):
            acc = np.zeros(n, dtype=np.float64)
            for i in range(width):
                if plane[i] > 0:
                    acc += V[:, i]
                else:
                    acc -= V[:, i]
            bucket += np.where(acc > 0, 1 << p, 0)
    else:
        for j, v in enumerate(vecs):
            if v is None:
                continue  # all terms coalesce to 0.0 -> bucket 0
            w = min(len(v), EMB_DIM)
            b = 0
            for p, plane in enumerate(PLANES):
                acc = 0.0
                for i in range(w):
                    e = v[i]
                    t = 0.0 if e is None else float(e)
                    if t != t:  # NaN (null element via Arrow) -> 0.0
                        t = 0.0
                    acc = acc + t if plane[i] > 0 else acc - t
                if acc > 0:
                    b += 1 << p
            bucket[j] = b
    return pd.Series(bucket)


def make_hilbert_udf(bits: int = 16):
    """Arrow-vectorized Hilbert xy2d index, replaying exactly the level
    fold of `plans/layout.hilbert_key` (and its chained-CTE SQL twin).
    Pure int64 arithmetic — vectorization cannot change a single value,
    unlike the float kernels above — but the 16-level struct fold the
    JVM evaluates per row measured ~2µs/row x 3 struct fields of
    expression overhead, dominating the layout queries. Returns a
    pandas_udf(long) over (x, y) columns."""
    from pyspark.sql.types import LongType as _Long

    @F.pandas_udf(_Long())
    def hilbert_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
        x = xs.to_numpy(dtype=np.int64, na_value=0)
        y = ys.to_numpy(dtype=np.int64, na_value=0)
        d = np.zeros(len(x), dtype=np.int64)
        for lvl in range(bits - 1, -1, -1):
            s = np.int64(1 << lvl)
            rx = ((x & s) > 0).astype(np.int64)
            ry = ((y & s) > 0).astype(np.int64)
            d += s * s * ((3 * rx) ^ ry)
            refl_x = np.where(rx == 1, s - 1 - x, x)
            refl_y = np.where(rx == 1, s - 1 - y, y)
            nx = np.where(ry == 0, refl_y, x)
            ny = np.where(ry == 0, refl_x, y)
            x, y = nx, ny
        return pd.Series(d)

    return hilbert_udf


# pipeline_flagship, the query `__spark_entry__.entry` runs, gates through
# json_kind_udf, so its Python workers must find the package even when
# nothing put it on their path: the UDF body carries the root with it.
_PACKAGE_ROOT = str(Path(__file__).resolve().parents[2])


@F.pandas_udf(StringType())
def json_kind_udf(raw: pd.Series) -> pd.Series:
    """Arrow entry point for `ingest.json_kind`: each payload's JSON kind,
    null where Go json.Valid rejects it. The stream's gates decide validity
    with the very function the HTTP front door calls."""
    if _PACKAGE_ROOT not in sys.path:
        sys.path.append(_PACKAGE_ROOT)
    from kafka_clickhouse_ingest_pipeline_spark.operators.ingest import json_kind

    return pd.Series([json_kind(p) for p in raw], dtype=object)
