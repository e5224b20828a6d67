"""Vector functions: builtin higher-order implementations (the hot path)
plus the sanctioned pandas_udf escape hatch (SURVEY.md §2.2 "UDF surface").

The builtin forms (see operators/similarity.py) run JVM-side in codegen and
are what every oracle-checked query uses. The pandas_udf forms exist because
a real pipeline eventually needs custom Python scoring (a model forward
pass, a tokenizer): they demonstrate the Arrow-vectorized pattern — batched
columnar transfer, NumPy math, no per-row Python — and are tested equal to
the builtins."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


@pandas_udf(DoubleType())
def cosine_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine similarity between two array<float> columns.
    Each batch becomes two object Series of np arrays; math is vectorized
    per batch (matrix ops, not per-row loops)."""
    am = np.stack(a.to_numpy()).astype(np.float64)
    bm = np.stack(b.to_numpy()).astype(np.float64)
    dots = np.einsum("ij,ij->i", am, bm)
    norms = np.linalg.norm(am, axis=1) * np.linalg.norm(bm, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        return pd.Series(dots / norms)


@pandas_udf(DoubleType())
def norm_pandas(a: pd.Series) -> pd.Series:
    """Arrow-batched L2 norm of an array<float> column."""
    return pd.Series(
        np.linalg.norm(np.stack(a.to_numpy()).astype(np.float64), axis=1)
    )


def cosine_builtin(a: str, b: str) -> Column:
    """Re-export of the JVM-side cosine (operators/similarity.py) for
    side-by-side use in tests; ``a`` and ``b`` are SQL expressions."""
    from twitter_flink_spark.operators.similarity import cosine

    return cosine(a, b)
