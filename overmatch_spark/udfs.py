"""The engine's one Arrow-vectorized scalar UDF, the name similarity
of conflation's join condition. It is not the only Python that runs
on executors: the MVT encode (`pmtiles.mvt_tiles`), the media
operators (`multimodal`) and the error budget (`errors`) map Arrow
batches with `mapInPandas`, raster tiles (`raster`) render per tile
with `applyInPandas`, and streaming sessions (`streaming.sessions`)
keep state with `applyInPandasWithState`. The geometry, dedup and ANN
math is Catalyst expressions (see overmatch_spark.expressions)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def _indel_sim_impl(a: pd.Series, b: pd.Series) -> pd.Series:
    """rapidfuzz ``fuzz.ratio(a, b) / 100`` — the reference's
    name-similarity join condition (J4/F19,
    /root/reference/scripts/match.py:242). Arrow-batched, vectorized
    across the batch (kernels.text)."""
    from overmatch_spark.kernels.text import indel_similarity

    return pd.Series(
        indel_similarity(a.fillna("").tolist(), b.fillna("").tolist())
    )


# The kernel IS deterministic; the nondeterministic mark only stops
# Catalyst from pushing a predicate on the result back through the
# Project and re-extracting the UDF — which would evaluate the Arrow
# kernel TWICE per row (once for the filter, once for the output
# column; observed as two ArrowEvalPython nodes in the plan).
indel_sim = _indel_sim_impl.asNondeterministic()
