"""Arrow-batched scalar UDFs for the few operations built-ins can't do.

Only vectorized pandas UDFs live here (input_hint: no per-row Python
UDFs); everything else in the engine is a JVM column expression.
"""

from __future__ import annotations

import unicodedata
from urllib.parse import quote

import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("string")
def normalize_graph_uri(uris: pd.Series) -> pd.Series:
    """X11: NFKC Unicode normalization + URI path percent-encoding of a
    graph URI (`PythonTurtleAnalysisEngine.java:268,303`:
    `Normalizer.normalize(IRILib.encodeUriPath(uri), NFKC)`)."""
    return uris.map(
        lambda u: unicodedata.normalize(
            "NFKC", quote(u if u is not None else "", safe=":/#?&=@%+~._-")
        )
    )

