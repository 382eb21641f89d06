"""Arrow UDF wrappers for the media kernels (U5/U6).

Return structs carry an ``error`` field so the round driver can split
ok/error rows (E2) without a second decode pass.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .exif import extract_exif
from .phash import hash_columns, perceptual_hashes

PHASH_RESULT = T.StructType(
    [
        T.StructField("ahash", T.LongType(), True),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

EXIF_RESULT = T.StructType(
    [
        T.StructField("camera", T.StringType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("long", T.DoubleType(), True),
        T.StructField("present", T.BooleanType(), False),
    ]
)


@pandas_udf(PHASH_RESULT)
def phash_udf(html: pd.Series, content_type: pd.Series) -> pd.DataFrame:
    hashes, errors = [], []
    for body, ct in zip(html, content_type):
        try:
            hashes.append(perceptual_hashes(bytes(body), ct))
            errors.append(None)
        except Exception as e:  # decode failures → error row (E2)
            hashes.append((None, None, None))
            errors.append(str(e))
    return pd.DataFrame({**hash_columns(hashes), "error": errors})


@pandas_udf(EXIF_RESULT)
def exif_udf(html: pd.Series) -> pd.DataFrame:
    rows = []
    for body in html:
        info = extract_exif(bytes(body)) if body is not None else None
        if info is None:
            rows.append({"camera": None, "ts": None, "lat": None, "long": None, "present": False})
        else:
            rows.append({**info, "present": True})
    return pd.DataFrame(rows)
