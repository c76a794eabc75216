"""UDF / UDAF registration surface (§2.11).

Reference analogue: the distributed UDF SDK (utils/udfsdk/udfsdk.h) and
the mcsv1_UDAF contract — init / nextValue (per-PM partial) / subEvaluate
(merge) / evaluate (final) (utils/udfsdk/mcsv1_udaf.h:461-604). On Spark
the same distributed partial/merge execution comes for free from
Arrow-vectorized pandas UDFs: SCALAR for row functions, GROUPED_AGG for
aggregates (Catalyst handles partials/merges; no dropValue retraction
needed in batch).

UDF objects are built lazily: ``pandas_udf`` needs an active
SparkContext to parse its return type, and this module is imported by
the plan registry before any session exists.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, SparkSession

_CACHE: dict[str, object] = {}


def _median():
    if "median" not in _CACHE:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def median_impl(v: pd.Series) -> float:
            return float(v.median())

        _CACHE["median"] = median_impl
    return _CACHE["median"]


def _char_ratio():
    if "char_ratio" not in _CACHE:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def char_ratio_impl(s: pd.Series) -> pd.Series:
            return s.map(lambda x: len(set(x)) / len(x) if x else 0.0)

        _CACHE["char_ratio"] = char_ratio_impl
    return _CACHE["char_ratio"]


def _moda():
    if "moda" not in _CACHE:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def moda_impl(v: pd.Series) -> float:
            # utils/regr/moda.h:32-35 semantics: greatest count, ties →
            # closest to AVG, then smallest. GROUPED_AGG form = the
            # reference's `CREATE AGGREGATE FUNCTION moda` UX; the
            # JVM-side composition (operators/moda.py) stays the scale
            # path for hot queries.
            vv = v.dropna()
            if vv.empty:
                return float("nan")
            counts = vv.value_counts()
            avg = vv.mean()
            best = sorted(
                counts.items(),
                key=lambda kv: (-kv[1], abs(kv[0] - avg), kv[0]),
            )[0][0]
            return float(best)

        _CACHE["moda"] = moda_impl
    return _CACHE["moda"]


def median_udaf(col: Column | str) -> Column:
    """GROUPED_AGG pandas UDAF: exact interpolated median (the SDK
    example utils/udfsdk/median.cpp; equals percentile_cont(0.5))."""
    return _median()(col)


def char_ratio_udf(col: Column | str) -> Column:
    """SCALAR pandas UDF: unique-char / length ratio (Arrow batched;
    stands in for any custom per-row computation)."""
    return _char_ratio()(col)


def _compress():
    if "compress" not in _CACHE:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("binary")
        def compress_impl(s: pd.Series) -> pd.Series:
            # MariaDB COMPRESS (mcs268_compress_function.test): empty
            # string -> empty; else 4-byte little-endian uncompressed
            # length + zlib stream; a '.' is appended when the stream
            # ends in a space so trailing-space-stripping storage can't
            # corrupt it (MariaDB item_strfunc.cc documented format).
            import zlib

            def one(x):
                if x is None:
                    return None
                b = x.encode() if isinstance(x, str) else bytes(x)
                if not b:
                    return b""
                z = len(b).to_bytes(4, "little") + zlib.compress(b)
                return z + b"." if z.endswith(b" ") else z

            return s.map(one)

        _CACHE["compress"] = compress_impl
    return _CACHE["compress"]


def _uncompress():
    if "uncompress" not in _CACHE:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def uncompress_impl(b: pd.Series) -> pd.Series:
            import zlib

            def one(x):
                if x is None:
                    return None
                if len(x) == 0:
                    return ""
                if len(x) <= 4:
                    return None  # not a COMPRESS value (MariaDB: NULL)
                try:
                    # decompressobj tolerates the trailing '.' sentinel
                    return (
                        zlib.decompressobj()
                        .decompress(bytes(x[4:]))
                        .decode()
                    )
                except (zlib.error, UnicodeDecodeError):
                    # MariaDB UNCOMPRESS returns the original *binary*;
                    # this surface is string-typed, so a valid zlib
                    # payload of non-UTF8 bytes maps to NULL rather than
                    # killing the task (documented string-only limit)
                    return None

            return b.map(one)

        _CACHE["uncompress"] = uncompress_impl
    return _CACHE["uncompress"]


def _uncompressed_length():
    if "uncompressed_length" not in _CACHE:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def uncompressed_length_impl(b: pd.Series) -> pd.Series:
            def one(x):
                if x is None:
                    return None
                if len(x) == 0:
                    return 0
                if len(x) <= 4:
                    return None  # partial header: not a COMPRESS value
                return int.from_bytes(bytes(x[:4]), "little")

            return b.map(one)

        _CACHE["uncompressed_length"] = uncompressed_length_impl
    return _CACHE["uncompressed_length"]


def register_all(spark: SparkSession) -> None:
    """Expose the UDFs to spark.sql (≈ CREATE FUNCTION in the reference,
    dbcon/mysql/ha_mcs_udf.cpp)."""
    spark.udf.register("engine_median", _median())
    spark.udf.register("engine_char_ratio", _char_ratio())
    spark.udf.register("moda", _moda())
    spark.udf.register("compress", _compress())
    spark.udf.register("uncompress", _uncompress())
    spark.udf.register("uncompressed_length", _uncompressed_length())
