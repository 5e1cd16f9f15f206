"""Training-data pipeline operators over the ``documents`` / ``embeddings``
tables: deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard),
similarity search, text quality analysis, and multimodal column plumbing.

Everything in the hot path is JVM-side column expressions; hashes are
*portable* (md5-derived) so a DuckDB oracle can verify results bit-exactly.
"""

from pyspark.sql import Column, functions as F


def portable_hash32(col: Column, salt: str = "") -> Column:
    """32-bit hash identical in Spark and DuckDB/Python:
    ``int(md5(salt || ':' || s)[:8], 16)``.

    Spark: ``conv(substr(md5(x),1,8),16,10)::bigint``;
    DuckDB: ``('0x' || substr(md5(x),1,8))::bigint``.
    xxhash64 would be faster but has no DuckDB twin; the engine uses
    xxhash64 where results are internal (frontier dedupe) and portable_hash32
    where the oracle must reproduce values.
    """
    s = F.concat(F.lit(salt), F.lit(":"), col) if salt else col
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def duckdb_hash32(expr: str, salt: str = "") -> str:
    """The DuckDB SQL twin of :func:`portable_hash32` (for oracle strings)."""
    s = f"concat('{salt}', ':', {expr})" if salt else expr
    return f"(('0x' || substr(md5({s}), 1, 8))::bigint)"
