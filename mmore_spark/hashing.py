"""Deterministic 60-bit hashes computable identically in Spark, DuckDB and
plain Python.

Why not ``F.hash`` / ``xxhash64``: the driver's correctness gate compares a
Spark plan against a DuckDB oracle query, and the two engines do not share a
builtin 64-bit hash.  md5 IS shared, so every hash in the oracle-checkable
surface is ``int(md5(payload)[:15], 16)`` — 60 bits, always positive, fits a
signed BIGINT in both engines.

The same family (with a seed mixed into the payload) powers MinHash
signatures, LSH band hashes, salting and deterministic sampling, so any of
those operators can be oracle-checked value-for-value.

Hot-path note: md5 evaluates JVM-side inside whole-stage codegen in Spark
(no Python boundary).  A faster hash such as ``xxhash64`` would replace md5
in ``h60`` and ``h60_py`` together — the operators only depend on this
module's interface — at the price of the DuckDB oracle check, whose SQL
spells the same md5 slice.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_DIGITS = 15  # 60 bits < 63, sign-safe in both engines


def h60(col: Column | str, seed: str = "") -> Column:
    """Spark column: 60-bit md5 hash of ``col`` (string), optional seed."""
    c = F.col(col) if isinstance(col, str) else col
    payload = F.concat(c.cast("string"), F.lit(seed)) if seed else c.cast("string")
    return F.conv(F.substring(F.md5(payload), 1, HEX_DIGITS), 16, 10).cast("long")


def h60_py(value: str, seed: str = "") -> int:
    """Plain-Python twin (used by the golden-fixture oracle)."""
    return int(hashlib.md5((str(value) + seed).encode("utf-8")).hexdigest()[:HEX_DIGITS], 16)
