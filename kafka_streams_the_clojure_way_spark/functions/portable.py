"""Engine-portable expressions: Spark Column builders paired with DuckDB
SQL template strings that produce **bit-identical** results, so hash-based
operators (minhash, simhash, fingerprints) stay oracle-checkable.

Portability rules learned the hard way (kept here as the single source of
truth):

- ``CAST(double AS INT)``: Spark truncates toward zero, DuckDB rounds
  half-even. NEVER cast a fractional double to int — use ``floor()``.
- Spark ``hash()``/``xxhash64()`` are Spark-specific; DuckDB ``hash()`` is
  DuckDB-specific. The portable 60-bit hash is
  ``md5(string)[:15]`` parsed as hex — both engines agree on md5 and a
  60-bit value fits a signed int64 with headroom for mixing arithmetic.
- Tokenization: split on ``\\s+`` after lower(); Spark ``split`` and DuckDB
  ``string_split_regex`` agree (no empty trailing fields for our inputs).
"""

from __future__ import annotations

from collections.abc import Callable, Hashable

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

# -- 60-bit md5 hash --------------------------------------------------------

#: mixing constants for families of hash functions h_i(x) = (a_i*x + b_i) mod P
#: P = 2^61 - 1 (Mersenne prime, fits int64 products only via modmul care —
#: we instead mix in int128-free form: (a*x+b) % P with x < 2^60 would
#: overflow int64 in both engines identically... so we use smaller moduli).
MERSENNE_31 = (1 << 31) - 1  # 2147483647


def hash60(col: Column) -> Column:
    """Portable 60-bit hash of a string column: first 15 hex chars of md5,
    as a signed BIGINT (always >= 0)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """DuckDB equivalent of :func:`hash60` for an SQL expression string."""
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"


# -- expression-level let binding -------------------------------------------

def let_col(value: Column, body) -> Column:
    """Bind ``value`` ONCE and build an expression over the binding:
    ``let_col(v, lambda x: f(x))`` evaluates ``v`` a single time per row
    even when ``f`` references ``x`` many times — including inside
    higher-order-function lambdas.

    Why this exists: Catalyst does not common-subexpression-eliminate
    subtrees INSIDE HOF lambdas. A lambda that closes over an expression
    re-evaluates that whole subtree PER ELEMENT — e.g. the inline 5-gram
    shingle build ``transform(sequence(1, n-4), i -> slice(split(text),
    i, 5))`` re-splits the document once per shingle: O(len^2) work per
    row (measured 8x wall on the sf0.1 corpus explode, and it grows with
    document length — a scale bug, not just a constant). A HOF's INPUT
    collection, by contrast, is evaluated exactly once — so wrapping the
    value in a 1-element array and transforming it gives the expression
    language a let binding: ``body`` sees a bound lambda attribute,
    never the original subtree. Result values are bit-identical (same
    expression tree modulo binding), so SQL oracles need no change."""
    return F.transform(F.array(value), body).getItem(0)


# -- build-once expression kernels -------------------------------------------

#: (build, column name, params) -> (JVM gateway, Column) — see kernel().
_KERNELS: dict[tuple, tuple] = {}


def kernel(build: Callable[..., Column], column: str, *params: Hashable) -> Column:
    """``build(F.col(column), *params)``, constructed ONCE per process:
    later calls with the same builder, column name and parameters return
    the same Column object. Every ``F.*`` call in a builder is a py4j
    round trip, and the hot kernels (shingle hashes, minhash signatures,
    band keys, content hash) cost tens to hundreds of them — paid again
    by every probe, build, upsert and router that constructs them. A
    Column is an unresolved expression tree, so one object can sit in
    any number of plans; each plan's analysis binds it afresh, and the
    expression is the one ``build`` returns on a fresh call. The entry
    is keyed on the live JVM gateway too: a relaunched JVM rebuilds.
    ``params`` must be hashable (ints, tuples)."""
    gateway = SparkContext._gateway
    key = (build, column, params)
    hit = _KERNELS.get(key)
    if hit is not None and hit[0] is gateway:
        return hit[1]
    col = build(F.col(column), *params)
    _KERNELS[key] = (gateway, col)
    return col


# -- tokenization -----------------------------------------------------------

def tokens(col: Column) -> Column:
    """Whitespace tokens of lower-cased text; array<string>."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def tokens_sql(expr: str) -> str:
    """DuckDB equivalent of :func:`tokens`."""
    return f"string_split_regex(lower(trim({expr})), '\\s+')"
