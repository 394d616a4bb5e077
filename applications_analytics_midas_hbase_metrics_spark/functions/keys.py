"""Row-key / salt-bucket primitives — the one place the reference has
semantics Spark does not ship built-in.

Parity targets (citations into /root/reference):
- Salt: ``getSaltValue`` (Utils.scala:83-96) — a Java-``String.hashCode``
  STYLE fold over the key's UTF-8 bytes, but with the accumulator
  initialized to 1 (``var result = 1``, Utils.scala:89 — not the 0 that
  ``String.hashCode`` uses), int32 wraparound, then ``Math.abs(result %
  24)`` (abs AFTER the mod, Utils.scala:94) so the salt is always 0..23;
  the empty key short-circuits to 0 (Utils.scala:85).
- Row key: null-byte-joined composite business key via ``concat_ws``
  (Utils.scala:212-214, 548-551) and the dynamic expression builders
  ``getExprWs``/``getExpr`` (Utils.scala:607-624).
- Trailing-empty-preserving split, hand-rolled in the reference because
  Java ``String.split`` drops trailing empties (Utils.scala:853-876);
  Spark SQL's three-arg ``split(col, pat, -1)`` already has the right
  semantics.

Implementation note (Spark-first): the salt runs on the JVM with no
Python worker.  For an ASCII key the reference hash equals Java's
``String.hashCode`` of ``"\\x01" + key`` (a 0-seeded fold whose first
char is 1 is the 1-seeded fold), so :func:`salt_bucket` makes one
``reflect('java.util.Objects', 'hashCode', ...)`` call per key.  A
non-ASCII key takes the byte fold (:func:`java_hash`): ``hashCode``
folds UTF-16 chars, the reference folds signed UTF-8 bytes.  The fold is
built from ``aggregate``, which is ``CodegenFallback`` (interpreted per
element); the ``reflect`` call is also ``CodegenFallback`` and is
``Nondeterministic``, so the optimizer neither pushes a filter through
the salt projection nor merges it into a projection that reads the
salt.  Each cell builder therefore adds the salt last.  Fold
arithmetic is done in BIGINT with an explicit ``% 2^32`` per step, so it
is correct with or without ANSI mode (no silent overflow relied upon).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

#: Delimiter constants (Utils.scala:31-33).
DELIM = "\x00"
NULL_BYTE_REPLACE_STR = "<NB>"

#: Salt bucket count (Utils.scala:93).
SALT_BUCKETS = 24

_TWO_32 = 4_294_967_296
_TWO_31 = 2_147_483_648


# ---------------------------------------------------------------------------
# Pure-Python reference implementation (used by tests).
# ---------------------------------------------------------------------------

def java_hash_py(s: str) -> int:
    """The reference's key hash (Utils.scala:85-92): ``String.hashCode``-style
    ``31*h + byte`` fold over UTF-8 bytes with int32 wraparound, but the
    accumulator starts at 1 (``var result = 1``) and the empty string
    short-circuits to 0 (the ``s.isEmpty`` early return)."""
    if not s:
        return 0
    h = 1
    for b in s.encode("utf-8"):
        if b > 127:
            b -= 256  # Java bytes are signed
        h = 31 * h + b
        h = ((h + _TWO_31) % _TWO_32) - _TWO_31  # int32 wraparound
    return h


def salt_py(s: str) -> int:
    """``Math.abs(hash % 24)`` (Utils.scala:93-95).  Java ``%`` keeps
    the dividend's sign, so the remainder is in (-24, 24) and ``abs``
    lands every key in 0..23 — including the ``Integer.MIN_VALUE`` hash,
    since ``abs`` runs on the small remainder, never on the hash itself.
    Equivalent closed form: ``abs(h) % 24`` with exact (non-wrapping)
    abs."""
    return abs(java_hash_py(s)) % SALT_BUCKETS


# ---------------------------------------------------------------------------
# JVM-side implementation (no Python worker).
# ---------------------------------------------------------------------------

def java_hash(col: Column | str) -> Column:
    """Reference key hash (Utils.scala:85-92; see :func:`java_hash_py`) of
    a string column, computed entirely with built-in SQL expressions.
    ``aggregate`` is ``CodegenFallback``: the fold is interpreted per
    element, outside whole-stage codegen.

    Fast path (the common case — every key the reference builds is
    ASCII): fold ``ascii(char)`` over ``split(col, '')`` — codepoint ==
    UTF-8 byte below 0x80.  Slow path for non-ASCII strings: per-byte
    ``conv(hex(substring(encode(col),i,1)),16,10)``.  CASE WHEN picks the
    branch per row, so unicode keys still hash byte-exactly."""
    c = F.col(col) if isinstance(col, str) else col
    bin_col = F.encode(c, "UTF-8")
    is_ascii = F.length(bin_col) == F.length(c)

    # fold accumulator starts at 1, matching the reference's
    # ``var result = 1`` (Utils.scala:89)
    ascii_unsigned = F.aggregate(
        F.split(c, ""),
        F.lit(1).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(_TWO_32),
    )

    idx = F.sequence(F.lit(1), F.length(bin_col))
    byte_unsigned = F.aggregate(
        idx,
        F.lit(1).cast("long"),
        lambda acc, i: (
            acc * F.lit(31)
            + _signed_byte(F.substring(bin_col, i, 1))
            + F.lit(_TWO_32)  # keep non-negative before the mod
        ) % F.lit(_TWO_32),
    )
    unsigned = F.when(is_ascii, ascii_unsigned).otherwise(byte_unsigned)
    signed = (
        F.when(unsigned >= F.lit(_TWO_31), unsigned - F.lit(_TWO_32))
        .otherwise(unsigned)
        .cast("int")
    )
    # sequence(1, 0) would DESCEND, not produce an empty array — guard "".
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(signed)


def _signed_byte(one_byte_bin: Column) -> Column:
    u = F.conv(F.hex(one_byte_bin), 16, 10).cast("long")
    return F.when(u > 127, u - 256).otherwise(u)


def salt_bucket(col: Column | str) -> Column:
    """Salt-bucket column (tinyint), exact reference parity
    (Utils.scala:62-64, 83-96): ``abs(hash % 24)``, always in 0..23.
    Computed as ``abs(h) % 24`` on BIGINT (exact abs — no MIN_VALUE
    wraparound at 64 bits), which equals Java's ``Math.abs(int % 24)``
    for every int32 hash including MIN_VALUE.

    The hash of a non-empty ASCII key is ``Objects.hashCode("\\x01" +
    key)``, one JVM call; the empty key (reference short-circuit to 0)
    and non-ASCII keys take :func:`java_hash`.  Null in → null out."""
    c = F.col(col) if isinstance(col, str) else col
    string_hash = F.reflect(
        F.lit("java.util.Objects"), F.lit("hashCode"), F.concat(F.lit("\x01"), c)
    )
    nonempty_ascii = (F.octet_length(c) == F.length(c)) & (F.length(c) > 0)
    h = F.when(nonempty_ascii, string_hash.cast("long")).otherwise(
        java_hash(c).cast("long")
    )
    return (F.abs(h) % F.lit(SALT_BUCKETS)).cast("tinyint")


# ---------------------------------------------------------------------------
# Vectorized Arrow hash (the curation operators' token hash).
# ---------------------------------------------------------------------------

#: 31^k mod 2^32 table, grown on demand.
_POW31: np.ndarray = np.array([1], dtype=np.uint64)

#: contribution of each possible UTF-8 byte value as an unsigned
#: residue mod 2^32 (Java bytes are SIGNED: values > 127 contribute
#: b - 256 ≡ b + 2^32 - 256).
_BYTE_RESIDUE = np.where(
    np.arange(256) > 127,
    np.arange(256) + (_TWO_32 - 256),
    np.arange(256),
).astype(np.uint64)


def _pow31(n: int) -> np.ndarray:
    global _POW31
    if len(_POW31) < n:
        size = max(n, 2 * len(_POW31), 256)
        p = np.empty(size, dtype=np.uint64)
        p[0] = 1
        for i in range(1, size):
            p[i] = (p[i - 1] * np.uint64(31)) & np.uint64(0xFFFFFFFF)
        _POW31 = p
    return _POW31


def java_hash_np(keys: pd.Series) -> np.ndarray:
    """Vectorized :func:`java_hash_py` over a string Series: the fold
    ``h = 31*h + byte`` with ``h0 = 1`` has the closed form
    ``31^L + Σ byte_i · 31^(L-1-i) (mod 2^32)``, which one numpy pass
    evaluates for the whole batch (byte residues × power table,
    segment-summed per string).  uint64 wraparound is congruent mod
    2^32, so intermediate wraps are harmless.  Returns int64 values in
    int32 range (empty string → 0, like the reference's isEmpty
    short-circuit); null positions return 0 — callers mask them."""
    enc = [s.encode("utf-8") if s is not None else b"" for s in keys]
    lens = np.fromiter((len(b) for b in enc), count=len(enc), dtype=np.int64)
    p31 = _pow31(int(lens.max()) + 1 if len(lens) else 1)
    total = int(lens.sum())
    h = p31[lens].copy()  # the 31^L term (acc starts at 1)
    if total:
        flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
        owner = np.repeat(np.arange(len(enc)), lens)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        exp = (starts + lens - 1)[owner] - np.arange(total, dtype=np.int64)
        contrib = _BYTE_RESIDUE[flat] * p31[exp]
        np.add.at(h, owner, contrib)
    h &= np.uint64(0xFFFFFFFF)
    signed = h.astype(np.int64)
    signed[signed >= _TWO_31] -= _TWO_32
    signed[lens == 0] = 0
    return signed


@F.pandas_udf(IntegerType())
def java_hash_vec(keys: pd.Series) -> pd.Series:
    """Arrow-vectorized :func:`java_hash` (bit-exact, see
    :func:`java_hash_np`): the expression fold is ``CodegenFallback`` and
    interpreted per element, while the numpy closed form does the same
    arithmetic for a whole Arrow batch.  Null in → null out, matching the
    expression."""
    out = pd.Series(java_hash_np(keys), dtype="Int32")
    out[keys.isna().to_numpy()] = None
    return out


# ---------------------------------------------------------------------------
# Key construction / decomposition.
# ---------------------------------------------------------------------------

def row_key(*cols: Column | str) -> Column:
    """Null-byte-joined composite key (Utils.scala:212-214; the dynamic
    ``getExprWs`` builder, Utils.scala:616-624)."""
    cast = [(F.col(c) if isinstance(c, str) else c).cast("string") for c in cols]
    return F.concat_ws(DELIM, *cast)


def split_preserve(col: Column | str) -> Column:
    """Split on the null byte preserving trailing empty fields — the
    semantics the reference hand-rolled in ``getSplitsFromString``
    (Utils.scala:853-876).  Spark's 3-arg split with ``limit=-1`` is
    exactly that."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, re.escape(DELIM), -1)


# ---------------------------------------------------------------------------
# Oracle-side helper: the same salt as ANSI SQL DuckDB can evaluate.
# ---------------------------------------------------------------------------

def duckdb_java_hash_sql(key_expr: str) -> str:
    """DuckDB SQL expression computing :func:`java_hash_py` of ``key_expr``
    (signed int32 result as BIGINT).

    Character codepoints equal UTF-8 bytes for ASCII keys, which is what
    the synthetic tables produce; the harness compares this against the
    byte-exact Spark implementation.
    """
    # list_filter: DuckDB split('','') yields [''] and ord('') is -1,
    # which would corrupt the fold for empty strings.  The fold seed is 1
    # (reference Utils.scala:89); the empty string short-circuits to 0.
    h_unsigned = (
        "list_reduce(list_prepend(CAST(1 AS BIGINT), "
        f"list_transform(list_filter(split({key_expr}, ''), c -> c != ''), "
        "c -> CAST(ord(c) AS BIGINT))), "
        "(acc, x) -> (acc * 31 + x) % 4294967296)"
    )
    signed = (
        f"(CASE WHEN {h_unsigned} >= 2147483648 "
        f"THEN {h_unsigned} - 4294967296 ELSE {h_unsigned} END)"
    )
    return f"(CASE WHEN {key_expr} = '' THEN 0 ELSE {signed} END)"


def duckdb_salt_sql(key_expr: str) -> str:
    """DuckDB SQL expression computing :func:`salt_py` of ``key_expr``:
    ``abs(h) % 24`` on BIGINT — exact abs, so it equals the reference's
    ``Math.abs(int32 % 24)`` for every hash value."""
    return f"CAST(abs({duckdb_java_hash_sql(key_expr)}) % {SALT_BUCKETS} AS TINYINT)"
