"""Vector scalar functions as Catalyst-native expressions.

Re-expresses the reference's two scalar kernels (SURVEY.md §2.1):

- O12 ``normalize``  (/root/reference/src/lib.rs:347-359): unit-L2 normalize,
  zero-vector guarded (decision Q5 — filter, never NaN).
- O13 ``dot_product`` (/root/reference/src/lib.rs:321-344): the reference's
  4-wide SIMD-shaped loop. Here it is a ``zip_with``+``aggregate`` higher-order
  expression — whole-stage-codegen'd JVM-side; Tungsten owns the SIMD shape.
  No Python UDF in the hot path.

Determinism contract (SURVEY.md §7.4): every arithmetic step is ``double``
(arrays cast element-wise from float — exact widening) and every reduction is
an explicit left-to-right sequential sum. The DuckDB oracle generators in this
module emit the *same* operation sequence, so per-row results are bit-identical
across engines; declared queries round to 6 decimals on top of that.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Spark-side expressions (strings usable in F.expr / selectExpr)
# ---------------------------------------------------------------------------


def dot_expr(a: str, b: str) -> str:
    """Sequential left-to-right dot product of two array<double> SQL expressions."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"


def as_double_array(col: str) -> str:
    return f"CAST({col} AS ARRAY<DOUBLE>)"


def norm_expr(a: str) -> str:
    """L2 norm of an array<double> SQL expression."""
    return f"sqrt({dot_expr(a, a)})"


def cosine_expr(vec_col: str, query_lits: list[float]) -> str:
    """Cosine similarity of a stored vector column against a pre-normalized
    python-side query literal: dot(v, q) / norm(v).

    The query literal is normalized in the driver (the reference does the same
    once per query, src/lib.rs:195 — loop-invariant hoisting); the stored-side
    norm division makes the engine correct even for non-normalized input.
    """
    v = as_double_array(vec_col)
    q = array_lit(query_lits)
    return f"({dot_expr(v, q)}) / ({norm_expr(v)})"


def cosine_pair_expr(vec_a: str, vec_b: str) -> str:
    """Cosine similarity between two vector columns (similarity join path)."""
    a, b = as_double_array(vec_a), as_double_array(vec_b)
    return f"({dot_expr(a, b)}) / ({norm_expr(a)} * {norm_expr(b)})"


def array_lit(values: list[float]) -> str:
    """A double array literal. repr() of a python float round-trips exactly,
    and both Spark and DuckDB parse decimal literals to the nearest double,
    so the same text yields the same bits in both engines."""
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in values) + ")"


def json_array_lit(values: list[float]) -> str:
    """A double array as ONE literal node, whatever its length: the drop-in
    for ``array_lit`` when the array is long and built per call.

    ``array_lit`` writes a dim-term ``array(CAST(..))`` expression that
    Spark parses and analyses node by node on every call; here the values
    travel as one JSON string token that ConstantFolding turns into a
    single ``array<double>`` literal.  json.dumps writes each float's
    repr() (no quote or backslash can occur) and Spark's JSON reader parses
    it to the nearest double, so the bits equal ``array_lit``'s.  Non-finite
    values are refused: JSON has no NaN/Infinity, and Spark would read them
    as null."""
    return f"from_json('{json.dumps(values, allow_nan=False)}', 'array<double>')"


def normalize_expr(a: str) -> str:
    """Unit-normalize an array<double> expression (caller guards zero norm per Q5).

    The norm is bound ONCE per row via ``array_repeat`` (evaluated a single
    time, then zipped element-wise). Inlining ``norm_expr`` inside the
    ``transform`` lambda instead would re-evaluate the full O(dim) aggregate
    per ELEMENT — O(dim^2) per row, catastrophic at dim=1024."""
    return f"zip_with({a}, array_repeat({norm_expr(a)}, size({a})), (x, n) -> x / n)"


def normalized_col(vec_col: str) -> Column:
    return F.expr(normalize_expr(as_double_array(vec_col)))


def l2_norm_col(vec_col: str) -> Column:
    return F.expr(norm_expr(as_double_array(vec_col)))


def qcol(name: str) -> Column:
    """Column by LITERAL name: backtick-quoted so a user metadata column
    containing '.' (or '`') resolves as itself, never as a struct path —
    upsert accepts arbitrary metadata names, so every dynamic-name select
    on the collection path must go through this."""
    return F.col("`" + name.replace("`", "``") + "`")


# ---------------------------------------------------------------------------
# DuckDB-oracle SQL generators — same operation order, different dialect
# ---------------------------------------------------------------------------


def duck_dot_lit(vec_col: str, query_lits: list[float]) -> str:
    """Explicit left-to-right chain v[1]*q1 + v[2]*q2 + ... (1-based list index).

    Deliberately NOT list_dot_product: an explicit chain guarantees the same
    summation order as Spark's aggregate() fold, so doubles match bit-for-bit.
    """
    terms = [f"CAST({vec_col}[{i + 1}] AS DOUBLE) * {v!r}" for i, v in enumerate(query_lits)]
    return _left_assoc_sum(terms)


def duck_dot_self(vec_col: str, dim: int) -> str:
    terms = [f"CAST({vec_col}[{i}] AS DOUBLE) * CAST({vec_col}[{i}] AS DOUBLE)" for i in range(1, dim + 1)]
    return _left_assoc_sum(terms)


def duck_dot_pair(a: str, b: str, dim: int) -> str:
    terms = [f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, dim + 1)]
    return _left_assoc_sum(terms)


def duck_cosine_lit(vec_col: str, query_lits: list[float], dim: int) -> str:
    return f"({duck_dot_lit(vec_col, query_lits)}) / (sqrt({duck_dot_self(vec_col, dim)}))"


def duck_cosine_pair(a: str, b: str, dim: int) -> str:
    return f"({duck_dot_pair(a, b, dim)}) / (sqrt({duck_dot_self(a, dim)}) * sqrt({duck_dot_self(b, dim)}))"


def _left_assoc_sum(terms: list[str]) -> str:
    # SQL's + is left-associative, so a plain join reproduces a sequential fold.
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Deterministic query/centroid literals (seed-42-style, no RNG at import)
# ---------------------------------------------------------------------------


def deterministic_vector(dim: int, seed: int) -> list[float]:
    """A deterministic pseudo-random unit vector from a pure-integer recurrence.

    Not numpy RNG: the values must be reproducible from the source text alone
    (they are embedded as literals in both Spark and DuckDB SQL)."""
    raw: list[float] = []
    state = (seed * 2654435761 + 1013904223) % (2**32)
    for _ in range(dim):
        state = (state * 1664525 + 1013904223) % (2**32)
        raw.append(((state >> 8) % 10007) / 10007.0 - 0.5)
    norm = sum(x * x for x in raw) ** 0.5
    return [x / norm for x in raw]


EMBEDDING_DIM = 64
# The flagship query vector (SURVEY.md §7.2): deterministic, pre-normalized.
QUERY_VECTOR = deterministic_vector(EMBEDDING_DIM, seed=42)
