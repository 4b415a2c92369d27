"""Deterministic, engine-portable float aggregation.

Problem: ``SUM(double)`` is order-dependent; Spark sums per-partition in
shuffle order, DuckDB in its own morsel order, so at 60 k+ rows the two
engines can disagree in the low bits — fatal for a value-hash oracle, and
equally fatal for run-to-run reproducibility on a real cluster (a 100 TB job
whose revenue total changes with partitioning is not auditable).

Fix: aggregate in fixed-point, entered via the cheapest possible per-row
conversion:

1. ``floor(x * 10^scale + 0.5)`` canonicalizes each double to a BIGINT of
   fixed-point units (half-toward-+infinity; IEEE multiply + floor are
   bit-identical across engines, and Spark's ``floor(double)`` is already
   LONG-typed). Plain codegen-friendly arithmetic — no BigDecimal per row.
2. The unit count is split around modulus ``2^20`` into two BIGINT
   accumulators: ``lo = ((u % 2^20) + 2^20) % 2^20`` (an integer pmod —
   cheap) and ``hi = (u - lo) / 2^20`` (a DOUBLE division by a power of two
   only shifts the exponent, so it is EXACT in IEEE doubles; the long cast
   is exact because the quotient is integral). Each part is summed as a
   plain BIGINT — integer addition is exact and associative, so any
   summation order, partitioning, or AQE re-plan yields the identical total,
   and the two BIGINT sums measure ~1.6× faster than a DECIMAL(38,0)
   accumulator (TPC-H Q1 shape: 0.52 s → 0.34 s at sf0.1, interleaved
   min-of-8).
3. The partial sums recombine exactly ONCE PER GROUP in DECIMAL(38,0)
   (``sum_hi * 2^20 + sum_lo`` can exceed BIGINT range even when each part
   is in range), then one cast to double divides by 10^scale — a
   deterministic function of an exact integer.

Bounds (ANSI mode: any overflow raises loudly, never wraps):
- per-value exactness needs ``|x|·10^6 < 2^53`` → |x| ≤ ~9.0·10^9 (beyond
  that the ``floor`` canonicalization itself is no longer exact — a limit
  shared by every fixed-point scheme at this scale, including the wide
  decimal one; results stay deterministic either way);
- ``SUM(lo)`` overflows past ``2^43 ≈ 8.8·10^12`` rows per group;
- ``SUM(hi)`` overflows when a group's ``Σ|x|`` exceeds ``≈ 9.7·10^18``
  value units at scale 10^-6.
A 100 TB corpus (~10^11 rows) sits two-plus orders inside every bound for
money/measure magnitudes ≤ 10^6. **The split form is NOT for second
moments**: ``dsum(x·x)`` with x ~ 10^5 has per-row magnitude ~10^10, which
hits the ``SUM(hi)`` bound near 10^9 rows per group — far below the design
point. Squared/product moments (correlation, variance, z-score pipelines)
use :func:`dsum_wide` / :func:`sql_dsum_wide`, the DECIMAL(38,0)
single-accumulator form — overflow-safe to 10^32 value units — which is
also the entry for re-aggregatable MATERIALIZED state with unbounded
lifetime (operators/mv.py, via ``sql_units(expr, _ACC)``). Rule of thumb:
split for first moments of money/measure columns, wide for anything whose
per-row magnitude can exceed ~10^7.

One definition: the ``sql_*`` builders below are the only place the
fixed-point forms are written down. The same text is the DuckDB oracle's
expression and, through ``F.expr``, the engine's (:func:`dsum`,
:func:`davg`, :func:`dsum_wide`, :func:`davg_wide` are thin wrappers that
take SQL text), so both engines compute the identical exact integer and
parity is exact by construction (verified bit-for-bit at sf0.1, 600 k
rows, and under ``SWEEP_SHUFFLE=7`` partitioning). One ``F.expr`` per
aggregate is also one py4j command, where an equivalent Column-builder
chain costs about twenty. Every step parses on both dialects, because some
oracle texts (GROUPING SETS) also run through ``spark.sql``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Fixed-point resolution 1e-6 — covers every money/measure column in the
#: testdata (2–4 meaningful decimals) with headroom — and the split modulus
#: 2^20 of the two-BIGINT accumulator, both as DOUBLE literals. Both dialects
#: type ``1048576.0`` as DECIMAL(8,1): in Spark the per-row BIGINT ÷ literal
#: would then run as decimal arithmetic (measured 1.8× slower end to end on
#: TPC-H Q1), in DuckDB a decimal input would stay decimal and overflow at
#: DECIMAL(18). ``CAST(n AS DOUBLE)`` is a DOUBLE in both.
_SCALE = "CAST(1000000 AS DOUBLE)"
_M_DOUBLE = "CAST(1048576 AS DOUBLE)"
_M = 1 << 20

#: Exact, overflow-safe accumulator: the wide form and MATERIALIZED state.
_ACC = "DECIMAL(38,0)"


def sql_units(expr: str, acc: str = "BIGINT") -> str:
    """Per-row fixed-point unit count, ``floor(x * 10^6 + 0.5)`` typed
    ``acc`` (BIGINT, or ``_ACC`` for the wide accumulator). Exact for
    |x| < 2^53 / 10^6. DuckDB's ``floor`` returns DOUBLE, so the cast
    canonicalizes it to Spark's LONG ``floor``. The inner DOUBLE cast is
    identity for double measures and the defined entry for DECIMAL source
    columns (money-typed parquet, tests/test_decimal_sources.py)."""
    return f"CAST(floor(CAST(({expr}) AS DOUBLE) * {_SCALE} + 0.5) AS {acc})"


def sql_from_units(units: str) -> str:
    """Exact unit total → double value: one cast, one divide by 10^6 — a
    deterministic function of an exact integer."""
    return f"(CAST({units} AS DOUBLE) / {_SCALE})"


def sql_dsum(expr: str) -> str:
    """Order-independent SUM via the split two-BIGINT accumulator. ``%`` on
    BIGINT has sign-of-dividend remainder semantics in both engines (the
    +M / %M wrap makes it a pmod); the divide by 2^20 only shifts the
    exponent (exact), and the double→BIGINT cast is exact because the
    quotient is integral (DuckDB rounds, Spark truncates — identical on
    integral values). The per-group recombine is typed DECIMAL(31,0) ×
    DECIMAL(7,0) → DECIMAL(38,0) so both engines keep it in exact decimal
    whatever their literal-typing rules; sum_hi is BIGINT-bounded and the
    product is ≤ ~10^25."""
    u = sql_units(expr)
    lo = f"((({u}) % {_M}) + {_M}) % {_M}"
    hi = f"CAST((({u}) - ({lo})) / {_M_DOUBLE} AS BIGINT)"
    return sql_from_units(
        f"CAST(SUM({hi}) AS DECIMAL(31,0)) * CAST({_M} AS DECIMAL(7,0))"
        f" + CAST(SUM({lo}) AS {_ACC})"
    )


def sql_davg(expr: str) -> str:
    """Order-independent AVG: exact unit sum ÷ exact count, one fp divide."""
    return f"CAST({sql_dsum(expr)} / COUNT({expr}) AS DOUBLE)"


def sql_dsum_wide(expr: str) -> str:
    """Order-independent SUM via the single DECIMAL(38,0) accumulator —
    overflow-safe to 10^32 value units, ~1.6× slower per row than
    :func:`sql_dsum`. For second moments (``x * x``) and any measure whose
    per-row magnitude can exceed ~10^7 (see the bounds above)."""
    return sql_from_units(f"SUM({sql_units(expr, _ACC)})")


def sql_davg_wide(expr: str) -> str:
    """Order-independent AVG via the wide accumulator."""
    return f"CAST({sql_dsum_wide(expr)} / COUNT({expr}) AS DOUBLE)"


def dsum(expr: str) -> Column:
    """:func:`sql_dsum` as a Column; ``expr`` is SQL text (a column name
    or an expression over the frame's columns)."""
    return F.expr(sql_dsum(expr))


def davg(expr: str) -> Column:
    """:func:`sql_davg` as a Column."""
    return F.expr(sql_davg(expr))


def dsum_wide(expr: str) -> Column:
    """:func:`sql_dsum_wide` as a Column."""
    return F.expr(sql_dsum_wide(expr))


def davg_wide(expr: str) -> Column:
    """:func:`sql_davg_wide` as a Column."""
    return F.expr(sql_davg_wide(expr))


def fixed_point_join(col: Column | str, scale: int = 1_000_000) -> Column:
    """Serialize a float array to a ``'|'``-joined fixed-point string —
    the mandatory output-boundary form for any registered query emitting a
    float array.

    The external driver's canonicalizer sorts result frames with pandas
    ``sort_values``; ndarray cells are unhashable there and crash the
    comparison (the r03 ``q_multimodal`` gate red), and raw float strings
    would be engine-formatting-sensitive. Rounding to ``1/scale`` units
    (``floor(x*scale + 0.5)``, exactly DuckDB's ROUND-half-up on the
    magnitudes involved) then joining makes the cell a plain, stable
    string. One definition, used by every emitting site — a precision or
    rounding change must never have to hunt down inline copies.

    Degenerate elements get explicit stable tokens — ``nan``, ``inf``,
    ``-inf``, ``null`` — because Spark's FLOOR(double) returns BIGINT and
    silently maps NaN to 0 and ±Inf to the LONG extremes, which would
    make a NaN element indistinguishable from a true 0.0 (degenerate
    floats are first-class inputs elsewhere in the engine, so the
    boundary must not launder them into real values).
    """
    inf = float("inf")
    return F.array_join(
        F.transform(
            col,
            lambda x: F.when(x.isNull(), F.lit("null"))
            .when(F.isnan(x), F.lit("nan"))
            .when(x == F.lit(inf), F.lit("inf"))
            .when(x == F.lit(-inf), F.lit("-inf"))
            .otherwise(F.floor(x * scale + 0.5).cast("long").cast("string")),
        ),
        "|",
    )
