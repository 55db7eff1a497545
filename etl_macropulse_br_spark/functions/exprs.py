"""Core expression library — every reference scalar transform as a
pure Catalyst expression (no Python UDFs, SURVEY §2.12).

Each builder returns a :class:`pyspark.sql.Column`, so Catalyst can
constant-fold, push predicates through them, and keep the whole
pipeline inside whole-stage codegen. Reference citations point into
``/root/reference/``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def parse_ptbr_number(col: Column | str) -> Column:
    """pt-BR numeric string → double: ``"1.234,56"`` → 1234.56.

    Strips thousands dots, swaps the decimal comma, casts with
    NULL-on-failure (non-ANSI cast == pandas ``errors="coerce"``).
    Reference: ``extract.py:39-45`` (BCB ``valor``) and
    ``transform.py:92-96`` (ANP price comma branch).

    Both rewrites are literal, so this uses non-regex ``replace``
    (codegen string scan; a Java-regex ``regexp_replace`` per row
    measured ~2× slower on the 600k-row roundtrip query) — exactly
    the DuckDB oracle's ``replace`` semantics.
    """
    c = _as_col(col).cast("string")
    return F.replace(
        F.replace(c, F.lit("."), F.lit("")), F.lit(","), F.lit(".")
    ).cast("double")


def parse_price_mixed(col: Column | str) -> Column:
    """Two-branch conditional numeric parse (``transform.py:87-100``).

    Values containing a comma take the pt-BR path; everything else is
    a direct cast. Replaces the reference's mask/``.loc`` reassembly
    with a single ``when/otherwise`` expression.
    """
    c = _as_col(col).cast("string")
    return F.when(c.contains(","), parse_ptbr_number(c)).otherwise(c.cast("double"))


def parse_date_ddmmyyyy(col: Column | str) -> Column:
    """``dd/MM/yyyy`` → date, NULL on mismatch (``extract.py:37``).

    ``to_date`` under ``spark.sql.legacy.timeParserPolicy`` default
    returns NULL for unparseable input only in non-ANSI mode; the
    engine session sets ``spark.sql.ansi.enabled=false`` so this
    matches pandas ``errors="coerce"``.
    """
    return F.to_date(_as_col(col).cast("string"), "dd/MM/yyyy")


def dayfirst_date(col: Column | str) -> Column:
    """Day-first free-format date parse cascade (``transform.py:84``).

    pandas ``dayfirst=True`` prefers dd/mm interpretations and falls
    back to ISO; replicated as an explicit format cascade so the
    semantics are deterministic and engine-portable.
    """
    c = _as_col(col).cast("string")
    return F.coalesce(
        F.to_date(c, "dd/MM/yyyy"),
        F.to_date(c, "dd/MM/yy"),
        F.to_date(c, "yyyy-MM-dd"),
        F.to_date(c),
    )


def month_trunc(col: Column | str) -> Column:
    """First-of-month DATE for an observation date/timestamp.

    Reference uses ``dt.to_period("M").dt.to_timestamp()`` 4x
    (``transform.py:120,128``, ``summary.py:31,61``). We emit
    ``DateType`` (``trunc(..,'MM')``) — day-granularity data loses
    nothing and dates hash/compare stably across engines.
    """
    return F.trunc(_as_col(col), "MM")


def lit_double_array(vals: list[float]) -> Column:
    """Literal array<double> built from ONE parsed SQL string.

    ``F.array(*[F.lit(x) ...])`` pays a Py4J round-trip per element
    (~1 ms each); a 64-dim vector × 16 centroids is ~1 s of pure
    driver RPC per plan build. ``repr(float)`` is the shortest
    round-trip form, so the parsed double is bit-identical to the
    source value.
    """
    return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")


def stable_mean(col: Column | str) -> Column:
    """Partition-order-invariant mean of a double column.

    Float addition is non-associative, so a plain ``avg`` over
    doubles changes in the last bits with partitioning — the gold
    aggregate would not be a pure function of its input row SET.
    Aggregating in exact decimal makes the sum fold-order-free
    (decimal addition is exact + associative), with one deterministic
    cast back at the end. 12 fractional digits captures every value
    the pipelines carry (prices/rates with ≤6 significant decimals);
    the truncation of a double's low bits is itself deterministic, so
    any partitioning of the same rows yields bit-identical output.
    Still a single-pass partial-aggregating hash aggregate.
    """
    return F.avg(_as_col(col).cast("decimal(30,12)")).cast("double")


def flag_is_enabled(col: Column | str) -> Column:
    """Case-insensitive truthy-flag predicate (``main.py:33``):
    enabled iff lower(str(v)) in {"true","1","yes"}.

    Deliberate superset of the reference: we TRIM first (the
    reference's ``astype(str).str.lower()`` does not), so a
    space-padded ``" true "`` in a hand-edited config CSV enables
    the series instead of silently disabling it. Every value the
    reference accepts behaves identically; pinned (incl. the SQL
    twin) by tests/test_exprs.py and tests/test_sql_functions.py."""
    return F.lower(F.trim(_as_col(col).cast("string"))).isin("true", "1", "yes")


def last_by(value: Column | str, *order: Column | str) -> Column:
    """Deterministic order-dependent "last" aggregate.

    The reference relies on pre-sorted input + ``agg("last")``
    (``transform.py:12,119-124``) — pandas keeps row order, Spark
    groupBy does NOT (SURVEY §4.2 trap #1). The faithful, distributed
    mapping is ``max_by(value, <order key>)``; pass one or more order
    columns — multiple columns become a struct key so ties break
    deterministically (e.g. ``last_by(value, date, unique_id)``).
    Executes as a single-pass hash aggregate — no sort, no shuffle
    beyond the groupBy's own.
    """
    cols = [_as_col(o) for o in order]
    key = cols[0] if len(cols) == 1 else F.struct(*cols)
    return F.max_by(_as_col(value), key)


def ptbr_format_number(col: Column | str, decimals: int = 2) -> Column:
    """Double → pt-BR formatted string ("1.234,56").

    Inverse of :func:`parse_ptbr_number`; used by the summary
    formatter and round-trip tests. ``format_number`` gives
    en-US grouping ("1,234.56"); translate swaps separators.
    """
    return F.translate(F.format_number(_as_col(col), decimals), ".,", ",.")
