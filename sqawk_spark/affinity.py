"""SQLite type-affinity emulation (SURVEY.md §1.3, §7 phase 2).

The reference stores every field in a SQLite column whose declared type
is only an *affinity*; a single column holds mixed runtime types
(`"001"` under INTEGER affinity becomes integer 1, `"c"` in the same
column stays text — reference tests.tcl:1066-1072).

Spark columns are homogeneously typed, so fields are stored as
**canonicalized strings**: the affinity rules are applied at load time
as pure column expressions, producing the display form SQLite would
print. Numeric behavior in queries then comes from Spark's implicit
string→numeric coercion in comparisons/arithmetic.

SQLite's cross-type ordering (NULL < numbers < text < blob,
datatype3.html §4.1) is reproduced at query time: every loaded column
records its storage treatment in :data:`COLUMN_CLASSES`, and the
dialect layer rewrites comparisons / ORDER BY / min-max over columns
that can hold mixed storage classes onto an order-preserving struct
key (``dialect._aff_key_col_sql``) whose Spark struct comparison IS the SQLite
value order — including integers beyond 2^53 and the int64/real
boundary at ±2^63, via the key's exact-int64 and boundary-flag
fields (dialect.py). Property-tested against real SQLite in
tests/test_affinity_property.py. Residual divergences: operands the
dialect cannot classify (function calls, arithmetic) keep Spark
coercion; and GROUP BY groups by the canonical string, which splits
the single value pair SQLite deems equal yet renders differently —
INTEGER -2^63 vs a REAL collapsing onto -2^63 ('-9223372036854775808'
vs '-9.223372036854776e+18'; every other equal pair shares one
canonical form, and +2^63 is inequal by sqlite3IntFloatCompare's
r >= 2^63 arm). min/max DISPLAY at that same tie is integer-preferred
(SQLite's is arrival-order — see rewrite_affinity_minmax).

Affinity canonicalization per SQLite rules:
- INTEGER/NUMERIC: integer-looking text → canonical integer ("001"→"1",
  "+7"→"7"); real-looking text with integral value → integer ("1.0"→"1");
  other real-looking → real; everything else verbatim.
- REAL: numeric text → real display ("001"→"1.0", "1.5"→"1.5");
  everything else verbatim.
- TEXT (and the a0 column): verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

INT_RE = r"^[+-]?\d+$"
REAL_RE = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"

AFFINITIES = ("integer", "real", "text", "numeric", "int", "blob")


def normalize_affinity(decl: str) -> str:
    """SQLite's affinity-from-declared-type rule, §3.1 of its docs:
    contains INT → INTEGER; CHAR/CLOB/TEXT → TEXT; BLOB → BLOB;
    REAL/FLOA/DOUB → REAL; else NUMERIC."""
    d = decl.strip().lower()
    # `a1 null` parses as a nullability constraint in SQLite, not a
    # type ⇒ no affinity at all (verbatim storage) — verified against
    # SQLite and the reference's datatypes-1.4 golden
    if d in ("", "null", "none"):
        return "blob"
    if "int" in d:
        return "integer"
    if "char" in d or "clob" in d or "text" in d:
        return "text"
    if "blob" in d:
        return "blob"
    if "real" in d or "floa" in d or "doub" in d:
        return "real"
    return "numeric"


# ---------------------------------------------------------------------
# Storage-treatment catalog: how each loaded column's values are held,
# which decides its SQLite comparison behavior (datatype3.html §4).
#
#   'long'    — promoted to LongType; every value is numeric class
#   'dynamic' — numeric-affinity canonicalized string; a value's
#               storage class is numeric iff it looks numeric
#   'text'    — TEXT affinity; every value is text class, and TEXT
#               affinity converts an affinity-less other operand
#   'none'    — no affinity (blob decl / bare NULL decl / a0 raw
#               record); every value is text class, converts nothing
#
# sqawk column names are globally unique (each file gets its own
# prefix: a1.., b1..), so one flat map keyed by lowercase name serves
# every statement; a resident session's next CLI run re-records its
# tables over the old entries.
COLUMN_CLASSES: dict[str, str] = {}


def record_column_class(name: str, cls: str) -> None:
    COLUMN_CLASSES[name.lower()] = cls


def column_class_for(decl: str, promoted: bool) -> str:
    """Storage treatment for a field column declared ``decl``."""
    if promoted:
        return "long"
    aff = normalize_affinity(decl)
    if aff == "text":
        return "text"
    if aff == "blob":
        return "none"
    return "dynamic"




# The formatters below are SQL expression text, written once and
# instantiated per column by substituting the raw field's SQL text for
# this placeholder: one F.expr parse per column instead of ~100 py4j
# Column calls.
_X = "__x__"


def _let(bindings: dict[str, str], var: str, body: str) -> str:
    """Evaluate-once let-binding, as SQL text.

    Repeating an intermediate in an expression repeats its whole
    subtree, so a formatter that mentions one eight times inflates
    the tree exponentially (an earlier :func:`_python_real_repr`
    generated >64 KB of Java per column and janino refused to compile
    it). A higher-order function's lambda variable, by contrast, is a
    genuine evaluated-once reference, so
    ``transform(array(named_struct(<bindings>)), var -> body)[0]`` is
    the JVM-side equivalent of a ``let``: each binding computes once
    per row, ``body`` reads it as ``var.<name>`` for free, and the
    tree stays linear in the source size. Nested lets may read outer
    lambda variables (Spark resolves named lambda variables
    lexically), so each level needs its own ``var``."""
    fields = ", ".join(f"'{k}', {v}" for k, v in bindings.items())
    return f"transform(array(named_struct({fields})), {var} -> {body})[0]"


def _python_real_repr(d: str) -> str:
    """CPython/SQLite ``repr()`` of the double SQL expression ``d``,
    as SQL text — Spark's ``cast(string)`` emits Java formatting
    (``1.23456785E7``) where SQLite's shell and Python's sqlite3
    render CPython repr (``12345678.5``). Java 17's ``toString`` is
    also not always shortest-digits (pre-Ryū ``FloatingDecimal`` can
    emit 17 where 16 suffice), so the digits are derived the way
    CPython derives them: toString's digits when they number ≤ 15
    (provably shortest there — the FloatingDecimal bug class needs
    16+), else the shortest of the 14..17-digit ``%e`` renderings
    that parses back to the same double; the digits are then
    formatted by CPython's rules — fixed-point for decimal exponent
    in [-4, 15], scientific (``1.5e+16`` / ``9.9e-05``: bare
    mantissa, explicit sign, exponent ≥ 2 digits) outside.

    Built on :func:`_let` (lambda variables ``r`` and ``q``) so every
    intermediate (Java string, digit run, decimal exponent) is
    computed once per row. Only the real branches of
    :func:`apply_affinity` reach it, so the common integer and text
    paths keep whole-stage codegen.

    Residual (documented; fuzz-measured ~0.01% of bit-random doubles,
    zero in realistic data): values whose shortest repr needs ≥ 16
    digits can render with a last digit off-by-one or one extra digit
    versus CPython (Java's Formatter double-rounds through toString
    digits; e.g. the subnormal 5e-324 renders '4.9e-324') — the
    output still parses back to the IDENTICAL double, so every
    comparison/join/order semantic is unaffected; only the printed
    string can differ.
    """
    n = "length(q.digits)"
    expabs = "CAST(abs(q.exp) AS STRING)"
    sci = (
        "concat(substr(q.digits, 1, 1), "
        f"CASE WHEN {n} > 1 THEN concat('.', substr(q.digits, 2, {n})) "
        "ELSE '' END, 'e', CASE WHEN q.exp >= 0 THEN '+' ELSE '-' END, "
        # zero-pad to ≥2 digits; lpad would TRUNCATE 3-digit exponents
        f"CASE WHEN length({expabs}) < 2 THEN concat('0', {expabs}) "
        f"ELSE {expabs} END)"
    )
    intlen = "(q.exp + 1)"
    fixed_pos = (
        f"CASE WHEN {n} > {intlen} THEN concat(substr(q.digits, 1, {intlen}),"
        f" '.', substr(q.digits, {intlen} + 1, {n})) "
        f"ELSE concat(q.digits, repeat('0', {intlen} - {n}), '.0') END"
    )
    fixed_neg = "concat('0.', repeat('0', -q.exp - 1), q.digits)"
    fmt = (
        "concat(CASE WHEN q.neg THEN '-' ELSE '' END, "
        "CASE WHEN q.fa = 0.0D THEN '0.0' "
        "WHEN q.sa = 'Infinity' THEN 'inf' "
        # Java fixed-point (1e-3 ≤ |d| < 1e7) == Python fixed-point
        "WHEN NOT q.has_e THEN q.sa "
        f"WHEN q.exp >= 16 OR q.exp <= -5 THEN {sci} "
        f"WHEN q.exp >= 0 THEN {fixed_pos} "
        f"ELSE {fixed_neg} END)"
    )

    # Tier 1: Java toString digits — shortest whenever ≤ 15 digits
    # (FloatingDecimal's non-shortest bug class needs 16+), the
    # overwhelmingly common case, and free to extract.
    p0 = "split(r.sa, 'E')"
    d0s = rf"regexp_replace(regexp_replace({p0}[0], r'\.', ''), r'0+$', '')"
    d0 = f"CASE WHEN {d0s} = '' THEN '0' ELSE {d0s} END"
    # Tier 2 (toString gave ≥ 16 digits): shortest of the 14..17-digit
    # renderings that parses back — non-shortest toString can
    # overshoot by a digit, so the search starts below it.
    sel = "".join(
        f"WHEN CAST(format_string('%.{k}e', r.fa) AS DOUBLE) = r.fa "
        f"THEN format_string('%.{k}e', r.fa) "
        for k in (13, 14, 15)
    )
    sel = f"CASE {sel}ELSE format_string('%.16e', r.fa) END"
    p1 = f"split({sel}, 'e')"
    d1s = rf"regexp_replace(regexp_replace({p1}[0], r'\.', ''), r'0+$', '')"
    use0 = f"length({d0}) <= 15"
    derive = _let(
        {
            "digits": f"CASE WHEN {use0} THEN {d0} "
            f"ELSE CASE WHEN {d1s} = '' THEN '0' ELSE {d1s} END END",
            # get(), not [1]: bindings evaluate eagerly (struct
            # fields), and fixed-point Java strings have no "E" part —
            # [1] would throw under ANSI instead of NULLing
            "exp": f"CAST(CASE WHEN {use0} THEN get({p0}, 1) "
            f"ELSE {p1}[1] END AS INT)",
            "sa": "r.sa",
            "has_e": f"size({p0}) = 2",
            "fa": "r.fa",
            "neg": "r.neg",
        },
        "q",
        fmt,
    )
    return _let(
        {
            "fa": f"abs({d})",
            "sa": f"CAST(abs({d}) AS STRING)",
            # sign probed from the Java string so -0.0 keeps its minus
            "neg": f"startswith(CAST({d} AS STRING), '-')",
        },
        "r",
        derive,
    )


def _formatters() -> dict[str, str]:
    """The REAL and INTEGER/NUMERIC canonicalizers as SQL text over
    the raw field ``_X``."""
    # SQLite's "looks like a number" check ignores surrounding ASCII
    # whitespace (' 2 ' under INTEGER affinity stores integer 2);
    # non-numeric text keeps its whitespace verbatim
    t = rf"regexp_replace({_X}, r'^\s+|\s+$', '')"
    is_int = f"({t} RLIKE r'{INT_RE}')"
    is_real = f"({t} RLIKE r'{REAL_RE}')"
    d = f"CAST({t} AS DOUBLE)"
    as_real = _python_real_repr(d)

    # fixed-point "N.0" for every integral double below 1e16 — the
    # exact window where CPython/SQLite float repr stays fixed-point
    # (repr(9007199254740992.0) = '9007199254740992.0' but
    # repr(1e16) = '1e+16'); long-cast is exact there
    real = (
        f"CASE WHEN {is_int} OR {is_real} THEN "
        f"CASE WHEN {d} = floor({d}) AND abs({d}) < 1e16 "
        f"THEN concat(CAST(CAST({d} AS BIGINT) AS STRING), '.0') "
        f"ELSE {as_real} END ELSE {_X} END"
    )

    # integer / numeric: lossless-integral → integer form, else real.
    # SQLite's rule is a lossless ROUND-TRIP within int64 (not a 2^53
    # window): real-looking text whose double is integral and survives
    # double→int64→double unchanged stores as INTEGER — with STRICT
    # endpoint bounds (sqlite3VdbeIntegerAffinity requires
    # SMALLEST_INT64 < i < LARGEST_INT64): the doubles ±2^63 stay
    # REAL even though -2^63 is int64-representable. The strict upper
    # bound also dodges a Spark boundary quirk: try_cast(2^63-as-
    # double AS BIGINT) returns a CLAMPED int64max instead of NULL
    # (the overflow check compares against max-as-double, which IS
    # 2^63), and the clamped value would pass the round-trip test.
    li = f"TRY_CAST({d} AS BIGINT)"  # NULL on overflow (except 2^63)
    integral = (
        f"{li} IS NOT NULL AND CAST({li} AS DOUBLE) = {d} "
        f"AND {li} > -9223372036854775808L AND {li} < 9223372036854775807L"
    )
    long_form = f"CAST(TRY_CAST({t} AS BIGINT) AS STRING)"
    numeric = (
        # int-looking text that overflows int64 falls through to real,
        # matching SQLite's lossless-only integer conversion
        f"CASE WHEN {is_int} AND {long_form} IS NOT NULL THEN {long_form} "
        f"WHEN {is_real} AND {integral} THEN CAST({li} AS STRING) "
        f"WHEN {is_real} OR {is_int} THEN {as_real} "
        f"ELSE {_X} END"
    )
    return {"real": real, "integer": numeric, "numeric": numeric}


_FORMATTERS = _formatters()


def apply_affinity(x: str, affinity: str) -> Column:
    """Canonicalize a raw text field per its column affinity; ``x`` is
    the field's SQL expression text (a column name, or e.g.
    ``try_element_at(fields, 3)``)."""
    text = _FORMATTERS.get(normalize_affinity(affinity))  # None: verbatim
    return F.expr(text.replace(_X, x) if text else x)
