"""pt-BR locale parsing/rendering as native Spark expressions.

Semantics mirror the reference's ``_format_value``
(``crawler/crawler.py:99-250``) and the Pydantic validators
(``models/models.py:48-228``), re-expressed as JVM-side column
expressions so they stay inside whole-stage codegen — no per-row Python
anywhere on this path (BASELINE input_hint requirement).

Known reference defect intentionally NOT replicated: the epoch-seconds
branch at ``crawler/crawler.py:180-185`` tests ``ts > 1e9 and ts < 3e8``,
which is unsatisfiable (dead code). We implement a working
epoch-seconds window instead and document the divergence here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# CNJ process-number format (reference crawler/edital_crawler.py:642)
CNJ_REGEX = r"^\d{7}-\d{2}\.\d{4}\.\d{1}\.\d{2}\.\d{4}$"


def _as_str(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def parse_ptbr_number(col: Column | str) -> Column:
    """Parse ``R$ 1.234,56`` / ``1,234.56`` / ``1234.56`` → double.

    Disambiguation rule (ref ``crawler/crawler.py:119-139``):
    both separators present → the *rightmost* decides which is decimal;
    comma only → comma is decimal. Unparseable / empty → 0.0 (the
    reference's default-fill for numeric fields).
    """
    s = F.trim(F.regexp_replace(_as_str(col).cast("string"), r"R\$", ""))
    has_comma = s.contains(",")
    has_dot = s.contains(".")
    # position of last occurrence: length - position-in-reversed-string
    last_dot = F.length(s) - F.instr(F.reverse(s), ".")
    last_comma = F.length(s) - F.instr(F.reverse(s), ",")
    ptbr_form = F.regexp_replace(F.regexp_replace(s, r"\.", ""), ",", ".")
    us_form = F.regexp_replace(s, ",", "")
    comma_decimal = F.regexp_replace(s, ",", ".")
    normalized = (
        F.when(has_comma & has_dot, F.when(last_dot < last_comma, ptbr_form).otherwise(us_form))
        .when(has_comma, comma_decimal)
        .otherwise(s)
    )
    # try_cast: Spark 4 runs ANSI mode by default — malformed input must
    # yield NULL (→ 0.0 default), not a runtime error.
    return F.coalesce(normalized.try_cast("double"), F.lit(0.0))


def parse_multiformat_date(col: Column | str) -> Column:
    """Multi-format date → timestamp (ref ``crawler/crawler.py:141-233``).

    Accepts, in priority order:
      1. ``datetime(Y,M,D[,h,m,s])`` strings (Power BI literal form);
      2. epoch milliseconds in (1e11, 3e14) — ~1973..year-10000;
      3. epoch seconds in (1e9, 3e9) — working replacement for the
         reference's dead branch (see module docstring);
      4. Excel serial date in (1, 80000), epoch 1899-12-30, day
         fraction → seconds.
    Anything else → NULL (reference returns ``""`` → Pydantic None).
    """
    s = F.trim(_as_str(col).cast("string"))
    # 1. datetime(Y,M,D,...) — capture the component list.
    comps = F.regexp_extract(s, r"(?i)datetime\s*\(([^)]+)\)", 1)
    parts = F.split(comps, r"\s*,\s*")
    pick = lambda i, default: F.coalesce(  # noqa: E731
        F.try_element_at(parts, F.lit(i)).try_cast("int"), F.lit(default)
    )
    # Month 0 → 1 (ref guards a 0-indexed month at crawler/crawler.py:154)
    month = F.when(pick(2, 1) == 0, F.lit(1)).otherwise(pick(2, 1))
    dt_literal = F.try_make_timestamp(
        pick(1, 1970), month, pick(3, 1), pick(4, 0), pick(5, 0), pick(6, 0).cast("decimal(8,6)")
    )
    num = s.try_cast("double")
    epoch_ms = F.timestamp_millis(num.try_cast("long"))
    epoch_s = F.timestamp_seconds(num.try_cast("long"))
    excel_days = F.floor(num).try_cast("int")
    excel_frac_secs = ((num - F.floor(num)) * 86400).try_cast("long")
    excel_ts = F.timestamp_seconds(
        F.unix_timestamp(
            F.date_add(F.lit("1899-12-30").cast("date"), excel_days).cast("timestamp")
        )
        + excel_frac_secs
    )
    return (
        F.when((comps.isNotNull()) & (comps != ""), dt_literal)
        .when(num.isNotNull() & (num > 1.0e11) & (num < 3.0e14), epoch_ms)
        .when(num.isNotNull() & (num > 1.0e9) & (num < 3.0e9), epoch_s)
        .when(num.isNotNull() & (num > 1) & (num < 80000), excel_ts)
        .otherwise(F.lit(None).cast("timestamp"))
    )


def format_currency_ptbr(col: Column | str) -> Column:
    """Render double → ``R$ 1.234,56`` (ref ``crawler/crawler.py:60-67``).

    ``format_number`` gives US ``1,234.56``; swap separators with a
    3-way ``translate`` (',' ↔ '.').
    """
    return F.concat(F.lit("R$ "), F.translate(F.format_number(_as_str(col), 2), ",.", ".,"))


def format_date_ptbr(col: Column | str) -> Column:
    """Render timestamp → ``dd/MM/yyyy`` (ref ``crawler/crawler.py:1142-1147``)."""
    return F.date_format(_as_str(col), "dd/MM/yyyy")


def clean_processo(col: Column | str) -> Column:
    """Normalize process ids (ref ``crawler/crawler.py:114-117``,
    ``models/models.py:48-59``): numeric values zero-pad to 20 digits,
    strings keep only ``[A-Za-z0-9.-]``; empty → ``-``.
    """
    s = F.trim(_as_str(col).cast("string"))
    is_numeric = s.rlike(r"^\d+(\.0+)?$")
    padded = F.lpad(F.regexp_replace(s, r"\.0+$", ""), 20, "0")
    cleaned = F.regexp_replace(s, r"[^A-Za-z0-9.\-]", "")
    out = F.when(is_numeric, padded).otherwise(cleaned)
    return F.when((out.isNull()) | (out == ""), F.lit("-")).otherwise(out)


def is_cnj_processo(col: Column | str) -> Column:
    """True when the value matches the CNJ format ``NNNNNNN-DD.YYYY.J.TR.OOOO``."""
    return _as_str(col).rlike(CNJ_REGEX)


def clean_cpf_cnpj(col: Column | str) -> Column:
    """Keep digits only; empty → ``-`` (ref ``models/models.py:330-339``)."""
    digits = F.regexp_replace(_as_str(col).cast("string"), r"[^0-9]", "")
    return F.when((digits.isNull()) | (digits == ""), F.lit("-")).otherwise(digits)


def safe_float(col: Column | str) -> Column:
    """``-``/empty/unparseable → 0.0 (ref ``main.py:280-290``)."""
    return F.coalesce(_as_str(col).try_cast("double"), F.lit(0.0))


def default_fill(col: Column | str, field_type: str) -> Column:
    """Type-directed default fill (ref ``crawler/crawler.py:103-111``)."""
    c = _as_str(col)
    if field_type in ("int", "float", "Decimal"):
        return F.coalesce(c, F.lit(0)).cast("double" if field_type != "int" else "long")
    if field_type == "date":
        return c  # dates stay NULL
    s = F.trim(c.cast("string"))
    return F.when(s.isNull() | (s == "") | (F.lower(s) == "none"), F.lit("-")).otherwise(s)


def strip_agg_wrapper(col: Column | str) -> Column:
    """``Sum(tbl.col)`` → ``col``; ``tbl.col`` → ``col``
    (ref ``_get_base_field_name``, ``crawler/crawler.py:1251-1265``).
    """
    s = _as_str(col).cast("string")
    unwrapped = F.regexp_replace(s, r"^[A-Za-z_]+\((.*)\)$", r"$1")
    return F.element_at(F.split(unwrapped, r"\."), -1)
