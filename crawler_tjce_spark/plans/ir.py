"""Semantic-query IR → DataFrame translator.

The reference's only query language is the Power BI
``SemanticQueryDataShapeCommand`` JSON tree it builds by hand
(``config.py:168-365`` template; construction in
``crawler/crawler.py:303-521``): ``From`` / ``Select`` (columns,
``Aggregation`` wrappers, ``Measure``) / ``Where`` (``In`` +
``Comparison`` conditions) / ``OrderBy`` (Direction 1|2) / ``Binding``
(``Groupings``, ``DataReduction`` with ``Window{Count, RestartTokens}``
or ``Top{}``).

This module accepts that IR shape and emits a *declarative* DataFrame
plan — Catalyst then does predicate pushdown, pruning and join
selection; nothing is hand-scheduled. Keyset pagination
(``RestartTokens``) becomes a lexicographic composite-key predicate
instead of a fetch loop: page N of the reference is "rows strictly
after the token in ORDER BY order", which Spark evaluates with ordinary
pushable comparisons.

Aggregation function codes (observed in the reference: ``Function: 3``
is the Min probe at ``crawler/edital_crawler.py:270-283``; Sum wrappers
``Sum(...)`` appear throughout the descriptors):
0=Sum, 1=Avg, 2=Count, 3=Min, 4=Max.
"""

from __future__ import annotations

import datetime as dt
import re
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

AGG_FUNCS = {0: F.sum, 1: F.avg, 2: F.count, 3: F.min, 4: F.max}

# Power BI wire literal syntax (as seen in RestartTokens / Where values,
# e.g. examples/response.json DS[0].RT): 123L, 1.5D, 'text',
# datetime'2021-06-22T00:00:00', true/false, null.
_LIT_RE_LONG = re.compile(r"^(-?\d+)L$")
_LIT_RE_DOUBLE = re.compile(r"^(-?\d+(?:\.\d+)?)D$")
_LIT_RE_STR = re.compile(r"^'(.*)'$", re.S)
_LIT_RE_DT = re.compile(r"^datetime'(.*)'$")


def parse_literal(token: str) -> Any:
    """Parse one wire literal into a Python value."""
    t = token.strip()
    m = _LIT_RE_DT.match(t)
    if m:
        return dt.datetime.fromisoformat(m.group(1))
    m = _LIT_RE_LONG.match(t)
    if m:
        return int(m.group(1))
    m = _LIT_RE_DOUBLE.match(t)
    if m:
        return float(m.group(1))
    m = _LIT_RE_STR.match(t)
    if m:
        return m.group(1)
    if t in ("true", "false"):
        return t == "true"
    if t == "null":
        return None
    try:
        return int(t)
    except ValueError:
        try:
            return float(t)
        except ValueError:
            return t


def render_literal(value: Any) -> str:
    """Inverse of :func:`parse_literal` (for emitting restart tokens)."""
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return f"{value}L"
    if isinstance(value, float):
        return f"{value}D"
    if isinstance(value, dt.datetime):
        return f"datetime'{value.isoformat()}'"
    return f"'{value}'"


def _column_ref(expr: dict) -> str:
    """Extract the column name from a Column/Aggregation expression node."""
    if "Column" in expr:
        return expr["Column"]["Property"]
    if "Aggregation" in expr:
        return _column_ref(expr["Aggregation"]["Expression"])
    if "Measure" in expr:
        return expr["Measure"]["Property"]
    raise ValueError(f"unsupported expression node: {list(expr)}")


def _keyset_predicate(order_cols: list[tuple[str, bool]], token: list[Any]) -> Column:
    """Lexicographic "strictly after the token" predicate.

    (a, b, c) > (ta, tb, tc) under per-column direction — the exact
    keyset-pagination semantics of the reference's RestartTokens chain
    (``crawler/crawler.py:628-652``): each page starts after the
    composite sort key of the previous page's last row.
    """
    pred = F.lit(False)
    for i in range(len(order_cols), 0, -1):
        name, asc = order_cols[i - 1]
        col, tok = F.col(name), F.lit(token[i - 1])
        strict = col > tok if asc else col < tok
        clause = strict
        for j in range(i - 1):
            pname, _ = order_cols[j]
            clause = clause & (F.col(pname) == F.lit(token[j]))
        pred = pred | clause
    return pred


def to_dataframe(
    spark: SparkSession,
    ir: dict,
    resolve: dict[str, DataFrame] | None = None,
    sf_dir: str | None = None,
) -> DataFrame:
    """Translate one semantic-query IR dict into a DataFrame plan.

    ``resolve`` maps entity names to DataFrames; alternatively
    ``sf_dir`` reads ``<sf_dir>/<entity>.parquet``.
    """
    query = ir.get("Query", ir)
    froms = query["From"]
    if len(froms) != 1:
        raise NotImplementedError("single-entity From only (matches the reference)")
    entity = froms[0]["Entity"]
    if resolve and entity in resolve:
        df = resolve[entity]
    elif sf_dir:
        df = spark.read.parquet(f"{sf_dir}/{entity}.parquet")
    else:
        raise ValueError(f"cannot resolve entity {entity!r}")

    # --- Where: In + Comparison conditions (P2/P3/P4) -----------------
    for cond in query.get("Where", []):
        c = cond["Condition"]
        if "In" in c:
            col = _column_ref(c["In"]["Expressions"][0])
            values = [parse_literal(v[0]["Literal"]["Value"]) for v in c["In"]["Values"]]
            df = df.filter(F.col(col).isin(values))
        elif "Comparison" in c:
            comp = c["Comparison"]
            col = F.col(_column_ref(comp["Left"]))
            val = F.lit(parse_literal(comp["Right"]["Literal"]["Value"]))
            kind = comp.get("ComparisonKind", 0)
            ops = {0: col == val, 1: col > val, 2: col >= val, 3: col < val, 4: col <= val}
            df = df.filter(ops[kind])
        else:
            raise NotImplementedError(f"condition {list(c)}")

    # --- Select: plain columns vs aggregations -------------------------
    selects = query.get("Select", [])
    plain: list[tuple[str, str]] = []  # (col, alias)
    aggs: list[tuple[int, str, str]] = []  # (func, col, alias)
    for sel in selects:
        alias = sel.get("Name") or _column_ref(sel)
        alias = alias.split(".")[-1]
        if "Aggregation" in sel:
            aggs.append((sel["Aggregation"]["Function"], _column_ref(sel), alias))
        elif "Column" in sel:
            plain.append((_column_ref(sel), alias))
        else:
            raise NotImplementedError(f"select node {list(sel)}")

    if aggs:
        agg_cols = [AGG_FUNCS[f](c).alias(a) for f, c, a in aggs]
        if plain:
            df = df.groupBy(*[F.col(c).alias(a) for c, a in plain]).agg(*agg_cols)
        else:
            df = df.agg(*agg_cols)
    elif plain:
        df = df.select(*[F.col(c).alias(a) for c, a in plain])

    # --- OrderBy (O1/O2) + keyset restart (W3) + window/top (O6) -------
    alias_of = {c: a for c, a in plain}
    order_cols: list[tuple[str, bool]] = []
    for ob in query.get("OrderBy", []):
        col = _column_ref(ob["Expression"])
        order_cols.append((alias_of.get(col, col), ob.get("Direction", 1) == 1))

    reduction = (
        query.get("Binding", {}).get("DataReduction", {}).get("Primary", {})
    )
    window = reduction.get("Window")
    if window and window.get("RestartTokens"):
        token = [parse_literal(t) for t in window["RestartTokens"][0]]
        if len(token) != len(order_cols):
            raise ValueError("restart token arity != order-by arity")
        df = df.filter(_keyset_predicate(order_cols, token))

    if order_cols:
        df = df.orderBy(*[F.col(n) if asc else F.desc(n) for n, asc in order_cols])
    ordered = bool(order_cols)
    if window and window.get("Count"):
        df = _limit(df, int(window["Count"]), ordered)
    if "Top" in reduction:
        df = _limit(df, int(reduction["Top"].get("Count", 1)), ordered)
    return df


# An ordered limit plans as TakeOrderedAndProject, whose per-task queue
# preallocates ``n`` slots: a "fetch everything" count such as 10**9
# allocated GBs per task until the kernel killed the JVM.
_TOPK_PREALLOC_MAX = 1_000_000


def _limit(df: DataFrame, n: int, ordered: bool) -> DataFrame:
    """``df.limit(n)``, dropped when ordered, ``n`` is above
    ``_TOPK_PREALLOC_MAX`` and covers every row (one count job) — a
    limit at or above the row count is a no-op."""
    if ordered and n > _TOPK_PREALLOC_MAX and df.count() <= n:
        return df
    return df.limit(n)


def restart_token_of(df: DataFrame, order_cols: list[tuple[str, bool]]) -> list[str] | None:
    """Emit the wire-format restart token for the LAST row of a page —
    the inverse side of the pagination contract (what the server does)."""
    rows = df.tail(1)
    if not rows:
        return None
    last = rows[0]
    return [render_literal(last[name]) for name, _ in order_cols]
