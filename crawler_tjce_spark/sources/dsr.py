"""Power BI DSR wire-format codec + pt-BR CSV sink.

The reference consumes query results in Microsoft's compressed "DSR"
format (observed in ``examples/response.json``; decode semantics at
``crawler/crawler.py:687-1106``):

* ``descriptor.Select``: column metadata — ``Value`` (G0..Gn), ``Name``
  (``[Agg(]table.column[)]``);
* ``DS[0].ValueDicts``: per-column string dictionaries (D0..Dn);
* ``DS[0].PH[0].DM0``: the rows. Row 0 carries the page schema ``S``
  (per column: ``N`` name, ``T`` wire type, optional ``DN`` dict ref)
  and a dense ``C``. Every later row has a sparse ``C`` plus a bitmask
  ``R``: bit *i* set ⇒ column *i* inherits the previous row's value,
  clear ⇒ consume the next element of ``C``;
* dict-encoded columns hold integer indices into ``ValueDicts[DN]``
  unless the wire value is already a string (direct value);
* an all-empty ``DM0=[{}]`` page is a server-side subtotal artifact
  and decodes to nothing (ref ``crawler/crawler.py:746-754``).

Spark integration: pages are independent, inheritance is sequential
only *within* a page, and each input row holds one whole page →
``decode_pages_df`` and ``decode_pages_quarantine_df`` run the page
decoder over the pages table in one ``mapInPandas`` pass, with no
shuffle (parallelism unit = page, exactly the reference's
materialize-then-decode shape in ``script.py:255-453``).

This is a clean-room reimplementation from the observed format — the
decoding loop, data structures and typing pipeline are original; only
the wire semantics match the reference.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# csv-field binding of the precatórios table (ref config.py:106-162)
PRECATORIO_FIELDS: list[tuple[str, str, str]] = [
    # (csv_field, type, api_name)
    ("ordem", "int", "dfslcp_num_ordem"),
    ("processo", "processo", "dfslcp_dsc_proc_precatorio"),
    ("comarca", "str", "dfslcp_dsc_comarca"),
    ("ano_orcamento", "int", "dfslcp_num_ano_orcamento"),
    ("natureza", "str", "dfslcp_dsc_natureza"),
    ("data_cadastro", "date", "dfslcp_dat_cadastro"),
    ("tipo_classificacao", "str", "dfslcp_dsc_tipo_classificao"),
    ("valor_original", "float", "dfslcp_vlr_original"),
    ("valor_atual", "Decimal", "ValorAtualFormatado"),
    ("situacao", "str", "dfslcp_dsc_sit_precatorio"),
]

DECODED_SCHEMA = (
    "page_id long, row_idx int, ordem long, processo string, comarca string, "
    "ano_orcamento long, natureza string, data_cadastro timestamp, "
    "tipo_classificacao string, valor_original double, valor_atual decimal(18,2), "
    "situacao string"
)

# positional bindings for the other two sources (the reference hardcodes
# these by column index: edital_crawler.py:472-487, pagamentos_crawler.py:482-516)
EDITAL_FIELDS_POS: list[tuple[str, str]] = [
    ("ordem", "int"),
    ("ano_orcamento", "int"),
    ("natureza", "str"),
    ("data_cadastro", "str"),  # the reference keeps edital dates as strings
    ("precatorio", "str"),
    ("status", "str"),
    ("valor", "Decimal"),
]
EDITAL_SCHEMA = (
    "page_id long, row_idx int, ordem long, ano_orcamento long, natureza string, "
    "data_cadastro string, precatorio string, status string, valor decimal(18,2)"
)

PAGAMENTO_FIELDS_POS: list[tuple[str, str]] = [
    ("quantidade", "int"),
    ("modalidade", "str"),
    ("natureza", "str"),
    ("exercicio", "int"),
    ("data_protocolo", "str"),
    ("precatorio", "str"),
    ("credor_beneficiario", "str"),
    ("tipo", "str"),
    ("data_pagamento", "str"),
    ("cpf_cnpj", "str"),
    ("valor_bruto", "Decimal"),
    ("previdencia", "Decimal"),
    ("irrf", "Decimal"),
    ("honorarios", "Decimal"),
    ("valor_bruto_contratual", "Decimal"),
    ("rra", "Decimal"),
    ("valor_liquido", "Decimal"),
]
PAGAMENTO_SCHEMA = (
    "page_id long, row_idx int, quantidade long, modalidade string, natureza string, "
    "exercicio long, data_protocolo string, precatorio string, "
    "credor_beneficiario string, tipo string, data_pagamento string, cpf_cnpj string, "
    "valor_bruto decimal(18,2), previdencia decimal(18,2), irrf decimal(18,2), "
    "honorarios decimal(18,2), valor_bruto_contratual decimal(18,2), "
    "rra decimal(18,2), valor_liquido decimal(18,2)"
)

# (named_fields, positional_fields, spark_schema, pagamentos_semantics)
# The pagamentos decoder differs from precatórios/editais in two wire
# semantics (both verified against the reference's production CSV):
# * wire row 0 is schema-only — dropped, and delta inheritance starts
#   from type DEFAULTS, not row 0's values (pagamentos_crawler.py:524-547
#   — "A linha 0 é apenas schema");
# * a short C array assigns the DEFAULT to the remaining new-value
#   columns (pagamentos_crawler.py:580-583) instead of keeping the
#   inherited value (the precatórios fallback), and a missing R means
#   all-new (``get("R", 0)``) rather than inherit-all.
# precatórios/editais process row 0 as data (crawler.py:856-876,
# edital_crawler.py:548-602 — verified by the 158-row editais golden).
TABLES = {
    "precatorio": (PRECATORIO_FIELDS, None, DECODED_SCHEMA, False),
    "edital": (None, EDITAL_FIELDS_POS, EDITAL_SCHEMA, False),
    "pagamento": (None, PAGAMENTO_FIELDS_POS, PAGAMENTO_SCHEMA, True),
}


# ---------------------------------------------------------------------------
# scalar coercions (python mirrors of functions/ptbr.py, used inside the
# per-page decoder; property-tested against the Spark expressions)
# ---------------------------------------------------------------------------

def parse_number(value: Any) -> float:
    if value is None:
        return 0.0
    if isinstance(value, (int, float)):
        return float(value)
    s = str(value).replace("R$", "").strip()
    if not s or s.lower() == "none":
        return 0.0
    if "," in s and "." in s:
        if s.rfind(".") < s.rfind(","):
            s = s.replace(".", "").replace(",", ".")
        else:
            s = s.replace(",", "")
    elif "," in s:
        s = s.replace(",", ".")
    try:
        return float(s)
    except ValueError:
        return 0.0


_DT_RE = re.compile(r"datetime\s*\(([^)]+)\)", re.IGNORECASE)


def parse_date(value: Any) -> dt.datetime | None:
    """Multi-format date (epoch-ms / epoch-s / Excel serial / datetime(...))
    — same arms as ``ptbr.parse_multiformat_date`` (UTC)."""
    if value is None:
        return None
    if isinstance(value, dt.datetime):
        return value
    s = str(value).strip()
    m = _DT_RE.search(s)
    if m:
        try:
            comps = [int(c.strip()) for c in m.group(1).split(",")]
            if len(comps) >= 3:
                if comps[1] == 0:
                    comps[1] = 1
                return dt.datetime(*comps[:6])
        except ValueError:
            return None
        return None
    try:
        num = float(s)
    except ValueError:
        return None
    if 1.0e11 < num < 3.0e14:
        return dt.datetime.fromtimestamp(num / 1000.0, dt.UTC).replace(tzinfo=None)
    if 1.0e9 < num < 3.0e9:
        return dt.datetime.fromtimestamp(num, dt.UTC).replace(tzinfo=None)
    if 1 < num < 80000:
        days = int(num)
        frac = num - days
        return dt.datetime(1899, 12, 30) + dt.timedelta(days=days, seconds=int(frac * 86400))
    return None


def coerce(value: Any, field_type: str) -> Any:
    if field_type == "int":
        return int(parse_number(value))
    if field_type == "float":
        return parse_number(value)
    if field_type == "Decimal":
        return Decimal(str(parse_number(value))).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
    if field_type == "date":
        return parse_date(value)
    if field_type == "processo":
        if isinstance(value, (int, float)):
            return f"{value:020.0f}"
        s = re.sub(r"[^A-Za-z0-9.\-]", "", str(value).strip())
        return s or "-"
    s = "-" if value is None else str(value).strip()
    return s if s and s.lower() != "none" else "-"


# short-C sentinel for pagamentos semantics: a third state distinct from
# None (type default) and from any wire value (see decode_page)
_DASH = object()


def _base_name(descriptor_name: str | None) -> str:
    """``Sum(tbl.col)`` → ``col`` (ref ``_get_base_field_name``)."""
    if not descriptor_name:
        return ""
    m = re.match(r"^[A-Za-z_]+\((.*)\)$", descriptor_name)
    inner = m.group(1) if m else descriptor_name
    return inner.split(".")[-1]


# ---------------------------------------------------------------------------
# page decode / encode
# ---------------------------------------------------------------------------

def decode_page(
    payload: dict,
    fields: list[tuple[str, str, str]] = PRECATORIO_FIELDS,
    positional_fields: list[tuple[str, str]] | None = None,
    collect_rejects: bool = False,
    pagamentos_semantics: bool = False,
    decode_escapes: bool = True,
) -> list[dict] | tuple[list[dict], list[dict]]:
    """Decode one DSR response page into typed row dicts.

    Works column-wise: maintains the current raw value per wire column,
    applies the ``R`` inheritance mask, resolves dictionary indices, and
    formats each bound column once per row. Column→field binding is by
    descriptor name (precatórios style, ``fields`` triples) or by wire
    position (editais/pagamentos style, ``positional_fields`` pairs).

    With ``collect_rejects`` the return becomes ``(rows, rejects)`` and
    rows that fail validation are QUARANTINED instead of emitted — the
    analog of the reference's Pydantic rejection path
    (``crawler/crawler.py:1074-1081``: a row that fails model validation
    is logged and skipped, never silently defaulted). Reject reasons:
    ``dict_oob:<col>`` (dictionary index out of range — the raw value
    inherits the previous row, matching the reference's delta fallback),
    ``bad_number:<field>`` (non-empty unparseable numeric wire value),
    ``bad_date:<field>`` (non-null unparseable date wire value).

    ``decode_escapes`` (default True = reference behavior) runs the
    reference's ``_decode_utf8`` round-trip
    (:func:`crawler_tjce_spark.functions.slug.decode_unicode_escape_py`,
    ref ``crawler/crawler.py:84-97``) over every decoded string value
    before typing/validation, so wire strings carrying literal
    ``\\u00XX`` escape sequences land as the intended characters in the
    output — the captured fixtures carry no such escapes (goldens are
    unchanged), but a page that does decodes identically to the
    reference.
    """
    from crawler_tjce_spark.functions.slug import decode_unicode_escape_py
    data = payload["results"][0]["result"]["data"]
    selects = data.get("descriptor", {}).get("Select", [])
    ds = data["dsr"]["DS"][0]
    value_dicts: dict[str, list] = ds.get("ValueDicts", {})
    dm0 = ds.get("PH", [{}])[0].get("DM0", [])
    if not dm0 or dm0 == [{}]:
        return ([], []) if collect_rejects else []  # subtotal/empty page artifact

    binding: dict[int, tuple[str, str]] = {}
    if positional_fields is not None:
        binding = {i: (f, t) for i, (f, t) in enumerate(positional_fields)}
    else:
        by_api = {api: (csv_f, typ) for csv_f, typ, api in fields}
        for idx, sel in enumerate(selects):
            hit = by_api.get(_base_name(sel.get("Name")))
            if hit:
                binding[idx] = hit

    schema: list[dict] = dm0[0].get("S") or []
    ncols = len(schema)
    raw: list[Any] = [None] * ncols  # resolved (post-dict) raw values
    rows: list[dict] = []
    rejects: list[dict] = []

    first_data = 1 if pagamentos_semantics else 0
    for row_idx, item in enumerate(dm0):
        if row_idx < first_data:
            continue  # schema-only artifact row (pagamentos semantics):
            # its C values never enter the inheritance state — the first
            # delta row inherits type defaults (raw None → coerce default)
        c = item.get("C", [])
        mask = 0 if row_idx == first_data and not pagamentos_semantics else item.get("R")
        if mask is None:
            # missing R: precatórios/editais treat it as inherit-all
            # (crawler.py:912-917); the pagamentos decoder defaults R to 0
            # = all-new (pagamentos_crawler.py:546 ``get("R", 0)``)
            mask = 0 if pagamentos_semantics else (1 << ncols) - 1
        ci = 0
        reasons: list[str] = []
        for col in range(ncols):
            if row_idx > 0 and (mask >> col) & 1:
                continue  # inherit previous value
            if ci >= len(c):
                # short C: precatórios keep the inherited value
                # (crawler.py fallback); pagamentos assign a literal "-"
                # (pagamentos_crawler.py:578-580 bypasses the formatter!)
                # which INHERITS forward and renders as an EMPTY CSV cell
                # even for money columns — distinct from a decoded zero
                # ("R$ 0,00") and from the first-row type default
                # (numeric 0 → Decimal → "R$ 0,00"). The _DASH sentinel
                # carries that third state; typed columns surface it as
                # NULL. Verified against the production CSV's blank runs
                # (rows 5-7: money cells empty, not R$ 0,00).
                if pagamentos_semantics:
                    raw[col] = _DASH
                continue
            wire = c[ci]
            ci += 1
            dn = schema[col].get("DN")
            if pagamentos_semantics and dn:
                # pagamentos dict columns force int() coercion of ANY wire
                # value (floats truncate); failures and out-of-range fall to
                # the DEFAULT (pagamentos_crawler.py:556-574) — verified
                # against the production CSV's blanked cpf on a float wire
                vd = value_dicts.get(dn, [])
                try:
                    idx = int(wire)
                    raw[col] = vd[idx] if 0 <= idx < len(vd) else None
                    if not (0 <= idx < len(vd)):
                        reasons.append(f"dict_oob:{col}")
                except (ValueError, TypeError):
                    raw[col] = None
            elif dn and isinstance(wire, int) and not isinstance(wire, bool):
                vd = value_dicts.get(dn, [])
                if 0 <= wire < len(vd):
                    raw[col] = vd[wire]
                else:
                    # dict index out of range: INHERIT the previous row's
                    # value (the reference's delta-decode fallback keeps
                    # the running value rather than nulling the column)
                    reasons.append(f"dict_oob:{col}")
            else:
                raw[col] = wire  # direct value (strings bypass the dict)
        out = {}
        for col, (csv_f, typ) in binding.items():
            v = raw[col]
            if decode_escapes and isinstance(v, str):
                v = decode_unicode_escape_py(v)
            if v is _DASH:
                # short-C dash state (possibly inherited): numeric columns
                # go NULL (artifact renders ""), strings keep the "-"
                # placeholder (artifact renders "" via the writer)
                out[csv_f] = None if typ in ("int", "float", "Decimal") else "-"
                continue
            if collect_rejects:
                if typ in ("int", "float", "Decimal") and isinstance(v, str):
                    s = v.replace("R$", "").strip()
                    if s and s.lower() != "none" and parse_number(v) == 0.0 and not re.search(
                        r"^[\s0.,]*$", s
                    ):
                        reasons.append(f"bad_number:{csv_f}")
                if typ == "date" and v is not None and parse_date(v) is None:
                    reasons.append(f"bad_date:{csv_f}")
            out[csv_f] = coerce(v, typ)
        out["row_idx"] = row_idx
        if collect_rejects and reasons:
            rejects.append({"row_idx": row_idx, "reason": ";".join(sorted(set(reasons)))})
        else:
            rows.append(out)
    if collect_rejects:
        return rows, rejects
    return rows


def encode_dm0(raw_rows: list[list[Any]], schema: list[dict]) -> list[dict]:
    """Inverse of the row decode (for round-trip property tests and
    synthetic fixtures): emit DM0 with maximal ``R`` inheritance."""
    out: list[dict] = []
    prev: list[Any] | None = None
    for i, row in enumerate(raw_rows):
        if i == 0:
            out.append({"S": schema, "C": list(row)})
        else:
            mask = 0
            c = []
            for col, v in enumerate(row):
                if prev is not None and v == prev[col]:
                    mask |= 1 << col
                else:
                    c.append(v)
            # R must be present even when 0: a missing R means
            # "inherit every column" on the wire (ref crawler.py:912-917)
            out.append({"C": c, "R": mask})
        prev = list(row)
    return out


def _decode_pages(pages: DataFrame, table: str, quarantine: bool) -> DataFrame:
    """``pages.mapInPandas`` running :func:`decode_page` on each page row:
    every row holds one whole page and inheritance never crosses a page,
    so the decode is one map pass with no shuffle. With ``quarantine`` a
    ``reject_reason`` column is added (see
    :func:`decode_pages_quarantine_df`)."""
    import pandas as pd

    fields, positional, schema, pagamentos = TABLES[table]
    cols = ["page_id", "row_idx"] + (
        [f for f, _, _ in fields] if fields else [f for f, _ in positional]
    )
    if quarantine:
        schema += ", reject_reason string"
        cols.append("reject_reason")

    # every record carries every column: a column that no record of a
    # batch holds would come out as float NaN, which Arrow cannot cast to
    # a timestamp or decimal
    blank = dict.fromkeys(cols)

    def _decode(batches):
        for pdf in batches:
            out = []
            for pid, payload in zip(pdf["page_id"], pdf["payload"]):
                decoded = decode_page(
                    json.loads(payload), fields or PRECATORIO_FIELDS, positional,
                    collect_rejects=quarantine, pagamentos_semantics=pagamentos,
                )
                rows, rejects = decoded if quarantine else (decoded, [])
                out += [blank | row | {"page_id": int(pid)} for row in rows]
                out += [blank | {"page_id": int(pid), "row_idx": r["row_idx"],
                                 "reject_reason": r["reason"]} for r in rejects]
            yield pd.DataFrame(out, columns=cols)

    return pages.mapInPandas(_decode, schema=schema)


def decode_pages_df(
    spark: SparkSession, pages: DataFrame, table: str = "precatorio"
) -> DataFrame:
    """Distributed decode: ``pages(page_id long, payload string)`` →
    typed rows for one of the three source tables, pages decoded in
    parallel in one map pass."""
    return _decode_pages(pages, table, quarantine=False)


def decode_pages_quarantine_df(
    spark: SparkSession, pages: DataFrame, table: str = "precatorio"
) -> DataFrame:
    """Distributed decode WITH the invalid-row quarantine (SURVEY §2.2 P6;
    ref ``crawler/crawler.py:1074-1081``): one extra ``reject_reason``
    column — NULL for valid rows, the rejection reason for quarantined
    rows (whose data columns are NULL). Split with::

        good = out.filter(out.reject_reason.isNull()).drop("reject_reason")
        quarantine = out.filter(out.reject_reason.isNotNull()) \\
                        .select("page_id", "row_idx", "reject_reason")

    One decode pass serves both streams; at 100 TB the quarantine side is
    written to its own table partition for audit/replay.
    """
    return _decode_pages(pages, table, quarantine=True)


# ---------------------------------------------------------------------------
# CSV sink (ref crawler/crawler.py:1108-1201)
# ---------------------------------------------------------------------------

def write_editais_csv(df: DataFrame, out_path: str) -> None:
    """Reference-parity editais CSV (``crawler/edital_crawler.py:690-731``):
    utf-8-sig + CRLF (csv.DictWriter defaults), fixed column order,
    ``'-'`` placeholders rendered as empty, Decimal ``valor`` →
    ``R$ 1.234,56``. Byte-identical to the reference's own crawl output
    for the captured fixture (golden test). The formatting runs as Spark
    expressions; only the bounded final rows pass through the driver's
    csv writer (single-artifact sink, like the reference's)."""
    import csv as _csv
    import os as _os

    from pyspark.sql import functions as F

    from crawler_tjce_spark.functions.ptbr import format_currency_ptbr

    def _blank_dash(c: str):
        s = F.col(c).cast("string")
        return F.when(s == "-", F.lit("")).otherwise(F.coalesce(s, F.lit("")))

    # post-decode re-sort by ordem (ref edital_crawler.py:630-631 — the
    # wire scan arrives DESC, the artifact is written ASC)
    out = df.orderBy(F.col("ordem").cast("long"), "page_id", "row_idx").select(
        _blank_dash("ordem").alias("ordem"),
        _blank_dash("ano_orcamento").alias("ano_orcamento"),
        _blank_dash("natureza").alias("natureza"),
        _blank_dash("data_cadastro").alias("data_cadastro"),
        _blank_dash("precatorio").alias("precatorio"),
        _blank_dash("status").alias("status"),
        format_currency_ptbr(F.col("valor").cast("double")).alias("valor"),
    )
    rows = out.collect()
    d = _os.path.dirname(out_path)
    if d:
        _os.makedirs(d, exist_ok=True)
    fieldnames = ["ordem", "ano_orcamento", "natureza", "data_cadastro",
                  "precatorio", "status", "valor"]
    with open(out_path, "w", newline="", encoding="utf-8-sig") as f:
        w = _csv.DictWriter(f, fieldnames=fieldnames)
        w.writeheader()
        for r in rows:
            w.writerow({k: r[k] for k in fieldnames})


PAGAMENTO_CSV_FIELDS = [
    "quantidade", "modalidade", "natureza", "exercicio", "data_protocolo",
    "precatorio", "credor_beneficiario", "tipo", "data_pagamento", "cpf_cnpj",
    "valor_bruto", "previdencia", "irrf", "honorarios",
    "valor_bruto_contratual", "rra", "valor_liquido",
]


def write_pagamentos_csv(df: DataFrame, out_path: str) -> None:
    """Reference-parity pagamentos artifact (17 columns,
    ``crawler/pagamentos_crawler.py:665-710``): utf-8-sig + CRLF
    (csv.DictWriter defaults), rows in crawl order (page, row), ``'-'``
    placeholders rendered empty, the seven Decimal money columns →
    ``R$ 1.234,56`` (``format_currency``, pagamentos_crawler.py:42-49 —
    note the space after R$, unlike the editais wire strings), date
    columns passed through as the wire's pre-formatted strings. Proven
    byte-identical to the shared prefix of the reference's production
    ``data/pagamentos_tjce.csv`` (golden test). Formatting runs as Spark
    expressions; only the bounded final rows pass through the driver's
    csv writer (single-artifact sink, like the reference's)."""
    import csv as _csv
    import os as _os

    from pyspark.sql import functions as F

    from crawler_tjce_spark.functions.ptbr import format_currency_ptbr

    money = {"valor_bruto", "previdencia", "irrf", "honorarios",
             "valor_bruto_contratual", "rra", "valor_liquido"}

    def _render(c: str):
        if c in money:
            return format_currency_ptbr(F.col(c).cast("double")).alias(c)
        s_ = F.col(c).cast("string")
        return F.when(s_ == "-", F.lit("")).otherwise(F.coalesce(s_, F.lit(""))).alias(c)

    out = df.orderBy("page_id", "row_idx").select(
        *[_render(c) for c in PAGAMENTO_CSV_FIELDS]
    )
    rows = out.collect()
    d = _os.path.dirname(out_path)
    if d:
        _os.makedirs(d, exist_ok=True)
    with open(out_path, "w", newline="", encoding="utf-8-sig") as f:
        w = _csv.DictWriter(f, fieldnames=PAGAMENTO_CSV_FIELDS)
        w.writeheader()
        for r in rows:
            w.writerow({k: r[k] for k in PAGAMENTO_CSV_FIELDS})


def write_csv_ptbr(df: DataFrame, out_path: str) -> None:
    """Reference-parity CSV: fixed column order, header always,
    ``data_cadastro`` → dd/MM/yyyy (empty for null), Decimal money →
    ``R$ 1.234,56`` (float money stays plain — the reference formats
    only ``Decimal`` fields), single output file."""
    from pyspark.sql import functions as F

    from crawler_tjce_spark.functions.ptbr import format_currency_ptbr, format_date_ptbr

    out = df.select(
        F.col("ordem").cast("string"),
        "processo",
        "comarca",
        F.col("ano_orcamento").cast("string"),
        "natureza",
        F.coalesce(format_date_ptbr("data_cadastro"), F.lit("")).alias("data_cadastro"),
        "tipo_classificacao",
        F.col("valor_original").cast("string"),
        F.coalesce(
            format_currency_ptbr(F.coalesce(F.col("valor_atual"), F.lit(0)).cast("double")),
            F.lit("R$ 0,00"),
        ).alias("valor_atual"),
        "situacao",
    )
    out.coalesce(1).write.mode("overwrite").option("header", True).csv(out_path)
