"""DSR decoder golden tests against the reference's captured fixture
(``/root/reference/examples/response.json`` — a real 500-row Power BI
response), encode→decode round-trip properties, and the Spark decode
checked against the local one over synthetic ``encode_dm0`` pages.

Ground truth for the last row comes from the server itself: the
restart token ``DS[0].RT`` is the composite sort key of the LAST row
served, written by Power BI — an oracle independent of any decoder.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from collections import Counter
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from crawler_tjce_spark.sources import dsr

FIXTURE = "/root/reference/examples/response.json"


@pytest.fixture(scope="module")
def payload():
    with open(FIXTURE) as f:
        return json.load(f)


def test_decode_row_count_and_schema(payload):
    rows = dsr.decode_page(payload)
    assert len(rows) == 500
    expected_keys = {f for f, _, _ in dsr.PRECATORIO_FIELDS} | {"row_idx"}
    assert set(rows[0]) == expected_keys


def test_first_row_against_dictionaries(payload):
    """Row 0 is dense: every dict column holds index 0 etc. — check the
    decode against the fixture's own ValueDicts."""
    data = payload["results"][0]["result"]["data"]
    vd = data["dsr"]["DS"][0]["ValueDicts"]
    r = dsr.decode_page(payload)[0]
    assert r["processo"] == vd["D0"][0]
    assert r["natureza"] == vd["D1"][0]
    assert r["tipo_classificacao"] == vd["D2"][0]
    assert r["situacao"] == vd["D3"][0]
    assert r["comarca"] == vd["D4"][0]
    assert r["valor_atual"] == Decimal(str(round(dsr.parse_number(vd["D5"][0]), 2)))
    assert r["ano_orcamento"] == 2026
    assert r["ordem"] == 1
    assert r["valor_original"] == 207680.84
    assert r["data_cadastro"] == dt.datetime(2024, 5, 13)


def test_last_row_matches_server_restart_token(payload):
    """The RT token IS the last row's sort key, produced by the server —
    the strongest independent decode oracle available."""
    rt = payload["results"][0]["result"]["data"]["dsr"]["DS"][0]["RT"][0]
    # RT layout mirrors the OrderBy/Select: ordem, processo, ano, natureza,
    # data, tipo, valor_original, situacao, comarca, valor_atual
    last = dsr.decode_page(payload)[-1]
    assert last["ordem"] == int(rt[0].rstrip("L"))
    assert last["processo"] == rt[1].strip("'")
    assert last["ano_orcamento"] == int(rt[2].rstrip("L"))
    assert last["natureza"] == rt[3].strip("'")
    iso = rt[4].removeprefix("datetime'").rstrip("'")
    assert last["data_cadastro"] == dt.datetime.fromisoformat(iso)
    assert last["tipo_classificacao"] == rt[5].strip("'")
    assert last["valor_original"] == float(rt[6].rstrip("D"))
    assert last["situacao"] == rt[7].strip("'")
    assert last["comarca"] == rt[8].strip("'")
    assert last["valor_atual"] == Decimal(
        str(round(dsr.parse_number(rt[9].strip("'")), 2))
    )


def test_inheritance_monotonic_ordem(payload):
    """ordem (G6) increments 1..500 across delta rows — exercises the
    R-mask consume-vs-inherit logic on every row."""
    rows = dsr.decode_page(payload)
    assert [r["ordem"] for r in rows] == list(range(1, 501))


def test_spark_distributed_decode_matches_local(spark, payload):
    """mapInPandas decode over (page replicated 3×) ≡ 3× the local
    decode, with page-stable row_idx."""
    raw = json.dumps(payload)
    pages = spark.createDataFrame([(i, raw) for i in range(3)], "page_id long, payload string")
    out = dsr.decode_pages_df(spark, pages)
    assert out.count() == 1500
    local = dsr.decode_page(payload)
    got = out.filter("page_id = 1").orderBy("row_idx").collect()
    assert len(got) == 500
    for g, l in zip(got[:20], local[:20]):
        assert g["processo"] == l["processo"]
        assert g["ordem"] == l["ordem"]
        assert g["valor_original"] == l["valor_original"]
        assert g["data_cadastro"] == l["data_cadastro"]


def test_empty_subtotal_page(payload):
    p = json.loads(json.dumps(payload))
    p["results"][0]["result"]["data"]["dsr"]["DS"][0]["PH"][0]["DM0"] = [{}]
    assert dsr.decode_page(p) == []


# ---------------------------------------------------------------------------
# encode→decode round-trip (Rulifier property)
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # dict index for a D-column of size 4
            st.integers(1900, 2100),  # literal int column
            st.floats(0, 1e6, allow_nan=False).map(lambda f: round(f, 2)),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_rulifier_roundtrip(rows):
    schema = [{"N": "G0", "T": 1, "DN": "D0"}, {"N": "G1", "T": 4}, {"N": "G2", "T": 3}]
    dm0 = dsr.encode_dm0([list(r) for r in rows], schema)
    payload = {
        "results": [
            {
                "result": {
                    "data": {
                        "descriptor": {
                            "Select": [
                                {"Value": "G0", "Name": "t.dfslcp_dsc_natureza"},
                                {"Value": "G1", "Name": "Sum(t.dfslcp_num_ano_orcamento)"},
                                {"Value": "G2", "Name": "Sum(t.dfslcp_vlr_original)"},
                            ]
                        },
                        "dsr": {
                            "DS": [
                                {
                                    "ValueDicts": {"D0": ["A", "B", "C", "D"]},
                                    "PH": [{"DM0": dm0}],
                                }
                            ]
                        },
                    }
                }
            }
        ]
    }
    decoded = dsr.decode_page(payload)
    assert len(decoded) == len(rows)
    for got, (d0, year, val) in zip(decoded, rows):
        assert got["natureza"] == ["A", "B", "C", "D"][d0]
        assert got["ano_orcamento"] == year
        assert got["valor_original"] == val


# ---------------------------------------------------------------------------
# Spark decode ≡ local decode, over synthetic encode_dm0 pages
# ---------------------------------------------------------------------------

_VALUE_DICTS = {
    "D0": ["ALIMENTAR", "COMUM"],
    "D1": ["0000001-11.2020.8.06.0001", "0000002-22.2021.8.06.0001",
           "0000003-33.2022.8.06.0001"],
    "D2": ["R$ 1.234,56", "R$ 99,90"],
}

# per table: the wire columns as (descriptor name, dict ref, value choices)
# and the corrupted cells (row, column, wire value) of a page with rejects.
# Small choice sets repeat values, so encode_dm0 sets R bits; "DIRETA" is
# a direct string in a dict column, 9 is out of every dictionary.
_MONEY = [100.0, 250.25, 0]
_SYNTH = {
    "precatorio": (
        [
            ("Sum(p.dfslcp_num_ordem)", None, range(1, 500)),
            ("p.dfslcp_dsc_natureza", "D0", [0, 1, "DIRETA"]),
            ("p.dfslcp_dsc_proc_precatorio", "D1", [0, 1, 2]),
            ("Sum(p.dfslcp_num_ano_orcamento)", None, [2023, 2024]),
            ("p.dfslcp_dat_cadastro", None, [1704067200000, 1706745600000]),
            ("p.dfslcp_dsc_comarca", None, ["Fortaleza", "Sobral"]),
            ("p.dfslcp_dsc_tipo_classificao", None, ["Prioridade", "Ordem"]),
            ("Sum(p.dfslcp_vlr_original)", None, [1000.5, 250.0]),
            ("p.ValorAtualFormatado", "D2", [0, 1]),
            ("p.dfslcp_dsc_sit_precatorio", None, ["Pendente", "Pago"]),
        ],
        [(3, 1, 9), (5, 4, "junk"), (7, 7, "garbage")],
    ),
    "edital": (
        [
            (None, None, range(1, 500)),
            (None, None, [2023, 2024]),
            (None, "D0", [0, 1, "DIRETA"]),
            (None, None, ["01/02/2024", "03/04/2024"]),
            (None, "D1", [0, 1, 2]),
            (None, None, ["Pendente", "Pago"]),
            (None, "D2", [0, 1]),
        ],
        [(3, 2, 9), (7, 6, "garbage")],
    ),
    "pagamento": (
        [
            (None, None, range(1, 50)),
            (None, None, ["Acordo", "Ordem"]),
            (None, "D0", [0, 1, "DIRETA"]),
            (None, None, [2023, 2024]),
            (None, None, ["01/02/2024"]),
            (None, "D1", [0, 1, 2]),
            (None, None, ["Fulano", "Beltrano"]),
            (None, None, ["PF", "PJ"]),
            (None, None, ["05/06/2024", "07/08/2024"]),
            (None, None, ["123", "456"]),
        ] + [(None, None, _MONEY)] * 7,
        [(3, 2, 9), (7, 10, "garbage")],
    ),
}


def _synthetic_payload(table: str, seed: int, n_rows: int = 12, bad_cells=(),
                       empty: bool = False) -> dict:
    """One page of ``table``: ``n_rows`` rows from ``encode_dm0`` (so later
    rows inherit through R) with ``bad_cells`` (row, column, wire value)
    written over them, and one row with its last C element dropped (short
    C) when the page has one with two or more."""
    columns, _ = _SYNTH[table]
    rng = random.Random(f"{table}-{seed}")
    rows = [[rng.choice(choices) for _, _, choices in columns] for _ in range(n_rows)]
    for r, c, v in bad_cells:
        rows[r][c] = v
    schema = [{"N": f"G{i}", "T": 1} | ({"DN": dn} if dn else {})
              for i, (_, dn, _) in enumerate(columns)]
    dm0 = dsr.encode_dm0(rows, schema)
    short = next((i for i in range(2, len(dm0)) if len(dm0[i]["C"]) >= 2), None)
    if short is not None:
        dm0[short]["C"] = dm0[short]["C"][:-1]
    return {"results": [{"result": {"data": {
        "descriptor": {"Select": [{"Value": f"G{i}", "Name": name}
                                  for i, (name, _, _) in enumerate(columns) if name]},
        "dsr": {"DS": [{"ValueDicts": _VALUE_DICTS,
                        "PH": [{"DM0": [{}] if empty else dm0}]}]},
    }}}]}


def _synthetic_pages(table: str) -> list[tuple[int, dict]]:
    """Clean and corrupted pages, a second page under a duplicated
    page_id, an empty ``DM0=[{}]`` page, and a page whose one data row
    is rejected (pagamento's row 0 is schema only)."""
    bad = _SYNTH[table][1]
    last = 1 if dsr.TABLES[table][3] else 0
    return [
        (0, _synthetic_payload(table, 0)),
        (1, _synthetic_payload(table, 1, bad_cells=bad)),
        (1, _synthetic_payload(table, 2, bad_cells=bad)),
        (2, _synthetic_payload(table, 3, empty=True)),
        (3, _synthetic_payload(table, 4)),
        (4, _synthetic_payload(table, 5, n_rows=last + 1, bad_cells=[(last,) + bad[0][1:]])),
    ]


def _pages_df(spark, pages):
    return spark.createDataFrame(
        [(pid, json.dumps(p)) for pid, p in pages], "page_id long, payload string"
    )


def _local_decode(table: str, payload: dict, collect_rejects: bool = False):
    fields, positional, _, pagamentos = dsr.TABLES[table]
    return dsr.decode_page(
        payload, fields or dsr.PRECATORIO_FIELDS, positional,
        collect_rejects=collect_rejects, pagamentos_semantics=pagamentos,
    )


@pytest.mark.parametrize("table", ["precatorio", "edital", "pagamento"])
def test_spark_decode_matches_local_decode(spark, table):
    """``decode_pages_df`` rows ≡ ``decode_page`` page by page, and the
    quarantine form splits valid and rejected rows exactly as
    ``decode_page(collect_rejects=True)``."""
    pages = _synthetic_pages(table)
    out = dsr.decode_pages_df(spark, _pages_df(spark, pages), table)
    want = Counter(
        tuple({**row, "page_id": pid}.get(c) for c in out.columns)
        for pid, p in pages for row in _local_decode(table, p)
    )
    assert Counter(tuple(r) for r in out.collect()) == want

    quar = dsr.decode_pages_quarantine_df(spark, _pages_df(spark, pages), table)
    want_q = Counter()
    for pid, p in pages:
        rows, rejects = _local_decode(table, p, collect_rejects=True)
        for row in rows:
            want_q[tuple({**row, "page_id": pid}.get(c) for c in quar.columns)] += 1
        for rej in rejects:
            keyed = {"page_id": pid, "row_idx": rej["row_idx"], "reject_reason": rej["reason"]}
            want_q[tuple(keyed.get(c) for c in quar.columns)] += 1
    got_q = Counter(tuple(r) for r in quar.collect())
    assert got_q == want_q
    n_rejects = sum(n for key, n in want_q.items() if key[-1] is not None)
    assert n_rejects == 2 * len(_SYNTH[table][1]) + 1
    assert sum(want.values()) == sum(want_q.values())  # one output row per wire row


def test_spark_decode_plan_has_no_exchange(spark):
    """Each input row holds one whole page, so the decode needs no
    shuffle to regroup rows by page."""
    pages = _pages_df(spark, _synthetic_pages("precatorio"))
    for df in (dsr.decode_pages_df(spark, pages),
               dsr.decode_pages_quarantine_df(spark, pages)):
        assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
