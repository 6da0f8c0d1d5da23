"""Round-2 features: fetch-retry lineage, per-host metrics, invalid-row
quarantine, bloom-sidecar resume, entities CSV byte parity, and the
scale-shaped dedup rewrites (prefix filter, blocked GEMM).
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from crawler_tjce_spark import refsim
from crawler_tjce_spark.datagen import WorldConfig, write_world
from crawler_tjce_spark.operators import dedup
from crawler_tjce_spark.plans.fetch import simulate_fetch, with_fetch_lineage
from crawler_tjce_spark.sources import dsr
from crawler_tjce_spark.streaming.runner import (
    CrawlRunner,
    duration_hist_view,
    metrics_view,
)


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("world_r2"))
    write_world(WorldConfig(n_hosts=8, n_pages=300, n_seeds=4), d)
    return d


# ---------------------------------------------------------------- fetch retry

def test_fetch_lineage_expr_matches_sequential_replica(spark):
    """Column-expression retry model ≡ the Python replica, row for row."""
    urls = [(f"https://h{i % 7}.example/p/{i}", f"h{i % 7}.example") for i in range(500)]
    df = spark.createDataFrame(urls, "url string, host string")
    from crawler_tjce_spark.plans.fetch import host_fail_pct_expr

    got = {
        r["url"]: (r["fetch_attempts"], r["fetch_status"], r["backoff_total_s"])
        for r in with_fetch_lineage(
            df, fail_pct=host_fail_pct_expr("host", flaky_share=50, fail_pct=60)
        ).collect()
    }
    from crawler_tjce_spark.plans.fetch import md5_probe

    for url, host in urls:
        pct = 60 if md5_probe(host) < 50 else 0
        assert got[url] == simulate_fetch(url, pct), url
    # the model actually exercises every branch at these rates
    assert {a for a, _, _ in got.values()} == {1, 2, 3}
    assert {s for _, s, _ in got.values()} == {"ok", "error"}


def test_flaky_lineage_columns_built_once(spark, world, tmp_path, monkeypatch):
    """The flaky-mode lineage Columns are memoized by (flaky_share,
    flaky_fail_pct): two waves build them once (the lineage values are
    checked by test_flaky_crawl_converges_with_simulator)."""
    from crawler_tjce_spark.plans import fetch as fetchmod

    builds = []
    real = fetchmod._lineage_columns

    def counting(*args):
        builds.append(args)
        return real(*args)

    monkeypatch.setattr(fetchmod, "_lineage_columns", counting)
    # integers no other test uses, so the memo starts cold for them
    share, pct = 37, 53
    runner = CrawlRunner(spark, world, str(tmp_path / "store_memo"), max_waves=2,
                         bloom_expected=10_000, flaky_fetch=True,
                         flaky_share=share, flaky_fail_pct=pct)
    m = runner.run(resume=False)
    assert m["wave"] == 2
    assert len(builds) == 1


def test_flaky_crawl_converges_with_simulator(spark, world, tmp_path):
    """Injected flaky hosts: visit order, seen set, AND the per-URL
    attempt/backoff lineage all match the sequential simulator."""
    ref = refsim.simulate(world, max_waves=30, flaky_fetch=True,
                          flaky_share=30, flaky_fail_pct=50)
    store = str(tmp_path / "store_flaky")
    runner = CrawlRunner(spark, world, store, max_waves=30, bloom_expected=10_000,
                         flaky_fetch=True, flaky_share=30, flaky_fail_pct=50)
    runner.run(resume=False)
    got_visits = sorted(
        (r["ordem"], r["url"]) for r in runner.visits_df().select("ordem", "url").collect()
    )
    assert got_visits == [(o, u) for o, u, _, _ in ref.visits]
    got_seen = {r["url"] for r in runner.seen_final_df().collect()}
    assert got_seen == ref.seen
    got_lineage = {
        r["url"]: (r["fetch_attempts"], r["fetch_status"], r["backoff_total_s"])
        for r in runner.visits_df()
        .select("url", "fetch_attempts", "fetch_status", "backoff_total_s")
        .collect()
    }
    assert got_lineage == ref.fetch_lineage
    # non-vacuous: some retries and some exhausted fetches happened
    assert any(a > 1 for a, _, _ in got_lineage.values())
    assert any(s == "error" for _, s, _ in got_lineage.values())


# ------------------------------------------------------------------- metrics

def test_per_host_metrics_counters(spark, world, tmp_path):
    ref = refsim.simulate(world, max_waves=30, flaky_fetch=True,
                          flaky_share=30, flaky_fail_pct=50)
    store = str(tmp_path / "store_metrics")
    runner = CrawlRunner(spark, world, store, max_waves=30, bloom_expected=10_000,
                         flaky_fetch=True, flaky_share=30, flaky_fail_pct=50)
    m = runner.run(resume=False)
    # manifest totals across waves == simulator ground truth
    req = sum(w["counters"]["requests_total"] for w in m["metrics"])
    errs = sum(w["counters"]["errors_fetch_total"] for w in m["metrics"])
    attempts = sum(w["counters"]["fetch_attempts_total"] for w in m["metrics"])
    assert req == len(ref.visits)
    assert errs == sum(1 for _, s, _ in ref.fetch_lineage.values() if s == "error")
    assert attempts == sum(a for a, _, _ in ref.fetch_lineage.values())
    # the queryable per-host view agrees with the manifest roll-up
    mt = metrics_view(spark, runner.store)
    assert mt.agg(F.sum("requests_total")).collect()[0][0] == req
    per_host = {
        r["host"]: r["n"]
        for r in mt.groupBy("host").agg(F.sum("requests_total").alias("n")).collect()
    }
    ref_per_host = {}
    for _, _, _, h in ref.visits:
        ref_per_host[h] = ref_per_host.get(h, 0) + 1
    assert per_host == ref_per_host


def test_cli_metrics_exports_the_views(spark, world, tmp_path):
    """``cli metrics`` writes the two views of a 3-wave store as CSVs:
    one data row per view row. The CLI stops its session on exit, so it
    runs in a child process."""
    import csv
    import glob
    import subprocess
    import sys

    store = str(tmp_path / "store_cli")
    runner = CrawlRunner(spark, world, store, max_waves=3, bloom_expected=10_000,
                         flaky_fetch=True, flaky_share=30, flaky_fail_pct=50)
    assert runner.run(resume=False)["wave"] == 3
    out = str(tmp_path / "metrics_csv")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=repo)
    done = subprocess.run(
        [sys.executable, "-m", "crawler_tjce_spark.cli", "--cores", "1",
         "metrics", "--store", store, "--out", out],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    for tbl, view in (("metrics", metrics_view), ("duration_hist", duration_hist_view)):
        rows = []
        for f in glob.glob(f"{out}/{tbl}/*.csv"):
            with open(f, newline="") as fh:
                rows += list(csv.DictReader(fh))
        assert len(rows) == view(spark, runner.store).count() > 0, tbl
        assert {int(r["wave"]) for r in rows} == {0, 1, 2}


# ------------------------------------------------------------- bloom sidecar

def test_bloom_sidecar_served_on_resume(spark, world, tmp_path):
    """No bloom file is written: a resume rebuilds the bloom serving the
    committed wave from its seen side, byte for byte the one the straight
    run built up wave by wave (the OR over the same keys, same m and k).
    The filter exists only past the broadcast budget, hence
    ``seen_broadcast_mb=0``."""
    store = str(tmp_path / "store_bloomresume")
    kw = dict(max_waves=3, bloom_expected=10_000, seen_broadcast_mb=0)
    r1 = CrawlRunner(spark, world, store, **kw)
    m1 = r1.run(resume=False)
    assert r1._filter_wave == m1["wave"]
    assert not [f for f in os.listdir(store) if f.startswith("bloom_")]
    r2 = CrawlRunner(spark, world, store, **kw)
    r2._serve_filter(m1["wave"])
    assert r2._filter == r1._filter  # rebuilt, byte-identical


# ------------------------------------------------------- snapshot time travel

def test_snapshot_time_travel_and_rollback(spark, world, tmp_path):
    """Iceberg-contract reads on the snapshot store: VERSION AS OF
    reproduces the table as of an earlier commit; rollback + resume
    re-converges to the identical final state."""
    ref = refsim.simulate(world, max_waves=30)
    store = str(tmp_path / "store_tt")
    runner = CrawlRunner(spark, world, store, max_waves=30, bloom_expected=10_000)
    m = runner.run(resume=False)
    snaps = runner.store.snapshots()
    assert [s["snapshot_id"] for s in snaps] == sorted(s["snapshot_id"] for s in snaps)
    assert snaps[-1]["wave"] == m["wave"]
    # time-travel to the third commit == visits of the first waves only
    mid = snaps[2]
    tt = runner.store.time_travel(spark, "visits", mid["snapshot_id"])
    expect = [(o, u) for o, u, w, _ in ref.visits if w < mid["wave"]]
    got = sorted((r["ordem"], r["url"]) for r in tt.select("ordem", "url").collect())
    assert got == expect and 0 < len(got) < len(ref.visits)
    # rollback to mid, resume → identical final visits and seen set
    runner.store.rollback(mid["snapshot_id"])
    r2 = CrawlRunner(spark, world, store, max_waves=30, bloom_expected=10_000)
    r2.run(resume=True)
    final = sorted((r["ordem"], r["url"]) for r in r2.visits_df().select("ordem", "url").collect())
    assert final == [(o, u) for o, u, _, _ in ref.visits]
    assert {r["url"] for r in r2.seen_final_df().collect()} == ref.seen


def test_records_processed_counter_and_expire(spark, world, tmp_path):
    store = str(tmp_path / "store_records")
    runner = CrawlRunner(spark, world, store, max_waves=3, fetch_images=True,
                         bloom_expected=10_000)
    m = runner.run(resume=False)
    total = sum(w["counters"].get("records_processed", 0) for w in m["metrics"])
    assert total == runner.store.read_all_waves(spark, "payload").count() > 0
    # expire_snapshots keeps the newest K log entries, current state intact
    expired = runner.store.expire_snapshots(keep_last=2)
    remaining = [s["snapshot_id"] for s in runner.store.snapshots()]
    assert len(remaining) == 2 and all(e < min(remaining) for e in expired)
    assert runner.store.load_manifest()["snapshot_id"] == max(remaining)


# ---------------------------------------------------------------- quarantine

def _page(schema, rows, value_dicts=None):
    return {
        "results": [{"result": {"data": {
            "descriptor": {"Select": []},
            "dsr": {"DS": [{"ValueDicts": value_dicts or {},
                            "PH": [{"DM0": dsr.encode_dm0(rows, schema)}]}]},
        }}}]
    }


def test_quarantine_rejects_and_reasons(spark):
    """Corrupted page: dict-OOB, bad date, bad number each quarantine the
    row with its reason; clean rows decode identically to the plain path."""
    schema = [{"N": f"G{i}", "T": 1} for i in range(7)]
    schema[2]["DN"] = "D0"  # natureza is dict-encoded
    good = [1, "0000001-11.2020.8.06.0001", 0, "2020", "datetime(2020,1,5)", "Alim", "1.234,56"]
    bad_dict = [2, "0000002-11.2020.8.06.0001", 99, "2020", "datetime(2020,2,5)", "Com", "10,00"]
    bad_date = [3, "0000003-11.2020.8.06.0001", 0, "2020", "not-a-date", "Com", "10,00"]
    bad_num = [4, "0000004-11.2020.8.06.0001", 0, "2020", "datetime(2020,3,5)", "Com", "garbage"]
    payload = _page(schema, [good, bad_dict, bad_date, bad_num], {"D0": ["NATUREZA-A"]})

    fields = [
        ("ordem", "int", "a"), ("processo", "processo", "b"), ("natureza", "str", "c"),
        ("ano_orcamento", "int", "d"), ("data_cadastro", "date", "e"),
        ("tipo_classificacao", "str", "f"), ("valor_original", "float", "g"),
    ]
    binding = [(f, t) for f, t, _ in fields]
    rows, rejects = dsr.decode_page(payload, positional_fields=binding, collect_rejects=True)
    assert [r["ordem"] for r in rows] == [1]
    reasons = {r["row_idx"]: r["reason"] for r in rejects}
    assert "dict_oob:2" in reasons[1]
    assert "bad_date:data_cadastro" in reasons[2]
    assert "bad_number:valor_original" in reasons[3]

    # plain decode path: dict-OOB INHERITS the previous row's value
    # (reference delta-decode fallback), never nulls it
    plain = dsr.decode_page(payload, positional_fields=binding)
    assert plain[1]["natureza"] == plain[0]["natureza"] == "NATUREZA-A"


def test_quarantine_spark_split(spark):
    schema = [{"N": "G0", "T": 1}, {"N": "G1", "T": 1}]
    ok_rows = [[1, "datetime(2021,1,1)"], [2, "datetime(2021,1,2)"]]
    bad_rows = [[3, "junk-date"]]
    pages = spark.createDataFrame(
        [(0, json.dumps(_page(schema, ok_rows + bad_rows)))], "page_id long, payload string"
    )
    import crawler_tjce_spark.sources.dsr as dsrmod

    old = dsrmod.TABLES
    dsrmod.TABLES = dict(old)
    dsrmod.TABLES["mini"] = (
        None,
        [("ordem", "int"), ("data_cadastro", "date")],
        "page_id long, row_idx int, ordem long, data_cadastro timestamp",
        False,
    )
    try:
        out = dsr.decode_pages_quarantine_df(spark, pages, table="mini")
        good = out.filter(F.col("reject_reason").isNull())
        quar = out.filter(F.col("reject_reason").isNotNull())
        assert good.count() == 2
        q = quar.collect()
        assert len(q) == 1 and "bad_date" in q[0]["reject_reason"]
    finally:
        dsrmod.TABLES = old


# ------------------------------------------------------------------ API layer

def test_api_resolve_entity_semantics(spark):
    from crawler_tjce_spark import api

    mapping = spark.createDataFrame(
        [("comarca-de-fortaleza", "Comarca de Fortaleza"),
         ("juizo-de-sobral", "Juízo de Sobral")],
        "slug string, official_name string",
    )
    assert api.resolve_entity(mapping, "juizo-de-sobral") == (
        "juizo-de-sobral", "Juízo de Sobral")
    # official name (any case) converts to its slug — ref main.py:866-880
    assert api.resolve_entity(mapping, "COMARCA DE FORTALEZA")[0] == "comarca-de-fortaleza"
    with pytest.raises(api.ApiError) as e400:
        api.resolve_entity(mapping, "nope-nope")
    assert e400.value.status == 400
    with pytest.raises(api.ApiError) as emiss:
        api.resolve_entity(mapping, "")
    assert emiss.value.status == 400


def test_api_serialize_editais_coercions(spark):
    from crawler_tjce_spark import api

    df = spark.createDataFrame(
        [(1, 2024, "ALIM", "01/01/2024", "P1", "ok", "123.45"),
         (None, None, None, None, None, None, "-"),
         (3, 2025, "COM", "02/01/2024", "P3", "ok", "garbage")],
        "ordem int, ano_orcamento int, natureza string, data_cadastro string, "
        "precatorio string, status string, valor string",
    )
    rows = {r["ordem"]: r for r in api.serialize_editais(df).collect()}
    assert rows[1]["valor"] == 123.45
    assert rows[0]["valor"] == 0.0 and rows[0]["natureza"] == "-"  # None ordem → 0
    assert rows[3]["valor"] == 0.0  # unparseable → 0.0 (ref main.py:190-199)


def test_api_fetch_filters_by_resolved_slug(spark):
    from crawler_tjce_spark import api

    mapping = spark.createDataFrame(
        [("comarca-de-fortaleza", "Comarca de Fortaleza")], "slug string, official_name string")
    prec = spark.createDataFrame(
        [("comarca-de-fortaleza", 2024, 1), ("outra", 2024, 2),
         ("comarca-de-fortaleza", 2023, 3)],
        "entity_slug string, ano_orcamento int, ordem int",
    )
    got = api.fetch_precatorios(prec, mapping, "Comarca de Fortaleza", year=2024)
    assert [r["ordem"] for r in got.collect()] == [1]


# ------------------------------------------- reference crawl-output parity

def test_editais_csv_matches_reference_crawl_output(spark):
    """End-to-end decoder+sink golden vs the reference's OWN production
    artifact: decode examples/response_edital.json, write the editais
    CSV (utf-8-sig, CRLF, '-'→'', R$ rendering, post-decode ordem sort),
    byte-compare rows against data/editais_tjce.csv.

    The two reference assets are different crawl snapshots: the budget
    year rolled 2022→2023 in every row, and 2 of 158 editais were
    updated server-side (same precatorio, new status/valor). The test
    pins exactly that: identical header bytes/encoding/line endings,
    156/158 rows byte-identical modulo the ano roll, drift confined to
    the documented rows."""
    import csv as _csv
    import io

    from crawler_tjce_spark.sources import dsr

    payload = open("/root/reference/examples/response_edital.json").read()
    pages = spark.createDataFrame([(0, payload)], "page_id long, payload string")
    out = "/tmp/editais_golden_test.csv"
    dsr.write_editais_csv(dsr.decode_pages_df(spark, pages, table="edital"), out)

    ref_b = open("/root/reference/data/editais_tjce.csv", "rb").read()
    our_b = open(out, "rb").read()
    assert our_b.startswith(b"\xef\xbb\xbf") and ref_b.startswith(b"\xef\xbb\xbf")
    assert b"\r\n" in our_b  # CRLF like csv.DictWriter (the reference's writer)
    ref = list(_csv.reader(io.StringIO(ref_b.decode("utf-8-sig"))))
    ours = list(_csv.reader(io.StringIO(our_b.decode("utf-8-sig"))))
    assert ref[0] == ours[0] and len(ref) == len(ours) == 159
    i_ano = ref[0].index("ano_orcamento")
    drift = []
    for a, b in zip(ref[1:], ours[1:]):
        # budget-year roll between snapshots: unchanged or 2022→2023
        assert a[i_ano] == b[i_ano] or (a[i_ano], b[i_ano]) == ("2022", "2023")
        a2 = [v for i, v in enumerate(a) if i != i_ano]
        b2 = [v for i, v in enumerate(b) if i != i_ano]
        if a2 != b2:
            drift.append((a2, b2))
    # server-side updates between the two snapshots touch exactly 2 rows
    # (and the sequence renumbering they cause); everything else is
    # byte-identical through decoder + sink
    assert len(drift) == 2


def test_pagamentos_fixture_matches_reference_crawl_output_prefix(spark):
    """The pagamentos fixture is page 1 (500 rows) of the crawl that
    produced data/pagamentos_tjce.csv (1208 rows) — decoded values must
    match the production CSV row-for-row on the shared prefix."""
    import csv as _csv
    import io

    from crawler_tjce_spark.sources import dsr

    payload = open("/root/reference/examples/response_pagamentos.json").read()
    pages = spark.createDataFrame([(0, payload)], "page_id long, payload string")
    rows = {
        r["row_idx"]: r
        for r in dsr.decode_pages_df(spark, pages, table="pagamento").collect()
    }
    ref = list(_csv.reader(io.StringIO(
        open("/root/reference/data/pagamentos_tjce.csv", encoding="utf-8-sig").read()
    )))
    hdr = ref[0]

    def norm(v):  # the reference's CSV writer renders '-' placeholders as ''
        return "" if str(v) == "-" else str(v)

    from crawler_tjce_spark.sources.dsr import parse_number

    matched = 0
    # wire row 0 is the skipped schema-only row → CSV data row k (0-based)
    # corresponds to decoded row_idx k+1
    for k, line in enumerate(ref[1:500]):
        got = rows[k + 1]
        rec = dict(zip(hdr, line))
        assert norm(got["precatorio"]) == rec["precatorio"], k
        assert norm(got["credor_beneficiario"]) == rec["credor_beneficiario"], k
        assert norm(got["cpf_cnpj"]) == rec["cpf_cnpj"], k
        assert norm(got["natureza"]) == rec["natureza"], k
        assert norm(got["modalidade"]) == rec["modalidade"], k
        for fld in ("valor_bruto", "valor_liquido"):
            if rec[fld] == "":
                # reference's short-C "-" state renders empty (not R$ 0,00):
                # the typed decode surfaces it as NULL
                assert got[fld] is None, (k, fld)
            else:
                assert float(got[fld]) == parse_number(rec[fld]), (k, fld)
        matched += 1
    assert matched == 499


# ------------------------------------------------------------- entities CSV

def test_entities_csv_utf8_sig_bytes(spark, tmp_path):
    """Golden byte-compare: BOM + CRLF-free csv rows, reference encoding
    (schemas/entity_mapping_crawler.py:284-310 writes utf-8-sig)."""
    from crawler_tjce_spark.sources.entities import build_entity_mapping, write_entities_csv

    names = spark.createDataFrame(
        [("Comarca de Fortaleza",), ("--- Selecione",), ("Juízo de Sobral",)],
        "official_name string",
    )
    out = str(tmp_path / "entities.csv")
    write_entities_csv(build_entity_mapping(names), out)
    raw = open(out, "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf")  # BOM
    body = raw.decode("utf-8-sig")
    assert body.splitlines()[0] == "official_name,slug"
    assert "Comarca de Fortaleza,comarca-de-fortaleza" in body
    assert "Juízo de Sobral,juizo-de-sobral" in body
    assert "Selecione" not in body


# ----------------------------------------------------- dedup scale reshapes

def test_lsh_bands_divisibility_asserts():
    with pytest.raises(ValueError, match="divisible"):
        dedup.lsh_candidate_pairs(None, "id", num_hashes=32, bands=7)


def test_blocked_gemm_block_count_invariant(spark):
    """Near-dup pairs are identical for any block count (1, 3, 7)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = None
    for nb in (1, 3, 7):
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_near_dup_pairs(
                emb, "embedding", "vec_id", threshold=0.4, n_blocks=nb
            ).collect()
        )
        if base is None:
            base = got
        assert got == base and len(got) > 0


def test_prefix_filter_hot_shingle_bounded(spark):
    """A shingle present in 50% of documents must not quadratically blow
    up the candidate join (prefix filtering sorts it last), and the
    result must still be the exact Jaccard pair set."""
    import itertools

    boiler = "termo comum de rodape judicial"
    docs = []
    for i in range(80):
        body = f"documento unico numero {i} conteudo proprio {i * 7} texto {i * 13}"
        if i % 2 == 0:
            body = body + " " + boiler
        if i in (10, 11):  # one true near-dup pair
            body = "par quase identico de documentos longos com muitas palavras iguais"
            body += f" sufixo{i}"
        docs.append((i, body))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles3(t):
        toks = t.lower().split()
        if len(toks) <= 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    exact = set()
    sh = {i: shingles3(t) for i, t in docs}
    for a, b in itertools.combinations(range(80), 2):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= 0.5:
            exact.add((a, b))

    t0 = time.time()
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    assert got == exact and (10, 11) in got
    assert time.time() - t0 < 60  # bounded despite the 50%-hot shingle


def test_pagamentos_csv_byte_parity_with_reference_artifact(spark, tmp_path):
    """write_pagamentos_csv reproduces the reference's production
    artifact BYTES on the shared prefix: decode the captured page-1
    fixture (499 rows), write the 17-column CSV, compare byte-for-byte
    against the header + first 499 data lines of
    data/pagamentos_tjce.csv (the rest of the artifact came from pages
    this fixture doesn't carry)."""
    from crawler_tjce_spark.sources import dsr

    payload = open("/root/reference/examples/response_pagamentos.json").read()
    pages = spark.createDataFrame([(0, payload)], "page_id long, payload string")
    decoded = dsr.decode_pages_df(spark, pages, table="pagamento")
    out = str(tmp_path / "pagamentos.csv")
    dsr.write_pagamentos_csv(decoded, out)
    got = open(out, "rb").read()
    ref = open("/root/reference/data/pagamentos_tjce.csv", "rb").read()
    ref_prefix_lines = ref.split(b"\r\n")[:500]  # header + 499 data rows
    got_lines = got.split(b"\r\n")
    assert got_lines[0] == ref_prefix_lines[0]  # BOM + header byte-equal
    mismatches = [
        i for i, (a, b) in enumerate(zip(got_lines[:500], ref_prefix_lines)) if a != b
    ]
    assert mismatches == [], (mismatches[:3], got_lines[mismatches[0]] if mismatches else b"")
    assert len(got_lines) == 501  # 499 rows + header + trailing CRLF split


def test_entities_list_csv_byte_parity_with_reference_artifact(spark, tmp_path):
    """write_entities_list_csv reproduces data/entidades_tjce.csv
    byte-for-byte when fed the same raw entity list (parsed back from
    the artifact, shuffled to prove the writer owns the ordering):
    BOM, single `entidade` header, placeholder row retained,
    codepoint sort, \\n line endings."""
    import random

    from crawler_tjce_spark.sources.entities import write_entities_list_csv

    ref_bytes = open("/root/reference/data/entidades_tjce.csv", "rb").read()
    names = ref_bytes.decode("utf-8-sig").splitlines()[1:]
    names = [n for n in names if n != ""]
    random.Random(7).shuffle(names)
    df = spark.createDataFrame([(n,) for n in names], "official_name string")
    out = str(tmp_path / "entidades.csv")
    write_entities_list_csv(df, out)
    assert open(out, "rb").read() == ref_bytes


def test_duration_histogram_matches_refsim(spark, world, tmp_path):
    """The per-host request-duration histogram view (ref metrics.py:10-15
    analog: cumulative 0.1-10s buckets, one row set per host and wave)
    must equal the bucket counts computed from the sequential
    simulator's lineage through the same deterministic duration model."""
    import math

    from crawler_tjce_spark.plans.fetch import (
        DURATION_BUCKETS,
        simulate_request_duration,
    )

    ref = refsim.simulate(world, max_waves=30, flaky_fetch=True,
                          flaky_share=30, flaky_fail_pct=50)
    store = str(tmp_path / "store_hist")
    runner = CrawlRunner(spark, world, store, max_waves=30, bloom_expected=10_000,
                         flaky_fetch=True, flaky_share=30, flaky_fail_pct=50)
    runner.run(resume=False)
    got = {
        (r["host"], r["le"]): r["bucket_count"]
        for r in duration_hist_view(spark, runner.store)
        .groupBy("host", "le")
        .agg(F.sum("bucket_count").alias("bucket_count"))
        .collect()
    }
    expect: dict[tuple, int] = {}
    les = [float(b) for b in DURATION_BUCKETS] + [math.inf]
    for url, (attempts, _status, _b) in ref.fetch_lineage.items():
        host = next(h for _, u, _, h in ref.visits if u == url)
        d = simulate_request_duration(url, attempts)
        for le in les:
            if d <= le or le == math.inf:
                expect[(host, le)] = expect.get((host, le), 0) + 1
    # histogram rows exist for every (host, le) series, zero counts included
    for (host, le), n in expect.items():
        assert got.get((host, le), 0) == n, (host, le)
    # non-vacuous: durations actually span multiple buckets
    finite_totals = {le: 0 for le in les}
    for (h, le), n in got.items():
        finite_totals[le] = finite_totals.get(le, 0) + n
    assert finite_totals[math.inf] == len(ref.fetch_lineage)
    assert finite_totals[0.1] < finite_totals[2.0] < finite_totals[math.inf]


def test_seen_broadcast_hint_is_byte_budgeted(spark, world, tmp_path):
    """r2's row-count hint ignored key width; the hint must be a byte
    estimate (rows x measured avg url length) against the MB budget,
    and must disable itself at the 10^10-key story."""
    runner = CrawlRunner(spark, world, str(tmp_path / "s"), seen_broadcast_mb=64)
    assert runner.seen_broadcast_ok(100_000, 60.0)           # ~8 MB: on
    assert not runner.seen_broadcast_ok(100_000, 2000.0)     # fat keys: off
    assert not runner.seen_broadcast_ok(10_000_000_000, 60.0)  # 10^10: off
    assert not runner.seen_broadcast_ok(None, 60.0)
    # bootstrap measures the real avg url length into the manifest
    m = runner.prepare(resume=False)
    assert m["avg_url_bytes"] > 10


def test_pipelined_payload_crash_before_deferred_commit_replays(spark, world, tmp_path):
    """r3 pipelines the payload across waves and DEFERS each wave's
    manifest commit to the payload join. A crash in that window (wave
    written, payload maybe landed, commit not made) must replay the
    wave on resume and converge to the exact straight-through state."""
    ref = refsim.simulate(world, max_waves=3)
    store = str(tmp_path / "store_crash")
    r1 = CrawlRunner(spark, world, store, max_waves=3, bloom_expected=10_000,
                     fetch_images=True)
    m = r1.prepare(resume=False)
    m = r1._run_wave(m)  # launches wave-0 payload; commit deferred
    assert r1._payload_pending is not None
    # simulate the crash: thread may or may not have finished its write;
    # the manifest on disk is still the bootstrap commit either way
    r1._payload_pending[0].result()
    assert r1.store.load_manifest()["wave"] == 0
    # resume with a fresh runner: wave 0 replays (idempotent overwrite),
    # then the crawl runs to completion
    r2 = CrawlRunner(spark, world, store, max_waves=3, bloom_expected=10_000,
                     fetch_images=True)
    final = r2.run(resume=True)
    got = sorted((r["ordem"], r["url"]) for r in r2.visits_df().select("ordem", "url").collect())
    assert got == [(o, u) for o, u, _, _ in ref.visits]
    # seen set converges too
    assert {r["url"] for r in r2.seen_final_df().collect()} == ref.seen
    # every committed wave has its payload rows on disk
    import os as _os
    for w in range(final["wave"]):
        rows = r2.store.count_rows(r2.store.table_dir("payload", w))
        assert rows > 0 or not _os.path.exists(r2.store.table_dir("payload", w))


def test_side_job_failure_waits_for_siblings_and_skips_commit(
    spark, world, tmp_path, monkeypatch
):
    """A failing side job (wave 1's seen-filter update) surfaces at the
    next drain — after wave 2's pick — only once the other side job of
    its wave (the slowed index insert) has finished; wave 1 is not
    committed, no job is left running, and a resume equals the reference
    simulator. Both side jobs run past the broadcast budget only, hence
    ``seen_broadcast_mb=0``."""
    store = str(tmp_path / "store_sidefail")
    r1 = CrawlRunner(spark, world, store, max_waves=3, bloom_expected=10_000,
                     fetch_images=True, seen_broadcast_mb=0)
    real_add, real_insert = r1._seen_filter_add, r1._seen_idx_insert
    finished = []

    def failing_add(df, wave):
        if wave == 1:
            raise RuntimeError("filter update failed")
        real_add(df, wave)

    def slow_insert(urls_df, src, wave, overwrite):
        if wave == 1:
            time.sleep(2)
        real_insert(urls_df, src, wave, overwrite)
        finished.append(wave)

    monkeypatch.setattr(r1, "_seen_filter_add", failing_add)
    monkeypatch.setattr(r1, "_seen_idx_insert", slow_insert)
    with pytest.raises(RuntimeError, match="filter update failed"):
        r1.run(resume=False)
    assert 1 in finished
    assert os.path.isdir(r1.store.table_dir("visits", 2))
    assert r1.store.load_manifest()["wave"] == 1
    assert not spark.sparkContext.statusTracker().getActiveJobsIds()

    r2 = CrawlRunner(spark, world, store, max_waves=3, bloom_expected=10_000,
                     fetch_images=True, seen_broadcast_mb=0)
    r2.run(resume=True)
    ref = refsim.simulate(world, max_waves=3)
    got = sorted((r["ordem"], r["url"]) for r in r2.visits_df().select("ordem", "url").collect())
    assert got == [(o, u) for o, u, _, _ in ref.visits]
    assert {r["url"] for r in r2.seen_final_df().collect()} == ref.seen
