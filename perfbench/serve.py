"""``serve_mix``: the read side of the tables the crawls write.

One closed-loop client sends a seeded mix of four request types, in
cycles of 20 with fixed proportions (5 fetch, 7 page, 5 lookup,
3 history) shuffled per cycle, so every seed sees the same mix:

* ``fetch``   fresh synthetic DSR pages built with ``dsr.encode_dm0``,
  decoded with ``dsr.decode_pages_df``, filtered with
  ``api.apply_filters``, sorted with ``api.sort_rows`` and collected;
* ``page``    the next 500-row keyset page of the precatorios table
  through ``ir.to_dataframe``, restarting after the previous page's
  last row;
* ``lookup``  ``api.fetch_precatorios`` by entity slug or official name
  (``sources.entities`` mapping) and budget year;
* ``history`` ``SnapshotStore.time_travel`` of a crawl store's visits
  AS OF a random snapshot.

The precatorios table is itself decoded from DSR pages during set-up
and checked against the rows it was encoded from; every answer is
checked outside the timed window against the generating rows (fetch,
page, lookup) or the reference crawl simulator (history).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time
from decimal import Decimal

import harness as H

MIX = ["fetch"] * 5 + ["page"] * 7 + ["lookup"] * 5 + ["history"] * 3
PAGE_ROWS = 500
N_ENTITIES = 24
ROWS_PER_ENTITY = 400
ROWS_PER_PAGE = 200
FETCH_PAGES = 4
FETCH_ROWS_PER_PAGE = 100
HISTORY_WORLD = dict(n_hosts=100, n_pages=4000, n_seeds=100, budget_scale=4)
HISTORY_WAVES = 4

KINDS = ["Município de", "Instituto de Previdência de", "Câmara Municipal de",
         "Fundo Municipal de Saúde de"]
CITIES = ["Fortaleza", "Sobral", "Crato", "Iguatu", "Quixadá", "Aracati", "Caucaia",
          "Maracanaú", "Juazeiro do Norte", "Itapipoca", "Tauá", "Icapuí", "Acaraú",
          "Viçosa do Ceará", "Beberibe", "Cascavel"]
COMARCAS = ["Fortaleza", "Sobral", "Crato", "Iguatu", "Russas", "Limoeiro do Norte"]
NATUREZAS = ["ALIMENTAR", "COMUM"]
TIPOS = ["ORDINARIO", "PREFERENCIAL IDADE", "PREFERENCIAL DOENCA"]
SITUACOES = ["AGUARDANDO PAGAMENTO", "PAGO PARCIALMENTE", "SUSPENSO"]

# wire columns in PRECATORIO_FIELDS order; dict-encoded ones carry a value list
WIRE = [
    ("dfslcp_num_ordem", None),
    ("dfslcp_dsc_proc_precatorio", None),
    ("dfslcp_dsc_comarca", COMARCAS),
    ("dfslcp_num_ano_orcamento", None),
    ("dfslcp_dsc_natureza", NATUREZAS),
    ("dfslcp_dat_cadastro", None),
    ("dfslcp_dsc_tipo_classificao", TIPOS),
    ("dfslcp_vlr_original", None),
    ("ValorAtualFormatado", None),
    ("dfslcp_dsc_sit_precatorio", SITUACOES),
]
COLS = ["ordem", "processo", "comarca", "ano_orcamento", "natureza", "data_cadastro",
        "tipo_classificacao", "valor_original", "valor_atual", "situacao"]


def _brl(cents: int) -> str:
    """12345678 -> '123.456,78' (pt-BR money text, as the wire carries it)."""
    return f"{cents // 100:,}".replace(",", ".") + f",{cents % 100:02d}"


def _gen_rows(rng: random.Random, n: int, ordem0: int) -> list[dict]:
    """Typed source rows with a unique ``valor_atual`` (a total sort key)."""
    rows, used = [], set()
    for i in range(n):
        cents = rng.randrange(100_000, 90_000_000)
        while cents in used:
            cents += 1
        used.add(cents)
        rows.append({
            "ordem": ordem0 + i,
            "processo": f"{rng.randrange(10**7):07d}-{rng.randrange(100):02d}."
                        f"{rng.randrange(2000, 2026)}.8.06.{rng.randrange(10**4):04d}",
            "comarca": rng.choice(COMARCAS),
            "ano_orcamento": rng.randrange(2015, 2027),
            "natureza": rng.choice(NATUREZAS),
            "data_cadastro": dt.datetime(rng.randrange(2010, 2026), rng.randrange(1, 13),
                                         rng.randrange(1, 29)),
            "tipo_classificacao": rng.choice(TIPOS),
            "valor_original": rng.randrange(100_000, 90_000_000) / 100,
            "valor_atual": Decimal(cents).scaleb(-2),
            "situacao": rng.choice(SITUACOES),
        })
    return rows


def _page_json(dsr, rows: list[dict]) -> str:
    """Encode typed rows as one DSR response page (dict columns by index)."""
    schema, wire_rows = [], []
    for i, (_, values) in enumerate(WIRE):
        col = {"N": f"G{i}", "T": 1}
        if values is not None:
            col["DN"] = f"D{i}"
        schema.append(col)
    for r in rows:
        d = r["data_cadastro"]
        wire_rows.append([
            r["ordem"], r["processo"], COMARCAS.index(r["comarca"]), r["ano_orcamento"],
            NATUREZAS.index(r["natureza"]), f"datetime({d.year},{d.month},{d.day})",
            TIPOS.index(r["tipo_classificacao"]), r["valor_original"],
            _brl(int(r["valor_atual"].scaleb(2))), SITUACOES.index(r["situacao"]),
        ])
    payload = {"results": [{"result": {"data": {
        "descriptor": {"Select": [{"Value": f"G{i}", "Name": f"t.{api}"}
                                  for i, (api, _) in enumerate(WIRE)]},
        "dsr": {"DS": [{
            "ValueDicts": {f"D{i}": v for i, (_, v) in enumerate(WIRE) if v is not None},
            "PH": [{"DM0": dsr.encode_dm0(wire_rows, schema)}],
        }]},
    }}}]}
    return json.dumps(payload)


def _row_key(r) -> tuple:
    return tuple(r[c] for c in COLS)


def _install_spans(tr: H.Tracer) -> None:
    from crawler_tjce_spark import api
    from crawler_tjce_spark.plans import ir
    from crawler_tjce_spark.sources import dsr
    from crawler_tjce_spark.sources.tableio import SnapshotStore

    tr.wrap(dsr, "encode_dm0", "dsr.encode_dm0")
    tr.wrap(dsr, "decode_pages_df", "dsr.decode_pages_df")
    tr.wrap(ir, "to_dataframe", "ir.to_dataframe")
    tr.wrap(api, "apply_filters", "api.apply_filters")
    tr.wrap(api, "sort_rows", "api.sort_rows")
    tr.wrap(api, "resolve_entity", "api.resolve_entity")
    tr.wrap(api, "fetch_precatorios", "api.fetch_precatorios")
    tr.wrap(SnapshotStore, "time_travel", "tableio.time_travel")


class Server:
    """Set-up state plus one method per request type.

    Each request method returns ``(answer, expected, rows)``; the caller
    times the request and compares answer and expectation afterwards.
    """

    def __init__(self, spark, seed: int, workdir: str):
        from crawler_tjce_spark import refsim
        from crawler_tjce_spark.datagen import WorldConfig, write_world
        from crawler_tjce_spark.sources import dsr, entities
        from crawler_tjce_spark.sources.tableio import SnapshotStore

        self.spark, self.seed = spark, seed
        self.rng = random.Random(seed)
        # ---- entity dimension + precatorios decoded from DSR pages ----
        names = [f"{k} {c}" for k in KINDS for c in CITIES]
        self.rng.shuffle(names)
        names = names[:N_ENTITIES]
        mapping = entities.build_entity_mapping(
            spark.createDataFrame([(n,) for n in names] + [("--- Selecione",)], "official_name string"))
        mpath = os.path.join(workdir, "entities")
        mapping.write.parquet(mpath)
        self.mapping = spark.read.parquet(mpath)
        self.slug_of = {r["official_name"]: r["slug"] for r in self.mapping.collect()}
        self.setup_ok = sorted(self.slug_of) == sorted(names) and len(set(self.slug_of.values())) == len(names)

        self.rows: list[dict] = []
        pages, page_slug = [], []
        for e, name in enumerate(names):
            ent_rows = _gen_rows(self.rng, ROWS_PER_ENTITY, 1 + e * ROWS_PER_ENTITY)
            for r in ent_rows:
                r["entity_slug"] = self.slug_of.get(name)
                r["entity_name"] = name
            self.rows += ent_rows
            for p in range(0, ROWS_PER_ENTITY, ROWS_PER_PAGE):
                pages.append((len(pages), _page_json(dsr, ent_rows[p:p + ROWS_PER_PAGE])))
                page_slug.append((len(page_slug), self.slug_of.get(name)))
        decoded = dsr.decode_pages_df(
            spark, spark.createDataFrame(pages, "page_id long, payload string"), "precatorio")
        slugs = spark.createDataFrame(page_slug, "page_id long, entity_slug string")
        ppath = os.path.join(workdir, "precatorios")
        decoded.join(slugs, "page_id").drop("page_id", "row_idx").write.parquet(ppath)
        self.prec = spark.read.parquet(ppath)
        got = sorted(_row_key(r) + (r["entity_slug"],) for r in self.prec.collect())
        want = sorted(_row_key(r) + (r["entity_slug"],) for r in self.rows)
        self.setup_ok &= got == want

        # ---- keyset pagination state ----
        self.page_order = sorted(
            (r for r in self.rows if r["ano_orcamento"] >= 2016),
            key=lambda r: (r["ano_orcamento"], r["ordem"]))
        self.page_pos = 0
        self.page_token: list[str] | None = None

        # ---- a crawl store's visit log with one snapshot per wave ----
        wdir = os.path.join(workdir, "world")
        write_world(WorldConfig(seed=seed, **HISTORY_WORLD), wdir)
        ref = refsim.simulate(wdir, max_waves=HISTORY_WAVES)
        self.visits = ref.visits
        self.store = SnapshotStore(os.path.join(workdir, "history"))
        manifest = {"wave": 0, "snapshot_id": 0}
        for w in range(ref.waves):
            vis = [(o, u, h, wv) for o, u, wv, h in ref.visits if wv == w]
            df = spark.createDataFrame(vis, "ordem long, url string, host string, wave int")
            self.store.write_wave(df, "visits", w)
            manifest["wave"] = w + 1
            self.store.commit(manifest)
        self.snapshots = [m["snapshot_id"] for m in self.store.snapshots()]
        self.setup_ok &= len(self.snapshots) == ref.waves > 1

    # ------------------------------------------------------------ requests
    def fetch(self, i: int):
        from crawler_tjce_spark import api
        from crawler_tjce_spark.sources import dsr

        rng = random.Random(f"fetch-{self.seed}-{i}")
        rows = _gen_rows(rng, FETCH_PAGES * FETCH_ROWS_PER_PAGE, 1)
        pages = [(p, _page_json(dsr, rows[p * FETCH_ROWS_PER_PAGE:(p + 1) * FETCH_ROWS_PER_PAGE]))
                 for p in range(FETCH_PAGES)]
        lo = rng.randrange(2015, 2024)
        hi = lo + rng.randrange(1, 5)
        vmin = rng.randrange(0, 300_000)
        nat = rng.choice(NATUREZAS).lower()
        df = dsr.decode_pages_df(
            self.spark, self.spark.createDataFrame(pages, "page_id long, payload string"),
            "precatorio")
        df = api.sort_rows(
            api.apply_filters(df, ano_min=lo, ano_max=hi, valor_min=vmin, natureza=nat),
            "valor_atual", "desc")
        got = df.collect()
        want = sorted(
            (r for r in rows if lo <= r["ano_orcamento"] <= hi and r["valor_atual"] >= vmin
             and r["natureza"].lower() == nat),
            key=lambda r: r["valor_atual"], reverse=True)
        return [_row_key(r) for r in got], [_row_key(r) for r in want], len(rows)

    def page(self, i: int):
        from crawler_tjce_spark.plans import ir

        def col(name):
            return {"Column": {"Expression": {"SourceRef": {"Source": "p"}}, "Property": name},
                    "Name": f"p.{name}"}

        window = {"Count": PAGE_ROWS}
        if self.page_token is not None:
            window["RestartTokens"] = [self.page_token]
        query = {"Query": {
            "From": [{"Name": "p", "Entity": "precatorios", "Type": 0}],
            "Select": [col(c) for c in COLS],
            "Where": [{"Condition": {"Comparison": {
                "ComparisonKind": 2, "Left": col("ano_orcamento"),
                "Right": {"Literal": {"Value": "2016L"}}}}}],
            "OrderBy": [{"Direction": 1, "Expression": col("ano_orcamento")},
                        {"Direction": 1, "Expression": col("ordem")}],
            "Binding": {"DataReduction": {"Primary": {"Window": window}}},
        }}
        got = ir.to_dataframe(self.spark, query, resolve={"precatorios": self.prec}).collect()
        want = self.page_order[self.page_pos:self.page_pos + PAGE_ROWS]
        # advance the client's cursor from what the server returned; wrap at the end
        if len(got) < PAGE_ROWS or not got:
            self.page_pos, self.page_token = 0, None
        else:
            self.page_pos += PAGE_ROWS
            self.page_token = [ir.render_literal(got[-1]["ano_orcamento"]),
                               ir.render_literal(got[-1]["ordem"])]
        return [_row_key(r) for r in got], [_row_key(r) for r in want], len(got)

    def lookup(self, i: int):
        from crawler_tjce_spark import api

        rng = random.Random(f"lookup-{self.seed}-{i}")
        name = rng.choice(sorted(self.slug_of))
        year = rng.randrange(2015, 2027)
        # half the clients pass the official name, exercising the slug conversion
        entity = name if rng.random() < 0.5 else self.slug_of[name]
        got = api.fetch_precatorios(self.prec, self.mapping, entity, year=year).collect()
        want = [r for r in self.rows if r["entity_name"] == name and r["ano_orcamento"] == year]
        return (sorted(_row_key(r) for r in got), sorted(_row_key(r) for r in want), len(got))

    def history(self, i: int):
        rng = random.Random(f"history-{self.seed}-{i}")
        sid = rng.choice(self.snapshots)
        upto = self.store.snapshot(sid)["wave"]
        got = self.store.time_travel(self.spark, "visits", sid).select("ordem", "url").collect()
        want = sorted((o, u) for o, u, w, _ in self.visits if w < upto)
        return sorted((r["ordem"], r["url"]) for r in got), want, len(got)


def run(name: str, seed: int, seconds: float, sr: H.SparkRun, tr: H.Tracer,
        t_proc: float) -> dict:
    from crawler_tjce_spark.perf import job_group

    spark = sr.spark
    layer: dict[str, float] = {}
    _install_spans(tr)
    t0 = time.perf_counter()
    server = Server(spark, seed, os.path.join(sr.dir, "serve"))
    layer["datagen.world_s"] = time.perf_counter() - t0
    order = random.Random(f"mix-{seed}")
    sc = spark.sparkContext

    def cycle():
        kinds = list(MIX)
        order.shuffle(kinds)
        return kinds

    # untimed warm-up: each request type once (fetch twice: its first call
    # starts the Python workers), answers still checked
    warm_ok = True
    t_warm = time.perf_counter()
    for i, kind in enumerate(["fetch", "fetch", "page", "lookup", "history"]):
        with job_group(sc, f"serve_{kind}"):
            got, want, _ = getattr(server, kind)(-1 - i)
        warm_ok &= got == want
    layer["warmup_s"] = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - t_proc

    jobs0 = H.job_totals(spark) if tr.enabled else None
    lat: dict[str, list[float]] = {k: [] for k in set(MIX)}
    all_lat: list[float] = []
    answers = []
    fetch_rows = 0
    i = 0
    t_window = time.perf_counter()
    while time.perf_counter() - t_window < seconds:
        for kind in cycle():
            tr.op = i
            t = time.perf_counter()
            with job_group(sc, f"serve_{kind}"), tr.span(f"serve.{kind}"):
                got, want, n = getattr(server, kind)(i)
            d = time.perf_counter() - t
            lat[kind].append(d)
            all_lat.append(d)
            answers.append((kind, got, want))
            if kind == "fetch":
                fetch_rows += n
            i += 1
            if time.perf_counter() - t_window >= seconds:
                break
    tr.op = None
    busy = sum(all_lat)

    failed = sum(1 for _, got, want in answers if got != want)
    out = {
        "correct": failed == 0 and warm_ok and server.setup_ok,
        "attempted": len(all_lat),
        "failed": failed,
        "end_to_end": {
            "setup_s": setup_s,
            "throughput_per_s": len(all_lat) / busy,
            "op_p50_s": H.median(all_lat),
        },
        "detail": {"requests": {k: len(v) for k, v in lat.items()},
                   "op_p90_s": H.quantile(all_lat, 0.9), "op_p90_samples": len(all_lat),
                   "setup_ok": server.setup_ok, "warmup_ok": warm_ok,
                   "failed_by_kind": {k: sum(1 for kk, g, w in answers if kk == k and g != w)
                                      for k in lat}},
    }
    if not tr.enabled:
        return out

    delta = H.job_delta(jobs0, H.job_totals(spark))
    n_fetch = max(1, len(lat["fetch"]))
    fetch_run = H.group_sum(delta, ["serve_fetch"], "run_s")
    layer["dsr.decode_s"] = fetch_run / n_fetch
    layer["dsr.rows_per_s"] = fetch_rows / fetch_run if fetch_run else 0.0
    layer["ir.plan_build_s"] = H.median(tr.durations("ir.to_dataframe"))
    layer["tableio.time_travel_s"] = H.median(tr.durations("tableio.time_travel"))
    layer["serve.jobs_per_request"] = H.all_sum(delta, "jobs") / len(all_lat)
    for kind, xs in lat.items():
        layer[f"serve.{kind}_p50_s"] = H.median(xs)
    layer["serve.op_p90_s"] = H.quantile(all_lat, 0.9)
    layer["trace.op_p50_s"] = H.median(all_lat)
    out["layer"] = layer
    return out
