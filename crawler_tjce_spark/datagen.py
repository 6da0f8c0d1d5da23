"""Deterministic synthetic web world + image/caption payload generator.

Seed=42 everywhere (TESTDATA.md convention). Two products:

1. **Web graph** (``pages``, ``robots``, ``seeds``) — the crawlable
   universe. Generated in pure Python (it's metadata: both the Spark
   engine and the single-threaded reference simulator must read the
   *identical* graph, so it is materialized once as parquet, not
   recomputed per engine).
2. **Image+caption payload** — the BASELINE ``input_hint`` table
   ``(image_id, bytes, w, h, fmt, caption, phash)``. Encoded with the
   numpy codec in ``payload.py`` (no PIL in this container); generated
   distributed via ``mapInPandas`` so the generation itself scales with
   the cluster.

Graph shape knobs give the skew story: ``hot_host_share`` routes that
fraction of all pages to host 0, producing the one-host-owns-half-the-
frontier scenario the politeness window must survive without a
straggler (SURVEY.md §7.1 step 9).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# CNJ-style "salient" path segment generator — mirrors the reference's
# process-number domain (crawler/edital_crawler.py:642 regex) without
# copying any real data.
def _cnj_number(rng: np.random.Generator) -> str:
    return (
        f"{rng.integers(0, 10**7):07d}-{rng.integers(0, 100):02d}."
        f"{rng.integers(2000, 2026)}.8.06.{rng.integers(0, 10000):04d}"
    )


@dataclass
class WorldConfig:
    n_hosts: int = 20
    n_pages: int = 2000
    hot_host_share: float = 0.3  # fraction of pages on host 0 (skew knob)
    links_per_page: int = 6
    same_host_bias: float = 0.7
    private_share: float = 0.1  # pages under the robots-disallowed prefix
    salient_share: float = 0.15  # pages whose URL carries a CNJ number
    images_per_page: int = 2
    n_seeds: int = 10
    seed: int = 42
    # politeness budget scale: host_budget = max(1, budget_scale // (1+delay)).
    # Tests use the default (small waves); the throughput bench raises it so
    # a wave is wide enough to measure scaling.
    budget_scale: int = 16
    hosts: list[str] = field(default_factory=list)

    def __post_init__(self):
        if not self.hosts:
            # TJCE-flavoured synthetic hosts (NOT copied from the reference's
            # entity list — same naming style only).
            cities = [
                "fortaleza", "sobral", "crato", "iguatu", "quixada", "aracati",
                "caucaia", "maracanau", "juazeiro", "itapipoca", "taua", "icapui",
                "acarau", "viçosa", "beberibe", "cascavel", "pacatuba", "horizonte",
                "eusebio", "aquiraz", "russas", "limoeiro", "morada-nova", "baturite",
            ]
            self.hosts = [
                f"portal-{cities[i % len(cities)]}-{i:03d}.tjce.example"
                for i in range(self.n_hosts)
            ]


def page_url(host: str, path: str) -> str:
    return f"https://{host}{path}"


def generate_world(cfg: WorldConfig) -> dict[str, pa.Table]:
    """Build the pages/robots/seeds tables as pyarrow Tables."""
    rng = np.random.default_rng(cfg.seed)

    # --- assign pages to hosts with a hot head ---
    n_hot = int(cfg.n_pages * cfg.hot_host_share)
    host_idx = np.concatenate(
        [
            np.zeros(n_hot, dtype=np.int64),
            rng.integers(1, cfg.n_hosts, size=cfg.n_pages - n_hot),
        ]
    )
    urls: list[str] = []
    hosts: list[str] = []
    for i in range(cfg.n_pages):
        h = cfg.hosts[int(host_idx[i])]
        private = rng.random() < cfg.private_share
        salient = rng.random() < cfg.salient_share
        prefix = "/private" if private else ""
        seg = f"/proc/{_cnj_number(rng)}" if salient else f"/p/{i}"
        urls.append(page_url(h, f"{prefix}{seg}"))
        hosts.append(h)

    # --- deterministic out-links ---
    out_links: list[list[str]] = []
    image_refs: list[list[str]] = []
    by_host: dict[str, list[int]] = {}
    for i, h in enumerate(hosts):
        by_host.setdefault(h, []).append(i)
    for i in range(cfg.n_pages):
        k = int(rng.integers(1, cfg.links_per_page + 1))
        targets: list[int] = []
        same = by_host[hosts[i]]
        for _ in range(k):
            if rng.random() < cfg.same_host_bias and len(same) > 1:
                targets.append(int(same[int(rng.integers(0, len(same)))]))
            else:
                targets.append(int(rng.integers(0, cfg.n_pages)))
        out_links.append(sorted({urls[t] for t in targets if t != i}))
        n_img = int(rng.integers(0, cfg.images_per_page + 1))
        image_refs.append(
            [f"img-{hashlib.md5(f'{urls[i]}#{j}'.encode()).hexdigest()[:16]}" for j in range(n_img)]
        )

    pages = pa.table(
        {
            "url": urls,
            "host": hosts,
            "out_links": out_links,
            "image_refs": image_refs,
        }
    )

    # --- robots: one rule row per host ---
    host_rng = np.random.default_rng(cfg.seed + 1)
    crawl_delay = host_rng.integers(0, 4, size=cfg.n_hosts)  # 0..3
    robots = pa.table(
        {
            "host": cfg.hosts,
            "disallow_prefix": ["/private"] * cfg.n_hosts,
            "crawl_delay": crawl_delay.astype("int32"),
            # politeness budget per wave, derived from crawl_delay
            "host_budget": np.maximum(1, cfg.budget_scale // (1 + crawl_delay)).astype("int32"),
        }
    )

    # --- seeds: the root (lowest-index) page of the first n_seeds hosts ---
    seed_urls = []
    for h in cfg.hosts[: cfg.n_seeds]:
        idxs = by_host.get(h)
        if idxs:
            seed_urls.append(urls[idxs[0]])
    seeds = pa.table({"url": seed_urls})

    return {"pages": pages, "robots": robots, "seeds": seeds}


def write_world(cfg: WorldConfig, out_dir: str) -> dict[str, str]:
    """Materialize the world as parquet; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    tables = generate_world(cfg)
    paths = {}
    for name, tbl in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, p)
        paths[name] = p
    return paths


def generate_images_spark(
    spark, image_ids_df, fmt_lossy_share: float = 0.5, size_scale: int = 1, octaves: int = 6
):
    """Distributed image+caption generation → BASELINE input_hint schema.

    ``mapInPandas`` over the distinct image-id table; each Arrow batch
    synthesizes deterministic pixels (seeded by the id hash), encodes
    them with the numpy codec, and computes the 64-bit perceptual hash.
    Scales linearly with executors — the generator IS a payload-table
    producer of the shape the engine must ingest at 100 TB.

    IMPORTANT (measured, not theoretical): the stage's *input* is a few
    MB of ids while its *output* is ~1000× larger, so AQE's post-shuffle
    coalescing (sized on input bytes) collapses it to ONE task and
    serializes the whole synth. A hash ``repartition(n, col)`` doesn't
    help either: Catalyst merges it into the distinct's own
    ENSURE_REQUIREMENTS exchange, which AQE may still coalesce. The
    round-robin ``repartition(n)`` below survives as an explicit
    REPARTITION_BY_NUM exchange that AQE never coalesces — the general
    rule for any expansion-heavy pandas-UDF stage (fetch, decode,
    augmentation): pin its parallelism with a round-robin repartition.
    """
    from crawler_tjce_spark import payload as P

    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long"
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [
                P.synthesize_image_record(iid, fmt_lossy_share, size_scale, octaves)
                for iid in pdf["image_id"]
            ]
            yield pd.DataFrame(rows)

    # One Python task per core, like every operators/multimodal.py stage.
    # Each Python task pays a fixed set-up before user code runs:
    # ~0.3 s under Spark's default worker daemon (every task re-reads
    # Spark's zip/jar archives), ~0.1 s under session.get_spark's
    # pydaemon. Measured on a 4-vCPU VM, local[4]: 32 empty mapInPandas
    # tasks take ~2.9 s with the default daemon and ~1.1 s with
    # pydaemon. With pydaemon, 2/4/8 tasks per core did not beat one
    # per core consistently on the crawl_payload benchmark.
    n_parts = spark.sparkContext.defaultParallelism
    return (
        image_ids_df.select("image_id")
        .distinct()
        .repartition(n_parts)
        .mapInPandas(gen, schema=schema)
    )
