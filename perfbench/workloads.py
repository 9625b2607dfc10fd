"""Benchmark workloads: generated inputs for ``engine.crawl.run_crawl``.

Every corpus comes from ``fixtures.gen`` and is a pure function of its
parameters, so it is generated once per checkout and cached.  The workload
seed only sets the seed list (priorities and order); the engine receives
nothing but the parquet files written here.

Why these workloads (each stresses a different layer):

- ``s-golden``: the golden S corpus (8 hosts, 24-word pages, 8
  canon-hostile seeds, budget 2, h0 budget 1).  A round fetches 7-12 urls
  (2.4 on average over the full 35-round crawl), so it is pure fixed
  cost: job scheduling, driver gaps, Python workers, snapshot commit.  At the golden seed the crawl must equal the
  first rounds of tests/golden/s_corpus.json.
- ``wide-frontier``: ~5*10^4 urls on 200 zipf hosts, every url a
  canon-hostile seed, budget 2 per host, bloom seen filter.  The
  frontier-sized layers (anti-join, filter probe, robots gate, salted
  politeness window, frontier merge) and the fetch join's full scan of the
  cached pages index do the work: the scan reads ~125 index rows per
  selected row.  The only workload where engine/filters does work.
- ``fetch-heavy``: ~6*10^3 urls with ~1000-word inline-markup pages,
  every url a seed, budget 100 per host (>=1/3 of the corpus per round),
  exact seen set.  Extraction, link canon/hash and the text write do the
  work; the index scan is mostly useful.  Each sample pairs a local[N]
  crawl with a local[1] crawl for scaling_eff_1to4, so a run takes about
  two minutes on a 4-vCPU host.

Round counts are small because every crawl pays a fresh JVM's set-up
(~17 s on a 4-vCPU host) and a run must stay near a minute.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import asdict, dataclass, field

# Bump when a corpus definition changes so cached inputs are rebuilt.
CORPUS_VERSION = 1
# The seed at which s-golden keeps the checked-in seed list unchanged and
# must reproduce tests/golden/s_corpus.json.
GOLDEN_SEED = 0
# Both legs of the scaling pair and every workload use the same count.
SHUFFLE_PARTITIONS = 4


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: dict  # fixtures.gen.gen_corpus keyword arguments
    all_urls_seeded: bool
    budget: int
    overrides: dict = field(default_factory=dict)
    seen_filter: str = "exact"  # "exact" | "bloom"
    max_rounds: int = 4
    scaling_leg: bool = False  # also crawl at local[1] for scaling_eff_1to4


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="s-golden",
            corpus={"size": "S"},
            all_urls_seeded=False,
            budget=2,
            overrides={"h0.example.test": 1},
            max_rounds=4,
        ),
        Workload(
            name="wide-frontier",
            corpus={"n_hosts": 200, "mean_pages": 250, "body_words": 24},
            all_urls_seeded=True,
            budget=2,
            seen_filter="bloom",
            max_rounds=3,
        ),
        Workload(
            name="fetch-heavy",
            corpus={"n_hosts": 30, "mean_pages": 200, "body_words": 1000},
            all_urls_seeded=True,
            budget=100,
            max_rounds=2,
            scaling_leg=True,
        ),
    )
}


def _corpus(w: Workload):
    from fixtures.gen import gen_corpus

    return gen_corpus(compute_text=False, **w.corpus)


def _hostile(url: str, rng: random.Random) -> str:
    """A raw, non-canonical form of ``url`` that canonicalizes back to it."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    v = rng.randrange(4)
    if v == 0:
        return f"{scheme.upper()}://{host.upper()}:80/{path}#top"
    if v == 1:
        return f"{scheme}://{host}/a/../{path}"
    if v == 2:
        return f"{scheme}://{host}:80/./{path}#s"
    return f"{scheme}://{host.title()}/{path}?"


def seed_list(w: Workload, corpus_dir: str, seed: int) -> list[tuple[str, int]]:
    """The crawl's seed list for workload seed ``seed``: priorities and
    order come from the seed; the urls from the corpus."""
    rng = random.Random(f"{w.name}/{seed}")
    if not w.all_urls_seeded:
        seeds = list(_corpus(w).seeds)
        if seed == GOLDEN_SEED:
            return seeds
        pris = [p for _, p in seeds]
        rng.shuffle(pris)
        seeds = [(u, p) for (u, _), p in zip(seeds, pris)]
    else:
        import pyarrow.parquet as pq

        pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet"), columns=["url"])
        urls = sorted(set(pages.column("url").to_pylist()))
        seeds = [(_hostile(u, rng), rng.randrange(101)) for u in urls]
    rng.shuffle(seeds)
    return seeds


def corpus_dir(cache: str, w: Workload) -> str:
    """Generate (once) and return the parquet dir of ``w``'s corpus."""
    from fixtures.gen import write_parquet

    out = os.path.join(cache, "corpus", w.name)
    marker = os.path.join(out, "_DONE")
    key = json.dumps({"v": CORPUS_VERSION, "corpus": w.corpus}, sort_keys=True)
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == key:
                return out
    shutil.rmtree(out, ignore_errors=True)
    write_parquet(_corpus(w), out)
    with open(marker, "w") as fh:
        fh.write(key)
    return out


def write_seeds(path: str, seeds: list[tuple[str, int]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pylist(
        [{"url": u, "priority": p} for u, p in seeds],
        schema=pa.schema([("url", pa.string()), ("priority", pa.int32())]),
    )
    pq.write_table(tbl, path)


def engine_config(w: Workload) -> dict:
    """Keyword arguments of ``engine.crawl.EngineConfig``."""
    return {
        "default_budget": w.budget,
        "budget_overrides": dict(w.overrides),
        "max_rounds": w.max_rounds,
    }


def describe(w: Workload) -> dict:
    return asdict(w)
