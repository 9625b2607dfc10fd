"""Correctness gate: the engine's output against the ``refspec`` oracle.

For a (workload, seed, max_rounds) the oracle runs ``refspec.run_crawl``
over the same corpus, seed list and budgets and keeps three digests: the
fetch log (round, url, status, host), the seen set (url_hash, url) and the
per-url text sha256.  Digests are cached on disk by key, since the oracle
is a pure function of its inputs.  ``s-golden`` at its golden seed is also
held to ``tests/golden/s_corpus.json``: the engine's fetch log and text
digests must equal the golden crawl's first ``max_rounds`` rounds.
"""

from __future__ import annotations

import hashlib
import json
import os


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def digests(out: dict) -> dict:
    """Digest the three crawl artifacts of an engine or refspec result."""
    return {
        "fetch_log": _sha([list(r) for r in out["fetch_log"]]),
        "seen": _sha(sorted([int(h), u] for h, u in out["seen"])),
        "text_sha256": _sha(out["text_sha256"]),
        "n_fetched": len(out["fetch_log"]),
        "n_seen": len(out["seen"]),
    }


def _load_pages(corpus_dir: str) -> list[dict]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(corpus_dir, "pages.parquet"), columns=["url", "warc_ts", "html"]
    )
    return tbl.to_pylist()


def _load_robots(corpus_dir: str) -> dict[str, list[str]]:
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(corpus_dir, "robots.parquet")).to_pylist()
    return {r["host"]: list(r["disallow"] or []) for r in rows}


def reference(cache: str, key: str, corpus_dir: str, seeds, engine_config: dict) -> dict:
    """refspec digests for ``seeds`` on the corpus, cached under ``key``."""
    path = os.path.join(cache, "oracle", f"{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    from refspec import CrawlConfig, run_crawl

    cfg = CrawlConfig(seeds=tuple(seeds), **engine_config)
    res = run_crawl(_load_pages(corpus_dir), _load_robots(corpus_dir), cfg)
    out = digests(
        {
            "fetch_log": res.fetch_log(),
            "seen": list(res.seen.items()),
            "text_sha256": {
                u: hashlib.sha256(t.encode("utf-8")).hexdigest()
                for u, t in res.texts.items()
            },
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


def golden_mismatch(golden_path: str, engine_out: dict, max_rounds: int) -> str | None:
    """Compare the engine's output with the first ``max_rounds`` rounds of
    the checked-in golden crawl; return a description of the first
    difference, or None."""
    with open(golden_path) as fh:
        golden = json.load(fh)
    want_log = [r for r in golden["fetch_log"] if r[0] < max_rounds]
    got_log = [list(r) for r in engine_out["fetch_log"]]
    if got_log != want_log:
        return f"fetch log differs from golden ({len(got_log)} vs {len(want_log)} rows)"
    want_texts = {
        u: golden["text_sha256"][u] for _, u, s, _ in want_log if s == "200"
    }
    if engine_out["text_sha256"] != want_texts:
        return "text digests differ from golden"
    return None
