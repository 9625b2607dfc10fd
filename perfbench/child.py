"""One crawl in a fresh, pinned JVM: set up, call ``run_crawl``, report.

Run by ``run.py`` as ``taskset -c <cores> python3 child.py <spec.json>``.
The engine is observed only from outside: the store passed to
``run_crawl`` is a ``SnapStore`` subclass that records a span around each
call, the seen-filter factory is wrapped the same way, and the traced leg
turns on Spark's event log through ``get_spark(extra=...)``.  Spans are
kept in memory and written with the result at the end.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())

from engine.snapstore import SnapStore  # noqa: E402


class Spans:
    """In-memory span recorder: name, start, end, parent, attributes."""

    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        self.items.append(
            {
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                **attrs,
            }
        )
        self._stack.append(len(self.items) - 1)
        return self._stack[-1]

    def close(self, idx: int, **attrs) -> None:
        self._stack.pop()
        self.items[idx]["end"] = time.time()
        self.items[idx].update(attrs)


class TracedStore(SnapStore):
    """SnapStore that records a span around every engine call into it.

    A round r runs from the end of commit_state(r) to the end of
    commit_state(r + 1); the commit span includes the execution of the
    lazy round pipeline that the table writes trigger."""

    def __init__(self, root: str, spans: Spans, on_commit=None):
        super().__init__(root)
        self.spans = spans
        self.on_commit = on_commit

    def commit_state(self, sid, tables, metrics=None, metrics_fn=None, parallel=False):
        i = self.spans.open("commit_state", sid=sid, tables=sorted(tables))
        out = None
        try:
            out = super().commit_state(sid, tables, metrics, metrics_fn, parallel)
        finally:
            self.spans.close(i, metrics=out)
        if self.on_commit is not None:
            self.on_commit(sid)
        return out

    def read(self, spark, table, snapshot_id=None):
        i = self.spans.open("read", table=table, sid=snapshot_id)
        try:
            return super().read(spark, table, snapshot_id)
        finally:
            self.spans.close(i)

    def manifest(self, sid):
        i = self.spans.open("manifest", sid=sid)
        try:
            return super().manifest(sid)
        finally:
            self.spans.close(i)


def traced_factory(inner, spans: Spans):
    def factory(spark, store, sid):
        i = spans.open("filter_factory", sid=sid)
        try:
            return inner(spark, store, sid)
        finally:
            spans.close(i)

    return factory


def _proc_tree_hwm_mb(root_pid: int) -> dict[str, float]:
    """VmHWM of the descendants of ``root_pid`` (the JVM, the Python
    daemon and its workers), summed per command name, in MB."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out: dict[str, float] = {}
    for pid in parent:
        p, hops = parent.get(pid), 0
        while p and p != root_pid and hops < 64:
            p, hops = parent.get(p), hops + 1
        if p != root_pid:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        name = fields["Name"].strip()
        out[name] = out.get(name, 0.0) + int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0
        out[name + ".procs"] = out.get(name + ".procs", 0) + 1
    return out


def _dir_bytes(root: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


def output_digests(spark, store: SnapStore) -> dict:
    """Fetch log, seen set and per-url text digests of the final snapshot
    (the same shape oracle.digests computes from refspec)."""
    from engine.crawl import fetch_log

    log = [list(r) for r in fetch_log(spark, store).collect()]
    seen = sorted(
        [int(r[0]), r[1]]
        for r in store.read(spark, "seen").select("url_hash", "url").collect()
    )
    texts = {
        r[0]: hashlib.sha256(r[1].encode("utf-8")).hexdigest()
        for r in store.read(spark, "pages_out").select("url", "text").collect()
    }
    return {"fetch_log": log, "seen": seen, "text_sha256": texts}


def main(spec: dict) -> dict:
    spans = Spans()
    run_span = spans.open("run")
    setup_span = spans.open("setup")
    from engine.crawl import EngineConfig, run_crawl
    from engine.filters import bloom_seen_filter_factory
    from engine.io import load_table
    from engine.session import get_spark
    from engine.udfs import hash64_udf

    run_dir = spec["run_dir"]
    extra = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": spec["heap"],
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed-size heap: no run-to-run heap resizing decisions
        "spark.driver.extraJavaOptions": f"-Xms{spec['heap']} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if spec["trace"]:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        master=f"local[{spec['cores']}]",
        app_name=f"perfbench-{spec['workload']}",
        shuffle_partitions=spec["shuffle_partitions"],
        extra=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages = load_table(spark, spec["corpus_dir"], "pages")
    robots = load_table(spark, spec["corpus_dir"], "robots")
    seeds = spark.read.parquet(spec["seeds_path"])
    # warm-up: start one Python worker per core (the first UDF job of a
    # fresh JVM pays worker start and pandas/pyarrow import)
    seeds.repartition(spec["cores"]).select(hash64_udf("url")).write.format(
        "noop"
    ).mode("overwrite").save()
    spans.close(setup_span)

    cache_samples: list[dict] = []

    def sample_cache(sid: int) -> None:
        if not spec["trace"]:
            return
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cache_samples.append(
            {
                "sid": sid,
                "rdds": [
                    {"id": r.id(), "mem": r.memSize(), "disk": r.diskSize()}
                    for r in infos
                ],
            }
        )

    store = TracedStore(os.path.join(run_dir, "store"), spans, sample_cache)
    factory = None
    if spec["seen_filter"] == "bloom":
        factory = traced_factory(bloom_seen_filter_factory(), spans)
    cfg = EngineConfig(**spec["engine_config"])
    t_call = time.time()
    crawl_span = spans.open("run_crawl")
    rounds = run_crawl(spark, store, pages, robots, seeds, cfg, factory)
    spans.close(crawl_span)
    t_done = time.time()
    rss = _proc_tree_hwm_mb(os.getpid())
    store_bytes, store_files = _dir_bytes(store.data_dir)
    digests = output_digests(spark, store)
    spans.close(run_span)
    spark.stop()
    return {
        # spawn_time is the parent's clock just before it started this
        # process, so setup_s includes interpreter start and imports
        "setup_s": t_call - spec["spawn_time"],
        "crawl_s": t_done - t_call,
        "rounds": rounds,
        "peak_rss_mb": sum(v for k, v in rss.items() if not k.endswith(".procs")),
        "rss_by_process": rss,
        "store_bytes": store_bytes,
        "store_files": store_files,
        "spans": spans.items,
        "cache_samples": cache_samples,
        "digests": digests,
    }


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    result = main(spec)
    with open(spec["out"], "w") as fh:
        json.dump(result, fh)
