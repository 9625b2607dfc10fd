"""Snapshot store — Iceberg-semantics checkpointing without an Iceberg jar.

SURVEY.md §7.2: no iceberg-spark-runtime jar ships with this pyspark and
there is no network to fetch one, so the store exposes one interface with
two backends:

- **snapdir** (implemented here, used by all sandbox tests): Parquet data
  dirs + a JSON manifest per snapshot, committed manifest-last via
  ``os.replace`` (atomic on POSIX).  A snapshot is visible iff its manifest
  exists; data dirs without a manifest are invisible orphans (a killed
  round leaves no partial state — tests/test_resume.py kills between data
  write and manifest write).  Time travel = read at any snapshot id.
- **iceberg** (cluster path): the same calls map 1:1 onto Iceberg
  operations — commit_state ≈ a transaction of ``overwritePartitions`` on
  frontier/seen + ``append`` on lineage; read(snapshot_id) ≈ ``VERSION AS
  OF``.  Activating it is configuration (``--packages
  org.apache.iceberg:iceberg-spark-runtime…`` + catalog conf), not code:
  everything above this module only sees the interface.

Snapshot id s = crawl state AFTER round s-1; id 0 is the bootstrap state
(seeded frontier, empty seen).  frontier is a REPLACE table (each snapshot
owns a full copy at test scale; Iceberg's overwritePartitions makes this
differential at cluster scale); seen/lineage/pages_out are APPEND tables —
each round commits only its DELTA and reading state s unions rounds
0..s-1.  Appending the seen delta instead of rewriting the whole seen set
is what keeps the per-round write O(round size), not O(crawl history) —
at a 10^10-URL frontier a full seen rewrite per round would dominate
everything (and is exactly what Iceberg's fast append avoids).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

REPLACE_TABLES = ("frontier", "cuckooshards")
APPEND_TABLES = ("seen", "lineage", "pages_out", "bloomshards")


class SnapStore:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)
        # A committed manifest is immutable (manifest-last protocol: the
        # rename IS the commit), so parse each one once per store instance.
        # Without this, every read of an append table re-opens and re-parses
        # all manifests 0..sid — O(R^2) JSON parses over an R-round crawl,
        # the first driver-side cost to grow with crawl history.
        self._manifest_cache: dict[int, dict] = {}

    # ---- manifest bookkeeping -------------------------------------------
    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.manifest_dir, f"snap-{sid:06d}.json")

    def snapshot_ids(self) -> list[int]:
        out = []
        for f in os.listdir(self.manifest_dir):
            if f.startswith("snap-") and f.endswith(".json"):
                out.append(int(f[5:-5]))
        return sorted(out)

    def latest(self) -> int | None:
        ids = self.snapshot_ids()
        return ids[-1] if ids else None

    def manifest(self, sid: int) -> dict:
        doc = self._manifest_cache.get(sid)
        if doc is None:
            path = self._manifest_path(sid)
            with open(path) as fh:
                try:
                    doc = json.load(fh)
                except ValueError as e:
                    # the manifest is the crawl loop's only source of its
                    # control values: say which file is bad, not where in
                    # json the parse stopped
                    raise ValueError(
                        f"{path}: corrupt snapshot manifest ({e})"
                    ) from None
            self._manifest_cache[sid] = doc
        return doc

    # ---- commit (manifest-last, atomic) ---------------------------------
    def commit_state(
        self,
        sid: int,
        tables: dict[str, DataFrame],
        metrics: dict | None = None,
        metrics_fn=None,
        parallel: bool = False,
    ) -> dict:
        """Write every table's data dir, THEN the manifest (fsync+rename).

        Crash at any point before the final rename leaves snapshot sid
        invisible; re-running the round overwrites the orphan dirs.

        ``parallel=True`` submits the table writes from a thread pool —
        independent Spark jobs over already-persisted inputs, so the
        scheduler interleaves their stages and idle-core gaps between
        sequential writes disappear (the single-box analog of concurrent
        Iceberg appends in one transaction).  ``metrics_fn`` is invoked
        after all data writes and before the manifest write — the hook the
        crawl uses to harvest ``df.observe()`` metrics that were computed
        DURING the writes instead of by separate aggregation jobs.
        Returns the metrics dict that went into the manifest.
        """
        entries = {}

        def _write(name: str, df: DataFrame) -> tuple[str, str]:
            rel = os.path.join(name, f"s={sid:06d}")
            df.write.mode("overwrite").parquet(os.path.join(self.data_dir, rel))
            return name, rel

        if parallel and len(tables) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(tables)) as pool:
                futs = [pool.submit(_write, n, df) for n, df in tables.items()]
                for f in futs:
                    name, rel = f.result()
                    entries[name] = rel
        else:
            for name, df in tables.items():
                name, rel = _write(name, df)
                entries[name] = rel
        if metrics_fn is not None:
            metrics = {**(metrics or {}), **metrics_fn()}
        doc = {"snapshot": sid, "tables": entries, "metrics": metrics or {}}
        tmp = self._manifest_path(sid) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._manifest_path(sid))
        # Keep the cache coherent with a re-commit of the same sid (resume
        # re-running a killed round overwrites the orphan's id).
        self._manifest_cache[sid] = doc
        return doc["metrics"]

    # ---- read / time travel ---------------------------------------------
    def read(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame:
        sid = self.latest() if snapshot_id is None else snapshot_id
        if sid is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        if table in APPEND_TABLES:
            paths = []
            for s in self.snapshot_ids():
                if s > sid:
                    break
                rel = self.manifest(s)["tables"].get(table)
                if rel:
                    paths.append(os.path.join(self.data_dir, rel))
            if not paths:
                raise FileNotFoundError(f"{table}: nothing appended by snapshot {sid}")
            return spark.read.parquet(*paths)
        # replace table: newest manifest at-or-before sid that carries it
        for s in reversed(self.snapshot_ids()):
            if s > sid:
                continue
            rel = self.manifest(s)["tables"].get(table)
            if rel:
                return spark.read.parquet(os.path.join(self.data_dir, rel))
        raise FileNotFoundError(f"{table}: not present at snapshot {sid}")

    def read_incremental(
        self, spark: SparkSession, table: str, from_sid: int, to_sid: int
    ) -> DataFrame:
        """Incremental consumption of an append table: exactly the rows
        appended by snapshots in (from_sid, to_sid] — the local analog of
        Iceberg's incremental read (`start-snapshot-id`/`end-snapshot-id`).

        This is how a downstream consumer (indexer, dedup refresh, metrics
        exporter) tails the crawl without re-reading the whole table: each
        appended layer is a separate parquet dir, so the scan touches ONLY
        the delta files — O(delta), not O(history), no filter, no shuffle.
        Replace-table semantics have no row-level delta without diffing, so
        asking for one is a caller bug, not a fallback.
        """
        if table not in APPEND_TABLES:
            raise ValueError(f"{table}: incremental read needs an append table")
        paths = []
        for s in self.snapshot_ids():
            if from_sid < s <= to_sid:
                rel = self.manifest(s)["tables"].get(table)
                if rel:
                    paths.append(os.path.join(self.data_dir, rel))
        if not paths:
            # Nothing appended in the window: empty frame, schema preserved.
            # Take the schema from ANY layer of the table — read(to_sid)
            # would raise when the table's first append lands after to_sid,
            # breaking this docstring's promise (ADVICE r2).
            for s in reversed(self.snapshot_ids()):
                rel = self.manifest(s)["tables"].get(table)
                if rel:
                    return spark.read.parquet(
                        os.path.join(self.data_dir, rel)
                    ).limit(0)
            raise FileNotFoundError(f"{table}: never appended in any snapshot")
        return spark.read.parquet(*paths)

    def gc_orphans(self) -> list[str]:
        """Remove data dirs not referenced by any manifest (§3.4)."""
        live = set()
        for s in self.snapshot_ids():
            live.update(self.manifest(s)["tables"].values())
        removed = []
        if os.path.isdir(self.data_dir):
            for table in os.listdir(self.data_dir):
                tdir = os.path.join(self.data_dir, table)
                for snap in os.listdir(tdir):
                    rel = os.path.join(table, snap)
                    if rel not in live:
                        shutil.rmtree(os.path.join(self.data_dir, rel))
                        removed.append(rel)
        return removed
