"""Fold a Spark event log and the benchmark's spans into per-layer metrics.

Spark-free.  Inputs:

- the uncompressed event log of one traced crawl (a file, or the directory
  of a rolling log), whose jobs, tasks and SQL plans carry Spark's own
  accounting;
- the spans ``child.py`` recorded around the engine calls it can see from
  outside (``commit_state``, ``read``, ``manifest``, the seen-filter
  factory);
- the cached-RDD samples taken after each commit.

Rounds come from the spans: round r runs from the end of
``commit_state(r)`` to the end of ``commit_state(r + 1)``.  Jobs belong to
the round in whose window they were submitted, tasks to the round in which
they launched.  A job belongs to a layer by its call site (the fetch_seq
rank collect), by the table its insert node writes (the parallel commit
writes have no call site), or by the filter-factory span it ran in.  SQL
metrics are attributed to plan nodes by accumulator id: ``ArrowEvalPython``
by UDF name, an ``InMemoryTableScan`` that outputs ``html_z`` is the fetch
join's scan of the cached pages index.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import statistics

MB = float(1 << 20)
_TABLE_RE = re.compile(r"/data/([^/]+)/s=\d+")
_ROBOTS_JOIN_RE = re.compile(r"\[host#\d+\], \[host#\d+\], LeftOuter")
# politeness window exchanges: on host, and for the salted phase on
# (host, salt)
_POLITE_EXCHANGE_RE = re.compile(r"^Exchange hashpartitioning\(host#\d+")
_SALTED_EXCHANGE_RE = re.compile(r"^Exchange hashpartitioning\(host#\d+, \w+#")
_UDF_KINDS = (
    ("extract", ("extract_both_z_udf",)),
    ("index", ("compress_html_udf",)),
    ("hash", ("hash64_udf", "canon_hash_udf")),
)


def read_events(path: str) -> list[dict]:
    """Events of a log file, a ``.gz`` file or a rolling-log directory."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        out: list[dict] = []
        for f in parts:
            out += read_events(os.path.join(path, f))
        return out
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def find_event_log(events_dir: str) -> str:
    """The single application log Spark wrote under ``spark.eventLog.dir``."""
    logs = [f for f in os.listdir(events_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"{events_dir}: expected one event log, found {logs}")
    return os.path.join(events_dir, logs[0])


class _Node:
    __slots__ = ("name", "desc", "metrics", "children", "in_cache", "table")

    def __init__(self, info: dict, in_cache: bool, table: str | None):
        self.name = info["nodeName"]
        self.desc = info["simpleString"]
        self.metrics = {m["name"]: m["accumulatorId"] for m in info["metrics"]}
        self.in_cache = in_cache
        self.table = table
        self.children = [
            _Node(c, in_cache or self.name == "InMemoryTableScan", table)
            for c in info["children"]
        ]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def input_rows_acc(self) -> int | None:
        """Accumulator counting the rows of this node's first input."""
        n = self.children[0] if self.children else None
        while n is not None:
            for key in ("number of output rows", "shuffle records written"):
                if key in n.metrics:
                    return n.metrics[key]
            n = n.children[0] if n.children else None
        return None


def _plan_table(info: dict) -> str | None:
    m = _TABLE_RE.search(info["simpleString"])
    return m.group(1) if info["nodeName"].startswith("Execute Insert") and m else None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Fold:
    """Everything the event log says, indexed for per-round queries."""

    def __init__(self, events: list[dict], spans: list[dict], rank_callsite: str):
        self.spans = spans
        commits = sorted(
            (s for s in spans if s["name"] == "commit_state"), key=lambda s: s["sid"]
        )
        self.commits = {s["sid"]: s for s in commits}
        # round r = (end of commit r, end of commit r + 1]
        self.windows = [
            (a["sid"], a["end"], b["end"])
            for a, b in zip(commits, commits[1:])
            if b["sid"] == a["sid"] + 1
        ]
        self.execs: dict[int, dict] = {}
        self.acc_nodes: dict[int, tuple[_Node, str]] = {}
        self.jobs: list[dict] = []
        self.tasks: list[dict] = []
        job_end: dict[int, float] = {}
        stage_job: dict[int, int] = {}
        self.stages: list[dict] = []
        driver_updates: list[tuple[int, int, int]] = []
        for e in events:
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                info = e["sparkPlanInfo"]
                root = _Node(info, False, _plan_table(info))
                self.execs[e["executionId"]] = {"root": root, "time": e["time"] / 1e3}
                for n in root.walk():
                    for mname, acc in n.metrics.items():
                        self.acc_nodes.setdefault(acc, (n, mname))
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                xid = props.get("spark.sql.execution.id")
                job = {
                    "id": e["Job ID"],
                    "start": e["Submission Time"] / 1e3,
                    "callsite": props.get("callSite.short") or "",
                    "exec": int(xid) if xid is not None else None,
                }
                self.jobs.append(job)
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerJobEnd":
                job_end[e["Job ID"]] = e["Completion Time"] / 1e3
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                self.stages.append(
                    {
                        "id": si["Stage ID"],
                        "name": si["Stage Name"],
                        "start": si["Submission Time"] / 1e3,
                        "end": si["Completion Time"] / 1e3,
                        "tasks": si["Number of Tasks"],
                    }
                )
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                self.tasks.append(
                    {
                        "stage": e["Stage ID"],
                        "launch": ti["Launch Time"] / 1e3,
                        "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                        "updates": [
                            (a["ID"], int(a["Update"]))
                            for a in ti.get("Accumulables", [])
                            if a.get("Metadata") == "sql" and "Update" in a
                        ],
                    }
                )
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc, val in e["accumUpdates"]:
                    driver_updates.append((e["executionId"], acc, int(val)))
        for j in self.jobs:
            j["end"] = job_end.get(j["id"], j["start"])
            root = self.execs.get(j["exec"], {}).get("root")
            if root is not None and root.table:
                j["layer"] = "write:" + root.table
            elif rank_callsite and j["callsite"].endswith(rank_callsite):
                j["layer"] = "rank"
            else:
                j["layer"] = "other"
        for j in self.jobs:
            if j["layer"] == "other" and self._in_span(j["start"], "filter_factory"):
                j["layer"] = "filters"
        for st in self.stages:
            st["job"] = stage_job.get(st["id"])
        self.driver_updates = [
            (self.execs[x]["time"], acc, v) for x, acc, v in driver_updates if x in self.execs
        ]

    def _in_span(self, t: float, name: str) -> bool:
        return any(s["name"] == name and s["start"] <= t <= s["end"] for s in self.spans)

    # ---- per-round queries ----------------------------------------------
    def _acc_sums(self, lo: float, hi: float) -> dict[int, int]:
        sums: dict[int, int] = {}
        for t in self.tasks:
            if lo < t["launch"] <= hi:
                for acc, v in t["updates"]:
                    sums[acc] = sums.get(acc, 0) + v
        for t, acc, v in self.driver_updates:
            if lo < t <= hi:
                sums[acc] = sums.get(acc, 0) + v
        return sums

    def _select(self, sums: dict[int, int], pred, metric: str) -> int:
        return sum(
            v
            for acc, v in sums.items()
            if acc in self.acc_nodes
            and self.acc_nodes[acc][1] == metric
            and pred(self.acc_nodes[acc][0])
        )

    def _input_rows(self, sums: dict[int, int], pred) -> tuple[int, int]:
        """(rows in, rows out) summed over join nodes matching ``pred``."""
        rows_in = rows_out = 0
        nodes = {id(n): n for n, _ in self.acc_nodes.values() if pred(n)}
        for n in nodes.values():
            out_acc = n.metrics.get("number of output rows")
            in_acc = n.input_rows_acc()
            rows_out += sums.get(out_acc, 0)
            rows_in += sums.get(in_acc, 0)
        return rows_in, rows_out

    def span_tree(self) -> list[dict]:
        """One span list: run -> setup | bootstrap | round r -> engine
        call -> Spark job -> stage.  Parents are found by time: a job's
        parent is the outermost engine call its submission falls in, else
        its round."""
        out: list[dict] = []

        def add(name: str, start: float, end: float, parent: int | None, **kw) -> int:
            out.append({"id": len(out), "parent": parent, "name": name,
                        "start": start, "end": end, **kw})
            return len(out) - 1

        by_name = {s["name"]: i for i, s in enumerate(self.spans)}
        run = self.spans[by_name["run"]]
        root = add("run", run["start"], run["end"], None)
        setup = self.spans[by_name["setup"]]
        add("setup", setup["start"], setup["end"], root)
        crawl_i = by_name["run_crawl"]
        boot_end = self.commits[min(self.commits)]["end"]
        parents = [(self.spans[crawl_i]["start"], boot_end,
                    add("bootstrap", self.spans[crawl_i]["start"], boot_end, root))]
        for sid, lo, hi in self.windows:
            parents.append((lo, hi, add(f"round {sid}", lo, hi, root, round=sid)))

        def parent_of(t: float, spans: list[tuple[float, float, int]]) -> int:
            return next((i for lo, hi, i in spans if lo < t <= hi), root)

        calls = []
        for s in self.spans:
            if s["parent"] == crawl_i:
                attrs = {k: s[k] for k in ("sid", "table") if s.get(k) is not None}
                i = add(s["name"], s["start"], s["end"], parent_of(s["start"], parents), **attrs)
                calls.append((s["start"], s["end"], i))
        job_span = {}
        for j in self.jobs:
            p = next((i for lo, hi, i in calls if lo <= j["start"] <= hi), None)
            if p is None:
                p = parent_of(j["start"], parents)
            job_span[j["id"]] = add(f"job {j['id']}", j["start"], j["end"], p, layer=j["layer"])
        for st in self.stages:
            add(st["name"], st["start"], st["end"], job_span.get(st["job"], root), tasks=st["tasks"])
        return out

    def round_rows(self) -> list[dict]:
        return [self._round(*w) for w in self.windows]

    def _round(self, sid: int, lo: float, hi: float) -> dict:
        jobs = [j for j in self.jobs if lo < j["start"] <= hi]
        tasks = [t for t in self.tasks if lo < t["launch"] <= hi]
        wall = hi - lo
        busy = _union_len([(max(j["start"], lo), min(j["end"], hi)) for j in jobs])
        sums = self._acc_sums(lo, hi)
        m_prev = self.commits[sid].get("metrics") or {}
        m = self.commits[sid + 1].get("metrics") or {}
        n_selected = int(m.get("n_selected", 0))
        seen_delta = int(m.get("n_seen_end", 0)) - int(m_prev.get("n_seen_end", 0))

        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["dur"])
        widest = max(by_stage.values(), key=len, default=[])
        med = statistics.median(widest) if widest else 0.0
        task_skew = max(widest) / med if med > 0 else 1.0

        def udf_kind(n: _Node) -> str | None:
            if n.name != "ArrowEvalPython":
                return None
            for kind, names in _UDF_KINDS:
                if any(f"{u}(" in n.desc for u in names):
                    return kind
            return "other"

        def udf(kind: str, metric: str) -> int:
            return self._select(sums, lambda n: udf_kind(n) == kind, metric)

        python_s_by_udf = {
            kind: udf(kind, "time to run Python workers") / 1e3
            for kind in [k for k, _ in _UDF_KINDS] + ["other"]
        }

        def is_python(n: _Node) -> bool:
            return "time to start Python workers" in n.metrics

        def is_probe(n: _Node) -> bool:
            return n.name == "FlatMapCoGroupsInPandas"

        def table_metric(table: str | None, metric: str) -> int:
            return self._select(
                sums,
                lambda n: n.name.startswith("Execute Insert")
                and (table is None or n.table == table),
                metric,
            )

        def polite_exchange(n: _Node) -> bool:
            return n.name == "Exchange" and bool(_POLITE_EXCHANGE_RE.match(n.desc))

        cand_in, cand_out = self._input_rows(
            sums, lambda n: n.in_cache and "LeftAnti" in n.desc and n.name.endswith("Join")
        )

        def is_kids_join(n: _Node) -> bool:
            return (
                not n.in_cache
                and "LeftAnti" in n.desc
                and n.name.endswith("Join")
                and any(c.name == "Generate" for c in n.children[0].walk())
            )

        kids_in, kids_out = self._input_rows(sums, is_kids_join)
        probe_rows = self._select(sums, is_probe, "number of output rows")

        # salt skew: reducer-side rows per task of the salted window exchange
        salted = {
            acc
            for acc, (n, mname) in self.acc_nodes.items()
            if mname == "records read" and _SALTED_EXCHANGE_RE.match(n.desc)
        }
        per_task = [v for t in tasks for acc, v in t["updates"] if acc in salted and v > 0]
        salt_med = statistics.median(per_task) if per_task else 0.0
        salt_skew = max(per_task) / salt_med if salt_med > 0 else 1.0

        rank = [j for j in jobs if j["layer"] == "rank"]
        writes = [j for j in jobs if j["layer"].startswith("write:")]
        commit = self.commits[sid + 1]
        last_write = max((j["end"] for j in writes), default=commit["start"])
        factory_s = sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == "filter_factory" and lo < s["start"] <= hi
        )
        index_rows = self._select(
            sums,
            lambda n: n.name == "InMemoryTableScan" and "html_z#" in n.desc.split("]")[0],
            "number of output rows",
        )
        return {
            "round": sid,
            "wall_s": wall,
            "busy_s": busy,
            "driver_gap_s": wall - busy,
            "n_selected": n_selected,
            "spark.jobs": len(jobs),
            "spark.tasks": len(tasks),
            "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
            "spark.gc_s": sum(t["gc_s"] for t in tasks),
            "spark.task_skew": task_skew,
            "crawl.rank.jobs": len(rank),
            "crawl.rank.s": _union_len([(j["start"], j["end"]) for j in rank]),
            "crawl.fetch.index_rows_scanned": index_rows,
            "frontier.antijoin.rows_in": cand_in,
            "frontier.antijoin.rows_out": cand_out,
            "frontier.kids.rows_in": kids_in,
            "frontier.kids.rows_out": kids_out,
            "frontier.rows": int(m_prev.get("frontier_rows", 0)),
            "frontier.merge.rows_out": int(m.get("frontier_rows", 0)),
            "frontier.shuffle_bytes": self._select(
                sums,
                lambda n: n.name == "Exchange" and not n.in_cache and n.table == "frontier",
                "shuffle bytes written",
            ),
            "robots.rows_in": self._select(
                sums,
                lambda n: n.name == "BroadcastHashJoin" and _ROBOTS_JOIN_RE.search(n.desc),
                "number of output rows",
            ),
            "robots.blocked": max(seen_delta - n_selected, 0),
            "politeness.window_rows_in": max(
                [sums.get(n.metrics.get("shuffle records written"), 0)
                 for n, _ in self.acc_nodes.values() if polite_exchange(n)] or [0]
            ),
            "politeness.shuffle_bytes": self._select(sums, polite_exchange, "shuffle bytes written"),
            "politeness.salt_skew": salt_skew,
            "udfs.python_s_by_udf": python_s_by_udf,
            "udfs.extract.python_s": python_s_by_udf["extract"],
            "udfs.extract.sent_bytes": udf("extract", "data sent to Python workers"),
            "udfs.extract.rows": udf("extract", "number of output rows"),
            "udfs.hash.python_s": python_s_by_udf["hash"],
            # Spark's "time to initialize Python workers" runs from the
            # worker's boot, so with reused workers it grows with worker
            # age; only the start time is a per-task cost
            "udfs.worker_start_s": self._select(sums, is_python, "time to start Python workers")
            / 1e3,
            "filters.factory_s": factory_s,
            "filters.probe.python_s": self._select(sums, is_probe, "time to run Python workers") / 1e3,
            "filters.probe_rows": probe_rows,
            "filters.delta_bytes": table_metric("bloomshards", "written output"),
            "snapstore.commit_s": commit["end"] - commit["start"],
            "snapstore.write_jobs": len(writes),
            "snapstore.bytes_written": table_metric(None, "written output"),
            "snapstore.files_written": table_metric(None, "number of written files"),
            "snapstore.manifest_s": max(commit["end"] - last_write, 0.0),
            "write_jobs_by_table": {
                t: sum(1 for j in writes if j["layer"] == "write:" + t)
                for t in sorted({j["layer"][6:] for j in writes})
            },
        }


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def pages_index_cache_mb(cache_samples: list[dict]) -> float:
    """Peak in-memory size of the RDD cached through every sampled round
    (the pages index; per-round caches come and go)."""
    if not cache_samples:
        return 0.0
    ids = set.intersection(*({r["id"] for r in s["rdds"]} for s in cache_samples))
    peak = 0
    for s in cache_samples:
        for r in s["rdds"]:
            if r["id"] in ids:
                peak = max(peak, r["mem"] + r["disk"])
    return peak / MB


def per_layer(rounds: list[dict], cache_samples: list[dict]) -> dict[str, float]:
    """Per-layer metrics: means per round, ratios of sums over rounds."""
    n = len(rounds)
    if n == 0:
        raise ValueError("no complete round in the trace")

    def mean(k: str) -> float:
        return sum(r[k] for r in rounds) / n

    def total(k: str) -> float:
        return float(sum(r[k] for r in rounds))

    def median(k: str) -> float:
        return statistics.median(r[k] for r in rounds)

    probed = total("filters.probe_rows") > 0
    values = {
        "spark.jobs_per_round": mean("spark.jobs"),
        "spark.tasks_per_round": mean("spark.tasks"),
        "spark.busy_s_per_round": mean("busy_s"),
        "spark.driver_gap_s_per_round": mean("driver_gap_s"),
        "spark.task_cpu_s_per_round": mean("spark.task_cpu_s"),
        "spark.gc_s_per_round": mean("spark.gc_s"),
        "spark.task_skew": median("spark.task_skew"),
        "crawl.rank.jobs_per_round": mean("crawl.rank.jobs"),
        "crawl.rank.s_per_round": mean("crawl.rank.s"),
        "crawl.fetch.index_rows_scanned": mean("crawl.fetch.index_rows_scanned"),
        "crawl.fetch.selected_per_scanned": _ratio(
            total("n_selected"), total("crawl.fetch.index_rows_scanned")
        ),
        "crawl.pages_index.cache_mb": pages_index_cache_mb(cache_samples),
        "frontier.antijoin.rows_in": mean("frontier.antijoin.rows_in"),
        "frontier.antijoin.rows_out": mean("frontier.antijoin.rows_out"),
        "frontier.kids_kept_ratio": _ratio(
            total("frontier.kids.rows_out"), total("frontier.kids.rows_in")
        ),
        "frontier.merge.rows_out": mean("frontier.merge.rows_out"),
        "frontier.shuffle_mb": mean("frontier.shuffle_bytes") / MB,
        "robots.rows_in": mean("robots.rows_in"),
        "robots.blocked": mean("robots.blocked"),
        "politeness.window_rows_in": mean("politeness.window_rows_in"),
        "politeness.selected": mean("n_selected"),
        "politeness.shuffle_mb": mean("politeness.shuffle_bytes") / MB,
        "politeness.salt_skew": median("politeness.salt_skew"),
        "udfs.extract.python_s": mean("udfs.extract.python_s"),
        "udfs.extract.sent_mb": mean("udfs.extract.sent_bytes") / MB,
        "udfs.extract.rows": mean("udfs.extract.rows"),
        "udfs.hash.python_s": mean("udfs.hash.python_s"),
        "udfs.worker_start_s": mean("udfs.worker_start_s"),
        "filters.factory_s": mean("filters.factory_s"),
        "filters.probe.python_s": mean("filters.probe.python_s"),
        "filters.probe_rows": mean("filters.probe_rows"),
        # rows the probe passes on to the exact anti-join, per frontier row
        "filters.maybe_seen_ratio": _ratio(
            total("frontier.antijoin.rows_in"), total("frontier.rows")
        ) if probed else 0.0,
        "filters.delta_mb": mean("filters.delta_bytes") / MB,
        "snapstore.commit_incl_pipeline_s": mean("snapstore.commit_s"),
        "snapstore.write_jobs": mean("snapstore.write_jobs"),
        "snapstore.bytes_written": mean("snapstore.bytes_written"),
        "snapstore.files_written": mean("snapstore.files_written"),
        "snapstore.manifest_s": mean("snapstore.manifest_s"),
    }
    return values


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "B"
    if name.endswith("_s") or "_s_per_round" in name or name.endswith(".s_per_round"):
        return "s"
    if name.endswith(("ratio", "per_scanned", "skew")):
        return "ratio"
    return "count"
