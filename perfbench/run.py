"""Crawl benchmark: ``engine.crawl.run_crawl`` on generated workloads.

    python3 perfbench/run.py --workload s-golden --seed 1 --seconds 40 --trace 0

Run from the repository root.  Each crawl runs in a fresh JVM pinned with
``taskset`` to the first ``min(4, nproc)`` allowed cores (``child.py``),
with its own snapshot store, Spark local dir and event-log dir, removed
afterwards.  Crawls repeat while another one fits in ``--seconds``; at
least one always runs.  Every crawl's fetch log, seen set and text
digests are checked against the ``refspec`` oracle (``oracle.py``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and reports the per-layer metrics folded from it
(``fold.py``), with the tracing overhead against the untraced result of the
same workload and seed when one is in ``.bench_results/``.  The full
result goes to ``.bench_results/``; the tables printed before the summary
are rendered from that JSON by ``render.py``.  The last stdout line is the
summary JSON: ``{"correct", "attempted", "failed", "metrics"}``; a crawl
that raises or fails the oracle makes ``correct`` false and the exit code
1.  ``attempted`` and ``failed`` count rounds.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".bench_cache")
RUNS = os.path.join(ROOT, ".bench_runs")
RESULTS = os.path.join(ROOT, ".bench_results")
GOLDEN = os.path.join(ROOT, "tests", "golden", "s_corpus.json")
# Crawl children still running this long after the run started are killed
# and counted failed, so a run exits within its time limit.
RUN_DEADLINE_S = 170
END_TO_END = ("urls_per_s", "round_s.p50", "setup_s", "peak_rss_mb", "store_bytes_per_url")

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import fold  # noqa: E402
import oracle  # noqa: E402
import render  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def host_cores() -> list[int]:
    return sorted(os.sched_getaffinity(0))[:4]


def host_heap() -> str:
    """Driver heap sized from the host: an eighth of MemTotal, 1-2 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{max(1024, min(2048, total_kb // 1024 // 8))}m"


def rank_callsite() -> str:
    """``file:line`` of the fetch_seq rank collect in engine/crawl.py, the
    call site Spark records for its jobs."""
    from engine import crawl

    lines, first = inspect.getsourcelines(crawl._global_seq_by_url)
    for i, line in enumerate(lines):
        if ".collect()" in line:
            return f"crawl.py:{first + i}"
    return ""


def kill_session(proc: subprocess.Popen) -> None:
    """Kill the child's session (the child, its JVM and the JVM's Python
    workers) and wait until no process of it is left."""
    for _ in range(50):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        proc.poll()
        time.sleep(0.1)
    proc.wait()


def run_child(spec: dict, cores: list[int], deadline: float) -> dict | None:
    """Run one crawl child; its result dict, or None if it failed."""
    run_dir = spec["run_dir"]
    for d in ("events", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    spec_path = os.path.join(run_dir, "spec.json")
    spec["spawn_time"] = time.time()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               TMPDIR=os.path.join(run_dir, "tmp"))
    cmd = ["taskset", "-c", ",".join(map(str, cores[: spec["cores"]])),
           sys.executable, os.path.join(HERE, "child.py"), spec_path]
    log_path = os.path.join(run_dir, "child.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            kill_session(proc)
    if proc.returncode != 0 or not os.path.exists(spec["out"]):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print(f"crawl child failed (exit {proc.returncode}):\n{tail}", file=sys.stderr)
        return None
    with open(spec["out"]) as fh:
        return json.load(fh)


def round_walls(spans: list[dict]) -> list[float]:
    ends = {s["sid"]: s["end"] for s in spans if s["name"] == "commit_state"}
    return [ends[s + 1] - ends[s] for s in sorted(ends) if s + 1 in ends]


def check_output(w, seed: int, corpus_dir: str, seeds, out: dict) -> str | None:
    """None if the crawl's output equals the oracle's, else the reason."""
    spec = json.dumps([workloads.CORPUS_VERSION, workloads.describe(w), seed], sort_keys=True)
    key = f"{w.name}-seed{seed}-{hashlib.sha256(spec.encode()).hexdigest()[:16]}"
    want = oracle.reference(CACHE, key, corpus_dir, seeds, workloads.engine_config(w))
    got = oracle.digests(out)
    for k in ("fetch_log", "seen", "text_sha256"):
        if got[k] != want[k]:
            return f"{k} differs from refspec (engine {got['n_fetched']} fetched/" \
                   f"{got['n_seen']} seen, refspec {want['n_fetched']}/{want['n_seen']})"
    if w.name == "s-golden" and seed == workloads.GOLDEN_SEED:
        return oracle.golden_mismatch(GOLDEN, out, w.max_rounds)
    return None


def crawl_sample(res: dict) -> dict:
    n = len(res["digests"]["fetch_log"])
    return {
        "setup_s": res["setup_s"],
        "crawl_s": res["crawl_s"],
        "rounds": res["rounds"],
        "round_walls": round_walls(res["spans"]),
        "urls": n,
        "urls_per_s": n / res["crawl_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "rss_by_process": res["rss_by_process"],
        "store_bytes": res["store_bytes"],
        "store_files": res["store_files"],
        "store_bytes_per_url": res["store_bytes"] / max(n, 1),
    }


def end_to_end(samples: list[dict]) -> dict:
    walls = [w for s in samples for w in s["round_walls"]]
    out = {
        "urls_per_s": stats.summary([s["urls_per_s"] for s in samples]),
        "round_s.p50": stats.summary(walls),
        "setup_s": stats.summary([s["setup_s"] for s in samples]),
        "peak_rss_mb": stats.summary([s["peak_rss_mb"] for s in samples]),
        "store_bytes_per_url": stats.summary([s["store_bytes_per_url"] for s in samples]),
    }
    tail = stats.tail(walls)
    if tail is not None:
        out["round_s.tail"] = {"n": tail["n"], "median": tail["value"], "pct": tail["pct"]}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    # on SIGTERM, unwind so the crawl child is killed and run dirs removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import fixtures.gen  # noqa: F401
        import refspec  # noqa: F401
        import engine.crawl  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the root of a crawl-engine checkout ({e})", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    w = workloads.WORKLOADS[args.workload]
    cores = host_cores()
    corpus_dir = workloads.corpus_dir(CACHE, w)
    run_root = os.path.join(RUNS, f"{w.name}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    try:
        seeds = workloads.seed_list(w, corpus_dir, args.seed)
        seeds_path = os.path.join(run_root, "seeds.parquet")
        workloads.write_seeds(seeds_path, seeds)
        # legs of one sample: a traced run crawls once with the event log
        # on; fetch-heavy pairs local[N] with local[1], in an order that
        # alternates with the seed so neither leg always runs first
        legs = [(len(cores), args.trace)]
        if w.scaling_leg and not args.trace:
            legs.append((1, 0))
            if args.seed % 2:
                legs.reverse()
        measure_end = t_start + args.seconds
        deadline = t_start + RUN_DEADLINE_S
        results: list[tuple[int, int, dict | None]] = []
        attempted = failed = 0
        sample_s = 0.0
        while True:
            t0 = time.time()
            for n_cores, trace in legs:
                k = len(results)
                spec = {
                    "workload": w.name,
                    "run_dir": os.path.join(run_root, f"c{k}"),
                    "out": os.path.join(run_root, f"c{k}", "result.json"),
                    "cores": n_cores,
                    "heap": host_heap(),
                    "trace": trace,
                    "shuffle_partitions": workloads.SHUFFLE_PARTITIONS,
                    "corpus_dir": corpus_dir,
                    "seeds_path": seeds_path,
                    "seen_filter": w.seen_filter,
                    "engine_config": workloads.engine_config(w),
                }
                res = run_child(spec, cores, deadline)
                attempted += w.max_rounds
                if res is not None:
                    problem = check_output(w, args.seed, corpus_dir, seeds, res["digests"])
                    if problem:
                        print(f"oracle mismatch ({w.name}, seed {args.seed}): {problem}",
                              file=sys.stderr)
                        res = None
                    elif trace:
                        res["per_layer"] = fold_trace(res, os.path.join(spec["run_dir"], "events"))
                if res is None:
                    failed += w.max_rounds
                results.append((n_cores, trace, res))
                if trace == 0 and res is not None:
                    shutil.rmtree(spec["run_dir"], ignore_errors=True)
            sample_s = max(sample_s, time.time() - t0)
            if failed or time.time() + sample_s > measure_end:
                break
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        if os.path.isdir(RUNS) and not os.listdir(RUNS):
            os.rmdir(RUNS)

    ok = [r for r in results if r[2] is not None]
    main_leg = [crawl_sample(r) for c, t, r in ok if c == len(cores)]
    result = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cores": len(cores),
        "heap": host_heap(),
        "config": workloads.describe(w),
        "attempted": attempted,
        "failed": failed,
        "wall_s": time.time() - t_start,
        "samples": main_leg,
    }
    if main_leg:
        result["end_to_end"] = end_to_end(main_leg)
        result["end_to_end"]["failed_ratio"] = {"n": 1, "median": failed / attempted}
        one = [crawl_sample(r)["urls_per_s"] for c, t, r in ok if c == 1]
        if one:
            # pairwise: each local[N] crawl against the local[1] crawl
            # of the same sample
            result["end_to_end"]["scaling_eff_1to4"] = stats.summary(
                [s["urls_per_s"] / (len(cores) * u1) for s, u1 in zip(main_leg, one)]
            )
    traced = [r for c, t, r in ok if t == 1]
    if traced:
        result["per_layer"] = traced[0]["per_layer"]["metrics"]
        result["rounds"] = traced[0]["per_layer"]["rounds"]
        result["spans"] = traced[0]["per_layer"]["spans"]
    os.makedirs(RESULTS, exist_ok=True)
    out_path = os.path.join(RESULTS, f"{w.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    untraced = os.path.join(RESULTS, f"{w.name}-seed{args.seed}-trace0.json")
    print(render.render(result, untraced if args.trace else None))
    print(f"result: {os.path.relpath(out_path, ROOT)}")

    correct = failed == 0 and bool(main_leg)
    if args.trace:
        names = sorted(result.get("per_layer", {}))
        metrics = {k: {"value": result["per_layer"][k], "unit": fold.layer_unit(k)}
                   for k in names}
    else:
        e2e = result.get("end_to_end", {})
        metrics = {k: {"value": e2e[k]["median"], "unit": render.UNITS[k]} for k in END_TO_END if k in e2e}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def fold_trace(res: dict, events_dir: str) -> dict:
    """Per-layer metrics, per-round rows and the span tree of a traced crawl."""
    events = fold.read_events(fold.find_event_log(events_dir))
    folded = fold.Fold(events, res["spans"], rank_callsite())
    rows = folded.round_rows()
    samples = [s for s in res["cache_samples"] if s["sid"] >= 1]
    return {"metrics": fold.per_layer(rows, samples), "rounds": rows, "spans": folded.span_tree()}


if __name__ == "__main__":
    sys.exit(main())
