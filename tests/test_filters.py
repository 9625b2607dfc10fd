"""Property tests for the from-scratch bloom/cuckoo structures
(SURVEY.md §5.3) + the bloom-prune ≡ exact-plan equivalence on a real
multi-round crawl."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engine.filters import (
    CuckooShard,
    bloom_build,
    bloom_contains,
    bloom_params,
    bloom_shards_df,
    bloom_tag_store,
)

_keys = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    min_size=0,
    max_size=300,
    unique=True,
)


@given(_keys, _keys)
@settings(max_examples=50, deadline=None)
def test_bloom_no_false_negatives(members, probes):
    m = np.asarray(members, dtype=np.int64).astype(np.uint64)
    n_bits, k = bloom_params(len(m))
    bloom = bloom_build(m, n_bits, k)
    # every member must be reported present
    assert bloom_contains(bloom, n_bits, k, m).all()
    # non-members may false-positive but that's bounded, not asserted here
    p = np.asarray(probes, dtype=np.int64).astype(np.uint64)
    res = bloom_contains(bloom, n_bits, k, p)
    assert res.shape == (len(probes),)


def test_bloom_fpp_bounded():
    members = np.arange(10_000, dtype=np.uint64) * np.uint64(2654435761)
    n_bits, k = bloom_params(len(members), fpp=1e-3)
    bloom = bloom_build(members, n_bits, k)
    probes = (np.arange(100_000, dtype=np.uint64) + np.uint64(1 << 40)) * np.uint64(
        0x9E3779B97F4A7C15
    )
    fp = bloom_contains(bloom, n_bits, k, probes).mean()
    assert fp < 5e-3, fp  # 5× slack over the 1e-3 design point


def test_bloom_shards_no_false_negatives_across_buckets(spark):
    """The crawl's probe path: bloom_tag_store over bloom_shards_df layers
    reports every member maybe-seen whatever its bucket, and a probe
    against an empty layer frame reports every row definitely-unseen."""
    hashes = (np.arange(5000, dtype=np.int64) - 2500) * 7919
    n_shards = 16
    keys = spark.createDataFrame([(int(h),) for h in hashes], "url_hash long")
    layers = bloom_shards_df(keys, n_shards)
    assert layers.count() == n_shards  # signed keys land in every bucket

    rows = bloom_tag_store(keys, layers, n_shards).collect()
    assert sorted(r["url_hash"] for r in rows) == sorted(hashes.tolist())
    assert all(r["_maybe_seen"] for r in rows)

    # empty-shard path: no layer for any bucket → all False
    no_layers = spark.createDataFrame([], layers.schema)
    rows = bloom_tag_store(keys, no_layers, n_shards).collect()
    assert len(rows) == len(hashes)
    assert not any(r["_maybe_seen"] for r in rows)


@given(_keys)
@settings(max_examples=30, deadline=None)
def test_cuckoo_insert_contains(keys):
    # Raw-shard contract: insert may legally REFUSE (tiny tables degenerate
    # — with few buckets the partial-key alt bucket i ^ H(fp)&mask can
    # equal i, halving a key's slots; hypothesis found 9 keys / 4 buckets
    # refusing below nominal load).  What must hold unconditionally is
    # no-false-negative: every key whose insert returned True reads back
    # as present.
    shard = CuckooShard(max(len(keys), 8))
    landed = [k for k in keys if shard.insert(k & 0xFFFFFFFFFFFFFFFF)]
    if landed:
        assert shard.contains_batch(np.asarray(landed, dtype=np.int64)).all()
    # Engine-path contract: the production builder resizes on refusal
    # (engine/filters.py _cuckoo_build, SURVEY.md §7.3 risk 4), so ALL
    # keys always land and read back.
    if keys:
        from engine.filters import _cuckoo_build

        arr = np.asarray(keys, dtype=np.int64)
        built = _cuckoo_build(arr)
        assert built.contains_batch(arr).all()


def test_cuckoo_delete_removes():
    keys = [(i * 2654435761) % (2**63) for i in range(2000)]
    shard = CuckooShard(len(keys))
    for k in keys:
        assert shard.insert(k)
    for k in keys[:1000]:
        assert shard.delete(k)
    # all remaining keys still present (deletes never break others)
    rest = np.asarray(keys[1000:], dtype=np.int64)
    assert shard.contains_batch(rest).all()
    # deleted keys: mostly gone (fingerprint collisions may retain a few)
    gone = ~shard.contains_batch(np.asarray(keys[:1000], dtype=np.int64))
    assert gone.mean() > 0.95


def test_cuckoo_bytes_roundtrip():
    shard = CuckooShard(100)
    for i in range(100):
        shard.insert(i * 7919)
    clone = CuckooShard.from_bytes(shard.to_bytes(), shard.n_buckets)
    probes = np.arange(100, dtype=np.int64) * 7919
    assert (
        clone.contains_batch(probes) == shard.contains_batch(probes)
    ).all()


def test_cuckoo_high_load_fallback_signalled():
    # overfilled shard must REPORT failure (caller rebuilds), not corrupt
    shard = CuckooShard(8)  # tiny: 16 buckets × 4 slots = 64 capacity
    results = [shard.insert(i * 0x9E3779B97F4A7C15 % 2**64) for i in range(80)]
    assert not all(results)  # must eventually refuse
    # keys that were accepted are still all present
    accepted = [
        i * 0x9E3779B97F4A7C15 % 2**64 for i, r in enumerate(results) if r
    ]
    arr = np.asarray(accepted, dtype=np.uint64).astype(np.int64)
    assert shard.contains_batch(arr).all()


@pytest.mark.slow
def test_bloom_pruned_crawl_equals_exact(spark, tmp_path_factory):
    """The whole point: a crawl with the bloom pre-filter produces the
    byte-identical seen set and fetch log as the exact plan."""
    from engine.crawl import EngineConfig, fetch_log, run_crawl
    from engine.filters import bloom_seen_filter_factory
    from engine.snapstore import SnapStore
    from fixtures.gen import gen_corpus, write_parquet
    from engine.io import load_corpus

    d = tmp_path_factory.mktemp("xs_corpus")
    write_parquet(gen_corpus("XS"), str(d))
    tables = load_corpus(spark, str(d))
    cfg = EngineConfig(default_budget=2, max_rounds=100, salt=2)

    from engine.filters import cuckoo_seen_filter_factory

    results = []
    stores = []
    for factory in (
        None,
        bloom_seen_filter_factory(n_shards=8),
        cuckoo_seen_filter_factory(n_shards=8),
        # compaction forced every 2 rounds: full layers must keep the
        # crawl byte-identical while bounding probe-side layer count
        bloom_seen_filter_factory(n_shards=8, compact_every=2),
    ):
        store = SnapStore(str(tmp_path_factory.mktemp("bloomstore")))
        run_crawl(
            spark,
            store,
            tables["pages"],
            tables["robots"],
            tables["seeds"],
            cfg,
            seen_filter_factory=factory,
        )
        log = [tuple(r) for r in fetch_log(spark, store).collect()]
        seen = sorted(
            (r["url_hash"], r["url"])
            for r in store.read(spark, "seen").collect()
        )
        results.append((log, seen))
        stores.append(store)
    assert results[0] == results[1]  # bloom-pruned ≡ exact
    assert results[0] == results[2]  # cuckoo-pruned ≡ exact
    assert results[0] == results[3]  # bloom + compaction ≡ exact

    # the store-backed filters commit their shards WITH the snapshots
    # (executor-built, never collected): bloom layers cover exactly the
    # seen keys; the cuckoo replace-table carries the full shard set
    def live_key_mass(store):
        """Key mass of the layers a probe actually consults: the newest
        full (compaction) layer plus every delta after it — must equal
        the final seen-set size."""
        rows = store.read(spark, "bloomshards").collect()
        fulls = [r["gen"] for r in rows if r["full"]]
        cutoff = max(fulls) if fulls else -1
        return sum(
            r["n_keys"]
            for r in rows
            if (r["full"] and r["gen"] == cutoff) or r["gen"] > cutoff
        )

    n_seen = len(results[0][1])
    assert live_key_mass(stores[1]) == n_seen
    ck = stores[2].read(spark, "cuckooshards")
    assert ck.count() > 0 and not any(
        r["saturated"] for r in ck.collect()
    )
    # compaction actually happened (compact_every=2 forces it), the newest
    # full generation covers exactly the seen set at its snapshot, and the
    # live layers sum to the final seen set
    comp = stores[3].read(spark, "bloomshards").collect()
    full_gens = [r["gen"] for r in comp if r["full"]]
    assert full_gens, "no compaction layer committed"
    cutoff = max(full_gens)
    full_keys = sum(
        r["n_keys"] for r in comp if r["full"] and r["gen"] == cutoff
    )
    assert full_keys == stores[3].read(spark, "seen", cutoff).count()
    assert live_key_mass(stores[3]) == n_seen


def test_adaptive_seen_filter_engages_on_threshold(spark, tmp_path_factory):
    """adaptive_seen_filter_factory (VERDICT r3 #6): below the engage
    threshold the crawl runs the plain exact anti-join (no shard table is
    ever committed); above it the store-backed bloom takes over MID-CRAWL
    via its one-time backfill — and the fetch log + seen set are
    byte-identical in all three modes (filters prune, never decide).  The
    n_seen_end manifest metric that drives the O(1) engage decision must
    chain to exactly the seen-table row count at every snapshot."""
    from engine.crawl import EngineConfig, fetch_log, run_crawl
    from engine.filters import adaptive_seen_filter_factory
    from engine.io import load_corpus
    from engine.snapstore import SnapStore
    from fixtures.gen import gen_corpus, write_parquet

    d = tmp_path_factory.mktemp("xs_corpus_adapt")
    write_parquet(gen_corpus("XS"), str(d))
    tables = load_corpus(spark, str(d))
    cfg = EngineConfig(default_budget=2, max_rounds=100, salt=2)

    results, stores = [], []
    for factory in (
        None,  # exact baseline
        # threshold far above XS scale: auto must act exactly like exact
        adaptive_seen_filter_factory(engage_rows=10**9, n_shards=8),
        # threshold 1: exact at round 0 (seen empty), bloom from round 1 on
        adaptive_seen_filter_factory(engage_rows=1, n_shards=8),
    ):
        store = SnapStore(str(tmp_path_factory.mktemp("adaptstore")))
        run_crawl(
            spark,
            store,
            tables["pages"],
            tables["robots"],
            tables["seeds"],
            cfg,
            seen_filter_factory=factory,
        )
        log = [tuple(r) for r in fetch_log(spark, store).collect()]
        seen = sorted(
            (r["url_hash"], r["url"])
            for r in store.read(spark, "seen").collect()
        )
        results.append((log, seen))
        stores.append(store)

    assert results[0] == results[1]  # not-engaged auto ≡ exact
    assert results[0] == results[2]  # mid-crawl-engaged auto ≡ exact

    # below threshold: the bloom machinery never ran — no shard table
    with pytest.raises(FileNotFoundError):
        stores[1].read(spark, "bloomshards")
    # above threshold: shards exist from the engage round on, and the
    # live layers cover exactly the final seen set
    rows = stores[2].read(spark, "bloomshards").collect()
    assert rows, "engaged adaptive filter committed no shard layers"
    fulls = [r["gen"] for r in rows if r["full"]]
    cutoff = max(fulls) if fulls else -1
    live = sum(
        r["n_keys"]
        for r in rows
        if (r["full"] and r["gen"] == cutoff) or r["gen"] > cutoff
    )
    assert live == len(results[0][1])

    # the engage decision's input: n_seen_end chains to the true count
    for store in stores:
        sid = store.latest()
        m = store.manifest(sid).get("metrics") or {}
        assert m.get("n_seen_end") == store.read(spark, "seen", sid).count()


def test_adaptive_engage_gate_is_bytes_based():
    """Round-4 L-stress refinement (SURVEY.md §6): the default engage
    threshold keys on seen-set BYTES vs executor memory (probe cost is
    O(frontier), savings are O(seen) — rows alone mis-price a
    10^10-frontier/10^8-seen crawl).  The bytes gate must resolve to
    ceil(engage_bytes / row_bytes) rows, an explicit engage_rows must
    override it, and the default must sit well above the measured
    tax regimes (M: 5×10^5 seen, L: 5×10^5 seen / 10^7 frontier)."""
    from engine.filters import (
        ADAPTIVE_BLOOM_ENGAGE_BYTES,
        SEEN_ROW_BYTES,
        adaptive_seen_filter_factory,
    )

    class _Store:
        def __init__(self, n):
            self._n = n

        def manifest(self, sid):
            return {"metrics": {"n_seen_end": self._n}}

    sentinel = object()

    def probe(n, **kw):
        f = adaptive_seen_filter_factory(
            inner_factory=lambda spark, store, sid: sentinel, **kw
        )
        return f(None, _Store(n), 0)

    default_rows = -(-ADAPTIVE_BLOOM_ENGAGE_BYTES // SEEN_ROW_BYTES)
    assert probe(default_rows - 1) is None
    assert probe(default_rows) is sentinel
    # bytes parameterization: 1 MiB at 64 B/row engages at 16384 rows
    assert probe(16383, engage_bytes=1 << 20, row_bytes=64) is None
    assert probe(16384, engage_bytes=1 << 20, row_bytes=64) is sentinel
    # explicit rows override wins over the bytes gate
    assert probe(10, engage_rows=10, engage_bytes=1 << 40) is sentinel
    # the measured sub-crossover regimes stay un-engaged by a wide margin
    assert default_rows > 10 * 5 * 10**5  # >10x the M/L seen sets


@pytest.mark.slow
def test_bloom_filtered_crawl_survives_kill_resume(spark, tmp_path_factory):
    """Kill between data write and manifest commit WITH the store-backed
    bloom filter (compaction forced): the re-run must overwrite the orphan
    shard layers and converge to the exact plan's final state — shard
    visibility is manifest-gated exactly like every other table."""
    import os

    from engine.crawl import EngineConfig, fetch_log, run_crawl
    from engine.filters import bloom_seen_filter_factory
    from engine.io import load_corpus
    from engine.snapstore import SnapStore
    from fixtures.gen import gen_corpus, write_parquet
    from tests.test_resume import KillBeforeManifest

    d = tmp_path_factory.mktemp("xs_corpus_bf")
    write_parquet(gen_corpus("XS"), str(d))
    tables = load_corpus(spark, str(d))
    cfg = EngineConfig(default_budget=2, max_rounds=100, salt=2)
    factory = bloom_seen_filter_factory(n_shards=8, compact_every=2)

    ref = SnapStore(str(tmp_path_factory.mktemp("bf_ref")))
    run_crawl(
        spark, ref, tables["pages"], tables["robots"], tables["seeds"], cfg
    )

    root = str(tmp_path_factory.mktemp("bf_kill"))
    kill = KillBeforeManifest(root, kill_at=3)
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_crawl(
            spark, kill, tables["pages"], tables["robots"], tables["seeds"],
            cfg, seen_filter_factory=factory,
        )
    store = SnapStore(root)
    assert store.latest() == 2
    assert os.path.isdir(os.path.join(store.data_dir, "bloomshards"))

    run_crawl(
        spark, store, tables["pages"], tables["robots"], tables["seeds"],
        cfg, seen_filter_factory=factory,
    )

    def state(s):
        log = [tuple(r) for r in fetch_log(spark, s).collect()]
        seen = sorted(
            (r["url_hash"], r["url"]) for r in s.read(spark, "seen").collect()
        )
        return log, seen

    assert state(store) == state(ref)
