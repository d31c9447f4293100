"""Driver-side cache hygiene: the session store in sources.catalog — the
memo (analyzed scans, prepared statements, fitted models), the derived
pins and their byte budget — must stay bounded, must meter what it
claims to, and must actually empty when a caller clears it."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from smart_water_management_spark.plans import dashboard
from smart_water_management_spark.sources import catalog

from .conftest import SF_DIR


def test_clear_table_cache_evicts_plan_cache_too(spark):
    """clear_table_cache is the 'rescan fresh layout' hook used before the
    physical-plan assertions; under the non-small posture scans memoize in
    _PLAN_CACHE (not _TABLE_CACHE), so clearing must cover both or a
    rewritten table dir keeps serving the stale resolved file index."""
    key = (catalog.session_key(spark), "/root/testdata/sf0.001", "region")
    catalog._PLAN_CACHE[key] = catalog._read_table(
        spark, "/root/testdata/sf0.001", "region"
    )
    catalog.clear_table_cache(spark)
    assert key not in catalog._PLAN_CACHE
    assert not [k for k in catalog._TABLE_CACHE if k[0] == key[0]]


def test_pin_derived_budget_evicts_lru(spark, monkeypatch):
    """VERDICT r11 item 3: derived pins must be bytes-budgeted with LRU
    eviction — a session replaying the full registry pins LSH signatures,
    component tables, band tables and PQ codes, and an unbounded registry
    would be a 100 TB scale risk. Under a 1-byte budget every OLDER pin
    must be evicted (unpersisted + dropped) as soon as a newer
    materialized pin exceeds the budget, while the requested pin itself
    always survives its own call."""
    monkeypatch.setenv("SWM_PIN_BUDGET_BYTES", "1")
    sess = catalog.session_key(spark)
    try:
        a = catalog.pin_derived(
            spark, "/budget-test", "pin_a",
            lambda: spark.range(10_000).selectExpr("id", "id * 2 AS v"),
        )
        a.count()  # materialize: pin_a now holds blocks > 1 byte
        key_a = (sess, "/budget-test", "derived:pin_a")
        assert key_a in catalog._TABLE_CACHE
        b = catalog.pin_derived(
            spark, "/budget-test", "pin_b",
            lambda: spark.range(10_000).selectExpr("id", "id * 3 AS v"),
        )
        # pin_a (LRU, materialized, over budget) was evicted; pin_b — the
        # pin just requested — is never its own victim.
        assert key_a not in catalog._TABLE_CACHE
        assert (sess, "/budget-test", "derived:pin_b") in catalog._TABLE_CACHE
        assert a.storageLevel.useMemory is False  # really unpersisted
        b.count()
        # a later unrelated pin call now evicts the materialized pin_b too
        catalog.pin_derived(
            spark, "/budget-test", "pin_c", lambda: spark.range(10)
        )
        assert (sess, "/budget-test", "derived:pin_b") not in catalog._TABLE_CACHE
    finally:
        catalog.clear_table_cache(spark)


def test_plan_cache_is_lru_bounded(spark, monkeypatch):
    """The memo is keyed by caller data — (session, sf_dir, table) for
    analyzed scans, (session, sf_dir, sql) for the dashboard's prepared
    statements — so one long-lived driver touching many tables, dirs or
    ad-hoc SQL texts must not accumulate entries without limit. Both
    inputs go through the real population paths (load_table under the
    production posture, the branch that memoizes instead of persisting;
    dashboard._sql) and share the one LRU bound."""
    from smart_water_management_spark import registry

    catalog._PLAN_CACHE.clear()
    monkeypatch.setattr(catalog, "_PLAN_CACHE_MAX", 4)
    registry.set_posture("production")
    try:
        for name in ["region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem"]:
            catalog.load_table(spark, SF_DIR, name)
        assert len(catalog._PLAN_CACHE) == 4
        # LRU: the most recently loaded tables survive.
        kept = {k[-1] for k in catalog._PLAN_CACHE}
        assert kept == {"part", "orders", "lineitem", "supplier"}

        for i in range(7):
            dashboard._sql(spark, SF_DIR, f"SELECT {i} AS v", tables=[])
        assert len(catalog._PLAN_CACHE) == 4
        kept = {k[-1] for k in catalog._PLAN_CACHE}
        assert kept == {f"SELECT {i} AS v" for i in range(3, 7)}
    finally:
        registry.set_posture("auto")
        catalog._PLAN_CACHE.clear()


def test_plan_memo_is_lru_bounded(spark):
    """The dashboard's prepared statements are memoized by raw SQL text; a
    session issuing varied ad-hoc SQL must not grow the memo without
    limit, at its real bound."""
    catalog._PLAN_CACHE.clear()
    try:
        for i in range(catalog._PLAN_CACHE_MAX + 32):
            dashboard._sql(spark, SF_DIR, f"SELECT {i} AS v", tables=[])
        assert len(catalog._PLAN_CACHE) == catalog._PLAN_CACHE_MAX
        # Most-recent entries survive; the earliest were evicted first.
        sqls = {k[-1] for k in catalog._PLAN_CACHE if k[1] == "sql"}
        assert f"SELECT {catalog._PLAN_CACHE_MAX + 31} AS v" in sqls
        assert "SELECT 0 AS v" not in sqls
    finally:
        catalog._PLAN_CACHE.clear()


def _stored_bytes(spark) -> dict[int, int]:
    return {
        i.id(): i.memSize() + i.diskSize()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _pin(spark, name: str, rows: int, k: int) -> DataFrame:
    df = catalog.pin_derived(
        spark, "/budget-test", name,
        lambda: spark.range(rows).selectExpr("id", f"id * {k} AS v"),
    )
    df.count()  # materialize the pin's blocks
    return df


def test_pin_budget_ignores_resident_checkpoint(spark, monkeypatch):
    """The budget meters the pins' own blocks only. A resident
    localCheckpoint larger than the whole budget holds blocks no pin owns
    and the budget cannot evict; counting it made every new pin evict
    every older one. Pins whose own bytes fit must all stay."""
    catalog.clear_table_cache(spark)
    budget = 1_000_000
    before = set(_stored_bytes(spark))
    checkpoint = spark.range(50_000).selectExpr("id", "id * 3 AS w").localCheckpoint()
    checkpoint_rdds = set(_stored_bytes(spark)) - before
    assert sum(_stored_bytes(spark)[i] for i in checkpoint_rdds) > budget
    monkeypatch.setenv("SWM_PIN_BUDGET_BYTES", str(budget))
    try:
        pins = [_pin(spark, f"small_{i}", 100, i + 2) for i in range(3)]
        catalog.pin_derived(spark, "/budget-test", "small_new", lambda: spark.range(5))
        sess = catalog.session_key(spark)
        for i, df in enumerate(pins):
            assert (sess, "/budget-test", f"derived:small_{i}") in catalog._PIN_LRU
            assert df.storageLevel != StorageLevel.NONE
        assert checkpoint.count() == 50_000
    finally:
        catalog.clear_table_cache(spark)
        persistent = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd_id in checkpoint_rdds:
            persistent.get(rdd_id).unpersist(True)


def test_pin_budget_evicts_exactly_the_lru_pins(spark, monkeypatch):
    """With pins over the budget, the least-recently-used materialized
    pins — by use, not by creation — are evicted until the pins fit: each
    victim once, with its blocks gone (storageLevel NONE) when the call
    returns. Nothing else is touched: not a resident cached frame that is
    no pin (a base scan, a query-scoped persist), not an older pin that
    has run no action (it frees nothing)."""
    catalog.clear_table_cache(spark)
    sess = catalog.session_key(spark)
    resident = spark.range(30_000).selectExpr("id", "id * 7 AS w").persist()
    resident.count()
    try:
        lazy = catalog.pin_derived(
            spark, "/budget-test", "lru_lazy", lambda: spark.range(7)
        )
        before = set(_stored_bytes(spark))
        a = _pin(spark, "lru_a", 20_000, 2)
        one_pin = sum(v for i, v in _stored_bytes(spark).items() if i not in before)
        b = _pin(spark, "lru_b", 20_000, 3)
        c = _pin(spark, "lru_c", 20_000, 5)
        assert catalog.pin_derived(spark, "/budget-test", "lru_a", None) is a
        # LRU order is now b, c, a: three pins over a 2.5-pin budget must
        # lose b and nothing else
        monkeypatch.setenv("SWM_PIN_BUDGET_BYTES", str(int(2.5 * one_pin)))
        unpersisted = []
        frame_type = type(b)  # the concrete (classic) DataFrame class
        real_unpersist = frame_type.unpersist

        def counting_unpersist(self, blocking=False):
            unpersisted.append(self)
            return real_unpersist(self, blocking)

        monkeypatch.setattr(frame_type, "unpersist", counting_unpersist)
        catalog.pin_derived(spark, "/budget-test", "lru_d", lambda: spark.range(5))
        monkeypatch.setattr(frame_type, "unpersist", real_unpersist)
        assert unpersisted == [b]
        assert b.storageLevel == StorageLevel.NONE
        assert (sess, "/budget-test", "derived:lru_b") not in catalog._PIN_LRU
        assert resident.storageLevel != StorageLevel.NONE
        for name, df in (("lru_lazy", lazy), ("lru_a", a), ("lru_c", c)):
            assert (sess, "/budget-test", f"derived:{name}") in catalog._PIN_LRU
            assert df.storageLevel != StorageLevel.NONE
    finally:
        catalog.clear_table_cache(spark)
        resident.unpersist()


def test_clear_table_cache_drops_memoized_plans_and_models(spark):
    """clear_table_cache empties the session's whole store: the next call
    re-prepares the dashboard statement and refits the KMeans model, the
    IVF coarse quantizer and the PQ codebooks instead of serving the
    memoized ones."""
    from smart_water_management_spark.llmdata import similarity
    from smart_water_management_spark.ml import analytics

    em = catalog.load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "label", similarity._dbl("embedding").alias("e")
    )

    def served():
        return (
            dashboard._sql(spark, SF_DIR, dashboard._Q1, ["events"]),
            analytics._cached_kmeans(spark, SF_DIR)[0],
            similarity.ivf_index(em, cache_key=SF_DIR)[1],
            similarity.pq_codebooks(em, cache_key=SF_DIR),
        )

    first = served()
    assert all(x is y for x, y in zip(first, served()))
    catalog.clear_table_cache(spark)
    after = served()
    for x, y in zip(first, after):
        assert x is not y
    catalog.clear_table_cache(spark)


def test_fan_out_guard_without_rdd_at_scale(spark):
    """r12 (VERDICT r11 item 4): fan_out must (a) still fan a one-file
    local scan to the session's core count, (b) still no-op on an
    already-fanned frame (the exact-partition fallback), and (c) make
    the at-scale no-op decision from the resolved file index — a frame
    with more input files than target/min_factor returns unchanged
    (identity), which never needs the plan-to-RDD conversion."""
    d = catalog.load_table(spark, "/root/testdata/sf0.001", "documents")
    target = spark.sparkContext.defaultParallelism
    fanned = catalog.fan_out(d, spark)
    assert fanned.rdd.getNumPartitions() == target
    assert catalog.fan_out(fanned, spark) is fanned  # no double repartition
    # many-files scale posture: identity without consulting df.rdd
    many = d
    real_input_files = type(d).inputFiles
    try:
        type(d).inputFiles = lambda self: [f"f{i}" for i in range(target)]
        assert catalog.fan_out(many, spark) is many
    finally:
        type(d).inputFiles = real_input_files


def test_q13_rides_prepared_statement_memo(spark):
    """r12 (VERDICT r11 #6): q13 was the one dashboard query outside the
    prepared-statement memo (~87 ms of view re-registration + re-parse
    per call). Repeated invocations must now return the SAME memoized
    DataFrame object, and its analytical view must exist."""
    from smart_water_management_spark.plans.dashboard import q13

    a = q13(spark, "/root/testdata/sf0.001")
    b = q13(spark, "/root/testdata/sf0.001")
    assert a is b
    assert spark.catalog.tableExists("v_district_performance")
    assert a.count() > 0
