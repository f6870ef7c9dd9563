"""Query registry backing the driver contract (`__spark_entry__.py`).

Every operator the engine claims ships as a named entry: a PySpark
builder ``fn(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
the equivalent ANSI SQL for the DuckDB oracle. Column names/aliases must
match exactly between the two — the driver's compare hashes values
after sorting columns by name.

Resource lifetime: ``@register`` runs every entry inside one
`query_scope`.  An entry returns a lazy plan that its caller collects
afterwards, so what the entry persisted, cached, checkpointed or
broadcast (through `broadcast`) stays held until the next registry
entry is called in the same process, which releases it first.  An
entry's result is therefore valid until the next registry entry is
called, and entries on one SparkContext run one at a time.  Until then
the entry's Dataset caches also serve any matching query the caller
runs on the session, as every Spark cache does.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from sparkml_som_spark.session import local_frame


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None => driver records rows-only check
    desc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


_MATERIALIZE_SMALL_CAP = 100_000


def materialize_small(df: DataFrame, max_rows: int = _MATERIALIZE_SMALL_CAP) -> DataFrame:
    """Collect a SMALL result and return an equivalent fresh DataFrame
    that no longer reads the entry's persisted intermediates.

    Only use when the result is PROVABLY bounded (grid cells, top-k) —
    it pins the result on the driver.  Boundedness is ENFORCED, not
    assumed: the collect goes through ``limit(max_rows + 1)`` so an
    accidentally-unbounded caller fails fast with a clear error after
    shipping at most max_rows + 1 rows to the driver — it cannot OOM
    the driver first.  (When the result fits the cap, ``limit`` returns
    the complete set, so the returned DataFrame is value-identical to
    ``df``.)

    The rows come back as one Arrow table and go out again through
    `local_frame`, never as Python ``Row``s: the result plans as a
    ``LocalRelation`` and reading it starts no Spark job."""
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        raise ValueError(
            f"materialize_small: result exceeds the {max_rows}-row bound; "
            "return the plan itself for unbounded outputs"
        )
    return local_frame(df.sparkSession, table, df.schema)


# --- resource scope ------------------------------------------------------
# The one scope that is running or was last left holding resources:
# `running` while an entry runs (a nested entry joins it), and the
# holdings (RDD ids, Dataset cache entries, broadcasts) of the scope
# that ran last, released when the next scope starts.
_SCOPE: dict = {"running": False, "spark": None, "rdds": set(), "caches": [], "broadcasts": []}


def _alive(spark: SparkSession | None) -> bool:
    from pyspark import SparkContext

    sc = spark.sparkContext if spark is not None else None
    return sc is not None and sc._jsc is not None and SparkContext._active_spark_context is sc


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    # one py4j round trip: iterating the Java key set from Python costs
    # one per element and measured ~50 ms for three ids
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(i) for i in ids.split(",") if i}


def _dataset_caches(spark: SparkSession) -> dict:
    """identity -> CachedData for the session's Dataset caches.  A
    persisted Dataset only creates (and registers) its RDD on its first
    execution, which for an entry's result is the caller's collect; and
    unpersisting that RDD alone would leave the cache entry in place,
    so a later persist of the same plan would never cache again.  The
    scope therefore releases Dataset caches through the CacheManager,
    which keeps them in a private field."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    ident = spark._jvm.System.identityHashCode
    return {ident(cd): cd for cd in (entries.apply(i) for i in range(entries.size()))}


def _release_held() -> None:
    spark, caches, rdds, bcs = (_SCOPE[k] for k in ("spark", "caches", "rdds", "broadcasts"))
    _SCOPE.update(spark=None, caches=[], rdds=set(), broadcasts=[])
    if not _alive(spark):
        return  # the context that owned them has stopped; so have they
    if caches:
        live = _dataset_caches(spark)
        cm = spark._jsparkSession.sharedState().cacheManager()
        for key in caches:
            if key in live:  # not already uncached by the entry itself
                cm.uncacheQuery(spark._jsparkSession, live[key].plan(), False, False)
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in rdds:
        rdd = persistent.get(rdd_id)
        if rdd is not None:
            rdd.unpersist(False)
    for bc in bcs:
        bc.destroy()


@contextmanager
def _scoped(spark: SparkSession, release_at_exit: bool):
    if _SCOPE["running"]:  # an entry called from a running entry joins its scope
        yield
        return
    _release_held()
    rdds0, caches0 = _persistent_rdd_ids(spark), set(_dataset_caches(spark))
    _SCOPE.update(running=True, spark=spark)
    raised = True
    try:
        yield
        raised = False
    finally:
        _SCOPE["running"] = False
        if _alive(spark):
            _SCOPE["rdds"] = _persistent_rdd_ids(spark) - rdds0
            _SCOPE["caches"] = [k for k in _dataset_caches(spark) if k not in caches0]
        if raised or release_at_exit:
            _release_held()


def query_scope(target):
    """The resource scope of a registry entry.

    It holds every RDD the entry persists, caches or checkpoints (the
    diff of the context's persistent RDDs and of the session's Dataset
    caches over the entry's run) and every broadcast it creates through
    `broadcast`.  ``query_scope(fn)`` wraps an entry builder
    ``fn(spark, ...)`` (``@register`` does this for every entry): its
    holdings stay alive for the lazy plan it returns and are released
    when the next scope starts, or at once if ``fn`` raises.  ``with
    query_scope(spark):`` runs a block as one scope and releases its
    holdings at exit.  A scope started while another runs joins it."""
    if isinstance(target, SparkSession):
        return _scoped(target, release_at_exit=True)

    @functools.wraps(target)
    def scoped_entry(spark, *args, **kwargs):
        with _scoped(spark, release_at_exit=False):
            return target(spark, *args, **kwargs)

    return scoped_entry


def broadcast(spark: SparkSession, value):
    """``sparkContext.broadcast(value)``, destroyed when the running
    scope releases its holdings (untracked when no scope runs)."""
    bc = spark.sparkContext.broadcast(value)
    if _SCOPE["running"]:
        _SCOPE["broadcasts"].append(bc)
    return bc


@contextmanager
def session_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf key for the block, then restore it: the
    previous explicit value is set back, and a key that had no explicit
    value is unset, so its default applies again.  The runtime conf is
    session-global, so a query compiled on the same session from
    another thread inside the block would see the override: callers
    assume one thread per session (the registry's one-entry-at-a-time
    contract)."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def drain_stream(query, entry: str, timeout_s: int = 300) -> None:
    """Wait for an ``availableNow`` stream to finish, always stop it,
    and raise ``TimeoutError`` naming ``entry`` when it did not drain in
    ``timeout_s``: a timed-out stream has processed only SOME epochs,
    and reading its partial state would return silently-wrong results."""
    try:
        finished = query.awaitTermination(timeout_s)
    finally:
        query.stop()
    if not finished:
        raise TimeoutError(
            f"{entry}: availableNow stream did not drain within {timeout_s}s; "
            "partial state discarded"
        )


def register(name: str, sql: str | None = None, desc: str = ""):
    def deco(fn):
        entry = query_scope(fn)
        REGISTRY[name] = QuerySpec(name=name, fn=entry, sql=sql, desc=desc)
        return entry

    return deco


# The driver's correctness gate checks only the first 50 registry entries
# (dict iteration order); _PRIORITY pins them to the front of the registry.
# tools/rotation_plan.py computes the next rotation from the verdict history.
_PRIORITY: tuple[str, ...] = (
    # continuity keepers (unchanged since r12): the SOM flagship and a
    # representative TPC-H row stay driver-visible every round
    "som_cluster_summary",
    "q1_pricing_summary",
    # r15 incoming: all 26 remaining single-verdict entries (r13
    # first-timers) — second verdict, strict canon
    "chunk_overlap_plan",
    "delete_tombstone_audit",
    "drift_tv_distance",
    "embedding_norm_audit",
    "forecast_seasonal_baseline",
    "incremental_agg_merge",
    "interval_coverage_users",
    "join_hint_shuffle_hash",
    "mrr_prefix_rank",
    "null_skew_split_join",
    "param_sql_part_stats",
    "path_trigrams_events",
    "posexplode_tokens",
    "profile_table_columns",
    "seasonality_profile_events",
    "segment_algebra_users",
    "session_bounce_rollup",
    "share_of_parent_revenue",
    "sla_ship_latency_percentiles",
    "source_binaryfile_blobs",
    "streak_longest_active",
    "text_bpe_token_stats",
    "text_lang_profile",
    "twa_intraday_value",
    "word_freq_topk",
    "wow_revenue_growth",
    # r15 fillers: two-verdict entries with the oldest latest verdict,
    # oldest first — the r02+r03 seven
    "regexp_extract_parts",
    "set_except_all_qty",
    "set_intersect_all_qty",
    "source_json_orders",
    "stream_foreachbatch_sink",
    "window_rank_dense",
    "window_running_total",
    # the r04+r05 six
    "grouped_map_ols_per_source",
    "som_transform_integrity",
    "stream_static_enrich",
    "upsert_scd2_orders",
    "variant_json_events",
    "window_analytic_suite",
    # first nine (alphabetical) of the r05+r06 tier
    "auc_urgent_order_price",
    "basket_lift_brand_pairs",
    "bitmap_distinct_users",
    "constraint_check_orders",
    "corpus_mixture_weights",
    "countmin_heavy_hitters",
    "decayed_activity_counts",
    "funnel_conversion_events",
    "histogram_equidepth_prices",
)


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so its @register calls run, then
    order the registry so ``_PRIORITY`` entries come first."""
    import sparkml_som_spark.operators.aggregates  # noqa: F401
    import sparkml_som_spark.operators.analytics5  # noqa: F401
    import sparkml_som_spark.operators.analytics6  # noqa: F401
    import sparkml_som_spark.operators.analytics7  # noqa: F401
    import sparkml_som_spark.operators.analytics8  # noqa: F401
    import sparkml_som_spark.operators.analytics9  # noqa: F401
    import sparkml_som_spark.operators.analytics10  # noqa: F401
    import sparkml_som_spark.operators.analytics11  # noqa: F401
    import sparkml_som_spark.operators.analytics12  # noqa: F401
    import sparkml_som_spark.operators.analytics13  # noqa: F401
    import sparkml_som_spark.operators.analytics14  # noqa: F401
    import sparkml_som_spark.operators.analytics15  # noqa: F401
    import sparkml_som_spark.operators.analytics16  # noqa: F401
    import sparkml_som_spark.operators.analytics17  # noqa: F401
    import sparkml_som_spark.operators.analytics18  # noqa: F401
    import sparkml_som_spark.operators.analytics19  # noqa: F401
    import sparkml_som_spark.operators.analytics20  # noqa: F401
    import sparkml_som_spark.operators.analytics21  # noqa: F401
    import sparkml_som_spark.operators.analytics22  # noqa: F401
    import sparkml_som_spark.operators.analytics23  # noqa: F401
    import sparkml_som_spark.operators.analytics24  # noqa: F401
    import sparkml_som_spark.operators.analytics25  # noqa: F401
    import sparkml_som_spark.operators.analytics26  # noqa: F401
    import sparkml_som_spark.operators.analytics27  # noqa: F401
    import sparkml_som_spark.operators.analytics28  # noqa: F401
    import sparkml_som_spark.operators.analytics29  # noqa: F401
    import sparkml_som_spark.operators.analytics30  # noqa: F401
    import sparkml_som_spark.operators.analytics31  # noqa: F401
    import sparkml_som_spark.operators.analytics32  # noqa: F401
    import sparkml_som_spark.operators.analytics33  # noqa: F401
    import sparkml_som_spark.operators.analytics34  # noqa: F401
    import sparkml_som_spark.operators.analytics35  # noqa: F401
    import sparkml_som_spark.operators.corpus_ops2  # noqa: F401
    import sparkml_som_spark.operators.corpus_ops3  # noqa: F401
    import sparkml_som_spark.operators.corpus_ops4  # noqa: F401
    import sparkml_som_spark.operators.corpus_ops5  # noqa: F401
    import sparkml_som_spark.operators.corpus_pipeline  # noqa: F401
    import sparkml_som_spark.operators.dedup  # noqa: F401
    import sparkml_som_spark.operators.relational  # noqa: F401
    import sparkml_som_spark.operators.relational2  # noqa: F401
    import sparkml_som_spark.operators.relational3  # noqa: F401
    import sparkml_som_spark.operators.relational4  # noqa: F401
    import sparkml_som_spark.operators.similarity  # noqa: F401
    import sparkml_som_spark.operators.som_queries  # noqa: F401
    import sparkml_som_spark.operators.sources_queries  # noqa: F401
    import sparkml_som_spark.operators.skew  # noqa: F401
    import sparkml_som_spark.operators.stats  # noqa: F401
    import sparkml_som_spark.operators.streaming_queries  # noqa: F401
    import sparkml_som_spark.operators.text  # noqa: F401
    import sparkml_som_spark.operators.text_pipeline  # noqa: F401
    import sparkml_som_spark.operators.upserts  # noqa: F401
    import sparkml_som_spark.operators.windows  # noqa: F401

    ordered = {n: REGISTRY[n] for n in _PRIORITY if n in REGISTRY}
    ordered.update((n, s) for n, s in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY
