"""Pipeline stages — the engine's equivalent of the reference's three stored
procedures (SURVEY.md §2.8 SP1-SP3, §3.1).

RAW -> (changelog) -> HARMONIZED -> ANALYTICS, each stage a plain function
over DataFrames; the orchestrator sequences them with stream-gating.

Layer mapping (reference ``config/dev.yml:9-14``):
    RAW_CO2.CO2_DATA            -> raw_co2.co2_data            (+__changelog)
    HARMONIZED_CO2.HARMONIZED_CO2 -> harmonized_co2.harmonized_co2
    ANALYTICS_CO2.DAILY_CO2_STATS -> analytics_co2.daily_co2_stats
    ANALYTICS_CO2.WEEKLY_CO2_STATS -> analytics_co2.weekly_co2_stats
    ANALYTICS_CO2._CO2_MINMAX     -> analytics_co2._co2_minmax
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.types import DateType

from ..functions.kernels import normalize_value, pct_change, volatility
from ..operators.changelog import Changelog
from ..operators.merge import in_list_sql, merge_upsert
from ..operators.table_store import TableStore
from ..sources.noaa_feed import fetch_feed, parse_feed_text

RAW_TABLE = "raw_co2.co2_data"
HARMONIZED_TABLE = "harmonized_co2.harmonized_co2"
DAILY_TABLE = "analytics_co2.daily_co2_stats"
WEEKLY_TABLE = "analytics_co2.weekly_co2_stats"
MINMAX_TABLE = "analytics_co2._co2_minmax"

NAMESPACES = ["external", "raw_co2", "harmonized_co2", "analytics_co2"]


def bootstrap(store: TableStore) -> None:
    """Create the 4-layer namespace layout (reference ``setup.sql.j2:49-53``)."""
    for ns in NAMESPACES:
        store.create_namespace(ns)


# ---------------------------------------------------------------------------
# SP1: LOADING_CO2_DATA_SP — watermark-incremental fetch & load
# reference: udfs_and_spoc/loading_co2_data_sp/loading_data_sp/function.py:8-398
# ---------------------------------------------------------------------------
def _watermark_file(store: TableStore) -> str:
    import os

    return os.path.join(store.table_dir(RAW_TABLE), "_WATERMARK")


def current_watermark(spark: SparkSession, store: TableStore) -> object | None:
    """A1: MAX(make_date(YEAR,MONTH,DAY)) over RAW — the high-watermark date
    (reference ``loading_data_sp/function.py:41-51``).

    Fast path: ``load_raw`` records the batch max date in a ``_WATERMARK``
    sidecar as part of the count job it already runs, so the steady-state
    read is a driver-side file — zero Spark jobs (the table-stats pattern:
    Delta/Iceberg answer MAX over a partition key from metadata the same
    way). Fallback for stores not written through ``load_raw``: RAW is
    year-partitioned (S6) and the max date lives in the max YEAR by
    construction, so the aggregate is pruned to one partition via a
    driver-side directory listing.
    """
    if not store.exists(RAW_TABLE):
        return None
    import datetime
    import os

    wf = _watermark_file(store)
    if os.path.exists(wf):
        with open(wf) as f:
            return datetime.date.fromisoformat(f.read().strip())

    years = [
        int(e.split("=", 1)[1])
        for e in os.listdir(store.data_path(RAW_TABLE))
        if e.startswith("YEAR=")
    ]
    raw = store.read(spark, RAW_TABLE)
    if years:
        raw = raw.filter(F.col("YEAR") == max(years))  # partition pruning
    return raw.agg(
        F.max(F.make_date("YEAR", "MONTH", "DAY")).alias("wm")
    ).first()["wm"]


def load_raw(
    spark: SparkSession,
    store: TableStore,
    feed_text: str | None = None,
    fetcher: Callable[[str], str] | None = None,
) -> str:
    """Fetch feed -> parse -> keep rows strictly newer than the watermark ->
    append to RAW + record changelog INSERTs (C4 semantics: late/duplicate
    rows for dates <= watermark are dropped at ingest; downstream merges are
    idempotent on the DATE key anyway)."""
    text = feed_text if feed_text is not None else fetch_feed(fetcher=fetcher)
    parsed = parse_feed_text(spark, text)

    wm = current_watermark(spark, store)
    if wm is not None:
        parsed = parsed.filter(F.make_date("YEAR", "MONTH", "DAY") > F.lit(wm))

    parsed = parsed.cache()
    try:
        # one job yields both the empty-batch gate AND the new watermark (the
        # same scan that round 3 spent on a bare count)
        n, max_d = parsed.agg(
            F.count(F.lit(1)), F.max(F.make_date("YEAR", "MONTH", "DAY"))
        ).first()
        if n == 0:
            return "No new data to load"

        # ONE physical append lands both RAW and its change record: the
        # changelog is embedded in the year-partitioned RAW table (S6
        # partition pruning intact — YEAR stays the layout key; the stream
        # offset is the _row_id column, pruned by row-group stats). Round 3
        # paid two full write jobs per ingest batch for the same bytes.
        Changelog(store, RAW_TABLE, embedded=True).append(
            parsed, action="INSERT", partition_by=["YEAR"]
        )
    finally:
        parsed.unpersist()
    # watermark sidecar AFTER rows land: a crash in between re-ingests the
    # batch (dates > stale watermark), and the DATE-keyed merges downstream
    # make that replay idempotent (SURVEY §7.3)
    import os

    wf = _watermark_file(store)
    wm_new = max_d if wm is None else max(wm, max_d)
    tmp = wf + ".tmp"
    with open(tmp, "w") as f:
        f.write(wm_new.isoformat())
    os.replace(tmp, wf)
    return f"Loaded {n} new rows"


# ---------------------------------------------------------------------------
# SP2: CO2_HARMONIZED_SP — consume stream, MERGE into HARMONIZED, refresh
# the min/max scalar cache.
# reference: udfs_and_spoc/co2_harmonized_sp/co2_harmonized_sp/function.py
# ---------------------------------------------------------------------------
def harmonize(spark: SparkSession, store: TableStore, consumer: str = "harmonize") -> str:
    log = Changelog(store, RAW_TABLE, embedded=True)
    pending = log.pending(spark, consumer)
    if pending is None:
        return "No data in stream to process"  # empty-stream short-circuit (:119-124)

    # one action covers both the SYSTEM$STREAM_HAS_DATA gate and the offset
    # high-water mark (round 1 paid two: a limit(1).count probe + a max agg)
    pending = pending.cache()
    try:
        n_pending, hi = pending.agg(F.count(F.lit(1)), F.max("_row_id")).first()
        if not n_pending:
            return "No data in stream to process"

        src = (
            pending.filter(F.col("_action") == "INSERT")  # P8 metadata filter
            .withColumn("DATE", F.make_date("YEAR", "MONTH", "DAY"))  # P2/P3
            .select(
                "DATE",
                "YEAR",
                "MONTH",
                "DAY",
                "CO2_PPM",
                F.current_timestamp().alias("META_UPDATED_AT"),  # P6 audit column
            )
        )

        # J1: MERGE on DATE (update all cols / insert). The A2 _CO2_MINMAX
        # scalar-cache refresh (:81-87) rides the merge write as Observation
        # metrics — the merged result IS the new harmonized table, so
        # observing min/max during the write replaces the round-1 full
        # re-read + agg. HARMONIZED and its scalar cache publish in ONE
        # transaction (staged version dirs + commit journal): a crash
        # between the two writes can no longer leave analytics normalizing
        # against stale bounds.
        from ..session import local_rows_df

        with store.transaction("harmonize") as txn:
            mres = merge_upsert(
                spark,
                store,
                HARMONIZED_TABLE,
                src,
                keys=["DATE"],
                count_rows=False,
                observe_metrics={
                    "MIN_CO2": F.min("CO2_PPM"),
                    "MAX_CO2": F.max("CO2_PPM"),
                },
                txn=txn,
            )
            got = mres["observed"]
            mn, mx = got["MIN_CO2"], got["MAX_CO2"]
            minmax = local_rows_df(
                spark,
                [(None if mn is None else float(mn), None if mx is None else float(mx))],
                schema="MIN_CO2 double, MAX_CO2 double",
            )
            txn.overwrite(minmax, MINMAX_TABLE)

        log.commit(consumer, int(hi))  # offset advances with the consuming merge
    finally:
        pending.unpersist()
    return "CO2 data harmonization complete"


# ---------------------------------------------------------------------------
# SP3: CO2_ANALYTICS_SP — daily (lag window + UDF kernels) and weekly
# (date_trunc rollup + kernels) statistics, both MERGEd on their keys.
# reference: udfs_and_spoc/co2_analytical_sp/co2_analytical_sp/function.py
# ---------------------------------------------------------------------------
def _minmax_lits(spark: SparkSession, store: TableStore) -> tuple[float, float]:
    """Scalar-cache read with the reference's inline-aggregate fallback
    (``co2_analytical_sp/function.py:95-102,162-175``)."""
    if store.exists(MINMAX_TABLE):
        row = store.read(spark, MINMAX_TABLE).first()
        if row is not None and row["MIN_CO2"] is not None:
            return float(row["MIN_CO2"]), float(row["MAX_CO2"])
    row = (
        store.read(spark, HARMONIZED_TABLE)
        .agg(F.min("CO2_PPM").alias("mn"), F.max("CO2_PPM").alias("mx"))
        .first()
    )
    return float(row["mn"]), float(row["mx"])


def daily_stats_df(harmonized: DataFrame, min_co2: float, max_co2: float) -> DataFrame:
    """W1 lag + U1/U3/U4 kernels -> daily stats projection
    (reference ``co2_analytical_sp/function.py:105-125``).

    The unpartitioned orderBy window matches the reference exactly; at 100 TB
    a single time series this shape would be range-partitioned by year with
    boundary stitching — for a daily series (~18k rows/50 years) the single
    partition is small by construction.
    """
    w = W.orderBy("DATE")
    with_lag = harmonized.select(
        "DATE",
        "CO2_PPM",
        F.lag("CO2_PPM", 1).over(w).alias("PREV_DAY_CO2"),
    )
    return with_lag.select(
        "DATE",
        "CO2_PPM",
        "PREV_DAY_CO2",
        pct_change("PREV_DAY_CO2", "CO2_PPM").alias("DAILY_CHANGE"),
        volatility("CO2_PPM", "PREV_DAY_CO2").alias("DAILY_VOLATILITY"),
        normalize_value(F.col("CO2_PPM"), F.lit(min_co2), F.lit(max_co2)).alias(
            "NORMALIZED_CO2"
        ),
        F.current_timestamp().alias("META_UPDATED_AT"),
    )


def weekly_stats_df(harmonized: DataFrame, min_co2: float, max_co2: float) -> DataFrame:
    """A4 weekly rollup + kernels (reference ``co2_analytical_sp/function.py:178-199``).

    Kept verbatim from the reference, including its (mis)naming of
    min->WEEK_START_CO2 / max->WEEK_END_CO2. ``date_trunc('week')`` is
    ISO-Monday in both Spark and Snowflake (and the DuckDB oracle).
    """
    weekly = harmonized.groupBy(
        F.date_trunc("week", F.col("DATE")).cast("date").alias("WEEK_START")
    ).agg(
        F.avg("CO2_PPM").alias("AVG_WEEKLY_CO2"),
        F.min("CO2_PPM").alias("WEEK_START_CO2"),
        F.max("CO2_PPM").alias("WEEK_END_CO2"),
    )
    return weekly.select(
        "WEEK_START",
        "AVG_WEEKLY_CO2",
        "WEEK_START_CO2",
        "WEEK_END_CO2",
        pct_change("WEEK_START_CO2", "WEEK_END_CO2").alias("WEEKLY_CHANGE"),
        volatility("WEEK_END_CO2", "WEEK_START_CO2").alias("WEEKLY_VOLATILITY"),
        normalize_value(F.col("AVG_WEEKLY_CO2"), F.lit(min_co2), F.lit(max_co2)).alias(
            "NORMALIZED_WEEKLY_CO2"
        ),
        F.current_timestamp().alias("META_UPDATED_AT"),
    )


def analytics_daily(
    spark: SparkSession,
    store: TableStore,
    harmonized: DataFrame | None = None,
    minmax: tuple[float, float] | None = None,
) -> str:
    harmonized = harmonized if harmonized is not None else store.read(spark, HARMONIZED_TABLE)
    mn, mx = minmax if minmax is not None else _minmax_lits(spark, store)
    result = daily_stats_df(harmonized, mn, mx)
    merge_upsert(  # J2: MERGE on DATE (helper cols excluded by projection)
        spark, store, DAILY_TABLE, result, keys=["DATE"], count_rows=False
    )
    return "Daily analytics complete"


def analytics_weekly(
    spark: SparkSession,
    store: TableStore,
    harmonized: DataFrame | None = None,
    minmax: tuple[float, float] | None = None,
) -> str:
    harmonized = harmonized if harmonized is not None else store.read(spark, HARMONIZED_TABLE)
    mn, mx = minmax if minmax is not None else _minmax_lits(spark, store)
    result = weekly_stats_df(harmonized, mn, mx)
    merge_upsert(  # J3: MERGE on WEEK_START
        spark, store, WEEKLY_TABLE, result, keys=["WEEK_START"], count_rows=False
    )
    return "Weekly analytics complete"


def _date_in(col: str, dates) -> Column:
    """``col IN (dates)`` as one literal predicate (parquet-pushable)."""
    return F.expr(in_list_sql([col], [DateType()], [(d,) for d in dates]))


def analytics_incremental(
    spark: SparkSession, store: TableStore, consumer: str = "analytics"
) -> str:
    """SP3 with churn-proportional recompute — the incremental form the
    repo is named for.

    Analytics registers as a SECOND named consumer of the RAW changelog:
    its pending window yields the exact set of affected DATEs, so the
    daily stage recomputes only those dates plus their order-neighbors
    (the lag chain breaks at most one date past an insert) and the weekly
    stage only the touched ISO weeks. A narrow DATE-only pass over the
    harmonized series resolves order neighbors (gaps make ``d - 1 day``
    wrong); full-width compute is proportional to the churn.

    Fallback to the full recompute (:func:`analytics`) when it must:
    - first run (no stats tables yet), or
    - the batch moves the global min/max bounds — NORMALIZED_* columns
      depend on them, so EVERY row's normalized value changes (the
      reference recomputes fully every run for exactly this reason;
      steady-state CO2 batches inside known bounds skip it).

    Offset semantics match harmonize: commit after the merges land;
    replay is idempotent because every merge keys on its date key.
    """
    import json as _json
    import os

    log = Changelog(store, RAW_TABLE, embedded=True)
    pending = log.pending(spark, consumer)
    if pending is None:
        return "No data in stream to process"
    # never run ahead of harmonize: rows it has not merged yet are not in
    # HARMONIZED, and advancing past them would lose their dates forever
    h_off = int(log._read_meta()["offsets"].get("harmonize", -1))
    pending = pending.filter(F.col("_row_id") <= h_off)

    bounds_file = os.path.join(store.table_dir(DAILY_TABLE), "_BOUNDS")

    def _commit_bounds(mn: float, mx: float) -> None:
        tmp = bounds_file + ".tmp"
        with open(tmp, "w") as f:
            _json.dump([mn, mx], f)
        os.replace(tmp, bounds_file)

    # one scan of the window yields the gate, the offset high-water mark
    # AND the affected DATE set (churn-sized, collected to the driver)
    n_pending, hi, affected = pending.agg(
        F.count(F.lit(1)),
        F.max("_row_id"),
        F.collect_set(
            F.when(F.col("_action") == "INSERT", F.make_date("YEAR", "MONTH", "DAY"))
        ),
    ).first()
    if not n_pending:
        return "No data in stream to process"
    mn, mx = _minmax_lits(spark, store)
    if not (store.exists(DAILY_TABLE) and store.exists(WEEKLY_TABLE)):
        out = analytics(spark, store)
        _commit_bounds(mn, mx)
        log.commit(consumer, int(hi))
        return f"{out} (full: first run)"

    # NORMALIZED_* columns depend on the GLOBAL bounds: if this batch
    # moved them since the last analytics pass, every stored row's
    # normalized value is stale — only a full recompute is correct
    # (the reference recomputes fully every run for this reason).
    prev = None
    if os.path.exists(bounds_file):
        with open(bounds_file) as f:
            prev = tuple(_json.load(f))
    if prev != (mn, mx):
        out = analytics(spark, store)
        _commit_bounds(mn, mx)
        log.commit(consumer, int(hi))
        return f"{out} (full: bounds moved)"

    harmonized = store.read(spark, HARMONIZED_TABLE)
    # DATE-only neighbor pass: global order over the daily series (one
    # narrow column; the series is one row per date by construction).
    # Recompute a date if IT changed or its PREDECESSOR changed (its
    # lag inputs moved); each recompute date's predecessor row is
    # pulled as lag input. The affected set is already on the driver,
    # and one job collects the (churn-sized) date lists, so every
    # filter is an IN-list literal — pushed into the parquet scans,
    # with no broadcast exchanges to materialize. A giant backfill
    # (>5000 dates) would belong on the full path anyway and
    # bounds-moves already route it there in practice.
    dates = harmonized.select("DATE")
    w = W.orderBy("DATE")
    ndf = dates.select("DATE", F.lag("DATE", 1).over(w).alias("_prev"))
    pairs = ndf.filter(
        _date_in("DATE", affected) | _date_in("_prev", affected)
    ).collect()
    recompute_dates = [r["DATE"] for r in pairs]
    need_dates = sorted(
        {r["DATE"] for r in pairs} | {r["_prev"] for r in pairs if r["_prev"]}
    )
    rows = harmonized.filter(_date_in("DATE", need_dates))
    stats = daily_stats_df(rows, mn, mx).filter(_date_in("DATE", recompute_dates))
    merge_upsert(
        spark, store, DAILY_TABLE, stats, keys=["DATE"], count_rows=False
    )

    # weekly: recompute only the touched ISO weeks (no cross-week lag).
    # Week set derives driver-side from the already-collected recompute
    # dates (ISO Monday = d - weekday); recompute ⊇ affected, and
    # re-deriving an untouched week is an idempotent no-op.
    import datetime as _dt

    weeks = sorted(
        {d - _dt.timedelta(days=d.weekday()) for d in recompute_dates}
    )
    wrows = harmonized.filter(
        F.date_trunc("week", F.col("DATE")).cast("date").isin(weeks)
    )
    wstats = weekly_stats_df(wrows, mn, mx)
    merge_upsert(
        spark, store, WEEKLY_TABLE, wstats, keys=["WEEK_START"], count_rows=False
    )
    _commit_bounds(mn, mx)
    log.commit(consumer, int(hi))
    return "Daily analytics complete; Weekly analytics complete (incremental)"


def analytics(spark: SparkSession, store: TableStore) -> str:
    """SP3 whole: daily + weekly (reference ``function.py:227-255``).

    The harmonized scan and the min/max scalar cache are resolved once and
    shared by both stages (the reference reads ``_CO2_MINMAX`` once per SP
    call for the same reason, ``co2_analytical_sp/function.py:95-102``).
    The two merges write INDEPENDENT tables off the same cached input, so
    they run concurrently — two driver threads submitting to the shared
    scheduler (the same overlap a cluster gets from concurrent jobs; the
    reference runs them serially only because one Snowflake session does).
    """
    from concurrent.futures import ThreadPoolExecutor

    harmonized = store.read(spark, HARMONIZED_TABLE).cache()
    # materialize the cache once up front: both threads would otherwise
    # race to compute it and duplicate the scan
    harmonized.count()
    minmax = _minmax_lits(spark, store)
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            fd = pool.submit(analytics_daily, spark, store, harmonized, minmax)
            fw = pool.submit(analytics_weekly, spark, store, harmonized, minmax)
            d, wk = fd.result(), fw.result()
    finally:
        harmonized.unpersist()
    return f"{d}; {wk}"
