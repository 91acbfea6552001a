"""TableStore atomic swap, merge_upsert semantics, changelog offsets."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from incremental_datapipeline_using_snowflake_spark.operators import (
    Changelog,
    TableStore,
    merge_upsert,
)
from incremental_datapipeline_using_snowflake_spark.operators.merge import upsert_dataframe


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


def test_table_store_roundtrip_and_overwrite(spark, store):
    df = _df(spark, [(1, "a"), (2, "b")], "id long, v string")
    store.overwrite(df, "ns.t1")
    assert store.exists("ns.t1")
    assert store.read(spark, "ns.t1").count() == 2
    store.overwrite(_df(spark, [(3, "c")], "id long, v string"), "ns.t1")
    out = store.read(spark, "ns.t1").collect()
    assert [(r["id"], r["v"]) for r in out] == [(3, "c")]
    assert store.current_version("ns.t1") == 2


def test_table_store_append_and_partitioning(spark, store):
    df = _df(spark, [(2020, 1.0), (2021, 2.0)], "YEAR int, v double")
    store.append(df, "ns.part", partition_by=["YEAR"])
    store.append(_df(spark, [(2022, 3.0)], "YEAR int, v double"), "ns.part", partition_by=["YEAR"])
    got = store.read(spark, "ns.part")
    assert got.count() == 3
    # partition pruning applies: filter on the partition column reads one dir
    assert got.filter(F.col("YEAR") == 2021).count() == 1


def test_table_store_describe_and_comment(spark, store):
    """DESC TABLE / COMMENT ON TABLE parity (reference
    loading_data_sp/function.py:30, raw_co2_data.py:103-105)."""
    df = _df(spark, [(1, "a")], "id long, name string")
    store.overwrite(df, "ns.desc_t")
    desc = {r["col_name"]: r["data_type"] for r in store.describe(spark, "ns.desc_t").collect()}
    assert desc == {"id": "bigint", "name": "string"}

    assert store.get_comment("ns.desc_t") is None
    store.set_comment("ns.desc_t", "Raw CO2 readings")
    assert store.get_comment("ns.desc_t") == "Raw CO2 readings"
    # comment survives an overwrite (new version, same table)
    store.overwrite(df, "ns.desc_t")
    assert store.get_comment("ns.desc_t") == "Raw CO2 readings"

    import pytest

    with pytest.raises(FileNotFoundError):
        store.set_comment("ns.nope", "x")


def test_merge_upsert_update_insert(spark, store):
    target = _df(spark, [(1, 10.0, "x"), (2, 20.0, "y")], "k long, v double, tag string")
    store.overwrite(target, "ns.m")
    source = _df(spark, [(2, 99.0, "y2"), (3, 30.0, "z")], "k long, v double, tag string")
    stats = merge_upsert(spark, store, "ns.m", source, keys=["k"])
    assert stats == {"updated": 1, "inserted": 1}
    rows = {r["k"]: (r["v"], r["tag"]) for r in store.read(spark, "ns.m").collect()}
    assert rows == {1: (10.0, "x"), 2: (99.0, "y2"), 3: (30.0, "z")}


def test_merge_upsert_partial_update_cols(spark, store):
    """J2 pattern: update dict excludes helper columns."""
    target = _df(spark, [(1, 10.0, "keep")], "k long, v double, tag string")
    store.overwrite(target, "ns.m2")
    source = _df(spark, [(1, 77.0, "clobber")], "k long, v double, tag string")
    merge_upsert(spark, store, "ns.m2", source, keys=["k"], update_cols=["v"])
    row = store.read(spark, "ns.m2").first()
    assert (row["v"], row["tag"]) == (77.0, "keep")


def test_merge_upsert_idempotent(spark, store):
    target = _df(spark, [(1, 1.0)], "k long, v double")
    store.overwrite(target, "ns.m3")
    src = _df(spark, [(1, 5.0), (2, 6.0)], "k long, v double")
    merge_upsert(spark, store, "ns.m3", src, keys=["k"])
    first = sorted((r["k"], r["v"]) for r in store.read(spark, "ns.m3").collect())
    merge_upsert(spark, store, "ns.m3", src, keys=["k"])  # replay
    second = sorted((r["k"], r["v"]) for r in store.read(spark, "ns.m3").collect())
    assert first == second == [(1, 5.0), (2, 6.0)]


def test_upsert_dataframe_pure(spark):
    t = _df(spark, [(1, 1.0), (2, 2.0)], "k long, v double")
    s = _df(spark, [(2, 9.0), (3, 3.0)], "k long, v double")
    out = sorted((r["k"], r["v"]) for r in upsert_dataframe(t, s, ["k"]).collect())
    assert out == [(1, 1.0), (2, 9.0), (3, 3.0)]


def test_changelog_append_consume_commit(spark, store):
    log = Changelog(store, "ns.base")
    b1 = _df(spark, [(1,), (2,)], "id long")
    b2 = _df(spark, [(3,)], "id long")
    assert log.append(b1) == 2
    assert log.append(b2) == 1

    assert log.has_data(spark, "c1")
    pend = log.pending(spark, "c1")
    assert pend.count() == 3
    assert set(pend.columns) == {"id", "_action", "_row_id"}
    # ids strictly increase across batches
    ids = [r["_row_id"] for r in pend.orderBy("_row_id").collect()]
    assert ids == sorted(ids) and len(set(ids)) == 3

    hi = log.max_pending_id(spark, "c1")
    log.commit("c1", hi)
    assert not log.has_data(spark, "c1")

    # an independent consumer still sees everything
    assert log.pending(spark, "c2").count() == 3

    # new batch arrives -> only it is pending for c1
    log.append(_df(spark, [(4,)], "id long"))
    assert log.pending(spark, "c1").count() == 1


def test_changelog_ids_unique_across_wide_batches(spark, store):
    """mii = partitionId*2^33 + idx; a fixed per-batch span overflows at
    >=128 partitions. next_base now advances from the actual written max,
    so ids from a 200-partition batch never collide with the next batch."""
    log = Changelog(store, "ns.wide")
    wide = spark.range(0, 400).repartition(200).selectExpr("id")
    assert log.append(wide) == 400
    assert log.append(_df(spark, [(9001,), (9002,)], "id long")) == 2

    rows = log.pending(spark, "u").select("_row_id", "id").collect()
    ids = [r["_row_id"] for r in rows]
    assert len(ids) == 402 and len(set(ids)) == 402
    # batch 2's ids all sort after batch 1's (consumer-offset monotonicity)
    second = {r["_row_id"] for r in rows if r["id"] >= 9001}
    first = set(ids) - second
    assert min(second) > max(first)


def test_changelog_append_crash_guard(spark, store):
    """Rows landing without a _META.json commit (crash window) must not
    cause the next append to reuse their id range."""
    log = Changelog(store, "ns.crashy")
    assert log.append(_df(spark, [(1,), (2,)], "id long")) == 2
    # simulate the crash window: data from a second append is on disk, but
    # meta still holds the pre-append next_base with the write-ahead
    # in_flight marker set — exactly what a crash between the parquet write
    # and the final meta commit leaves behind
    meta_before = log._read_meta()
    assert log.append(_df(spark, [(3,), (4,)], "id long")) == 2
    meta_before["in_flight"] = meta_before["next_base"]
    log._write_meta(meta_before)

    assert log.append(_df(spark, [(5,)], "id long")) == 1
    ids = [r["_row_id"] for r in log.pending(spark, "u").collect()]
    assert len(ids) == 5 and len(set(ids)) == 5


def test_compact_changelog_preserves_offsets(spark, store):
    """S12-adjacent maintenance: many micro-batch appends -> many small
    files; compaction must shrink the file count without disturbing ids,
    consumer offsets, or pending() semantics."""
    log = Changelog(store, "ns.compactme")
    for i in range(6):
        log.append(_df(spark, [(i * 10 + j,) for j in range(5)], "id long"))
    # consume half, then compact
    first_ids = sorted(
        r["_row_id"] for r in log.pending(spark, "c").select("_row_id").collect()
    )
    log.commit("c", first_ids[14])

    stats = store.compact(spark, log.log_table, sort_by=["_row_id"])
    assert stats["files_before"] >= 6
    assert stats["files_after"] < stats["files_before"]

    remaining = log.pending(spark, "c")
    assert remaining.count() == 15
    assert sorted(r["_row_id"] for r in remaining.collect()) == first_ids[15:]
    # ids still unique and appends continue from the compacted state
    assert log.append(_df(spark, [(999,)], "id long")) == 1
    all_ids = [r["_row_id"] for r in log.pending(spark, "never").collect()]
    assert len(all_ids) == len(set(all_ids)) == 31


def test_compact_partitioned_table(spark, store):
    df = _df(spark, [(2020 + i % 3, float(i)) for i in range(30)], "YEAR int, v double")
    store.append(df.repartition(10), "ns.frag", partition_by=["YEAR"])
    stats = store.compact(spark, "ns.frag", partition_by=["YEAR"])
    assert stats["files_after"] < stats["files_before"]
    got = store.read(spark, "ns.frag")
    assert got.count() == 30
    assert got.filter(F.col("YEAR") == 2021).count() == 10


def test_csv_sink_roundtrip(spark, tmp_path):
    """S7: CSV serialization sink — single-file parity mode and the
    parallel many-part default both round-trip through the S5 reader."""
    import os

    from incremental_datapipeline_using_snowflake_spark.sources.csv_source import (
        read_co2_csv,
        write_co2_csv,
    )

    df = _df(
        spark,
        [(2024, 1, d, 2024.0 + d / 365.0, 420.0 + d) for d in range(1, 11)],
        "YEAR int, MONTH int, DAY int, DECIMAL_DATE double, CO2_PPM double",
    )
    single = str(tmp_path / "single")
    write_co2_csv(df, single, single_file=True)
    csv_files = [f for f in os.listdir(single) if f.endswith(".csv")]
    assert len(csv_files) == 1  # reference's one-file-per-upload layout

    back = read_co2_csv(spark, single, pattern="*.csv")
    assert back.count() == 10
    assert sorted(r["DAY"] for r in back.collect()) == list(range(1, 11))
    assert back.schema == df.schema

    many = str(tmp_path / "many")
    write_co2_csv(df.repartition(4), many, single_file=False)
    assert read_co2_csv(spark, many, pattern="*.csv").count() == 10


def test_local_rows_df_single_partition(spark):
    """Metadata-sized local rows land in ONE partition of an Arrow local
    frame: the rows travel inside the plan (a LocalRelation), so reading
    them starts no Python worker, and a write of them is one task, one
    file."""
    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df

    df = local_rows_df(spark, [("a", 1.0), ("b", 2.0)], "k string, v double")
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_overwrite_crash_recovery(spark, tmp_path):
    """A crashed overwrite (version dir written, pointer never flipped)
    must be invisible to readers; the next overwrite allocates PAST the
    orphan dir (it cannot tell a crashed write from restore()-parked live
    history, so clobbering is never safe) and normal GC reaps the orphan a
    cycle later — the stage-and-swap ACID contract."""
    import os

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df

    store = TableStore(root=str(tmp_path))
    store.overwrite(local_rows_df(spark, [(1, "a")], "k long, v string"), "ns.t")
    # simulate a crash: the next version's files exist, pointer untouched
    crashed = os.path.join(store.table_dir("ns.t"), "v=000002")
    local_rows_df(spark, [(99, "crash")], "k long, v string").write.parquet(crashed)

    assert [r["v"] for r in store.read(spark, "ns.t").collect()] == ["a"]  # old version
    store.overwrite(local_rows_df(spark, [(2, "b")], "k long, v string"), "ns.t")
    assert [r["v"] for r in store.read(spark, "ns.t").collect()] == ["b"]
    assert store.current_version("ns.t") == 3  # allocated past the orphan
    # the orphan is reaped by the NEXT overwrite's GC cycle
    store.overwrite(local_rows_df(spark, [(3, "c")], "k long, v string"), "ns.t")
    assert store.versions("ns.t") == [3, 4]
    assert [r["v"] for r in store.read(spark, "ns.t").collect()] == ["c"]


def test_time_travel_versions_and_restore(spark, tmp_path):
    """Deeper retention gives readable history (VERSION AS OF), restore is
    a reversible pointer flip, and post-restore overwrites never clobber
    retained versions."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path), keep_versions=3)
    name = "ns.t"
    for val in (1, 2, 3):
        store.overwrite(
            spark.createDataFrame([(val,)], "x long"), name
        )
    assert store.versions(name) == [1, 2, 3]
    assert store.read(spark, name).first()["x"] == 3
    assert store.read_version(spark, name, 1).first()["x"] == 1  # time travel

    store.restore(name, 1)
    assert store.read(spark, name).first()["x"] == 1
    # rolled-over version still retained -> restore is reversible
    assert store.read_version(spark, name, 3).first()["x"] == 3
    store.restore(name, 3)
    assert store.read(spark, name).first()["x"] == 3

    # post-restore overwrite allocates PAST retained history (v4), and GC
    # keeps the window
    store.restore(name, 1)
    store.overwrite(spark.createDataFrame([(4,)], "x long"), name)
    assert store.read(spark, name).first()["x"] == 4
    vs = store.versions(name)
    assert max(vs) == 4 and 1 in vs  # previous pointer version survives GC

    # GC'd version raises the documented error
    store2 = TableStore(root=str(tmp_path / "b"), keep_versions=2)
    for val in (1, 2, 3):
        store2.overwrite(spark.createDataFrame([(val,)], "x long"), "ns.u")
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="not retained"):
        store2.read_version(spark, "ns.u", 1)


def test_append_schema_evolution(spark, tmp_path):
    """merge_schema=True widens the table: new columns readable across old
    AND new files (old rows NULL-extended), absent columns NULL-filled,
    and a fresh TableStore instance sees the evolved schema. Type changes
    and un-flagged drift raise."""
    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "raw.evolving"
    store.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"), name)

    with _pytest.raises(ValueError, match="merge_schema=True"):
        store.append(
            spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double"),
            name,
        )
    store.append(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double"),
        name,
        merge_schema=True,
    )
    got = {r["id"]: (r["v"], r["score"]) for r in store.read(spark, name).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}

    # appending a frame MISSING an evolved column NULL-fills it
    store.append(
        spark.createDataFrame([(3, "c")], "id long, v string"),
        name,
        merge_schema=True,
    )
    rows = store.read(spark, name).orderBy("id").collect()
    assert [r["score"] for r in rows] == [None, 9.5, None]

    # a fresh store instance (no warm cache) plans against the evolved schema
    fresh = TableStore(root=str(tmp_path))
    assert set(fresh.read(spark, name).columns) == {"id", "v", "score"}

    # same-name type change is always an error
    with _pytest.raises(ValueError, match="type changed"):
        store.append(
            spark.createDataFrame([(4, 7)], "id long, v long"), name, merge_schema=True
        )

    # a full overwrite resets evolution state (uniform schema again)
    store.overwrite(spark.createDataFrame([(9, "z")], "id long, v string"), name)
    assert set(store.read(spark, name).columns) == {"id", "v"}


def test_table_changes_between_versions(spark, tmp_path):
    """CDF diff of two retained versions: INSERT / DELETE / UPDATE_BEFORE /
    UPDATE_AFTER rows with values drawn from the right version."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.cdf"
    store.overwrite(
        spark.createDataFrame(
            [(1, "keep"), (2, "old"), (3, "gone")], "k long, v string"
        ),
        name,
    )
    store.overwrite(
        spark.createDataFrame(
            [(1, "keep"), (2, "new"), (4, "born")], "k long, v string"
        ),
        name,
    )
    ch = store.table_changes(spark, name, 1, 2, key_cols=["k"])
    got = sorted((r["k"], r["_action"], r["v"], r["_version"]) for r in ch.collect())
    assert got == [
        (2, "UPDATE_AFTER", "new", 2),
        (2, "UPDATE_BEFORE", "old", 1),
        (3, "DELETE", "gone", 1),
        (4, "INSERT", "born", 2),
    ]
    # unchanged keys (k=1) emit nothing; diff is churn-proportional
    assert ch.filter("k = 1").count() == 0


def test_transaction_commits_all_or_none(spark, tmp_path):
    """Multi-table publish: clean exit flips every pointer; an exception
    mid-block leaves every table at its pre-transaction version."""
    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    for t in ("ns.a", "ns.b"):
        store.overwrite(spark.createDataFrame([(0,)], "x long"), t)

    with store.transaction() as txn:
        txn.overwrite(spark.createDataFrame([(1,)], "x long"), "ns.a")
        txn.overwrite(spark.createDataFrame([(1,)], "x long"), "ns.b")
    assert store.read(spark, "ns.a").first()["x"] == 1
    assert store.read(spark, "ns.b").first()["x"] == 1

    with _pytest.raises(RuntimeError, match="boom"):
        with store.transaction() as txn:
            txn.overwrite(spark.createDataFrame([(2,)], "x long"), "ns.a")
            raise RuntimeError("boom")
    # pointer untouched, staged dir swept
    assert store.read(spark, "ns.a").first()["x"] == 1
    assert max(store.versions("ns.a")) == store.current_version("ns.a")


def test_transaction_crash_recovery_redoes_flips(spark, tmp_path, monkeypatch):
    """Crash injection: the process dies after the commit journal is
    written but before all pointers flip. recover() must redo the missing
    flips — no torn multi-table state survives."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators import (
        table_store as ts_mod,
    )

    store = TableStore(root=str(tmp_path))
    for t in ("ns.a", "ns.b"):
        store.overwrite(spark.createDataFrame([(0,)], "x long"), t)

    flips = {"n": 0}
    real_commit = TableStore._commit_version

    def crashing_commit(self, name, version):
        if flips["n"] >= 1:
            raise OSError("simulated crash after first pointer flip")
        flips["n"] += 1
        real_commit(self, name, version)

    monkeypatch.setattr(TableStore, "_commit_version", crashing_commit)
    try:
        with store.transaction() as txn:
            txn.overwrite(spark.createDataFrame([(1,)], "x long"), "ns.a")
            txn.overwrite(spark.createDataFrame([(1,)], "x long"), "ns.b")
    except OSError:
        pass
    monkeypatch.setattr(TableStore, "_commit_version", real_commit)

    # torn state on disk: one table flipped, the other not, journal present
    vals = {t: store.read(spark, t).first()["x"] for t in ("ns.a", "ns.b")}
    assert sorted(vals.values()) == [0, 1]
    assert any(os.listdir(os.path.join(str(tmp_path), "_txn")))

    recovered = TableStore(root=str(tmp_path))
    recovered.recover()
    assert recovered.read(spark, "ns.a").first()["x"] == 1
    assert recovered.read(spark, "ns.b").first()["x"] == 1
    assert not os.listdir(os.path.join(str(tmp_path), "_txn"))


def test_register_views_sql_entry(spark, store):
    """Raw-SQL entry point: warehouse tables become temp views a SQL
    script can query end-to-end (SURVEY §3.3 parity)."""
    from incremental_datapipeline_using_snowflake_spark.functions.sql_script import (
        run_sql_script,
    )

    store.overwrite(
        spark.createDataFrame([(1, 4.0), (2, 6.0)], "id long, v double"), "raw_co2.m"
    )
    store.overwrite(spark.createDataFrame([(1, "x")], "id long, tag string"), "analytics_co2.t")
    views = store.register_views(spark)
    assert views == ["analytics_co2__t", "raw_co2__m"]
    out = run_sql_script(
        spark,
        """
        -- script with a semicolon inside a literal; must not split
        SELECT ';' AS lit;
        SELECT sum(v) AS s FROM raw_co2__m JOIN analytics_co2__t USING (id);
        """,
    )
    assert out.first()["s"] == 4.0
    # namespace-scoped sweep
    assert store.register_views(spark, namespace="raw_co2") == ["raw_co2__m"]


def test_reader_in_flight_survives_overwrite(spark, store):
    """Stage-and-swap guarantee: a DataFrame planned against version N
    still collects correctly after an overwrite commits version N+1
    (keep_versions retains the previous pointer's version)."""
    name = "ns.inflight"
    store.overwrite(spark.createDataFrame([(1,)], "x long"), name)
    reader = store.read(spark, name)  # plan resolves v1's path now
    store.overwrite(spark.createDataFrame([(2,)], "x long"), name)
    assert reader.first()["x"] == 1  # old snapshot, still readable
    assert store.read(spark, name).first()["x"] == 2  # new pointer


def test_merge_upsert_shuffle_join_path(spark, store):
    """broadcast_source=False (source too big to broadcast): AQE plans
    shuffle joins keyed on the merge key; results identical to the
    broadcast plan."""
    name_a, name_b = "ns.m_bcast", "ns.m_shuffle"
    target = spark.createDataFrame(
        [(k, float(k)) for k in range(200)], "k long, v double"
    )
    source = spark.createDataFrame(
        [(k, float(k) * 10) for k in range(100, 300)], "k long, v double"
    )
    store.overwrite(target, name_a)
    store.overwrite(target, name_b)
    merge_upsert(spark, store, name_a, source, keys=["k"], count_rows=False)
    merge_upsert(
        spark, store, name_b, source, keys=["k"], count_rows=False,
        broadcast_source=False,
    )
    a = sorted(tuple(r) for r in store.read(spark, name_a).collect())
    b = sorted(tuple(r) for r in store.read(spark, name_b).collect())
    assert a == b
    assert len(a) == 300  # 0..99 untouched, 100..199 updated, 200..299 inserted
    assert dict(a)[150] == 1500.0 and dict(a)[250] == 2500.0


def test_read_version_sees_evolved_schema(spark, tmp_path):
    """Time travel over a version holding mixed parquet footers (an
    evolving append landed new-column files next to old ones) must plan
    against the MERGED column set — a bare read samples one footer and can
    silently drop the evolved column (r04 ADVICE, table_store.py:228)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "ns.evolving"
    store.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"), name)
    store.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, extra double"),
        name,
        merge_schema=True,
    )
    v = store.current_version(name)
    got = store.read_version(spark, name, v)
    assert "extra" in got.columns
    rows = {r["k"]: r["extra"] for r in got.collect()}
    assert rows == {1: None, 2: 9.5}


def test_table_changes_across_schema_evolution(spark, tmp_path):
    """A column present in only ONE of the diffed versions still diffs:
    values appearing in the added column surface as UPDATEs (not silent
    no-ops), and diffing in the reverse direction doesn't raise on the
    old-side alias (r04 ADVICE, table_store.py:265)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.evo_cdf"
    store.overwrite(spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string"), name)
    store.overwrite(
        spark.createDataFrame([(1, "x", 1.5), (2, "y", None)],
                              "k long, v string, w double"),
        name,
    )
    ch = store.table_changes(spark, name, 1, 2, key_cols=["k"])
    by = {(r["k"], r["_action"]): (r["v"], r["w"]) for r in ch.collect()}
    # k=1: w went NULL -> 1.5 => UPDATE pair; k=2: w NULL -> NULL => unchanged
    assert by[(1, "UPDATE_BEFORE")] == ("x", None)
    assert by[(1, "UPDATE_AFTER")] == ("x", 1.5)
    assert (2, "UPDATE_AFTER") not in by
    # reverse direction: the column exists only on the OLD side — no
    # unresolved-alias AnalysisException, values surface as UPDATE_BEFORE
    rev = store.table_changes(spark, name, 2, 1, key_cols=["k"])
    rby = {(r["k"], r["_action"]): r["w"] for r in rev.collect()}
    assert rby[(1, "UPDATE_BEFORE")] == 1.5 and rby[(1, "UPDATE_AFTER")] is None
    # missing key column is a hard error, not NULL-joined garbage
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key column"):
        store.table_changes(spark, name, 1, 2, key_cols=["nope"])


def test_orphan_staged_versions_not_served(spark, tmp_path):
    """A v= dir staged by a writer that died BEFORE its commit point is
    not committed data: versions() must not list it, read_version/restore
    must refuse it, and the next overwrite sweeps it (r04 ADVICE,
    table_store.py:208)."""
    import os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "ns.orphaned"
    store.overwrite(spark.createDataFrame([(1,)], "x long"), name)
    # simulate the dying writer: a fully-staged dir, no pointer flip
    orphan_v = store.current_version(name) + 1
    spark.createDataFrame([(99,)], "x long").write.parquet(
        os.path.join(store.table_dir(name), f"v={orphan_v:06d}")
    )
    assert orphan_v not in store.versions(name)
    with _pytest.raises(FileNotFoundError):
        store.read_version(spark, name, orphan_v)
    with _pytest.raises(FileNotFoundError):
        store.restore(name, orphan_v)
    # next overwrite allocates PAST the orphan (no clobber) and sweeps it
    store.overwrite(spark.createDataFrame([(2,)], "x long"), name)
    assert store.current_version(name) > orphan_v
    assert not os.path.isdir(
        os.path.join(store.table_dir(name), f"v={orphan_v:06d}")
    )
    assert store.read(spark, name).first()["x"] == 2


def test_overwrite_crash_keeps_schema_pin(spark, tmp_path, monkeypatch):
    """Crash injection between staging and the pointer flip: the pinned
    _SCHEMA must survive (it is removed only AFTER the flip), so the
    still-current mixed-footer version keeps reading its full evolved
    column set (r04 ADVICE, table_store.py:201)."""
    import os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "ns.pinned"
    store.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"), name)
    store.append(
        spark.createDataFrame([(2, "b", 7.0)], "k long, v string, extra double"),
        name,
        merge_schema=True,
    )
    assert os.path.exists(store._schema_file(name))

    def crash(self, n, v):
        raise RuntimeError("died before flip")

    monkeypatch.setattr(TableStore, "_commit_version", crash)
    with _pytest.raises(RuntimeError, match="died before flip"):
        store.overwrite(spark.createDataFrame([(3, "c")], "k long, v string"), name)
    monkeypatch.undo()
    # pin intact -> a FRESH store still reads the evolved column
    fresh = TableStore(root=str(tmp_path))
    assert "extra" in fresh.read(spark, name).columns
    # clean overwrite afterwards drops the now-stale pin
    store.overwrite(spark.createDataFrame([(4, "d")], "k long, v string"), name)
    assert not os.path.exists(store._schema_file(name))


def test_transaction_same_table_twice_keeps_last(spark, tmp_path):
    """Two staged overwrites of the SAME table in one transaction: the
    later one wins and the earlier staged dir is not swept as an orphan
    mid-commit (gc runs only after every pointer flip)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "ns.twice"
    store.overwrite(spark.createDataFrame([(0,)], "x long"), name)
    with store.transaction() as txn:
        txn.overwrite(spark.createDataFrame([(1,)], "x long"), name)
        txn.overwrite(spark.createDataFrame([(2,)], "x long"), name)
    assert store.read(spark, name).first()["x"] == 2


def test_delete_update_where_and_purge(spark, tmp_path):
    """Standalone DML: DELETE/UPDATE rewrite atomically with
    Observation-carried counts, NULL predicates follow SQL three-valued
    logic (rows kept / untouched), and purge_versions erases retained
    history so a privacy delete cannot be resurrected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.merge import (
        delete_where,
        purge_versions,
        update_where,
    )

    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.dml"
    store.overwrite(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, "a"), (4, 40.0, "b")],
            "k long, v double, g string",
        ),
        name,
    )
    # NULL predicate (v > 20 is NULL for k=2) keeps the row
    n = delete_where(spark, store, name, F.col("v") > 20)
    assert n == 2
    assert sorted(r["k"] for r in store.read(spark, name).collect()) == [1, 2]

    n = update_where(spark, store, name, F.col("v") > 5, {"g": F.lit("hit")})
    assert n == 1  # NULL v row untouched
    got = {r["k"]: r["g"] for r in store.read(spark, name).collect()}
    assert got == {1: "hit", 2: "b"}

    with _pytest.raises(ValueError, match="unknown column"):
        update_where(spark, store, name, F.lit(True), {"nope": F.lit(1)})

    # history still holds the deleted rows -> purge erases it
    assert len(store.versions(name)) == 3
    purged = purge_versions(store, name)
    assert purged == [1, 2]
    assert store.versions(name) == [store.current_version(name)]
    with _pytest.raises(FileNotFoundError):
        store.read_version(spark, name, 1)
    # table itself is intact after the purge
    assert store.read(spark, name).count() == 2


def test_overwrite_partitions_links_untouched(spark, tmp_path):
    """Partition-scoped overwrite: replaced partitions come from the new
    frame, untouched partitions are HARDLINKED from the previous version
    (same inode — zero copy), and the result reads correctly."""
    import os

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "ns.pover"
    base = spark.createDataFrame(
        [(2024, 1, 10.0), (2024, 2, 20.0), (2025, 1, 30.0)],
        "year int, k int, v double",
    )
    store.overwrite(base, name, partition_by=["year"])
    v1_dir = store.data_path(name)
    v1_inodes = {
        f: os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(os.path.join(v1_dir, "year=2024"))
        for f in fs
        if f.endswith(".parquet")
    }

    repl = spark.createDataFrame([(2025, 1, 99.0), (2025, 2, 98.0)],
                                 "year int, k int, v double")
    store.overwrite_partitions(repl, name, ["year"], ["year=2025"])

    got = sorted(tuple(r) for r in store.read(spark, name).select("year", "k", "v").collect())
    assert got == [(2024, 1, 10.0), (2024, 2, 20.0), (2025, 1, 99.0), (2025, 2, 98.0)]
    v2_dir = store.data_path(name)
    assert v2_dir != v1_dir
    v2_inodes = {
        f: os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(os.path.join(v2_dir, "year=2024"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert v2_inodes == v1_inodes  # untouched partition shared by inode


def test_merge_upsert_prune_partitions_equivalent(spark, tmp_path):
    """prune_partitions merge == full merge row-for-row, while only the
    churned partition is rewritten (untouched partition files keep their
    inodes across the new version)."""
    import os

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.merge import merge_upsert

    rows = [(y, k, float(k + y)) for y in (2023, 2024, 2025) for k in range(50)]
    source_rows = [(2025, k, 1000.0 + k) for k in range(25, 75)]  # updates + inserts

    full_store = TableStore(root=str(tmp_path / "full"))
    pruned_store = TableStore(root=str(tmp_path / "pruned"))
    target = spark.createDataFrame(rows, "year int, k int, v double")
    source = spark.createDataFrame(source_rows, "year int, k int, v double")
    for st in (full_store, pruned_store):
        st.overwrite(target, "ns.t", partition_by=["year"])

    res_full = merge_upsert(
        spark, full_store, "ns.t", source, keys=["year", "k"],
        partition_by=["year"],
    )
    before_inodes = {
        f: os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(os.path.join(pruned_store.data_path("ns.t"), "year=2023"))
        for f in fs if f.endswith(".parquet")
    }
    res_pruned = merge_upsert(
        spark, pruned_store, "ns.t", source, keys=["year", "k"],
        partition_by=["year"], prune_partitions=True,
    )
    assert (res_full["updated"], res_full["inserted"]) == (25, 25)
    assert (res_pruned["updated"], res_pruned["inserted"]) == (25, 25)
    a = sorted(tuple(r) for r in full_store.read(spark, "ns.t").select("year", "k", "v").collect())
    b = sorted(tuple(r) for r in pruned_store.read(spark, "ns.t").select("year", "k", "v").collect())
    assert a == b and len(a) == 175
    after_inodes = {
        f: os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(os.path.join(pruned_store.data_path("ns.t"), "year=2023"))
        for f in fs if f.endswith(".parquet")
    }
    assert after_inodes == before_inodes  # 2023 not rewritten

    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires partition_by"):
        merge_upsert(spark, pruned_store, "ns.t", source, keys=["year", "k"],
                     prune_partitions=True)
    with _pytest.raises(ValueError, match="cannot be updated"):
        merge_upsert(spark, pruned_store, "ns.t", source, keys=["k"],
                     partition_by=["year"], update_cols=["year", "v"],
                     prune_partitions=True)


def test_partition_layout_recorded_and_preserved(spark, tmp_path):
    """The store records partition_by at overwrite; DML rewrites and
    compaction preserve the layout automatically (no caller re-statement);
    a plain full overwrite without partition_by clears it."""
    import os

    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.merge import delete_where

    store = TableStore(root=str(tmp_path))
    name = "ns.layout"
    df = spark.createDataFrame(
        [(y, k, float(k)) for y in (2024, 2025) for k in range(10)],
        "year int, k int, v double",
    )
    store.overwrite(df, name, partition_by=["year"])
    assert store.partitioning(name) == ["year"]

    delete_where(spark, store, name, F.col("k") > 7)
    assert store.partitioning(name) == ["year"]
    assert os.path.isdir(os.path.join(store.data_path(name), "year=2024"))
    assert store.read(spark, name).count() == 16

    store.compact(spark, name)
    assert os.path.isdir(os.path.join(store.data_path(name), "year=2025"))

    # unpartitioned full rewrite clears the record
    store.overwrite(store.read(spark, name), name)
    assert store.partitioning(name) is None


def test_overwrite_partitions_crash_before_commit(spark, tmp_path, monkeypatch):
    """Crash injection: dying after the partition links are built but
    before the pointer flip leaves the table untouched (old version still
    served, staged dir invisible) and the next overwrite sweeps the
    orphan."""
    import os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "ns.pcrash"
    store.overwrite(
        spark.createDataFrame([(2024, 1.0), (2025, 2.0)], "year int, v double"),
        name, partition_by=["year"],
    )
    v_before = store.current_version(name)

    def crash(self, n, v):
        raise RuntimeError("died before flip")

    monkeypatch.setattr(TableStore, "_commit_version", crash)
    with _pytest.raises(RuntimeError, match="died before flip"):
        store.overwrite_partitions(
            spark.createDataFrame([(2025, 99.0)], "year int, v double"),
            name, ["year"], ["year=2025"],
        )
    monkeypatch.undo()

    assert store.current_version(name) == v_before
    got = {r["year"]: r["v"] for r in store.read(spark, name).collect()}
    assert got == {2024: 1.0, 2025: 2.0}  # old data intact
    staged = [v for v in store._all_version_dirs(name) if v not in store.versions(name)]
    assert staged  # orphan exists on disk...
    store.overwrite_partitions(
        spark.createDataFrame([(2025, 50.0)], "year int, v double"),
        name, ["year"], ["year=2025"],
    )
    # ...and is swept by the next successful commit's GC
    assert all(
        v in store.versions(name) for v in store._all_version_dirs(name)
    )
    got = {r["year"]: r["v"] for r in store.read(spark, name).collect()}
    assert got == {2024: 1.0, 2025: 50.0}


def test_merge_prune_partitions_rejects_moved_keys(spark, tmp_path):
    """ADVICE r05: a source key that already exists in the target under an
    UNTOUCHED partition would be misclassified as an insert by the pruned
    scan and its old image would survive via the hardlinked partition —
    silent duplicate keys. The pruned path now validates the partition-
    stability precondition (key-pruned scan + broadcast semi-join) and
    refuses; validate_pruning=False opts out for structurally-safe callers."""
    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.merge import merge_upsert

    store = TableStore(root=str(tmp_path))
    target = spark.createDataFrame(
        [(2023, 1, 1.0), (2024, 2, 2.0)], "year int, k int, v double"
    )
    store.overwrite(target, "ns.t", partition_by=["year"])
    # key k=1 lives under year=2023; the source claims it under year=2025
    moved = spark.createDataFrame([(2025, 1, 9.0)], "year int, k int, v double")
    with _pytest.raises(ValueError, match="outside the touched set"):
        merge_upsert(
            spark, store, "ns.t", moved, keys=["k"],
            partition_by=["year"], prune_partitions=True,
        )
    # partition column inside the key set -> a key match implies the same
    # partition; no validation scan needed and the merge proceeds
    ok = spark.createDataFrame([(2025, 3, 3.0)], "year int, k int, v double")
    merge_upsert(
        spark, store, "ns.t", ok, keys=["year", "k"],
        partition_by=["year"], prune_partitions=True,
    )
    assert store.read(spark, "ns.t").count() == 3
    # opting out runs the (unsafe) merge without the guard
    merge_upsert(
        spark, store, "ns.t", moved, keys=["k"],
        partition_by=["year"], prune_partitions=True, validate_pruning=False,
    )
    # NULL partition values in the source are rejected up front
    null_src = spark.createDataFrame([(None, 7, 7.0)], "year int, k int, v double")
    with _pytest.raises(ValueError, match="NULL values in partition column"):
        merge_upsert(
            spark, store, "ns.t", null_src, keys=["year", "k"],
            partition_by=["year"], prune_partitions=True,
        )


def test_merge_prune_partitions_nonplain_partition_values(spark, tmp_path):
    """ADVICE r05: replaced partition specs are derived from the staged
    directory names (overwrite_partitions derived mode), so partition
    values whose str() form differs from Spark's dir encoding — Hive
    percent-escaped characters like ':' (%3A) and '/' (%2F) — merge fine
    instead of tripping the stray-partition rejection. (Boolean partition
    columns can't hit this: Spark's partition discovery reads them back as
    strings, so a boolean-typed source never joins in the first place.)"""
    import os

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.merge import merge_upsert

    store = TableStore(root=str(tmp_path))
    t = spark.createDataFrame(
        [("a:b", 1, 1.0), ("c/d", 2, 2.0)], "grp string, k int, v double"
    )
    store.overwrite(t, "ns.e", partition_by=["grp"])
    # the escaped dir names are what's on disk — str(v) would never match
    dirs = {e for e in os.listdir(store.data_path("ns.e")) if e.startswith("grp=")}
    assert dirs == {"grp=a%3Ab", "grp=c%2Fd"}
    before = {
        f: os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(os.path.join(store.data_path("ns.e"), "grp=c%2Fd"))
        for f in fs if f.endswith(".parquet")
    }
    s = spark.createDataFrame(
        [("a:b", 1, 5.0), ("a:b", 3, 3.0)], "grp string, k int, v double"
    )
    res = merge_upsert(
        spark, store, "ns.e", s, keys=["grp", "k"],
        partition_by=["grp"], prune_partitions=True,
    )
    assert (res["updated"], res["inserted"]) == (1, 1)
    got = sorted(
        tuple(r) for r in store.read(spark, "ns.e").select("grp", "k", "v").collect()
    )
    assert got == [("a:b", 1, 5.0), ("a:b", 3, 3.0), ("c/d", 2, 2.0)]
    after = {
        f: os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(os.path.join(store.data_path("ns.e"), "grp=c%2Fd"))
        for f in fs if f.endswith(".parquet")
    }
    assert after == before  # untouched escaped partition linked, not rewritten


def test_legacy_store_restore_not_destructive(spark, tmp_path):
    """ADVICE r05: for stores created before the _COMMITS journal existed,
    restore() followed by the next write must NOT let GC delete the newer
    committed versions that were rolled back over ('restore is itself
    reversible')."""
    import os

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.legacy"
    for i in (1, 2, 3):
        store.overwrite(
            spark.createDataFrame([(i,)], "v int"), name
        )
    assert store.versions(name) == [1, 2, 3]
    # simulate a pre-_COMMITS store
    os.remove(store._commits_file(name))
    store.restore(name, 1)
    assert store.current_version(name) == 1
    # the next write used to snapshot {v <= pointer} and GC v2/v3 as orphans
    store.overwrite(spark.createDataFrame([(4,)], "v int"), name)
    assert {2, 3} <= set(store.versions(name))
    assert store.read_version(spark, name, 3).collect()[0][0] == 3


def test_clone_zero_copy_and_diverge(spark, tmp_path):
    """CREATE TABLE ... CLONE parity (r06): the clone hardlinks the source's
    current version (shared inodes, no data movement), copies metadata
    (layout marker, comment), then diverges independently — and the shared
    inodes keep the clone readable after the source is dropped."""
    import os

    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.merge import update_where

    store = TableStore(root=str(tmp_path))
    df = spark.createDataFrame(
        [(y, k, float(k)) for y in (2024, 2025) for k in range(20)],
        "year int, k int, v double",
    )
    store.overwrite(df, "ns.src", partition_by=["year"])
    store.set_comment("ns.src", "the source")

    store.clone("ns.src", "ns.dup")
    assert store.read(spark, "ns.dup").count() == 40
    assert store.partitioning("ns.dup") == ["year"]
    assert store.get_comment("ns.dup") == "the source"

    def inodes(name):
        return {
            f: os.stat(os.path.join(r, f)).st_ino
            for r, _d, fs in os.walk(store.data_path(name))
            for f in fs if f.endswith(".parquet")
        }

    assert inodes("ns.dup") == inodes("ns.src")  # zero-copy

    # diverge the clone; source is untouched
    n = update_where(spark, store, "ns.dup", F.col("k") < 5, {"v": F.lit(-1.0)})
    assert n == 10
    assert store.read(spark, "ns.src").filter(F.col("v") < 0).count() == 0
    assert store.read(spark, "ns.dup").filter(F.col("v") < 0).count() == 10

    # clone-of-clone refusals
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        store.clone("ns.src", "ns.dup")
    with _pytest.raises(FileNotFoundError, match="does not exist"):
        store.clone("ns.ghost", "ns.x")

    # dropping the source leaves the clone fully readable (shared inodes)
    store.drop("ns.src")
    assert store.read(spark, "ns.dup").count() == 40


def test_timestamp_time_travel(spark, tmp_path):
    """AT (TIMESTAMP =>) parity (r06): reads resolve against the pointer-
    flip log, so restore() history is honored — a restored old version is
    what timestamp reads see after the restore instant."""
    import time

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.tt"
    t_before = time.time()
    time.sleep(0.02)
    store.overwrite(spark.createDataFrame([(1,)], "v int"), name)
    time.sleep(0.02)
    t1 = time.time()
    time.sleep(0.02)
    store.overwrite(spark.createDataFrame([(2,)], "v int"), name)
    time.sleep(0.02)
    t2 = time.time()
    time.sleep(0.02)
    store.restore(name, 1)
    time.sleep(0.02)
    t3 = time.time()

    assert store.version_at_timestamp(name, t1) == 1
    assert store.version_at_timestamp(name, t2) == 2
    assert store.version_at_timestamp(name, t3) == 1  # restore honored
    assert store.read_at_timestamp(spark, name, t2).collect()[0][0] == 2
    assert store.read_at_timestamp(spark, name, t1).collect()[0][0] == 1
    with _pytest.raises(ValueError, match="no version existed"):
        store.version_at_timestamp(name, t_before)
    with _pytest.raises(FileNotFoundError, match="no pointer history"):
        store.version_at_timestamp("ns.ghost", t1)
