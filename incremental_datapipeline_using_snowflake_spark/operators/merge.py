"""MERGE (upsert) as a DataFrame rewrite.

The reference's only join-shaped operator is Snowflake ``MERGE`` (SURVEY.md
§2.3 J1-J3, e.g. ``co2_harmonized_sp/function.py:135-153``): match on a key,
UPDATE matched rows, INSERT unmatched source rows. Vanilla parquet has no
transactional MERGE, so we decompose it —

    result =   target ⟕anti source        (rows untouched by the merge)
             ∪ (target ⋈ source)          (matched -> updated column values)
             ∪ (source ⟕anti target)      (brand-new rows -> inserted)

— and commit with the store's atomic stage-and-swap.

Scale notes (100 TB): the incremental source batch is orders of magnitude
smaller than the target. By default (``broadcast_source=True``) it is
collected to the driver ONCE as an Arrow table — the same bytes a broadcast
join collects — and the merge is ONE plan without a join: the target scan,
filtered by a literal key-set predicate (``NOT k IN (...)``, pushed into the
parquet reader), unioned with the matched and inserted rows as
single-partition local frames. One write job commits it: no broadcast stage,
no shuffle, and the target is scanned once. Only when matched rows must keep
some target values (an ``update_cols`` subset) or the updated/inserted counts
are asked for does a probe job read the matched target rows first
(``k IN (...)``, row-group pruned). For a source too big to collect, pass
``broadcast_source=False``: the join plan of :func:`merge_branches` runs and
AQE picks sort-merge joins with skew handling.
The rewrite is idempotent on replay: re-merging the same source against the
merged target yields the identical table (C4 semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .table_store import TableStore

# key types whose driver-side (Python) equality is Spark's: floats are out
# (NaN = NaN in Spark, not in Python), and so are collated strings
_KEY_TYPES = (
    T.BinaryType, T.BooleanType, T.ByteType, T.DateType, T.DecimalType,
    T.IntegerType, T.LongType, T.ShortType, T.TimestampNTZType, T.TimestampType,
)
_INT_SUFFIX = {"tinyint": "Y", "smallint": "S", "int": "", "bigint": "L"}


def _q(col: str) -> str:
    return "`" + col.replace("`", "``") + "`"


def _sql_literal(v, t) -> str:
    """Spark SQL text of the non-NULL value ``v`` of type ``t``."""
    name = t.simpleString()
    if isinstance(t, T.StringType):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(t, T.BinaryType):
        return f"X'{v.hex()}'"
    if name in _INT_SUFFIX:
        return f"{v}{_INT_SUFFIX[name]}"
    if name in ("date", "timestamp", "timestamp_ntz"):
        return f"{name.upper()}'{v}'"
    return f"CAST('{v}' AS {name})"


def in_list_sql(cols: list[str], types: list, values: list[tuple]) -> str:
    """``cols IN (values)`` as ONE SQL expression string. ``Column.isin``
    pays one py4j call per literal (seconds for a few thousand dates); this
    is one ``F.expr`` whatever the list length. Several columns compare as
    one struct, so ``types`` must equal the columns' types exactly."""
    if not values:
        return "false"
    if len(cols) == 1:
        items = ", ".join(_sql_literal(v[0], types[0]) for v in values)
        return f"{_q(cols[0])} IN ({items})"

    def struct(parts) -> str:
        return "named_struct(" + ", ".join(
            f"'c{i}', {p}" for i, p in enumerate(parts)
        ) + ")"

    items = ", ".join(
        struct(_sql_literal(x, t) for x, t in zip(v, types)) for v in values
    )
    return f"{struct(map(_q, cols))} IN ({items})"


def _key_tuples(tbl, keys: list[str]) -> list[tuple]:
    return list(zip(*[tbl.column(k).to_pylist() for k in keys]))


def collect_source(source: DataFrame, keys: list[str]):
    """``source`` as an Arrow table with one row per key (the first seen;
    NULL keys group together, as in ``dropDuplicates``) — one job."""
    tbl = source.toArrow()
    first: dict = {}
    for i, kt in enumerate(_key_tuples(tbl, keys)):
        first.setdefault(kt, i)
    return tbl if len(first) == tbl.num_rows else tbl.take(list(first.values()))


def _write_observed(sink, df: DataFrame, name: str, partition_by, metrics) -> dict:
    """Overwrite ``name`` with ``df``, collecting ``metrics`` ({name:
    aggregate Column}) during the write job itself."""
    from pyspark.sql import Observation

    obs = Observation()
    if metrics:
        df = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    sink.overwrite(df, name, partition_by=partition_by)
    return dict(obs.get) if metrics else {}


def merge_upsert(
    spark: SparkSession,
    store: TableStore,
    target_table: str,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    count_rows: bool = True,
    broadcast_source: bool = True,
    observe_metrics: dict | None = None,
    prune_partitions: bool = False,
    validate_pruning: bool = True,
    txn=None,
) -> dict:
    """Upsert ``source`` into ``target_table`` on ``keys``.

    - ``update_cols``: non-key columns taken from the source for matched rows
      (default: every target column present in the source). Mirrors the
      reference's update dict that excludes helper columns
      (``co2_analytical_sp/function.py:127-141``).
    - ``insert_cols``: columns populated for inserted rows (default: same as
      update set + keys); target columns absent from the source become NULL.
    - ``count_rows``: when False, the updated/inserted counts may be skipped
      (-1). They cost a job only where the merge would not run one anyway:
      the probe of matched target rows on the local path when every column
      comes from the source, and two count jobs over the join branches on
      the ``broadcast_source=False`` path.
    - ``broadcast_source``: the source is small enough to collect to the
      driver (see the module's scale notes). Key columns must also share an
      exact type with the target and be comparable on the driver (no
      floating-point or collated-string keys); otherwise the join plan runs.
    - ``observe_metrics``: ``{name: aggregate Column}`` collected over the
      FULL merged table during the write job itself (``Observation`` — no
      post-merge re-scan); values returned under ``"observed"``. The
      pipeline's min/max scalar-cache refresh rides the merge this way.
    - ``txn``: a :meth:`TableStore.transaction` handle — the merged table
      is STAGED through it instead of committed immediately, so the merge
      publishes atomically with the caller's other writes (the pipeline
      pairs HARMONIZED with its min/max scalar cache this way).
    - ``prune_partitions``: the 100 TB merge path for partitioned targets.
      The touched first-level partition values are read off the (small)
      source; the target scan is partition-pruned to them, the merge runs
      over ONLY those partitions, and the store links every untouched
      partition into the new version unchanged
      (:meth:`TableStore.overwrite_partitions`) — merge cost becomes
      proportional to the churned partitions, not the table. Requires
      ``partition_by``; the first partition column must exist in the
      source and must not be updated (a row changing partition would need
      its destination partition rewritten too); incompatible with
      ``observe_metrics`` (which promises full-table aggregates) and
      ``txn`` (partition links commit directly).
    - ``validate_pruning``: enforce the pruned path's precondition that no
      source key already exists in the target under an UNTOUCHED partition
      (such a row would be misclassified as an insert and its old image
      would survive via the linked untouched partition — silent duplicate
      keys). Skipped automatically when the partition column is part of
      ``keys`` (a key match then implies the same partition). The check is
      one key-column-pruned count of the untouched partitions filtered by
      the source key set — no shuffle; pass ``False`` only when the caller
      structurally guarantees partition stability.

    Returns ``{"updated": n, "inserted": n}`` row counts (-1 when skipped),
    plus ``"observed"`` when requested.
    """
    sink = txn if txn is not None else store
    metrics = dict(observe_metrics or {})

    if not store.exists(target_table):
        init_cols = insert_cols or source.columns
        out = source.select(*[F.col(c) for c in init_cols]).dropDuplicates(keys)
        got = _write_observed(
            sink, out, target_table, partition_by,
            {**metrics, "_inserted": F.count(F.lit(1))},
        )
        res: dict = {"updated": 0, "inserted": got.pop("_inserted")}
        if observe_metrics:
            res["observed"] = got
        return res

    target = store.read(spark, target_table)
    ttypes = {f.name: f.dataType for f in target.schema.fields}
    stypes = {f.name: f.dataType for f in source.schema.fields}
    local = broadcast_source and all(
        ttypes.get(k) == stypes.get(k)
        and (isinstance(stypes[k], _KEY_TYPES) or stypes[k] == T.StringType())
        for k in keys
    )
    upd, ins = update_cols, insert_cols
    if prune_partitions:
        if not partition_by:
            raise ValueError("prune_partitions requires partition_by")
        if observe_metrics or txn is not None:
            raise ValueError(
                "prune_partitions is incompatible with observe_metrics/txn"
            )
        pcol = partition_by[0]
        if pcol not in source.columns:
            raise ValueError(f"source lacks partition column {pcol!r}")
        if update_cols and pcol in update_cols:
            raise ValueError(f"partition column {pcol!r} cannot be updated")
        # the partition column must never enter the update set — even the
        # DEFAULT one (update_cols=None would otherwise include it since it
        # exists on both sides): under the path's contract source pcol ==
        # target pcol for matched rows, but if the contract is violated an
        # updated pcol would silently move rows across partition dirs.
        upd = update_cols or [
            c for c in target.columns if c not in keys and c != pcol and c in stypes
        ]
        # inserted rows MUST carry the partition column (the default
        # insert set is keys + update set, which usually excludes it; a
        # NULL partition would land outside every replaced dir and corrupt
        # the link set)
        ins = insert_cols or list(dict.fromkeys(keys + upd))
        if pcol not in ins:
            ins = [pcol, *ins]

    rows = collect_source(source, keys) if local else None
    if prune_partitions:
        # the touched partition set is a bounded scalar list (days/years of
        # one batch), read off the collected source when there is one
        pvals = (
            set(rows.column(pcol).to_pylist())
            if local
            else {r[0] for r in source.select(pcol).distinct().collect()}
        )
        if None in pvals:
            raise ValueError(
                f"merge_upsert({target_table}): source has NULL values in "
                f"partition column {pcol!r} — the pruned scan cannot match "
                f"the NULL partition (isin semantics); merge without "
                f"prune_partitions or filter the NULLs"
            )
        touched = F.expr(in_list_sql([pcol], [stypes[pcol]], [(v,) for v in pvals]))
        if validate_pruning and pcol not in keys:
            # precondition check: a source key living in an UNTOUCHED target
            # partition would be misclassified as an insert (the pruned scan
            # can't see its match) and duplicated via the partition links.
            # NULL-partition target rows are untouched too (the IN predicate
            # is NULL for them, and a plain NOT would drop them).
            outside = target.filter(~F.coalesce(touched, F.lit(False))).select(*keys)
            if local:
                moved = outside.filter(F.expr(_hit_sql(rows, keys, stypes)))
            else:
                moved = outside.join(
                    source.select(*keys).dropDuplicates(keys), on=keys, how="left_semi"
                )
            n_moved = moved.count()
            if n_moved:
                raise ValueError(
                    f"merge_upsert({target_table}): {n_moved} source key(s) "
                    f"already exist in the target under partitions outside "
                    f"the touched set {sorted(map(str, pvals))[:10]} — a "
                    f"row's partition value may not change under "
                    f"prune_partitions; merge without pruning or delete the "
                    f"old rows first (validate_pruning=False skips this "
                    f"check when partition stability is guaranteed)"
                )
        target = target.filter(touched)

    if local:
        result, n_upd, n_ins = merge_plan(
            spark, target, source, keys, upd, ins, count_rows=count_rows, rows=rows
        )
    else:
        matched, inserted, result = merge_branches(target, source, keys, upd, ins)
        n_upd = matched.count() if count_rows else -1
        n_ins = inserted.count() if count_rows else -1
    res = {"updated": n_upd, "inserted": n_ins}
    if prune_partitions:
        # replaced partition specs are DERIVED from the directory names the
        # staged write actually produces (overwrite_partitions(replaced=None))
        # rather than formatted from collected Python values — str(v) does
        # not reproduce Spark's partition-dir encoding for booleans
        # ('True' vs 'true') or Hive percent-escaped characters (':' '/').
        store.overwrite_partitions(result, target_table, partition_by, None)
        return res
    got = _write_observed(sink, result, target_table, partition_by, metrics)
    if observe_metrics:
        res["observed"] = got
    return res


def _hit_sql(rows, keys: list[str], stypes: dict) -> str:
    """The key-set predicate over the collected source: SQL NULL keys never
    match, so NULL-keyed rows are left out of the list."""
    live = [kt for kt in _key_tuples(rows, keys) if None not in kt]
    return in_list_sql(keys, [stypes[k] for k in keys], live)


def merge_plan(
    spark: SparkSession,
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert_cols: list[str] | None = None,
    count_rows: bool = True,
    rows=None,
) -> tuple[DataFrame, int, int]:
    """The collected-source merge as one plan: ``(result, updated,
    inserted)``.

    ``rows`` is the source already collected by :func:`collect_source`
    (collected here when None). ``result`` is the target filtered by the
    literal key-set predicate, unioned with the matched and inserted rows as
    single-partition local frames: no join, no exchange. When every matched
    row simply becomes its source row and ``count_rows`` is False, the
    target is not read before the write and both counts are -1; otherwise
    one probe job collects the matched target rows (keys plus the columns
    the update keeps).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if rows is None:
        rows = collect_source(source, keys)
    tcols = target.columns
    ttypes = {f.name: f.dataType for f in target.schema.fields}
    stypes = {f.name: f.dataType for f in source.schema.fields}
    upd = update_cols or [c for c in tcols if c not in keys and c in stypes]
    ins = insert_cols or list(dict.fromkeys(keys + upd))
    kept = [c for c in tcols if c not in keys and c not in upd]

    hit = _hit_sql(rows, keys, stypes)
    untouched = target.filter(
        F.expr(f"NOT ({hit}) OR " + " OR ".join(f"{_q(k)} IS NULL" for k in keys))
    )

    def frame(cols: dict, types: dict) -> DataFrame:
        schema = T.StructType([T.StructField(c, types[c]) for c in tcols])
        return spark.createDataFrame(pa.table(cols), schema).coalesce(1)

    if not (kept or count_rows) and all(c in ins and c in stypes for c in tcols):
        # a matched row becomes exactly its source row, as an inserted one
        # does: which keys the target holds does not matter
        local = frame({c: rows.column(c) for c in tcols}, stypes)
        return untouched.unionByName(local), -1, -1

    found = target.filter(F.expr(hit)).select(*keys, *kept).toArrow()
    pos = {kt: i for i, kt in enumerate(_key_tuples(rows, keys))}
    hits = [pos[kt] for kt in _key_tuples(found, keys)]
    matched_rows = set(hits)
    new = [i for i in range(rows.num_rows) if i not in matched_rows]
    hits, new = pa.array(hits, pa.int64()), pa.array(new, pa.int64())
    matched = frame(
        {c: rows.column(c).take(hits) if c in upd else found.column(c) for c in tcols},
        {c: stypes[c] if c in upd else ttypes[c] for c in tcols},
    )
    from_src = [c for c in tcols if c in ins and c in stypes]
    inserted = frame(
        {
            c: rows.column(c).take(new)
            if c in from_src
            else pa.nulls(len(new), to_arrow_type(ttypes[c]))
            for c in tcols
        },
        {c: stypes[c] if c in from_src else ttypes[c] for c in tcols},
    )
    result = untouched.unionByName(matched).unionByName(inserted)
    return result, found.num_rows, len(new)


def merge_branches(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The join merge plan for a source too big to collect, as pure
    DataFrames: ``(matched, inserted, result)``. No join hints: AQE plans
    shuffle joins keyed on ``keys``, with skew splitting if a key is hot.
    """
    target_cols = target.columns
    src = source.dropDuplicates(keys)
    upd = update_cols or [c for c in target_cols if c not in keys and c in src.columns]
    ins = insert_cols or list(dict.fromkeys(keys + upd))

    untouched = target.join(src.select(*keys), on=keys, how="left_anti")

    matched = target.alias("t").join(src.alias("s"), on=keys, how="inner").select(
        *[F.col(f"t.{k}").alias(k) for k in keys],
        *[
            (F.col(f"s.{c}") if c in upd else F.col(f"t.{c}")).alias(c)
            for c in target_cols
            if c not in keys
        ],
    )

    # Inserted rows = source keys absent from the target, anti-joined
    # against the MATCHED keys (≤|src| rows) rather than the full target
    # keyset.
    matched_keys = target.select(*keys).join(src.select(*keys), on=keys, how="inner")
    inserted = src.join(matched_keys, on=keys, how="left_anti").select(
        *[
            (F.col(c) if c in ins and c in src.columns else F.lit(None)).alias(c)
            for c in target_cols
        ]
    )

    result = untouched.select(*target_cols).unionByName(
        matched.select(*target_cols)
    ).unionByName(inserted)
    return matched, inserted, result


def apply_changes(
    spark: SparkSession,
    store: TableStore,
    target_table: str,
    changes: DataFrame,
    keys: list[str],
    action_col: str = "_action",
    partition_by: list[str] | None = None,
) -> None:
    """Apply a full CDC batch (INSERT + DELETE rows, changelog order by
    ``_row_id``) to the target — the ``APPEND_ONLY=false`` stream shape
    (reference ``02_create_rawco2data_stream.py:50-56``; the reference's own
    merges only consume INSERTs, this completes the operator family).

    Per key, only the LAST action in the batch wins (a key deleted then
    re-inserted ends present). Single pass: the target is scanned once,
    anti-joined against ALL touched keys (broadcast), and the surviving
    rows are unioned with the batch's final INSERT images — one atomic
    overwrite, no separate delete rewrite.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys).orderBy(F.desc("_row_id"))
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    ).cache()
    upserts = last.filter(F.col(action_col) == "INSERT").drop(action_col, "_row_id")

    if not store.exists(target_table):
        store.overwrite(upserts, target_table, partition_by=partition_by)
        last.unpersist()
        return

    target = store.read(spark, target_table)
    untouched = target.join(
        F.broadcast(last.select(*keys)), on=keys, how="left_anti"
    )
    result = untouched.unionByName(
        upserts.select(*target.columns), allowMissingColumns=False
    )
    store.overwrite(result, target_table, partition_by=partition_by)
    last.unpersist()


def upsert_dataframe(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
) -> DataFrame:
    """Pure (side-effect-free) upsert of two DataFrames; same semantics as
    :func:`merge_upsert` but returns the merged DataFrame. Used by the
    oracle-checked ``merge_upsert`` query and by tests."""
    target_cols = target.columns
    src = source.dropDuplicates(keys)
    upd = update_cols or [c for c in target_cols if c not in keys and c in src.columns]
    untouched = target.join(src.select(*keys), on=keys, how="left_anti")
    matched = target.alias("t").join(src.alias("s"), on=keys, how="inner").select(
        *[F.col(f"t.{k}").alias(k) for k in keys],
        *[
            (F.col(f"s.{c}") if c in upd else F.col(f"t.{c}")).alias(c)
            for c in target_cols
            if c not in keys
        ],
    )
    inserted = src.join(target.select(*keys), on=keys, how="left_anti").select(
        *[
            (F.col(c) if c in src.columns else F.lit(None)).alias(c)
            for c in target_cols
        ]
    )
    return (
        untouched.select(*target_cols)
        .unionByName(matched.select(*target_cols))
        .unionByName(inserted)
    )


def delete_where(
    spark: SparkSession,
    store: TableStore,
    name: str,
    condition: Column | str,
    partition_by: list[str] | None = None,
) -> int:
    """Standalone ``DELETE FROM <name> WHERE <condition>`` (the DML half
    Snowflake users reach for outside MERGE; reference deployer scripts
    issue these against staging tables).

    One scan: the survivor set is staged through the store's atomic
    overwrite, and the deleted-row count rides an ``Observation`` on the
    same pass — no second count job. Time travel still sees the pre-delete
    version until GC; call :func:`purge_versions` after a privacy-motivated
    delete so retained history cannot resurrect the rows.
    """
    from pyspark.sql import Observation

    # three-valued logic: DELETE removes only rows where the predicate is
    # TRUE — NULL-valued predicates keep their rows (SQL semantics)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    cond = F.coalesce(cond, F.lit(False))
    obs = Observation()
    kept = store.read(spark, name).observe(
        obs, F.sum(cond.cast("long")).alias("n_deleted")
    ).filter(~cond)
    # preserve the table's recorded partition layout unless the caller
    # overrides it — an unpartitioned rewrite of a partitioned table would
    # silently flatten the layout
    store.overwrite(
        kept, name, partition_by=partition_by or store.partitioning(name)
    )
    n = obs.get["n_deleted"]
    return int(n) if n is not None else 0


def update_where(
    spark: SparkSession,
    store: TableStore,
    name: str,
    condition: Column | str,
    assignments: dict[str, Column],
    partition_by: list[str] | None = None,
) -> int:
    """Standalone ``UPDATE <name> SET col = expr, ... WHERE <condition>``.

    Row-preserving rewrite: every assigned column becomes
    ``CASE WHEN cond THEN new ELSE old END``; unmatched rows pass through
    byte-identical. Same single-scan Observation counting and atomic
    commit as :func:`delete_where`.
    """
    from pyspark.sql import Observation

    cond = F.expr(condition) if isinstance(condition, str) else condition
    cond = F.coalesce(cond, F.lit(False))  # NULL predicate -> row untouched
    df = store.read(spark, name)
    missing = [c for c in assignments if c not in df.columns]
    if missing:
        raise ValueError(f"update_where({name}): unknown column(s) {missing}")
    obs = Observation()
    updated = df.observe(obs, F.sum(cond.cast("long")).alias("n_updated")).select(
        *[
            (
                F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in df.columns
        ]
    )
    store.overwrite(
        updated, name, partition_by=partition_by or store.partitioning(name)
    )
    n = obs.get["n_updated"]
    return int(n) if n is not None else 0


def purge_versions(store: TableStore, name: str) -> list[int]:
    """Erase all RETAINED HISTORY of a table, keeping only the current
    version — the right-to-be-forgotten companion to :func:`delete_where`
    (a privacy delete is incomplete while time travel / RESTORE can
    resurrect the rows). Returns the purged version numbers."""
    import os
    import shutil

    current = store.current_version(name)
    purged = []
    for v in store.versions(name):
        if v != current:
            shutil.rmtree(
                os.path.join(store.table_dir(name), f"v={v:06d}"),
                ignore_errors=True,
            )
            purged.append(v)
    live = set(store._all_version_dirs(name))
    store._write_committed_set(name, store._committed_set(name) & live)
    return purged
