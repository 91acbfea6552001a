"""Property-based tests (hypothesis) for the merge/upsert rewrite — the one
genuinely custom relational operator (SURVEY.md §7.2 phase 1), so it gets
the strongest correctness treatment: randomized target/source pairs checked
against a dict-model oracle, plus the idempotency and key-uniqueness laws.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from incremental_datapipeline_using_snowflake_spark.operators.merge import upsert_dataframe

KEYS = st.integers(min_value=0, max_value=20)
VALS = st.integers(min_value=-1000, max_value=1000)

rows = st.lists(st.tuples(KEYS, VALS), max_size=25)


def _df(spark, data):
    return spark.createDataFrame(
        [(int(k), int(v)) for k, v in data] or [(0, 0)], schema="k long, v long"
    ).limit(len(data))


def _model(target, source):
    """Dict-model semantics: last source row per key wins over target."""
    out = {k: v for k, v in target}
    # upsert_dataframe dropDuplicates(keys) keeps an arbitrary source row per
    # key; to keep the model deterministic we feed sources with unique keys.
    for k, v in source:
        out[k] = v
    return out


@pytest.fixture(scope="module")
def sp(spark):
    return spark


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=rows, source=rows)
def test_upsert_matches_dict_model(sp, target, source):
    # unique keys per side (the operator's contract: key-deduped inputs)
    target = list({k: (k, v) for k, v in target}.values())
    source = list({k: (k, v) for k, v in source}.values())
    t, s = _df(sp, target), _df(sp, source)
    got = {r["k"]: r["v"] for r in upsert_dataframe(t, s, keys=["k"]).collect()}
    assert got == _model(target, source)


actions = st.lists(
    st.tuples(KEYS, VALS, st.sampled_from(["INSERT", "DELETE"])), max_size=20
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=rows, changes=actions)
def test_apply_changes_matches_dict_model(sp, store, target, changes):
    # the target table is fully overwritten per example, so reusing one
    # store across hypothesis examples is sound
    from incremental_datapipeline_using_snowflake_spark.operators import apply_changes

    target = list({k: (k, v) for k, v in target}.values())
    t = sp.createDataFrame(
        [(int(k), int(v)) for k, v in target] or [(0, 0)], schema="k long, v long"
    ).limit(len(target))
    store.overwrite(t, "ns.prop")

    rows_ = [
        (int(k), int(v), a, i) for i, (k, v, a) in enumerate(changes)
    ] or [(0, 0, "INSERT", 0)]
    ch = sp.createDataFrame(
        rows_, schema="k long, v long, _action string, _row_id long"
    ).limit(len(changes))
    apply_changes(sp, store, "ns.prop", ch, keys=["k"])

    model = {k: v for k, v in target}
    for k, v, a, _i in rows_[: len(changes)]:
        if a == "DELETE":
            model.pop(k, None)
        else:
            model[k] = v
    got = {r["k"]: r["v"] for r in store.read(sp, "ns.prop").collect()}
    assert got == model


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=rows, source=rows)
def test_upsert_idempotent_and_unique_keys(sp, target, source):
    target = list({k: (k, v) for k, v in target}.values())
    source = list({k: (k, v) for k, v in source}.values())
    t, s = _df(sp, target), _df(sp, source)
    once = upsert_dataframe(t, s, keys=["k"])
    twice = upsert_dataframe(once, s, keys=["k"])
    a = {r["k"]: r["v"] for r in once.collect()}
    b = {r["k"]: r["v"] for r in twice.collect()}
    assert a == b  # replay-safe (C4 semantics)
    assert len(a) == once.count()  # keys unique in the result



# ---------------------------------------------------------------------------
# store-level merge_upsert (the collected-source plan the pipeline runs):
# NULL keys, duplicate source keys, an update_cols subset, txn staging,
# observe_metrics and the returned counts, against a dict model.
# ---------------------------------------------------------------------------
MERGE_ROW = st.tuples(
    st.one_of(st.none(), st.integers(min_value=0, max_value=12)),
    VALS,
    st.sampled_from(["a", "b", "c"]),
)
MERGE_SCHEMA = "k long, v long, w string"


def _merge_model(target, source, update_cols):
    """-> (acceptable rows per key, NULL-keyed rows kept, acceptable
    NULL-keyed inserted row or None, updated, inserted).

    The source is deduplicated per key with an arbitrary survivor, so each
    key maps to the SET of rows the merge may produce for it. SQL NULL keys
    never match: NULL-keyed target rows stay, and the NULL-keyed source rows
    collapse into one inserted row."""
    by_key = {k: {(k, v, w)} for k, v, w in target if k is not None}
    null_rows = [r for r in target if r[0] is None]
    null_insert = None
    src: dict = {}
    for r in source:
        src.setdefault(r[0], []).append(r)
    updated = inserted = 0
    for k, cands in src.items():
        if k is not None and k in by_key:
            updated += 1
            (_, _, tw), = by_key[k]
            by_key[k] = {(k, v, tw if update_cols else w) for _, v, w in cands}
            continue
        inserted += 1
        # the default insert set is keys + update set: w is NULL when only
        # v is updated
        imgs = {(k, v, None if update_cols else w) for _, v, w in cands}
        if k is None:
            null_insert = imgs
        else:
            by_key[k] = imgs
    return by_key, null_rows, null_insert, updated, inserted


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    target=st.lists(MERGE_ROW, max_size=15),
    source=st.lists(MERGE_ROW, max_size=15),
    update_cols=st.sampled_from([None, ["v"]]),
    use_txn=st.booleans(),
    broadcast_source=st.booleans(),
)
def test_merge_upsert_matches_dict_model(
    sp, store, target, source, update_cols, use_txn, broadcast_source
):
    # the target is a keyed table: unique non-NULL keys, any number of NULLs
    seen: set = set()
    target = [r for r in target if r[0] is None or not (r[0] in seen or seen.add(r[0]))]
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import merge_upsert

    def df(rows_):
        return sp.createDataFrame(rows_ or [(0, 0, "")], MERGE_SCHEMA).limit(len(rows_))

    store.overwrite(df(target), "ns.mprop")
    kwargs = dict(
        keys=["k"],
        update_cols=update_cols,
        broadcast_source=broadcast_source,
        observe_metrics={"n": F.count(F.lit(1)), "sv": F.sum("v")},
    )
    if use_txn:
        with store.transaction("prop") as txn:
            res = merge_upsert(sp, store, "ns.mprop", df(source), txn=txn, **kwargs)
    else:
        res = merge_upsert(sp, store, "ns.mprop", df(source), **kwargs)

    by_key, null_rows, null_insert, updated, inserted = _merge_model(
        target, source, update_cols
    )
    got = [tuple(r) for r in store.read(sp, "ns.mprop").collect()]
    got_keyed = {r[0]: r for r in got if r[0] is not None}
    assert len(got_keyed) == len([r for r in got if r[0] is not None])  # unique
    assert set(got_keyed) == set(by_key)
    for k, r in got_keyed.items():
        assert r in by_key[k], (k, r, by_key[k])
    got_nulls = [r for r in got if r[0] is None]
    for r in null_rows:
        got_nulls.remove(r)
    assert len(got_nulls) == (null_insert is not None)
    assert all(r in null_insert for r in got_nulls)
    assert (res["updated"], res["inserted"]) == (updated, inserted)
    assert res["observed"]["n"] == len(got)
    assert res["observed"]["sv"] == (sum(r[1] for r in got) if got else None)


def test_merge_upsert_full_recompute_shape_matches_upsert_dataframe(spark, store):
    """A full-recompute night: every one of ~4k DATE keys matched plus a
    few inserted, in one merge (the key set becomes one IN-list literal)."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import merge_upsert

    def series(n, scale):
        return spark.range(n).select(
            F.date_add(F.lit("2010-01-01").cast("date"), F.col("id").cast("int")).alias("DATE"),
            (F.col("id") * scale).alias("V"),
            F.lit(f"s{scale}").alias("TAG"),
        )

    target, source = series(4000, 1.0), series(4010, 2.0)
    store.overwrite(target, "ns.full")
    expected = sorted(
        tuple(r)
        for r in upsert_dataframe(store.read(spark, "ns.full"), source, keys=["DATE"]).collect()
    )
    res = merge_upsert(spark, store, "ns.full", source, keys=["DATE"])
    assert (res["updated"], res["inserted"]) == (4000, 10)
    got = sorted(tuple(r) for r in store.read(spark, "ns.full").collect())
    assert got == expected and len(got) == 4010


# ---------------------------------------------------------------------------
# connected components: randomized graphs vs a union-find model — the other
# custom iterative operator gets the dict-model treatment too.
# ---------------------------------------------------------------------------
EDGE = st.tuples(
    st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)
)


def _uf_components(edges):
    """Union-find reference: node -> min reachable node id."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=st.lists(EDGE, min_size=1, max_size=40))
def test_connected_components_matches_union_find(sp, edges):
    from incremental_datapipeline_using_snowflake_spark.ops.graph import (
        connected_components,
    )

    df = sp.createDataFrame(
        [(int(a), int(b)) for a, b in edges], schema="id_a long, id_b long"
    )
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert got == _uf_components(edges)


# ---------------------------------------------------------------------------
# as-of join: randomized trades/quotes vs a dict model.
# ---------------------------------------------------------------------------
K = st.integers(min_value=0, max_value=4)
T = st.integers(min_value=0, max_value=50)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    left=st.lists(st.tuples(K, T), min_size=1, max_size=15),
    right=st.dictionaries(st.tuples(K, T), st.integers(0, 999), max_size=15),
)
def test_asof_join_matches_model(sp, left, right):
    """For each left row the latest right row at ts <= left ts (same key)
    must be attached; no match -> NULL. Right (key, ts) pairs are unique by
    construction (dict) so the model is total."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.ops.temporal import asof_join

    ldf = sp.createDataFrame(
        [(int(k), int(t), i) for i, (k, t) in enumerate(left)], "k long, t long, row long"
    ).select("k", F.timestamp_seconds("t").cast("timestamp_ntz").alias("ts"), "row")
    rrows = [(int(k), int(t), int(v)) for (k, t), v in right.items()] or [(99, 0, 0)]
    rdf = sp.createDataFrame(rrows, "k long, t long, v long").select(
        "k", F.timestamp_seconds("t").cast("timestamp_ntz").alias("ts"), "v"
    )
    got = {r["row"]: r["v"] for r in asof_join(ldf, rdf, "k", "ts", ["v"]).collect()}
    for i, (k, t) in enumerate(left):
        cands = {rt: v for (rk, rt), v in right.items() if rk == k and rt <= t}
        want = cands[max(cands)] if cands else None
        assert got[i] == want, (i, k, t)


# ---------------------------------------------------------------------------
# sequence packing: randomized corpora vs the streaming-first-fit model.
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    lengths=st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=30),
    budget=st.integers(min_value=16, max_value=128),
)
def test_pack_sequences_matches_model(sp, lengths, budget):
    """Every doc lands in exactly one bin; within a shard, bin index equals
    floor(tokens-before / budget) over id-ordered docs (budget-quantized
    contiguous packing)."""
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import pack_sequences

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(lengths)]
    df = sp.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in pack_sequences(df, budget_tokens=budget, n_shards=4).collect()}
    assert len(got) == len(lengths)                      # exactly one row per doc
    shards: dict = {}
    for i, n in enumerate(lengths):
        shards.setdefault(i % 4, []).append((i, n))
    for shard, docs in shards.items():
        before = 0
        for i, n in docs:                                # id order within shard
            r = got[i]
            assert r["shard"] == shard and r["n_tokens"] == n
            assert r["bin"] == before // budget, (i, n, before, budget)
            before += n


# ---------------------------------------------------------------------------
# integer-exact PageRank: random digraphs vs a pure-Python model of the
# identical fixed-point recurrence.
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=20
    ),
    iters=st.integers(min_value=1, max_value=3),
)
def test_pagerank_matches_integer_model(sp, edges, iters):
    from incremental_datapipeline_using_snowflake_spark.ops.graph import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
        pagerank,
    )

    eset = sorted(set(edges))
    df = sp.createDataFrame(eset, "src long, dst long")
    got = {r["id"]: r["score"] for r in pagerank(df, iters=iters).collect()}

    nodes = sorted({u for u, _ in eset} | {v for _, v in eset})
    n = len(nodes)
    outdeg: dict = {}
    for u, _ in eset:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * n)
    r = {v: PR_SCALE // n for v in nodes}
    for _ in range(iters):
        acc = {v: 0 for v in nodes}
        for u, v in eset:
            acc[v] += r[u] // outdeg[u]
        r = {v: base + PR_DAMP_NUM * acc[v] // PR_DAMP_DEN for v in nodes}
    assert got == r


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(v1=rows, v2=rows)
def test_table_changes_reconstructs_target_version(sp, tmp_path_factory, v1, v2):
    """CDF round-trip property: applying table_changes(v1 -> v2) onto v1
    must reconstruct v2 exactly — DELETE/UPDATE_BEFORE keys removed,
    INSERT/UPDATE_AFTER rows added — for arbitrary version pairs
    (including empty diffs, disjoint key sets, and value-only updates)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    # unique keys per version (a version is a keyed table state)
    v1 = list({k: (k, v) for k, v in v1}.values())
    v2 = list({k: (k, v) for k, v in v2}.values())
    store = TableStore(root=str(tmp_path_factory.mktemp("cdf")), keep_versions=3)
    store.overwrite(_df(sp, v1), "ns.t")
    store.overwrite(_df(sp, v2), "ns.t")
    ch = store.table_changes(sp, "ns.t", 1, 2, key_cols=["k"]).collect()

    state = {k: v for k, v in v1}
    for r in ch:
        if r["_action"] in ("DELETE", "UPDATE_BEFORE"):
            # pre-image rows must report the OLD value and version
            assert state[r["k"]] == r["v"] and r["_version"] == 1
            if r["_action"] == "DELETE":
                del state[r["k"]]
        else:  # INSERT / UPDATE_AFTER carry the new image
            assert r["_version"] == 2
            state[r["k"]] = r["v"]
    assert state == {k: v for k, v in v2}
    # churn-proportionality: unchanged keys emit nothing
    unchanged = {k for k, v in v1 if (k, v) in set(v2)}
    assert all(r["k"] not in unchanged for r in ch)


# ---------------------------------------------------------------------------
# Codec laws (pure Python/numpy — no Spark in the loop, so hypothesis can
# run hundreds of cases): PPM encode/decode roundtrip, resize geometry, WAV
# metadata exactness.
# ---------------------------------------------------------------------------
dims = st.integers(min_value=1, max_value=24)


@given(w=dims, h=dims, seed=st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=60, deadline=None)
def test_ppm_roundtrip_law(w, h, seed):
    import numpy as np

    from incremental_datapipeline_using_snowflake_spark.ops import codecs as C

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    w2, h2, maxval, back = C.decode_ppm(C.encode_ppm(px))
    assert (w2, h2, maxval) == (w, h, 255)
    assert np.array_equal(back, px)


@given(w=dims, h=dims, tw=dims, th=dims, seed=st.integers(min_value=0, max_value=999))
@settings(max_examples=60, deadline=None)
def test_ppm_resize_laws(w, h, tw, th, seed):
    """Resize geometry: output dims are exact; every output pixel VALUE
    exists in the source (nearest-neighbor never invents colors); identity
    resize is a pixel-exact no-op."""
    import numpy as np

    from incremental_datapipeline_using_snowflake_spark.ops import codecs as C

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = C.encode_ppm(px)
    rw, rh, _mv, rpx = C.decode_ppm(C.resize_ppm(payload, tw, th))
    assert (rw, rh) == (tw, th)
    src_colors = {tuple(p) for row in px for p in row}
    assert all(tuple(p) in src_colors for row in rpx for p in row)
    same = C.decode_ppm(C.resize_ppm(payload, w, h))[3]
    assert np.array_equal(same, px)


@given(
    n=st.integers(min_value=0, max_value=4000),
    rate=st.sampled_from([8000, 16000, 44100]),
    ch=st.integers(min_value=1, max_value=2),
    seed=st.integers(min_value=0, max_value=999),
)
@settings(max_examples=60, deadline=None)
def test_wav_metadata_exact_law(n, rate, ch, seed):
    import numpy as np

    from incremental_datapipeline_using_snowflake_spark.ops import codecs as C

    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
    meta = C.decode_wav(C.encode_wav(samples, sample_rate=rate, channels=ch))
    assert meta["n_samples"] == n
    assert meta["channels"] == ch
    assert meta["sample_rate"] == rate
    assert meta["bits_per_sample"] == 16


@given(w=dims, h=dims, seed=st.integers(min_value=0, max_value=2**31 - 1),
       quant=st.sampled_from([1, 2, 4]))
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_error_bound_law(w, h, seed, quant):
    """r06 JPEG codec law: for ANY image and dims, decode(encode(x, q))
    preserves shape exactly and every pixel within the DCT-quantization
    error bound (~8*q/2 per coefficient column worst-case; empirically
    <= 4*q + 3 across channels after color-convert rounding)."""
    import numpy as np

    from incremental_datapipeline_using_snowflake_spark.ops import codecs as C

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    w2, h2, nc, back = C.decode_jpeg(C.encode_jpeg(px, quant=quant))
    assert (w2, h2, nc) == (w, h, 3)
    assert int(np.max(np.abs(back.astype(int) - px.astype(int)))) <= 4 * quant + 3


@given(st.text(
    alphabet=st.sampled_from(list("ab(),' -\n*/QUALIFYIFFTO_VARCHAR=<>123")),
    max_size=60,
))
@settings(max_examples=200, deadline=None)
def test_translate_never_corrupts_literals_law(s):
    """Fuzz law for the dialect shim: for any input, translation either
    raises a loud NotImplementedError/ValueError or returns a string in
    which every original single-quoted literal's CONTENT still appears
    verbatim (literals are never rewritten)."""
    import re

    from incremental_datapipeline_using_snowflake_spark.functions.sql_script import (
        _code_segments,
        translate_snowflake_sql,
    )

    literals = [
        seg for is_code, seg in _code_segments(s)
        if not is_code and seg.startswith("'") and seg.endswith("'") and len(seg) >= 2
    ]
    try:
        out = translate_snowflake_sql(s)
    except (NotImplementedError, ValueError):
        return  # loud refusal is within contract
    for lit in literals:
        assert lit in out, (s, lit, out)


# ---------------------------------------------------------------------------
# r07 ops laws
# ---------------------------------------------------------------------------

_URL_HOST = st.from_regex(r"[A-Za-z][A-Za-z0-9\-]{0,10}\.(com|org|io)", fullmatch=True)
_URL_PATH = st.lists(
    st.from_regex(r"[A-Za-z0-9._\-]{1,8}", fullmatch=True), max_size=3
)
_URL_PARAMS = st.lists(
    st.tuples(
        st.from_regex(r"[a-z][a-z0-9]{0,5}", fullmatch=True),
        st.from_regex(r"[A-Za-z0-9]{0,6}", fullmatch=True),
    ),
    max_size=4,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    scheme=st.sampled_from(["http", "HTTP", "https", "HtTpS"]),
    host=_URL_HOST,
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=_URL_PATH,
    params=_URL_PARAMS,
    slash=st.booleans(),
    frag=st.sampled_from(["", "#x", "#a/b?c=1"]),
)
def test_url_normalize_idempotent_law(sp, scheme, host, port, path, params, slash, frag):
    """normalize(normalize(u)) == normalize(u) for generated URLs — the
    canonical-form law; also case-of-host invariance."""
    from incremental_datapipeline_using_snowflake_spark.ops.urls import url_normalize
    from pyspark.sql import functions as F

    url = f"{scheme}://{host}{port}/" + "/".join(path)
    if slash:
        url += "/"
    if params:
        url += "?" + "&".join(f"{k}={v}" for k, v in params)
    url += frag
    df = sp.createDataFrame([(url,), (url.replace(host, host.upper()),)], "u string")
    out = df.select(
        url_normalize("u").alias("n1"),
    ).select("n1", url_normalize("n1").alias("n2")).collect()
    assert out[0]["n1"] == out[0]["n2"]          # idempotent
    assert out[0]["n1"] == out[1]["n1"]          # host case-invariant


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    recs=st.lists(
        st.tuples(
            st.from_regex(r"[a-z0-9/.:-]{1,20}", fullmatch=True),
            st.text(
                alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
                max_size=200,
            ),
        ),
        min_size=1,
        max_size=6,
    ),
    compress=st.booleans(),
)
def test_warc_roundtrip_law(recs, compress):
    """encode_wet -> parse_warc_records is lossless for any payload text
    (incl. multi-byte UTF-8 whose byte length != char length) — pure
    Python, no Spark session needed."""
    import gzip as _gzip

    from incremental_datapipeline_using_snowflake_spark.sources.warc_source import (
        encode_wet,
        parse_warc_records,
    )

    data = encode_wet(
        [{"uri": u, "date": "2026-08-15T00:00:00Z", "text": t} for u, t in recs],
        compress=compress,
    )
    if compress:
        data = _gzip.decompress(data)
    out = list(parse_warc_records(data, "f"))
    assert [o["parse_error"] for o in out] == [None] * len(recs)
    assert [(o["target_uri"], o["text"]) for o in out] == recs


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    members=st.lists(st.text(alphabet="abcdef ", min_size=1, max_size=30),
                     min_size=1, max_size=15),
    probes=st.lists(st.text(alphabet="abcdef ", min_size=1, max_size=30),
                    min_size=1, max_size=10),
)
def test_bloom_no_false_negatives_law(sp, members, probes):
    """Every true member is maybe_member=TRUE (zero false negatives) —
    the property the curation fast path's exactness rests on."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.ops.dedup import (
        bloom_m_bits,
        bloom_maybe_member,
        fingerprint_bloom,
    )

    m = bloom_m_bits(len(set(members)))
    fps = sp.createDataFrame([(t,) for t in set(members)], "t string").select(
        F.md5("t").alias("fp")
    )
    bloom = fingerprint_bloom(fps, m)
    batch = sp.createDataFrame(
        [(i, t) for i, t in enumerate(members + probes)], "id long, t string"
    ).select("id", F.md5("t").alias("fp"))
    got = {r["id"]: r["maybe_member"]
           for r in bloom_maybe_member(batch, bloom, m).collect()}
    for i in range(len(members)):
        assert got[i] is True
