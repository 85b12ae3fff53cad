"""End-to-end regressions for the round-1 self-review findings."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_count_distinct_over_builtin(trips_groupby):
    pdf = trips_groupby.sql_pd(
        "select count(DISTINCT to_int(total)) as n from t"
    )
    assert pdf["n"].tolist() == [5]  # distinct of {2,143,33,53,33,13,33,2}


def test_mixed_arity_np_function(trips_groupby):
    pdf = trips_groupby.sql_pd(
        "select np.round(tax) as r1, np.round(tax, 1) as r2 from t order by id limit 2"
    )
    assert pdf["r1"].tolist() == [0.0, 2.0]
    assert pdf["r2"].tolist() == [0.4, 2.0]


def test_reversed_null_comparison_e2e(trips_nulls):
    pdf = trips_nulls.sql_pd("select id from t where NULL = name order by id")
    assert pdf["id"].tolist() == [2, 5]


def test_case_end_concat_e2e(trips_groupby):
    pdf = trips_groupby.sql_pd(
        "select CASE WHEN vendor_id = 1 THEN 'one' ELSE 'many' END || '-' || vendor_id as c "
        "from t order by id limit 3"
    )
    assert pdf["c"].tolist() == ["one-1", "many-2", "one-1"]


def test_stddev_orderby_global_agg(trips_groupby):
    # extension aggregate + ORDER BY on its alias must not get the
    # stable-sort row-id appended
    pdf = trips_groupby.sql_pd("select stddev(total) as s from t order by s")
    assert len(pdf) == 1


# --------------------------------------------------------------------------
# Round-2 advisor findings
# --------------------------------------------------------------------------


def test_varying_udf_tail_arg_raises(trips_groupby):
    """np.round(x, d) with a COLUMN d must raise (as numpy/the reference
    do), not silently apply the batch's first d to every row."""
    with pytest.raises(Exception):
        trips_groupby.sql_pd("select np.round(tax, vendor_id) as r from t")


def test_constant_udf_tail_arg_still_works(trips_groupby):
    pdf = trips_groupby.sql_pd(
        "select np.round(tax, 1) as r from t order by id limit 2"
    )
    assert pdf["r"].tolist() == [0.4, 2.0]


@pytest.mark.parametrize(
    "expr,want",
    [
        ("5 % 2", 1),
        ("5 % -2", -1),   # np.mod: sign follows divisor
        ("-5 % 2", 1),
        ("-5 % -2", -1),
        ("4 % 2", 0),
        ("0 % -3", 0),
    ],
)
def test_modulo_divisor_sign_semantics(trips, expr, want):
    pdf = trips.sql_pd(f"select {expr} as m from t limit 1")
    assert pdf["m"].tolist() == [want]


def test_asof_duplicate_right_ts_deterministic(spark):
    """Multiple right rows at the same (by, ts): carried payload must not
    depend on input partitioning/order."""
    from vinum_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10), (1, 20)], "k int, ts int")
    dup_rows = [(1, 10, "a"), (1, 10, "b"), (1, 10, "c"), (1, 5, "z")]
    outs = []
    for order in (dup_rows, dup_rows[::-1]):
        right = spark.createDataFrame(order, "k int, ts int, v string").repartition(
            len(outs) + 1
        )
        out = asof_join(left, right, on="ts", by="k").orderBy("ts")
        outs.append([r["v_right"] for r in out.collect()])
    assert outs[0] == outs[1]
    # both left rows see the same winning duplicate
    assert outs[0][0] == outs[0][1]


def test_udf_session_state_weakkeyed():
    import weakref

    from vinum_spark.functions import udf as udf_mod

    assert isinstance(udf_mod._SESSION_STATE, weakref.WeakKeyDictionary)


def test_minhash_no_overflow_under_ansi(spark):
    from vinum_spark.operators import minhash_lsh_dedup

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e"), (2, "x y z w v")],
        "doc_id long, text string",
    )
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        kept = minhash_lsh_dedup(docs, n_hashes=16, bands=8).count()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    assert kept == 2  # doc 1 deduped, no ARITHMETIC_OVERFLOW


# --------------------------------------------------------------------------
# Round-3 advisor findings
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "expr,want",
    [
        # |b| > INT_MAX/2: the old MOD(MOD(a,b)+b, b) form wrapped here
        ("1999999999 % 2000000000", 1999999999),
        ("-1999999999 % 2000000000", 1),
        ("1999999999 % -2000000000", -1),
        # long-range operands
        ("8999999999999999999 % -9000000000000000000", -1),
    ],
)
def test_modulo_large_divisor_no_overflow(trips, expr, want):
    pdf = trips.sql_pd(f"select {expr} as m from t limit 1")
    assert pdf["m"].tolist() == [want]


def test_modulo_large_divisor_under_ansi(trips):
    """The sign-conditional add never exceeds |b|, so ANSI mode must not
    throw ARITHMETIC_OVERFLOW either."""
    spark = trips.df.sparkSession
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        pdf = trips.sql_pd("select -1999999999 % 2000000000 as m from t limit 1")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    assert pdf["m"].tolist() == [1]


def test_asof_map_payload_column(spark):
    """A MapType column carried from the right side must not break the
    xxhash64 tiebreak (maps are unhashable — excluded from the hash)."""
    from vinum_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10), (2, 10)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 5, {"a": 1}, "x"), (2, 7, {"b": 2}, "y")],
        "k int, ts int, props map<string,int>, v string",
    )
    out = asof_join(left, right, on="ts", by="k").orderBy("k").collect()
    assert [r["v_right"] for r in out] == ["x", "y"]
    assert out[0]["props_right"] == {"a": 1}


def test_asof_all_unhashable_payload(spark):
    """Right side whose ONLY carried column is a map: tiebreak falls back
    to the pre-hash ordering instead of failing analysis."""
    from vinum_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 5, {"a": 1})], "k int, ts int, props map<string,int>"
    )
    out = asof_join(left, right, on="ts", by="k").collect()
    assert out[0]["props_right"] == {"a": 1}


def test_simhash_dedup_shingle_size_threaded(spark):
    """shingle_size must reach candidate generation so signatures and
    candidates are computed at the same shingle size."""
    from vinum_spark.operators.dedup import simhash, simhash_dedup

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h"), (1, "a b c d e f g h"), (2, "q r s t u v w x")],
        "doc_id long, text string",
    )
    kept2 = simhash_dedup(docs, shingle_size=2)
    assert kept2.count() == 2  # doc 1 is an exact dup at any shingle size
    # signatures at shingle_size=2 equal what dedup's candidates used
    s2 = simhash(docs, shingle_size=2).select("doc_id", "simhash").collect()
    s3 = simhash(docs, shingle_size=3).select("doc_id", "simhash").collect()
    assert {r["simhash"] for r in s2} != {r["simhash"] for r in s3}


# --------------------------------------------------------------------------
# Round-3 self-review findings
# --------------------------------------------------------------------------


def test_modulo_indexed_right_operand(trips):
    """`a % arr[i]` must bind arr[i] as the divisor, not arr (with the
    index misapplied to the modulo result)."""
    pdf = trips.sql_pd("select 7 % array(4, 3)[1] as m from t limit 1")
    assert pdf["m"].tolist() == [1]  # 7 % 3


def test_modulo_indexed_left_and_right(trips):
    pdf = trips.sql_pd(
        "select array(9, 7)[0] % array(5, 2)[1] as m from t limit 1"
    )
    assert pdf["m"].tolist() == [1]  # 9 % 2


def test_asof_payload_column_name_with_dot(spark):
    from vinum_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = (
        spark.createDataFrame([(1, 5, 2.5), (1, 5, 7.5)], "k int, ts int, v double")
        .withColumnRenamed("v", "price.usd")
    )
    out = asof_join(left, right, on="ts", by="k").collect()
    assert out[0]["price.usd_right"] in (2.5, 7.5)


def test_read_csv_rejects_stale_positional_call(spark, tmp_path):
    """Pre-parity callers passed header as the 2nd positional arg; that
    must fail loudly, not silently read with header=True."""
    import vinum_spark as vs

    p = tmp_path / "pos.csv"
    p.write_text("1,2\n3,4\n")
    with pytest.raises(TypeError, match="keyword-only"):
        vs.read_csv(str(p), False, spark=spark)


def test_read_csv_multi_null_values_reinfer(spark, tmp_path):
    """Multi-sentinel null_values: sentinels become NULL and a column
    whose only type-blocker was a sentinel is re-inferred numeric —
    pyarrow's sentinels-before-inference ordering."""
    import pyarrow.csv as pacsv
    import vinum_spark as vs

    p = tmp_path / "nv.csv"
    p.write_text("a,w\n1,x\n2,NA\nNA,y\nMISSING,MISSING\n")
    t = vs.read_csv(
        str(p),
        None,
        None,
        pacsv.ConvertOptions(null_values=["NA", "MISSING"]),
        spark=spark,
    )
    dt = dict(t.df.dtypes)
    assert dt["a"] == "bigint"  # re-inferred numeric after sentinel->NULL
    pdf = t.sql_pd("select sum(a) as s, count(a) as n from t")
    assert pdf["s"].tolist() == [3] and pdf["n"].tolist() == [2]
    # strings_can_be_null defaults False in pyarrow: the genuine string
    # column keeps its sentinels as literal values
    w = t.sql_pd("select w from t order by w")["w"].tolist()
    assert w == ["MISSING", "NA", "x", "y"]


def test_read_csv_strings_can_be_null(spark, tmp_path):
    """strings_can_be_null=True nulls sentinels in string columns too."""
    import pyarrow.csv as pacsv
    import vinum_spark as vs

    p = tmp_path / "scbn.csv"
    p.write_text("a,w\n1,x\n2,NA\nNA,y\nMISSING,MISSING\n")
    t = vs.read_csv(
        str(p),
        None,
        None,
        pacsv.ConvertOptions(
            null_values=["NA", "MISSING"], strings_can_be_null=True
        ),
        spark=spark,
    )
    pdf = t.sql_pd("select count(w) as n, sum(a) as s from t")
    assert pdf["n"].tolist() == [2] and pdf["s"].tolist() == [3]


def test_read_csv_explicit_schema_is_authoritative(spark, tmp_path):
    """An explicit schema= must never be overridden by sentinel
    re-inference: a declared string column of zero-padded codes stays
    string, leading zeros intact."""
    import pyarrow.csv as pacsv
    import vinum_spark as vs

    p = tmp_path / "sch.csv"
    p.write_text("code,v\n001,1\n002,NA\n003,MISSING\n")
    t = vs.read_csv(
        str(p),
        None,
        None,
        pacsv.ConvertOptions(null_values=["NA", "MISSING"]),
        schema="code string, v string",
        infer_schema=False,
        spark=spark,
    )
    assert dict(t.df.dtypes)["code"] == "string"
    codes = t.sql_pd("select code from t order by code")["code"].tolist()
    assert codes == ["001", "002", "003"]


def test_read_csv_default_convert_options_ok(spark, tmp_path):
    """An untouched ConvertOptions() (pyarrow's default null list) must
    not trip the multi-sentinel guard."""
    import pyarrow.csv as pacsv
    import vinum_spark as vs

    p = tmp_path / "dflt.csv"
    p.write_text("a\n1\n2\n")
    pdf = vs.read_csv(
        str(p), None, None, pacsv.ConvertOptions(), spark=spark
    ).sql_pd("select sum(a) as s from t")
    assert pdf["s"].tolist() == [3]


def test_stream_events_glob_metachar_path_loud(spark, tmp_path):
    from vinum_spark.streaming import stream_events

    d = tmp_path / "sf[1]"
    d.mkdir()
    f = d / "events.parquet"
    f.write_bytes(b"PAR1")
    with pytest.raises(ValueError, match="glob metacharacters"):
        stream_events(spark, str(f), nanos_ts=True)


def test_decode_images_ladder_survives_undecodable_bytes(spark):
    """Even with a codec library present, undecodable bytes must fall
    down the ladder (header parse → fake), never fail the task."""
    from vinum_spark.operators.multimodal import decode_images

    df = spark.createDataFrame(
        [(0, b"\xff\xd8\xff\x00garbage"), (1, b"notanimage")],
        "asset_id long, content binary",
    )
    out = decode_images(df).toPandas().set_index("asset_id")
    assert len(out) == 2
    assert (out["height"] > 0).all()


# --------------------------------------------------------------------------
# Round-7 advisor findings (fixed round 8)
# --------------------------------------------------------------------------


def test_knn_join_non_integral_id_raises(spark):
    """String/float id columns must fail loudly, not silently cast to
    NULL query_id/vec_id rows."""
    from vinum_spark.operators.similarity import knn_join

    good = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    bad = spark.createDataFrame(
        [("a", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(TypeError, match="integral"):
        knn_join(bad, good, k=1)
    with pytest.raises(TypeError, match="integral"):
        knn_join(good, bad, k=1)


def test_knn_join_block_invariant_with_huge_ids(spark):
    """The local pruning key must rank exactly like the global F.round
    window: same result for n_blocks=1 (no local pruning possible) and
    n_blocks=4, including ids > 2^40 (which used to bleed into the
    cosine bits of the combined sort key) and exact-duplicate corpus
    vectors (6dp tie broken by id)."""
    from vinum_spark.operators.similarity import knn_join

    rng = np.random.default_rng(8)
    base = 1 << 50
    vecs = [[float(x) for x in rng.normal(size=6)] for _ in range(18)]
    vecs[7] = list(vecs[3])  # exact duplicate → guaranteed 6dp tie
    vecs[11] = list(vecs[3])
    corpus = spark.createDataFrame(
        [(base + i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(base + 1000 + i, [float(x) for x in rng.normal(size=6)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )

    def rows(nb):
        return sorted(
            tuple(r)
            for r in knn_join(queries, corpus, k=5, n_blocks=nb).collect()
        )

    assert rows(1) == rows(4)


def test_sliding_aggregate_overflow_avg_consistent(spark):
    """A value beyond decimal(28,6) NULLs inside the decimal sum; the
    denominator must drop the same row, so avg over {1e23, 2.0, 4.0}
    is 3.0 (clean exclusion), not 2.0 (deflated)."""
    import datetime as dtm

    from vinum_spark.streaming.windows import sliding_aggregate

    t0 = dtm.datetime(2024, 1, 1, 0, 5)
    df = spark.createDataFrame(
        [(t0, "a", 1e23), (t0, "a", 2.0), (t0, "a", 4.0)],
        "ts timestamp, event_type string, value double",
    )
    out = sliding_aggregate(df, window="1 hour", slide="1 hour").toPandas()
    row = out[out["event_type"] == "a"].iloc[0]
    assert row["avg_value"] == pytest.approx(3.0)
    assert row["n"] == 3  # n stays the all-rows count


def test_compact_parquet_inplace_refused(spark, tmp_path):
    """dst == src would delete the lazily-read source before the rewrite
    executes; it must be refused up front with the files intact."""
    from vinum_spark.io.bucketing import compact_parquet

    p = str(tmp_path / "ds")
    spark.range(10).write.parquet(p)
    with pytest.raises(ValueError, match="in-place"):
        compact_parquet(spark, p, p)
    assert spark.read.parquet(p).count() == 10  # nothing was dropped


def test_prepare_corpus_missing_quality_col_raises(spark):
    """A custom mixture_quality_col absent from the frame (and not a
    with_text_stats output) must raise a clear ValueError naming it,
    not an unresolved-column AnalysisException deep in mixture_sample."""
    from vinum_spark.operators.pipeline import CorpusConfig, prepare_corpus

    df = spark.createDataFrame(
        [(1, "hello world", "web")], "doc_id long, text string, source string"
    )
    cfg = CorpusConfig(
        quality_filter=False,
        dedup=False,
        mixture_weights={"web": 1.0},
        mixture_budget=10,
        mixture_quality_col="no_such_score",
    )
    with pytest.raises(ValueError, match="no_such_score"):
        prepare_corpus(df, cfg)


def test_no_cross_call_persist_retention(spark):
    """Round-19 (VERDICT r18 item 3): no operator may keep a
    process-global persisted frame across calls — a bench process would
    warm it up once and every timed run after would skip the corpus
    work it claims to measure. Structural check: the one-slot registry
    machinery is gone from the package. Functional check: two
    back-to-back runs of each query that used it (q87 phash auto mode,
    q111 dsir) each materialize their OWN checkpoint — the second call
    adds new persisted RDDs instead of being served by the first
    call's, i.e. every invocation recomputes from the parquet inputs.
    (Asserting the set drains to zero is not possible here: persisted
    RDDs created through py4j stay strongly referenced JVM-side for the
    process lifetime in this environment — verified with a plain
    ``persist``/``del``/GC probe — so ContextCleaner never fires; the
    per-call frames are small and bounded, the documented trade.)"""
    from vinum_spark.operators import sampling, similarity
    from vinum_spark.inventory import QUERIES

    for mod in (similarity, sampling):
        for attr in dir(mod):
            assert "CACHE_SLOT" not in attr, f"{mod.__name__}.{attr}"
    assert not hasattr(similarity, "one_slot_persist")

    def persistent_ids():
        m = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it, out = m.iterator(), set()
        while it.hasNext():
            out.add(it.next()._1())
        return out

    sf_dir = "/root/testdata/sf0.001"
    for name in ("q87_image_phash_neardup", "q111_dsir_select"):
        fn = QUERIES[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        after_first = persistent_ids()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        newly_persisted = persistent_ids() - after_first
        assert newly_persisted, (
            f"{name}: second call materialized no new checkpoint — "
            "its corpus pass was served by a cross-call cache"
        )


def test_pair_cosine_kernel_validates_dim_and_element_nulls(spark):
    """One bad-vector contract for every embedding-cosine operator
    (README "Embedding vector contract"). Kernel level: the shared Gram
    kernel must reject (a) rows that are individually ragged while the
    total element count still divides evenly (one short + one long),
    enforced via the declared dim, and (b) element-LEVEL nulls, which a
    top-level null check misses. Operator level: a NULL, ragged,
    element-NULL or zero-norm vector added to a clean corpus must give
    each operator's documented raise, drop or no-match result."""
    import pyarrow as pa

    from vinum_spark.operators.similarity import (
        _gram_kernel,
        blocked_pair_cosine,
        knn_join,
        lsh_blocked_cosine_pairs,
        semantic_dedup,
    )

    def tbl(vectors):
        n = len(vectors)
        return pa.table(
            {
                "__pa": pa.array([0] * n, "int32"),
                "__pb": pa.array([0] * n, "int32"),
                "__side": pa.array(["a"] * n),
                "__id": pa.array(list(range(n)), "int64"),
                "__v": pa.array(vectors, pa.list_(pa.float64())),
            }
        )

    kernel = _gram_kernel(
        "pairs", "id_a long, id_b long, cosine double", threshold=0.9,
        dim=2, who="blocked_pair_cosine", invalid="raise",
    )
    # happy path: declared dim, exact duplicate pair found
    good = kernel(tbl([[1.0, 0.0], [1.0, 0.0]]))
    assert good.num_rows == 1 and good.column("cosine")[0].as_py() == 1.0
    # offsetting ragged rows: 1 + 3 elements over 2 rows divides evenly
    # by n — only the dim check can catch it
    with pytest.raises(ValueError, match="ragged|dim"):
        kernel(tbl([[1.0], [0.0, 1.0, 2.0]]))
    # element-level null inside a list: top-level null_count is 0
    with pytest.raises(ValueError, match="null element"):
        kernel(tbl([[1.0, None], [1.0, 0.0]]))

    schema = "vec_id long, embedding array<float>"
    clean = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.02, 0.0]),
    ]
    bad_kinds = {
        "NULL": None,
        "ragged": [1.0, 0.0, 0.0],
        "null element": [1.0, None, 0.0, 0.0],
        "zero-norm": [0.0, 0.0, 0.0, 0.0],
    }
    ops = {
        "blocked_pair_cosine": lambda df: {
            tuple(r) for r in blocked_pair_cosine(df, -1.0, n_blocks=2)
            .select("id_a", "id_b").collect()
        },
        "lsh_blocked_cosine_pairs": lambda df: {
            tuple(r) for r in lsh_blocked_cosine_pairs(
                df, 4, -1.0, n_planes=2, band_bits=1
            ).select("id_a", "id_b").collect()
        },
        "knn_join": lambda df: {
            tuple(r) for r in knn_join(df, df, k=2, n_blocks=1).collect()
        },
        "semantic_dedup": lambda df: {
            tuple(r) for r in semantic_dedup(
                df, dim=4, n_clusters=1, threshold=0.9
            ).collect()
        },
    }
    # the documented behaviour per (operator, bad kind); "drop" means
    # the output equals the clean corpus' output plus, for
    # semantic_dedup, the bad row as a kept singleton
    contract = {
        "blocked_pair_cosine": {
            "NULL": "raise", "ragged": "raise",
            "null element": "raise", "zero-norm": "no match",
        },
        "lsh_blocked_cosine_pairs": {
            "NULL": "drop", "ragged": "drop",
            "null element": "raise", "zero-norm": "no match",
        },
        "knn_join": {
            "NULL": "drop", "ragged": "drop",
            "null element": "drop", "zero-norm": "scores 0",
        },
        "semantic_dedup": {
            "NULL": "drop", "ragged": "drop",
            "null element": "drop", "zero-norm": "drop",
        },
    }
    for op, run in ops.items():
        want_clean = run(spark.createDataFrame(clean, schema))
        assert want_clean, op
        for kind, vec in bad_kinds.items():
            df = spark.createDataFrame(clean + [(9, vec)], schema)
            rule = contract[op][kind]
            if rule == "raise":
                with pytest.raises(Exception, match=kind):
                    run(df)
                continue
            got = run(df)
            if op == "semantic_dedup":
                # NULL / ragged rows get a NULL cluster from ivf_index
                cluster = None if kind in ("NULL", "ragged") else 0
                assert got == want_clean | {(9, cluster, 9, True)}, kind
            elif rule == "scores 0":
                # the zero vector ranks with cosine 0 on both sides
                assert {r for r in got if 9 not in (r[0], r[2])} <= want_clean
                assert all(r[3] == 0.0 for r in got if 9 in (r[0], r[2]))
                assert sum(r[0] == 9 for r in got) == 2, got
            else:
                assert got == want_clean, (op, kind, got)


def test_env_bool_normalizes_and_rejects(monkeypatch):
    """Round-19 review: SPARK_GRAFT_PREFER_SORT_MERGE_JOIN=1 (the flag
    style of SPARK_GRAFT_NO_POOL) must normalize to 'true' instead of
    failing session creation deep inside Spark's boolean conf parse;
    garbage must fail loudly BY NAME."""
    from vinum_spark.session import _env_bool

    for raw, want in (
        ("1", "true"), ("true", "true"), ("YES", "true"), ("on", "true"),
        ("0", "false"), ("False", "false"), ("no", "false"), ("off", "false"),
    ):
        monkeypatch.setenv("SPARK_GRAFT_PREFER_SORT_MERGE_JOIN", raw)
        assert _env_bool("SPARK_GRAFT_PREFER_SORT_MERGE_JOIN", "false") == want
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SORT_MERGE_JOIN", "maybe")
    with pytest.raises(ValueError, match="SPARK_GRAFT_PREFER_SORT_MERGE_JOIN"):
        _env_bool("SPARK_GRAFT_PREFER_SORT_MERGE_JOIN", "false")
    monkeypatch.delenv("SPARK_GRAFT_PREFER_SORT_MERGE_JOIN")
    assert _env_bool("SPARK_GRAFT_PREFER_SORT_MERGE_JOIN", "false") == "false"


def test_spread_passes_streaming_frame_through(spark, tmp_path):
    """A streaming frame has no RDD to count partitions on, so _spread
    returns it unchanged; every other planning error propagates."""
    from vinum_spark.operators import dedup as D

    src = tmp_path / "docs"
    spark.createDataFrame(
        [(1, "a")], "doc_id long, text string"
    ).write.parquet(str(src))
    sdf = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    assert D._spread(sdf, "doc_id") is sdf


@pytest.mark.parametrize("op", ["minhash_lsh_dedup", "minhash_candidate_pairs"])
def test_minhash_build_starts_no_spark_job(spark, op):
    """Building the MinHash operators plans no driver-side job: the
    signature aggregate is repartitioned directly instead of having its
    partition count read, which under AQE ran the shingle+minhash stage
    as a separate job. Each operator gets a freshly checkpointed frame
    so no plan is shared with an earlier call."""
    from vinum_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over dog {i}") for i in range(64)],
        "doc_id long, text string",
    ).localCheckpoint()
    sc = spark.sparkContext
    group = f"test-build-{op}"
    sc.setJobGroup(group, op)
    try:
        getattr(D, op)(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
