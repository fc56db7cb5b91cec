"""Partition and group verdicts derive from the violation union plus a
column-pruned row count — no input-sized frame is cached. These tests
pin those outputs to a reference built the direct way (a groupBy over
the fused pass itself) — also over inputs whose shuffles AQE re-plans
per query — the single cached frame of
run_suite(persist=True), the byte-count shortcut of the Length kernel,
and the local relations built by cached_local_df."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hjsonschema_spark.checks import (
    CheckSuite,
    Contiguous,
    Enum,
    Length,
    NotNullIf,
    NullRateMax,
    Pattern,
    RefIntegrity,
    Required,
    TypeIs,
    UniqueKey,
    run_suite,
)
from hjsonschema_spark.checks.compile import compile_row_predicate
from hjsonschema_spark.checks.engine import _fixed_partitions
from hjsonschema_spark.session import cached_local_df
from hjsonschema_spark.sources import ROLE_VOCAB, TranscriptGen, tool_vocab_df

KEYS = ("conv_id", "turn_idx")
ROW_CHECKS = (
    Required(column="role"),
    Enum(column="role", values=tuple(ROLE_VOCAB)),
    Pattern(column="text", regex="^(Thought|Action|Observation):|^[a-z]"),
    Length(column="text", min_len=1, max_len=400),
    NotNullIf(column="tool", when_column="role", equals="tool_use", only=True),
)
TABLE_CHECKS = (
    UniqueKey(columns=KEYS),
    Contiguous(order_column="turn_idx", group_by=("conv_id",)),
    RefIntegrity(columns=("tool",), ref_name="tools"),
)
FULL = CheckSuite(name="full", key_columns=KEYS, checks=ROW_CHECKS + TABLE_CHECKS)
TABLE_ONLY = CheckSuite(name="table_only", key_columns=KEYS, checks=TABLE_CHECKS)

# the verdict union's schema: every column nullable except `scope`
VERDICT_SCHEMA = StructType([
    StructField("scope", StringType(), False),
    StructField("partition_id", IntegerType(), True),
    StructField("check", StringType(), True),
    StructField("n_rows", LongType(), True),
    StructField("n_violations", LongType(), True),
    StructField("passed", BooleanType(), True),
])


@pytest.fixture(scope="module")
def gen_df(spark):
    return TranscriptGen(
        n_convs=400, seed=5, bad_role_rate=0.05, null_role_rate=0.03,
        null_text_rate=0.03, dup_rate=0.02, gap_rate=0.02, bad_tool_rate=0.03,
    ).df(spark)


@pytest.fixture(scope="module")
def inputs(spark, gen_df, tmp_path_factory):
    """The same rows as a persisted 8-partition frame, an 8-file parquet
    table and a single-file parquet table (narrow: fan_out repartitions
    it)."""
    root = tmp_path_factory.mktemp("verdict_inputs")
    gen_df.repartition(8).write.parquet(str(root / "multi"))
    gen_df.coalesce(1).write.parquet(str(root / "single"))
    cached = gen_df.repartition(8).persist()
    cached.count()
    yield {
        "cached": cached,
        "multi": spark.read.parquet(str(root / "multi")),
        "single": spark.read.parquet(str(root / "single")),
    }
    cached.unpersist()


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _reference_partition_verdicts(res):
    """Per-partition verdicts the direct way: groupBy(spark_partition_id())
    over the fused pass, n_violations = rows with >= 1 failure."""
    return (
        res.checked.select(F.spark_partition_id().alias("partition_id"), "_failures")
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.size("_failures") > 0).cast("long")).alias("n_violations"),
        )
        .select(
            F.lit("partition").alias("scope"),
            "partition_id",
            F.lit(None).cast("string").alias("check"),
            "n_rows",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )


def _reference_group_verdicts(res, by):
    return (
        res.checked.groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.size("_failures") > 0).cast("long")).alias("n_violations"),
        )
        .withColumn("passed", F.col("n_violations") == 0)
    )


@pytest.mark.parametrize("name", ["cached", "multi", "single"])
@pytest.mark.parametrize("persist", [False, True])
def test_partition_verdicts_match_fused_pass_reference(spark, inputs, name, persist):
    res = run_suite(
        inputs[name], FULL, vocab_tables={"tools": tool_vocab_df(spark)}, persist=persist
    )
    assert res._fanned == (name == "single")
    assert _fixed_partitions(inputs[name])
    res.violations.write.format("noop").mode("overwrite").save()
    got = res.verdicts.filter("scope = 'partition'")
    want = _reference_partition_verdicts(res)
    assert _rows(got) == _rows(want)
    assert sum(r["n_violations"] for r in got.collect()) > 0
    assert res.verdicts.schema == VERDICT_SCHEMA
    res.unpersist(blocking=True)


@pytest.fixture
def small_aqe_partitions(spark):
    """AQE settings under which the coalesced partition layout of a
    shuffle depends on how many bytes each shuffle row carries."""
    conf = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("shape", ["repartition_by_key", "self_join", "dedup"])
@pytest.mark.parametrize("persist", [False, True])
def test_partition_verdicts_over_replannable_shuffle(
    spark, gen_df, small_aqe_partitions, shape, persist
):
    """An unpersisted input whose plan holds a shuffle AQE re-plans per
    query: a column-pruned count of it can coalesce (or broadcast)
    differently from the fused pass, so partition ids of separate
    executions need not name the same rows. Verdicts must still equal
    the one-plan reference and account for every row."""
    if shape == "repartition_by_key":
        df = gen_df.repartition("conv_id")
    elif shape == "self_join":
        df = gen_df.join(gen_df.select("conv_id").distinct(), "conv_id")
    else:
        df = gen_df.dropDuplicates(["conv_id", "turn_idx"])
    assert not _fixed_partitions(df)
    res = run_suite(df, FULL, vocab_tables={"tools": tool_vocab_df(spark)}, persist=persist)
    res.violations.write.format("noop").mode("overwrite").save()
    got = res.verdicts.filter("scope = 'partition'").collect()
    assert all(r["n_violations"] <= r["n_rows"] for r in got)
    assert sum(r["n_rows"] for r in got) == df.count()
    failing = res.checked.filter(F.size("_failures") > 0).count()
    assert sum(r["n_violations"] for r in got) == failing > 0
    assert _rows(res.verdicts.filter("scope = 'partition'")) == _rows(
        _reference_partition_verdicts(res)
    )
    res.unpersist(blocking=True)


def test_partition_verdicts_without_row_checks(spark, inputs):
    """No row checks: every input partition still gets a passing row."""
    df = inputs["cached"]
    res = run_suite(df, TABLE_ONLY, vocab_tables={"tools": tool_vocab_df(spark)})
    got = _rows(res.verdicts.filter("scope = 'partition'"))
    assert got == _rows(_reference_partition_verdicts(res))
    non_empty = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert len(got) == non_empty == 8
    assert all(r[4] == 0 and r[5] for r in got)


def test_partition_verdicts_empty_table(spark, inputs):
    empty = inputs["multi"].filter(F.lit(False))
    res = run_suite(empty, FULL, vocab_tables={"tools": tool_vocab_df(spark)}, persist=True)
    assert res.violations.count() == 0
    assert res.verdicts.filter("scope = 'partition'").count() == 0
    assert res.verdicts.filter("scope = 'check'").filter(~F.col("passed")).count() == 0
    assert res.passed()
    res.unpersist(blocking=True)


def test_persist_caches_only_the_violation_union(spark, inputs):
    """persist=True caches exactly one frame — the violation union, one
    row per violation — whatever outputs are consumed."""
    jsc = spark.sparkContext._jsc.sc()

    def cached_rdd_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    df = inputs["cached"]
    before = cached_rdd_ids()
    res = run_suite(df, FULL, vocab_tables={"tools": tool_vocab_df(spark)}, persist=True)
    res.violations.write.format("noop").mode("overwrite").save()
    res.verdicts.write.format("noop").mode("overwrite").save()
    res.group_verdicts(("conv_id",)).collect()
    summary = res.summary()
    res.passed()
    assert len(res._persisted) == 1 and res._persisted[0] is res._viols_unsorted
    assert len(cached_rdd_ids() - before) == 1
    assert res._persisted[0].count() == summary["n_violations"] > 0
    res.unpersist(blocking=True)
    assert cached_rdd_ids() == before


def test_persist_without_violation_checks_caches_nothing(spark, inputs):
    """With no violation-producing checks the violation frame is the
    empty local relation every such run shares through the memo:
    persist=True must leave it alone, so one result's unpersist()
    cannot reach another's."""
    from pyspark import StorageLevel

    suite = CheckSuite(
        name="agg_only", key_columns=KEYS, checks=(NullRateMax(column="role", max_rate=0.5),)
    )
    a = run_suite(inputs["cached"], suite, persist=True)
    b = run_suite(inputs["multi"], suite, persist=True)
    assert a._viols_unsorted is b._viols_unsorted
    assert a._persisted == b._persisted == ()
    assert a._viols_unsorted.storageLevel == StorageLevel.NONE
    a.unpersist(blocking=True)
    assert b.violations.count() == 0 and b.passed()


def test_schema_verdicts_bypass_local_df_memo(spark, inputs):
    """Schema verdict rows depend on the input's schema, so their frame
    is built fresh — the memo holds static configuration only."""
    from hjsonschema_spark.session import _LOCAL_DF_MEMO

    suite = CheckSuite(
        name="typed",
        key_columns=KEYS,
        checks=(TypeIs(column="role", json_type="string"), TypeIs(column="role", type_name="int")),
    )
    before = set(_LOCAL_DF_MEMO)
    res = run_suite(inputs["cached"], suite)
    got = res.verdicts.filter("scope = 'schema'").collect()
    assert sorted((r["passed"], r["n_violations"]) for r in got) == [(False, 1), (True, None)]
    assert not any("passed boolean" in key[1] for key in set(_LOCAL_DF_MEMO) - before)


def test_group_verdicts_same_with_and_without_fan_out(spark, inputs):
    by = ("conv_id",)
    results = {}
    for name in ("cached", "single"):
        res = run_suite(inputs[name], FULL, vocab_tables={"tools": tool_vocab_df(spark)})
        results[name] = _rows(res.group_verdicts(by))
        assert results[name] == _rows(_reference_group_verdicts(res, by))
    assert results["cached"] == results["single"]
    assert any(not r[3] for r in results["cached"])


def test_group_verdicts_null_group_key(spark):
    """A NULL group key is one group, failing rows included."""
    df = spark.createDataFrame(
        [(None, 0, None), (None, 1, "user"), ("c1", 0, "user"), ("c1", 1, None)],
        "conv_id string, turn_idx int, role string",
    )
    res = run_suite(df, CheckSuite(name="t", key_columns=KEYS, checks=(Required(column="role"),)))
    gv = res.group_verdicts(("conv_id",))
    assert _rows(gv) == _rows(_reference_group_verdicts(res, ("conv_id",)))
    assert {r["conv_id"]: (r["n_rows"], r["n_violations"]) for r in gv.collect()} == {
        None: (2, 1), "c1": (2, 1),
    }


# -- Length: octet_length settles most rows, length() the rest ---------------

_CODE_POINTS = ["a", "é", "€", "\U0001F600"]  # 1-, 2-, 3-, 4-byte UTF-8
_strings = st.one_of(st.none(), st.text(alphabet=st.sampled_from(_CODE_POINTS), max_size=10))


def _length_verdicts(spark, values, bounds):
    """(compiled Length predicate, the same bounds tested on F.length)
    per value and (min_len, max_len) pair — one job."""
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = [
        compile_row_predicate(Length(column="s", min_len=lo, max_len=hi)).alias(f"g{i}")
        for i, (lo, hi) in enumerate(bounds)
    ]
    out = []
    for r in df.select("s", F.length("s").alias("n"), *got).collect():
        for i, (lo, hi) in enumerate(bounds):
            n = r["n"]
            want = n is None or ((lo is None or n >= lo) and (hi is None or n <= hi))
            out.append((r["s"], (lo, hi), r[f"g{i}"], want))
    return out


@st.composite
def _length_case(draw):
    """Values plus bounds anchored at the values' char and byte counts,
    where the byte-count shortcut has to hand over to length()."""
    values = draw(st.lists(_strings, min_size=1, max_size=8))
    anchors = {0}
    for v in values:
        if v is not None:
            n, b = len(v), len(v.encode())
            anchors |= {n - 1, n, n + 1, b // 4, (b + 3) // 4, b - 1, b, b + 1}
    bound = st.sampled_from(sorted(a for a in anchors if a >= 0))
    lo, hi = draw(st.one_of(st.none(), bound)), draw(st.one_of(st.none(), bound))
    return values, lo, (draw(bound) if lo is None and hi is None else hi)


@given(_length_case())
@settings(max_examples=25, deadline=None)
def test_length_byte_shortcut_property(spark, case):
    values, lo, hi = case
    for v, bounds, got, want in _length_verdicts(spark, values, [(lo, hi)]):
        assert got == want, (v, bounds)


def test_length_byte_shortcut_boundary_grid(spark):
    """Every bound pair up to 12 over runs of each code-point width."""
    values = [None, ""] + [c * n for c in _CODE_POINTS for n in (1, 2, 3, 4, 5, 8)]
    values += ["a\U0001F600", "é€\U0001F600a"]
    grid = [(lo, hi) for lo in (None, *range(13)) for hi in (None, *range(13))][1:]
    for v, bounds, got, want in _length_verdicts(spark, values, grid):
        assert got == want, (v, bounds)


# -- cached_local_df: a LocalRelation with createDataFrame's schema ----------

@pytest.mark.parametrize(
    "rows,schema",
    [
        ((("a",), ("it's \\ odd",)), "check string"),
        ((), "`conv_id` string, turn_idx int, check string, column string, value string"),
        (
            (("schema", None, "type_is:x", None, 1, False), ("schema", None, "y", None, None, True)),
            "scope string, partition_id int, check string, n_rows long, "
            "n_violations long, passed boolean",
        ),
    ],
)
def test_cached_local_df_is_local_relation(spark, rows, schema):
    import contextlib
    import io

    df = cached_local_df(spark, rows, schema)
    ref = spark.createDataFrame(list(rows), schema)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    assert "LocalTableScan" in buf.getvalue() and "ExistingRDD" not in buf.getvalue()
