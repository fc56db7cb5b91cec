"""Check IR → Spark plan compiler.

Row-level checks become guarded boolean ``Column``s fused into one
projection (the "single fused pass per partition" of the north star —
Catalyst whole-stage-codegens the entire predicate set); table-level
checks become dedicated aggregate / window / broadcast-join passes.

Three-valued-logic rule (SURVEY.md §2.5): every row predicate is
wrapped so NULL input ⇒ pass (the columnar analogue of the reference's
type-mismatch ⇒ vacuous pass, src/JSONSchema/Validator/Draft4.hs:28-33)
and a NULL predicate result ⇒ fail-closed ``False`` only inside the
guard, never leaking NULL into the verdict.
"""

from __future__ import annotations

from decimal import Decimal
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hjsonschema_spark.checks.ir import (
    AggBounds,
    AllOf,
    AnyOf,
    ArrayForAll,
    ArrayPositional,
    ArraySize,
    ArrayUnique,
    Bounds,
    Check,
    ChiSquareDrift,
    ColumnsAllowed,
    ConfigInvalid,
    Custom,
    DependentSchema,
    Enum,
    FunctionalDependency,
    GroupAggBounds,
    KSDrift,
    Length,
    MapKeysAllowed,
    MapPatternValues,
    MapRequiredKeys,
    MapSize,
    Monotonic,
    MultipleOf,
    NonNullCount,
    Not,
    NotNullIf,
    NullRateMax,
    OneOf,
    Pattern,
    PatternColumns,
    RefIntegrity,
    Required,
    RowCheck,
    SequencePattern,
    Contiguous,
    TypeIs,
    UniqueKey,
)

FAILURE_STRUCT = "check string, column string, value string"


def _ctx_id() -> int:
    """Identity of the live SparkContext — memo key component.

    Unresolved Column expressions are plain JVM objects with no
    DataFrame binding, so they are reusable across queries and runs in
    one JVM; keying memos on the context identity only guards the
    corner where a context is stopped and a new one started in the same
    process (pandas_udf handles cache their _judf per context)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return id(sc) if sc is not None else 0


# (ctx_id, checks tuple) -> assembled _failures Column. Plan-construction
# memo only: the expression is a pure function of the check configs
# (frozen dataclasses), building it costs thousands of py4j round trips
# (measured 0.19s for 6 checks, ~0.5s for the 13-check transcript
# suite), and bench/production loops re-validate with identical suites
# every run. No data or results are cached — every run still executes
# the full computation from the inputs.
_FUSED_MEMO: dict = {}
_MEMO_CAP = 512


def _guard(col: Column, pred: Column) -> Column:
    """NULL value => vacuous pass; NULL predicate => False."""
    return F.when(col.isNull(), F.lit(True)).otherwise(F.coalesce(pred, F.lit(False)))


def _qcol(name: str) -> str:
    """Column reference for SQL-string expressions; dotted paths become
    struct-field access (`a`.`b`)."""
    return ".".join(f"`{p}`" for p in name.split("."))


def _sql_str(s: str) -> str:
    return "'" + str(s).replace("\\", "\\\\").replace("'", "''") + "'"


def _map_remainder_sql(c: MapKeysAllowed) -> str:
    """SQL for the map of entries matched by NEITHER the allowed keys
    nor any compilable pattern (Properties.hs:106-108 remainder rule;
    uncompilable patterns skipped silently per Properties.hs:150-155)."""
    import re as _re

    pats = []
    for p in c.patterns:
        try:
            _re.compile(p)
            pats.append(p)
        except _re.error:
            pass
    terms = []
    if c.keys:
        terms.append(f"k IN ({', '.join(_sql_str(k) for k in c.keys)})")
    terms += [f"k RLIKE {_sql_str(p)}" for p in pats]
    allowed = " OR ".join(terms) if terms else "false"
    return f"map_filter({_qcol(c.column)}, (k, v) -> NOT ({allowed}))"


def check_id(c: Check) -> str:
    """Stable human-readable id for a check node (violation labels)."""
    if isinstance(c, Required):
        return f"required:{c.column}"
    if isinstance(c, Enum):
        return f"enum:{c.column}"
    if isinstance(c, Bounds):
        return f"bounds:{c.column}"
    if isinstance(c, Length):
        return f"length:{c.column}"
    if isinstance(c, Pattern):
        return f"pattern:{c.column}"
    if isinstance(c, MultipleOf):
        return f"multiple_of:{c.column}"
    if isinstance(c, NotNullIf):
        return f"not_null_if:{c.column}"
    if isinstance(c, DependentSchema):
        return (
            f"dependent_schema:{c.when_column}("
            + ",".join(check_id(k) for k in c.checks)
            + ")"
        )
    if isinstance(c, ArraySize):
        return f"array_size:{c.column}"
    if isinstance(c, ArrayUnique):
        return f"array_unique:{c.column}"
    if isinstance(c, ArrayForAll):
        return f"array_forall:{c.column}"
    if isinstance(c, TypeIs):
        return f"type_is:{c.column}"
    if isinstance(c, NonNullCount):
        return f"non_null_count:{','.join(c.columns)}"
    if isinstance(c, MapSize):
        return f"map_size:{c.column}"
    if isinstance(c, MapRequiredKeys):
        return f"map_required_keys:{c.column}"
    if isinstance(c, MapKeysAllowed):
        return f"map_keys_allowed:{c.column}"
    if isinstance(c, MapPatternValues):
        return f"map_pattern_values:{c.column}:{c.key_regex}"
    if isinstance(c, ArrayPositional):
        return f"array_positional:{c.column}"
    if isinstance(c, ColumnsAllowed):
        return "columns_allowed"
    if isinstance(c, PatternColumns):
        return f"pattern_columns:{c.name_regex}"
    if isinstance(c, Custom):
        return f"custom:{c.name}"
    if isinstance(c, AllOf):
        return "all_of(" + ",".join(check_id(k) for k in c.checks) + ")"
    if isinstance(c, AnyOf):
        return "any_of(" + ",".join(check_id(k) for k in c.checks) + ")"
    if isinstance(c, OneOf):
        return "one_of(" + ",".join(check_id(k) for k in c.checks) + ")"
    if isinstance(c, Not):
        return f"not({check_id(c.check)})"
    if isinstance(c, UniqueKey):
        return "unique_key:" + ",".join(c.columns)
    if isinstance(c, RefIntegrity):
        return f"ref_integrity:{','.join(c.columns)}->{c.ref_name}"
    if isinstance(c, Contiguous):
        return f"contiguous:{c.order_column}"
    if isinstance(c, FunctionalDependency):
        return (
            "functional_dependency:"
            + ",".join(c.determinant)
            + "->"
            + ",".join(c.dependent)
        )
    if isinstance(c, Monotonic):
        return f"monotonic:{c.column}"
    if isinstance(c, SequencePattern):
        return f"sequence_pattern:{c.column} by {','.join(c.group_by)}"
    if isinstance(c, GroupAggBounds):
        return f"group_agg_bounds:{c.agg}({c.column}) by {','.join(c.group_by)}"
    if isinstance(c, NullRateMax):
        return f"null_rate_max:{c.column}"
    if isinstance(c, AggBounds):
        if c.agg in ("quantile", "approx_quantile"):
            return f"agg_bounds:{c.agg}({c.column},{c.quantile:g})"
        return f"agg_bounds:{c.agg}({c.column})"
    if isinstance(c, ChiSquareDrift):
        return f"chi2_drift:{c.column}->{c.ref_name}"
    if isinstance(c, KSDrift):
        return f"ks_drift:{c.column}->{c.ref_name}"
    raise ConfigInvalid(f"no id for {type(c).__name__}")


def _pcre_predicate(column: str, regex: str) -> Column:
    """Vectorized Arrow-batched regex for full PCRE parity — the regex
    is compiled ONCE per python worker via closure, fixing the
    reference's recompile-per-call anti-pattern (String.hs:70)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _match(s: pd.Series) -> pd.Series:
        import re

        rx = re.compile(regex)
        return s.map(lambda x: None if x is None else rx.search(x) is not None)

    return _match(F.col(column))


def compile_row_predicate(c: RowCheck) -> Column:
    """Check → boolean Column, True = pass. Total: never NULL."""
    if isinstance(c, Required):
        return F.col(c.column).isNotNull()
    if isinstance(c, Enum):
        if len(set(c.values)) != len(c.values):  # non-unique => vacuous
            return F.lit(True)
        return _guard(F.col(c.column), F.col(c.column).isin(*c.values))
    if isinstance(c, Bounds):
        col = F.col(c.column)
        preds = []
        if c.min is not None:
            preds.append(col > c.min if c.exclusive_min else col >= c.min)
        if c.max is not None:
            preds.append(col < c.max if c.exclusive_max else col <= c.max)
        return _guard(col, reduce(lambda a, b: a & b, preds))
    if isinstance(c, Length):
        # length() walks the string's UTF-8 bytes; octet_length() is
        # O(1). chars <= bytes <= 4*chars, so the byte count settles
        # each bound for most rows (Or evaluates its right side only
        # when the left is false): bytes <= max_len passes the max
        # test, bytes >= 4*min_len the min test
        col = F.col(c.column)
        preds = []
        if c.min_len is not None:
            preds.append(
                (F.octet_length(col) >= 4 * c.min_len) | (F.length(col) >= c.min_len)
            )
        if c.max_len is not None:
            preds.append((F.octet_length(col) <= c.max_len) | (F.length(col) <= c.max_len))
        return _guard(col, reduce(lambda a, b: a & b, preds))
    if isinstance(c, Pattern):
        col = F.col(c.column)
        if c.mode == "pcre":
            return _guard(col, _pcre_predicate(c.column, c.regex))
        return _guard(col, col.rlike(c.regex))
    if isinstance(c, MultipleOf):
        n = Decimal(str(c.n))
        if n <= 0:  # reference quirk: non-positive n => vacuous pass
            return F.lit(True)
        col = F.col(c.column)
        dec = "decimal(38,12)"
        return _guard(col, (col.cast(dec) % F.lit(n).cast(dec)) == 0)
    if isinstance(c, ArraySize):
        col = F.col(c.column)
        preds = []
        if c.min_items is not None:
            preds.append(F.size(col) >= c.min_items)
        if c.max_items is not None:
            preds.append(F.size(col) <= c.max_items)
        return _guard(col, reduce(lambda a, b: a & b, preds))
    if isinstance(c, ArrayUnique):
        col = F.col(c.column)
        if c.numeric_canonical:
            # mathematical equality (Utils.hs:94-119): canonicalize to
            # decimal before comparing, so 1 == 1.0 == 1.00. try_cast,
            # not cast: non-numeric elements (string arrays under ANSI
            # mode) fall back to their raw string instead of throwing,
            # so the same check config is safe on any element type.
            canon = F.transform(
                col,
                lambda x: F.coalesce(
                    x.try_cast("decimal(38,18)").cast("string"), x.cast("string")
                ),
            )
            return _guard(col, F.size(F.array_distinct(canon)) == F.size(canon))
        return _guard(col, F.size(F.array_distinct(col)) == F.size(col))
    if isinstance(c, ArrayForAll):
        col = F.col(c.column)
        pred = F.expr(f"forall({c.column}, x -> coalesce(({c.element_predicate}), false))")
        return _guard(col, pred)
    if isinstance(c, NonNullCount):
        cnt = reduce(
            lambda a, b: a + b, (F.col(x).isNotNull().cast("int") for x in c.columns)
        )
        preds = []
        if c.min_count is not None:
            preds.append(cnt >= c.min_count)
        if c.max_count is not None:
            preds.append(cnt <= c.max_count)
        # always applicable (the count itself is never NULL)
        return reduce(lambda a, b: a & b, preds)
    if isinstance(c, MapSize):
        col = F.col(c.column)
        preds = []
        if c.min_props is not None:
            preds.append(F.size(col) >= c.min_props)
        if c.max_props is not None:
            preds.append(F.size(col) <= c.max_props)
        return _guard(col, reduce(lambda a, b: a & b, preds))
    if isinstance(c, MapRequiredKeys):
        col = F.col(c.column)
        keys_arr = f"array({', '.join(_sql_str(k) for k in c.keys)})"
        pred = F.expr(
            f"forall({keys_arr}, k -> map_contains_key({_qcol(c.column)}, k))"
        )
        return _guard(col, pred)
    if isinstance(c, MapKeysAllowed):
        col = F.col(c.column)
        rem = _map_remainder_sql(c)
        if c.additional == "none":
            pred = F.expr(f"size({rem}) = 0")
        else:
            # additionalProperties=schema: every remainder VALUE must
            # satisfy the predicate (Properties.hs:199-209); the lambda
            # binds the value as `x` so the predicate language matches
            # ArrayForAll's
            pred = F.expr(
                f"forall(map_values({rem}), x -> coalesce(({c.additional}), false))"
            )
        return _guard(col, pred)
    if isinstance(c, MapPatternValues):
        import re as _re

        try:
            _re.compile(c.key_regex)
        except _re.error:
            return F.lit(True)  # pattern skipped silently (Properties.hs:150-155)
        col = F.col(c.column)
        matched = (
            f"map_filter({_qcol(c.column)}, (k, v) -> k RLIKE {_sql_str(c.key_regex)})"
        )
        pred = F.expr(
            f"forall(map_values({matched}), x -> coalesce(({c.value_predicate}), false))"
        )
        return _guard(col, pred)
    if isinstance(c, ArrayPositional):
        col = F.col(c.column)
        n = len(c.element_predicates)
        # forall over a 1-element slice: empty slice (missing element)
        # => true, matching "a missing positional element passes"
        preds = [
            F.expr(f"forall(slice({c.column}, {i + 1}, 1), x -> coalesce(({ep}), false))")
            for i, ep in enumerate(c.element_predicates)
        ]
        if c.additional == "none":
            preds.append(F.size(col) <= n)
        elif c.additional != "any":
            preds.append(
                F.expr(
                    f"forall(slice({c.column}, {n + 1}, 1000000000), "
                    f"x -> coalesce(({c.additional}), false))"
                )
            )
        return _guard(col, reduce(lambda a, b: a & b, preds))
    if isinstance(c, TypeIs):
        # resolved statically in compile_fused_pass (schema conformance)
        return F.lit(True)
    if isinstance(c, DependentSchema):
        # when_column absent => vacuous pass (Object.hs:160-183: the
        # dependency only fires when key k is present); present => the
        # whole row must satisfy every child (children carry their own
        # NULL guards, so a NULL in a child's column still passes it)
        conj = reduce(
            lambda a, b: a & b, (compile_row_predicate(k) for k in c.checks)
        )
        return F.when(F.col(c.when_column).isNull(), F.lit(True)).otherwise(
            F.coalesce(conj, F.lit(False))
        )
    if isinstance(c, NotNullIf):
        cond = F.col(c.when_column).eqNullSafe(F.lit(c.equals))
        pred = F.when(cond, F.col(c.column).isNotNull()).otherwise(
            F.col(c.column).isNull() if c.only else F.lit(True)
        )
        return F.coalesce(pred, F.lit(False))
    if isinstance(c, AllOf):
        return reduce(lambda a, b: a & b, (compile_row_predicate(k) for k in c.checks))
    if isinstance(c, AnyOf):
        return reduce(lambda a, b: a | b, (compile_row_predicate(k) for k in c.checks))
    if isinstance(c, OneOf):
        total = reduce(
            lambda a, b: a + b,
            (compile_row_predicate(k).cast("int") for k in c.checks),
        )
        return total == 1
    if isinstance(c, Not):
        return ~compile_row_predicate(c.check)
    if isinstance(c, Custom):
        return F.coalesce(F.expr(c.expr), F.lit(False))
    raise ConfigInvalid(f"not a row check: {type(c).__name__}")


def _failed_leaf_ids(c: RowCheck) -> Column:
    """array<string> of the check ids of failed LEAF checks under `c`
    (AllOf branches recurse; any other node is its own leaf) — the
    per-branch failure detail the reference's applicator failures carry
    (Any.hs:364-410)."""
    if isinstance(c, AllOf):
        return F.flatten(F.array(*[_failed_leaf_ids(k) for k in c.checks]))
    return F.when(
        ~compile_row_predicate(c), F.array(F.lit(check_id(c)))
    ).otherwise(F.expr("cast(array() as array<string>)"))


def _violating_value(c: RowCheck) -> Column:
    if isinstance(c, OneOf):
        # failure-detail parity with the reference's oneOf
        # (Any.hs:416-482): distinguish NoSuccesses from
        # TooManySuccesses and report the indices of passing branches
        flags = F.array(*[compile_row_predicate(k) for k in c.checks])
        passed_idx = F.filter(
            F.transform(flags, lambda b, i: F.when(b, i)), lambda x: x.isNotNull()
        )
        n_passed = F.size(passed_idx)
        kind = F.when(n_passed == 0, F.lit("no_successes")).otherwise(
            F.lit("too_many_successes")
        )
        return F.to_json(
            F.struct(
                kind.alias("failure"),
                n_passed.alias("n_passed"),
                passed_idx.alias("passed_branches"),
            )
        )
    if isinstance(c, AllOf):
        # per-branch detail (Any.hs:364-377): the indices of the
        # failing branches (branch check-ids are in the check id)
        flags = F.array(*[compile_row_predicate(k) for k in c.checks])
        failed_idx = F.filter(
            F.transform(flags, lambda b, i: F.when(~b, i)), lambda x: x.isNotNull()
        )
        return F.to_json(F.struct(failed_idx.alias("failed_branches")))
    if isinstance(c, AnyOf):
        # per-branch failure detail (Any.hs:395-410): anyOf only fails
        # when EVERY branch fails — report each branch's failed leaf
        # check ids, mirroring AnyOfInvalid carrying all branches'
        # failures
        branch_fails = F.array(
            *[
                F.struct(
                    F.lit(i).alias("branch"), _failed_leaf_ids(k).alias("failed")
                )
                for i, k in enumerate(c.checks)
            ]
        )
        return F.to_json(
            F.struct(
                F.lit("no_successes").alias("failure"),
                branch_fails.alias("branch_failures"),
            )
        )
    if isinstance(c, DependentSchema):
        # which child checks failed while when_column was present
        flags = F.array(*[compile_row_predicate(k) for k in c.checks])
        failed_idx = F.filter(
            F.transform(flags, lambda b, i: F.when(~b, i)), lambda x: x.isNotNull()
        )
        return F.to_json(F.struct(failed_idx.alias("failed_branches")))
    if isinstance(c, NonNullCount):
        cnt = reduce(
            lambda a, b: a + b, (F.col(x).isNotNull().cast("int") for x in c.columns)
        )
        return cnt.cast("string")
    if isinstance(c, MapRequiredKeys):
        # the missing keys (RequiredInvalid's leftovers, Object.hs:104)
        keys_arr = f"array({', '.join(_sql_str(k) for k in c.keys)})"
        return F.expr(
            f"array_join(array_sort(filter({keys_arr}, "
            f"k -> NOT map_contains_key({_qcol(c.column)}, k))), ',')"
        )
    if isinstance(c, MapKeysAllowed):
        rem = _map_remainder_sql(c)
        if c.additional == "none":
            return F.expr(f"array_join(array_sort(map_keys({rem})), ',')")
        # keys of remainder entries whose VALUE failed the predicate
        # (lambda binds the value as `x`, same language as the check)
        return F.expr(
            f"array_join(array_sort(map_keys(map_filter({rem}, "
            f"(k, x) -> NOT coalesce(({c.additional}), false)))), ',')"
        )
    if isinstance(c, MapPatternValues):
        import re as _re

        try:
            _re.compile(c.key_regex)
        except _re.error:
            return F.lit(None).cast("string")  # vacuous check, never fails
        matched = (
            f"map_filter({_qcol(c.column)}, (k, v) -> k RLIKE {_sql_str(c.key_regex)})"
        )
        return F.expr(
            f"array_join(array_sort(map_keys(map_filter({matched}, "
            f"(k, x) -> NOT coalesce(({c.value_predicate}), false)))), ',')"
        )
    col = getattr(c, "column", None)
    if col:
        return F.col(col).cast("string")
    return F.lit(None).cast("string")


def _primary_column(c: RowCheck) -> str | None:
    if isinstance(c, NonNullCount):
        return ",".join(c.columns)
    if isinstance(c, DependentSchema):
        return c.when_column
    return getattr(c, "column", None) or getattr(c, "name", None)


def _concat_conditional(pairs: list[tuple[Column, Column]], struct_type: str) -> Column:
    """array of the failure structs whose condition fired, assembled as
    concat(CASE WHEN fail THEN array(struct) ELSE array() END, ...).

    Semantically identical to array_compact(array(CASE WHEN fail THEN
    struct END, ...)) but stays inside whole-stage codegen:
    array_compact lowers to the ArrayFilter higher-order function,
    which is CodegenFallback — ONE such expression knocked the entire
    fused-pass Project/Filter out of codegen, running the engine's
    hottest path interpreted (measured in plans/r06: no codegen id on
    the row-pass operators; the same class of defect as the CLAUDE.md
    no-HOFs-in-hot-paths invariant)."""
    empty = F.lit([]).cast(f"array<{struct_type}>")
    arrays = [F.when(cond, F.array(s)).otherwise(empty) for cond, s in pairs]
    return F.concat(*arrays)


def _fused_failures_column(checks: tuple) -> Column:
    pairs = [
        (
            ~compile_row_predicate(c),
            F.struct(
                F.lit(check_id(c)).alias("check"),
                F.lit(_primary_column(c)).cast("string").alias("column"),
                _violating_value(c).alias("value"),
            ),
        )
        for c in checks
    ]
    if not pairs:
        return F.lit([]).cast(f"array<struct<{FAILURE_STRUCT}>>")
    return _concat_conditional(pairs, f"struct<{FAILURE_STRUCT}>")


def _pushdown_barrier(col: Column) -> Column:
    """Append a never-firing NONDETERMINISTIC term to the fused array so
    PushDownPredicates cannot substitute the expression through this
    projection. Catalyst's InferFiltersFromGenerate adds
    ``size(_failures) > 0`` below the violations explode, and pushdown
    then substitutes the ENTIRE fused expression through the fan-out
    exchange into the (row-group-limited, effectively single-task) scan
    stage — serializing the whole row pass AND evaluating it twice
    (Filter below the exchange + Project above it; measured: one 2.7s-CPU
    task of a 6.6s suite_violations wall carried 600k input rows while
    31 cores idled). Same defect class as the clean_rows ``_fanned`` pin,
    which covers only the filter clean_rows itself builds — this covers
    the inferred one. spark_partition_id() is never negative, so the
    appended term is always the empty array and the output is
    byte-identical; the CASE branches differ structurally so constant
    folding cannot erase the marker. Applied ONLY when run_suite
    actually fanned out (well-partitioned production inputs keep full
    pushdown semantics)."""
    ghost = F.array(
        F.struct(
            F.lit(None).cast("string").alias("check"),
            F.lit(None).cast("string").alias("column"),
            F.lit(None).cast("string").alias("value"),
        )
    )
    empty = F.lit([]).cast(f"array<struct<{FAILURE_STRUCT}>>")
    return F.concat(
        col, F.when(F.spark_partition_id() < F.lit(0), ghost).otherwise(empty)
    )


def compile_fused_pass(
    df: DataFrame, checks: list[RowCheck], barrier: bool = False
) -> DataFrame:
    """ALL row checks in one projection; appends ``_failures``:
    array<struct<check,column,value>> of the failed checks for the row.
    All validators run, all failures collected — no short-circuit
    (src/JSONSchema/Types.hs:20-26). The assembled expression is
    memoized per (SparkContext, check configs) — see _FUSED_MEMO.
    barrier=True additionally blocks predicate pushdown through the
    projection (see _pushdown_barrier) — set by run_suite iff it fanned
    the input out."""
    try:
        key = (_ctx_id(), tuple(checks), barrier)
        col = _FUSED_MEMO.get(key)
        if col is None:
            if len(_FUSED_MEMO) >= _MEMO_CAP:
                _FUSED_MEMO.clear()
            col = _fused_failures_column(tuple(checks))
            if barrier:
                col = _pushdown_barrier(col)
            _FUSED_MEMO[key] = col
    except TypeError:  # unhashable custom check config: build unmemoized
        col = _fused_failures_column(tuple(checks))
        if barrier:
            col = _pushdown_barrier(col)
    return df.withColumn("_failures", col)


# --------------------------------------------------------------------------
# table-level passes: each returns a violations DataFrame with schema
#   key_columns... , check string, column string, value string
# --------------------------------------------------------------------------

def _as_violations(df: DataFrame, key_columns: tuple, check: str, column: str | None, value: Column) -> DataFrame:
    cols = [F.col(k) for k in key_columns]
    return df.select(
        *cols,
        F.lit(check).alias("check"),
        F.lit(column).cast("string").alias("column"),
        value.cast("string").alias("value"),
    )


def run_unique_key(df: DataFrame, c: UniqueKey, key_columns: tuple) -> DataFrame:
    """groupBy-having (map-side partial agg shrinks the shuffle when
    keys are mostly unique), then join the duplicate-key set back to
    tag every offending row. No forced broadcast: the dup set is
    usually tiny and AQE will pick a broadcast join when it actually
    fits, but on boilerplate-heavy corpora it can be billions of rows —
    a broadcast hint there is an OOM, a shuffle join is not."""
    cols = list(c.columns)
    slim = df.select(*dict.fromkeys([*cols, *key_columns]))
    dup_keys = slim.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n")).filter(F.col("_n") > 1)
    tagged = slim.join(dup_keys, on=cols, how="inner")
    return _as_violations(tagged, key_columns, check_id(c), ",".join(cols), F.col("_n"))


def run_ref_integrity(df: DataFrame, c: RefIntegrity, vocab: DataFrame, key_columns: tuple) -> DataFrame:
    """Broadcast left-anti join; NULL FK passes (Required owns nulls)."""
    cols = list(c.columns)
    ref_cols = list(c.ref_columns or c.columns)
    vocab_sel = vocab.select(*[F.col(rc).alias(cc) for rc, cc in zip(ref_cols, cols)]).dropDuplicates()
    candidates = df.select(*dict.fromkeys([*cols, *key_columns])).na.drop(subset=cols)
    viol = candidates.join(F.broadcast(vocab_sel), on=cols, how="left_anti")
    value = F.concat_ws("|", *[F.col(x).cast("string") for x in cols])
    return _as_violations(viol, key_columns, check_id(c), ",".join(cols), value)


def run_contiguous(df: DataFrame, c: Contiguous, key_columns: tuple) -> DataFrame:
    """Aggregate-only contiguity: per group, order_column must be
    exactly start..start+n-1 — min==start, span==count, no dups.
    One hash aggregation, no window, no sort."""
    g = list(c.group_by)
    o = F.col(c.order_column)
    agg = df.groupBy(*g).agg(
        F.min(o).alias("_min"),
        F.max(o).alias("_max"),
        F.count(o).alias("_n"),
        F.count_distinct(o).alias("_nd"),
    )
    bad = agg.filter(
        (F.col("_min") != c.start)
        | (F.col("_max") - F.col("_min") + 1 != F.col("_n"))
        | (F.col("_nd") != F.col("_n"))
    )
    # group-scope violation row: key columns not in group_by are NULL
    dtypes = dict(df.dtypes)
    sel = [
        (F.col(k) if k in g else F.lit(None).cast(dtypes.get(k, "string"))).alias(k)
        for k in key_columns
    ]
    value = F.to_json(F.struct("_min", "_max", "_n", "_nd"))
    return bad.select(
        *sel,
        F.lit(check_id(c)).alias("check"),
        F.lit(c.order_column).alias("column"),
        value.alias("value"),
    )


def run_functional_dependency(
    df: DataFrame, c: FunctionalDependency, key_columns: tuple
) -> DataFrame:
    """One hash aggregation on the determinant (map-side partial):
    count distinct dependent tuples per group, keep groups with >1.
    The dependent tuple is a struct so multi-column dependents count
    as one value; struct distinctness uses grouping equality (NULL
    fields agree with NULL fields), matching SQL count(DISTINCT row).
    No tag-back join — violations are group rows (bounded by #groups),
    so nothing beyond the aggregation ever shuffles."""
    g = list(c.determinant)
    dep = F.struct(*[F.col(x) for x in c.dependent])
    agg = (
        df.select(*dict.fromkeys([*g, *c.dependent]))
        .groupBy(*g)
        .agg(F.count_distinct(dep).alias("_nd"))
        .filter(F.col("_nd") > 1)
    )
    dtypes = dict(df.dtypes)
    sel = [
        (F.col(k) if k in g else F.lit(None).cast(dtypes.get(k, "string"))).alias(k)
        for k in key_columns
    ]
    return agg.select(
        *sel,
        F.lit(check_id(c)).alias("check"),
        F.lit(",".join(c.dependent)).alias("column"),
        F.col("_nd").cast("string").alias("value"),
    )


def _group_scope_select(df: DataFrame, group_by: list, key_columns: tuple) -> list:
    """Key-column projection for group-scoped violations: keys in the
    group carry their value, the rest are typed NULLs (same contract as
    Contiguous/FunctionalDependency)."""
    dtypes = dict(df.dtypes)
    return [
        (F.col(k) if k in group_by else F.lit(None).cast(dtypes.get(k, "string"))).alias(k)
        for k in key_columns
    ]


def run_sequence_pattern(
    df: DataFrame, c: SequencePattern, key_columns: tuple
) -> DataFrame:
    """Per-group ordered sequence vs regex: collect (order_by..., value)
    tuples, sort_array for a total in-group order (ties broken by the
    value itself), join with the separator, regex once per GROUP.
    collect_list keeps NULL values only inside the ordering struct;
    they are filtered before the join — matching SQL string_agg. No
    window, no per-row regex. Single-check facade over
    run_group_scope_checks (suites fuse same-group_by checks there)."""
    return run_group_scope_checks(df, [c], key_columns)


def run_group_agg_bounds(
    df: DataFrame, c: GroupAggBounds, key_columns: tuple
) -> DataFrame:
    """Per-group statistic bound; out-of-bounds groups become
    group-scoped violation rows (bounded by #groups). NULL statistic
    => vacuous pass (all-NULL group). Single-check facade over
    run_group_scope_checks."""
    return run_group_scope_checks(df, [c], key_columns)


def _seq_agg_expr(c: SequencePattern) -> Column:
    ob = [F.col(x) for x in c.order_by]
    return F.array_join(
        F.filter(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(*ob, F.col(c.column).alias("_v")))
                ),
                lambda s: s["_v"],
            ),
            lambda v: v.isNotNull(),
        ),
        c.separator,
    )


def _group_bounds_expr(c: GroupAggBounds) -> Column:
    return _AGG_FNS[c.agg](F.col(c.column)).cast("double")


def run_group_scope_checks(
    df: DataFrame, checks: list, key_columns: tuple
) -> DataFrame:
    """ALL group-scoped checks sharing ONE group_by (SequencePattern +
    GroupAggBounds) in a single hash aggregation — k checks on the same
    key cost one shuffle, not k. Per-group violations are assembled as
    one array of failure structs and exploded (one subtree): emitting
    one DataFrame per check and unioning would look shared in Python
    but Catalyst optimizes each Union branch independently, duplicating
    the aggregation per check (same trap as the fused ordered pass)."""
    g = list(checks[0].group_by)
    needed: list[str] = list(g)
    for c in checks:
        if isinstance(c, SequencePattern):
            needed += [*c.order_by, c.column]
        else:
            needed.append(c.column)
    slim = df.select(*dict.fromkeys(needed))

    mkey = (_ctx_id(), tuple(checks))
    bundle = _GROUP_MEMO.get(mkey)
    if bundle is None:
        if len(_GROUP_MEMO) >= _MEMO_CAP:
            _GROUP_MEMO.clear()
        bundle = _GROUP_MEMO[mkey] = _group_scope_exprs(tuple(checks))
    aggs, arr = bundle
    agg = slim.groupBy(*g).agg(*aggs)
    exploded = agg.select(*g, F.explode(arr).alias("_f"))
    return exploded.select(
        *_group_scope_select(df, g, key_columns),
        F.col("_f.check").alias("check"),
        F.col("_f.column").alias("column"),
        F.col("_f.value").alias("value"),
    )


_GROUP_MEMO: dict = {}


def _group_scope_exprs(checks: tuple) -> tuple:
    """(agg expressions, violation array Column) for
    run_group_scope_checks — DataFrame-independent, memoized per
    config (same rationale as _FUSED_MEMO)."""
    aggs = []
    for i, c in enumerate(checks):
        expr = _seq_agg_expr(c) if isinstance(c, SequencePattern) else _group_bounds_expr(c)
        aggs.append(expr.alias(f"_s{i}"))

    structs = []
    for i, c in enumerate(checks):
        s = F.col(f"_s{i}")
        if isinstance(c, SequencePattern):
            # A group with zero non-NULL values joins to '' — vacuous
            # pass (matches GroupAggBounds' NULL-statistic rule and the
            # DuckDB oracle, whose string_agg yields NULL and skips).
            bad = (F.length(s) > 0) & ~s.rlike(c.regex)
            value = F.substring(s, 1, c.max_value_len)
        else:
            ok = F.lit(True)
            if c.min is not None:
                ok = ok & (s >= F.lit(float(c.min)))
            if c.max is not None:
                ok = ok & (s <= F.lit(float(c.max)))
            bad = ~F.coalesce(ok, F.lit(True))
            value = s.cast("string")
        structs.append(
            (
                bad,
                F.struct(
                    F.lit(check_id(c)).alias("check"),
                    F.lit(c.column).cast("string").alias("column"),
                    value.alias("value"),
                ),
            )
        )
    arr = _concat_conditional(structs, f"struct<{FAILURE_STRUCT}>")
    return tuple(aggs), arr


def run_monotonic(df: DataFrame, c: Monotonic, key_columns: tuple) -> DataFrame:
    from pyspark.sql import Window

    needed = list(dict.fromkeys([*c.group_by, *c.order_by, c.column, *key_columns]))
    w = Window.partitionBy(*c.group_by).orderBy(*c.order_by)
    with_prev = df.select(*needed).withColumn("_prev", F.lag(F.col(c.column)).over(w))
    bad = (
        F.col(c.column) <= F.col("_prev") if c.strict else F.col(c.column) < F.col("_prev")
    )
    viol = with_prev.filter(F.coalesce(bad, F.lit(False)))
    value = F.concat_ws("<", F.col(c.column).cast("string"), F.col("_prev").cast("string"))
    return _as_violations(viol, key_columns, check_id(c), c.column, value)


def run_ordered_fused(
    df: DataFrame,
    group_by: tuple,
    order_col: str,
    key_columns: tuple,
    unique: UniqueKey | None = None,
    contig: Contiguous | None = None,
    monos: list[Monotonic] | None = None,
) -> list[DataFrame]:
    """Fused per-group ordered pass: uniqueness + contiguity +
    monotonicity checks that share (group_by, order_col) evaluate over
    ONE hash(group_by) exchange, one (group_by, order_col) sort, and
    ONE WindowExec, instead of one shuffle each. Violation outputs are
    IDENTICAL to the per-check passes (run_unique_key / run_contiguous
    / run_monotonic).

    Every window expression shares the (g, order o) spec with only
    streaming frames — offset (lag/lead), running (min/max/count,
    row_number/dense_rank), and order-peer (RANGE current..current for
    the duplicate count) — so CollapseWindow folds them into a single
    operator and nothing buffers whole groups. The previous design
    (four specs, two with unbounded partition frames materializing
    every group into an UnsafeExternalRowBuffer) measured 3.5us/row at
    8 threads inflating to 12-17us/row at 32 on one socket: the
    buffer copies were both the dominant CPU and the worst
    memory-contention amplifier, capping N->4N scaling of the whole
    suite at ~0.45 (event logs, BENCH/analyze_eventlog.py).
    """
    g = list(group_by)
    # column-prune BEFORE the shuffle: the pass needs only keys, the
    # order column, and the monotonic columns — not the (wide) payload
    needed = list(dict.fromkeys([*g, order_col, *(mc.column for mc in monos or []), *key_columns]))
    # pin a single exchange: every window below is satisfied by hash(g)
    base = df.select(*needed).repartition(*g)
    # window/violation expressions are pure functions of the check
    # configs — memoized like the fused row pass (_FUSED_MEMO)
    mkey = (_ctx_id(), tuple(g), order_col, unique, contig, tuple(monos or []))
    bundle = _ORDERED_MEMO.get(mkey)
    if bundle is None:
        if len(_ORDERED_MEMO) >= _MEMO_CAP:
            _ORDERED_MEMO.clear()
        bundle = _ORDERED_MEMO[mkey] = _ordered_exprs(
            tuple(g), order_col, unique, contig, tuple(monos or [])
        )
    wincols, arr = bundle
    if wincols:
        base = base.withColumns(dict(wincols))
    exploded = base.select(*[F.col(k) for k in dict.fromkeys([*g, *key_columns])],
                           F.explode(arr).alias("_f"))
    dtypes = dict(df.dtypes)
    sel = [
        (
            F.col(k)
            if k in g
            else F.when(~F.col("_f.grp"), F.col(k))
            .otherwise(F.lit(None))
            .cast(dtypes.get(k, "string"))
            .alias(k)
        )
        for k in key_columns
    ]
    return [
        exploded.select(
            *sel,
            F.col("_f.check").alias("check"),
            F.col("_f.column").alias("column"),
            F.col("_f.value").alias("value"),
        )
    ]


_ORDERED_MEMO: dict = {}


def _ordered_exprs(
    g: tuple,
    order_col: str,
    unique: "UniqueKey | None",
    contig: "Contiguous | None",
    monos: tuple,
) -> tuple:
    """(window columns to append in order, violation array Column) for
    run_ordered_fused — DataFrame-independent, memoized per config."""
    from pyspark.sql import Window

    o = F.col(order_col)
    wincols: list = []
    w_ord = Window.partitionBy(*g).orderBy(order_col)
    if unique is not None:
        # duplicate-key count as the ORDER-PEER group size: a RANGE
        # (current row, current row) frame over the (g, o) sort is
        # exactly the tie block of o within g — same value as a
        # count over partitionBy(g, o), but it shares w_ord's spec so
        # it folds into the same WindowExec instead of adding a
        # second partition pass (NULL ties group together in both
        # formulations; NULL-keyed rows are filtered below anyway).
        wincols.append(
            (
                "_kc",
                F.count(F.lit(1)).over(
                    w_ord.rangeBetween(Window.currentRow, Window.currentRow)
                ),
            )
        )
    for i, mc in enumerate(monos or []):
        wincols.append((f"_prev_{i}", F.lag(F.col(mc.column)).over(w_ord)))
    if contig is not None:
        # Group statistics via RUNNING aggregates read at each group's
        # LAST row, not whole-group window frames. An unbounded
        # Window.partitionBy(g) frame buffers every group's rows in an
        # UnsafeExternalRowBuffer before emitting — measured as the
        # dominant CPU (and the worst 32-thread memory-contention
        # amplifier) of the fused pass at 8e7 rows. Running frames
        # (RANGE UNBOUNDED PRECEDING..CURRENT ROW over the same sort)
        # stream instead: at the group's last row the running min /
        # max / count / distinct-transition sum equal the group totals,
        # and the emitted violation row is IDENTICAL — group-scope
        # rows NULL the non-group key columns, so which row of the
        # group emits is unobservable in the output.
        # Every expression here shares the (g, order o) spec and none
        # depends on another window output, so CollapseWindow merges
        # them with the monos' lags into ONE WindowExec (plus _kc's).
        # NULL-excluding distinct count without a second pass:
        # dense_rank at the last row = #distinct values of o INCLUDING
        # the NULL group (NULLS FIRST sorts it as one leading value),
        # and the group contains NULLs iff row_number > count(o), so
        # subtracting that indicator yields count_distinct(o) —
        # matching run_contiguous and the SQL oracle.
        # _nd inlines its dense_rank/row_number/count terms instead of
        # referencing sibling columns so the whole bundle can be added
        # with ONE withColumns call (eager per-op analysis made each
        # chained withColumn cost ~10 ms of driver time)
        wincols += [
            ("_last", F.lead(F.lit(1)).over(w_ord).isNull()),
            ("_mn", F.min(o).over(w_ord)),
            ("_mx", F.max(o).over(w_ord)),
            ("_n", F.count(o).over(w_ord)),
            (
                "_nd",
                F.dense_rank().over(w_ord)
                - (F.row_number().over(w_ord) > F.count(o).over(w_ord)).cast("long"),
            ),
        ]
    # Assemble every fused check's violation as an element of ONE
    # per-row array and explode — the same shape as the fused row pass.
    # Emitting one DataFrame per check instead (pre-round-2 design)
    # looks shared in Python but is NOT in the physical plan: Catalyst
    # optimizes each Union branch independently (per-branch column
    # pruning + filter pushdown), so the "shared" base duplicates into
    # one scan + one exchange per check. A single explode subtree keeps
    # the contract the docstring promises: one scan, one exchange.
    # Struct fields: check, column, value, grp (group-scope row ⇒ key
    # columns outside group_by are NULLed in the final select).
    def _viol(cond, check, column, value, grp):
        return (
            cond,
            F.struct(
                F.lit(check).alias("check"),
                F.lit(column).cast("string").alias("column"),
                value.cast("string").alias("value"),
                F.lit(grp).alias("grp"),
            ),
        )

    structs = []
    if unique is not None:
        # rows with a NULL in any unique-key column are never reported:
        # run_unique_key's equi-join back (and the SQL oracle's JOIN
        # USING) are NULL-rejecting — NULL policy belongs to Required
        non_null_key = reduce(
            lambda a, b: a & b, (F.col(c).isNotNull() for c in (*g, order_col))
        )
        structs.append(
            _viol(
                (F.col("_kc") > 1) & non_null_key,
                check_id(unique),
                ",".join(unique.columns),
                F.col("_kc"),
                False,
            )
        )
    if contig is not None:
        bad_grp = F.col("_last") & (
            (F.col("_mn") != contig.start)
            | (F.col("_mx") - F.col("_mn") + 1 != F.col("_n"))
            | (F.col("_nd") != F.col("_n"))
        )
        structs.append(
            _viol(
                bad_grp,
                check_id(contig),
                contig.order_column,
                F.to_json(
                    F.struct(
                        F.col("_mn").alias("_min"),
                        F.col("_mx").alias("_max"),
                        F.col("_n").alias("_n"),
                        F.col("_nd").alias("_nd"),
                    )
                ),
                True,
            )
        )
    for i, mc in enumerate(monos or []):
        prev = F.col(f"_prev_{i}")
        badp = F.col(mc.column) <= prev if mc.strict else F.col(mc.column) < prev
        structs.append(
            _viol(
                F.coalesce(badp, F.lit(False)),
                check_id(mc),
                mc.column,
                F.concat_ws("<", F.col(mc.column).cast("string"), prev.cast("string")),
                False,
            )
        )
    # concat-of-conditional-arrays instead of filter(array(...)):
    # the ArrayFilter HOF is CodegenFallback and would knock this
    # Project out of whole-stage codegen (see _concat_conditional)
    arr = _concat_conditional(
        structs, f"struct<{FAILURE_STRUCT}, grp boolean>"
    )
    return tuple(wincols), arr


_AGG_FNS = {
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "count": F.count,
    "count_distinct": F.count_distinct,
    "stddev": F.stddev,  # sample stddev, matching SQL stddev_samp
}


def run_table_aggregates(
    df: DataFrame, checks: "list[NullRateMax | AggBounds]"
) -> DataFrame:
    """ALL aggregate-level checks (null-rate bounds + statistic bounds)
    in ONE lazy aggregation (column-pruned scan of just the checked
    columns; partial+final agg) — returns verdict rows, no eager
    driver job."""
    aggs = []
    oks = []
    for i, c in enumerate(checks):
        if isinstance(c, NullRateMax):
            aggs.append(F.avg(F.col(c.column).isNull().cast("double")).alias(f"_r{i}"))
            oks.append(F.coalesce(F.col(f"_r{i}"), F.lit(0.0)) <= F.lit(float(c.max_rate)))
        else:  # AggBounds
            if c.agg == "quantile":
                # exact interpolating percentile (== SQL quantile_cont)
                a = F.percentile(F.col(c.column), F.lit(float(c.quantile)))
            elif c.agg == "approx_quantile":
                # Greenwald-Khanna sketch: map-side combinable, no
                # per-value shuffle — the 10^12-row path
                a = F.percentile_approx(
                    F.col(c.column), F.lit(float(c.quantile)), F.lit(c.accuracy)
                )
            else:
                a = _AGG_FNS[c.agg](F.col(c.column))
            aggs.append(a.cast("double").alias(f"_r{i}"))
            cond = F.lit(True)
            if c.min is not None:
                cond = cond & (F.col(f"_r{i}") >= F.lit(float(c.min)))
            if c.max is not None:
                cond = cond & (F.col(f"_r{i}") <= F.lit(float(c.max)))
            # NULL statistic (empty/all-NULL input) => vacuous pass
            oks.append(F.coalesce(cond, F.lit(True)))
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(F.lit(check_id(c)).alias("check"), ok.alias("ok"))
            for c, ok in zip(checks, oks)
        ]
    )
    return wide.select(F.explode(rows).alias("s")).select(
        F.lit("table").alias("scope"),
        F.lit(None).cast("int").alias("partition_id"),
        F.col("s.check").alias("check"),
        F.lit(None).cast("long").alias("n_rows"),
        F.lit(None).cast("long").alias("n_violations"),
        F.col("s.ok").alias("passed"),
    )

_VERDICT_SELECT_DOC = None  # (verdict schema documented in engine.ValidationResult)


def _one_row_pvalue_udf(fn):
    """Wrap a scalar p-value function (from operators.drift — standard
    public formulas) as an Arrow-batched pandas UDF. It is only ever
    applied to a ONE-row frame (the reduced drift statistic), so the
    Python cost is a constant, not a per-row path."""
    import pandas as _pd

    @F.pandas_udf("double")
    def _udf(*cols: pd.Series) -> pd.Series:
        out = []
        for vals in zip(*cols):
            out.append(fn(*vals))
        return _pd.Series(out, dtype="float64")

    return _udf


def run_chi2_drift(df: DataFrame, c: ChiSquareDrift, ref: DataFrame) -> DataFrame:
    """Chi² drift → ONE table-scope verdict row, fully lazy.

    Plan: groupBy histogram of the observed column (partial+final agg —
    the only pass over the big table), full outer join against the
    reference histogram (O(#categories) rows), window totals + one agg
    to the (stat, dof, n) triple, Arrow-UDF p-value on that single row.
    Semantics match operators.drift.chi_squared_drift: expected counts
    scaled to the observed total; observed-only category ⇒ stat=+inf ⇒
    p=0; empty observed or reference side ⇒ vacuous pass."""
    from pyspark.sql import Window

    from hjsonschema_spark.operators.drift import chi2_sf

    col = c.column
    obs = df.na.drop(subset=[col]).groupBy(col).agg(F.count(F.lit(1)).alias("_o"))
    refh = ref.na.drop(subset=[col]).groupBy(col).agg(F.sum("n").alias("_r"))
    joined = obs.join(refh, on=col, how="full").select(
        F.coalesce(F.col("_o"), F.lit(0)).cast("double").alias("o"),
        F.coalesce(F.col("_r"), F.lit(0)).cast("double").alias("r"),
    )
    w = Window.partitionBy()  # O(#categories) rows — safe unpartitioned
    t = joined.withColumn("_no", F.sum("o").over(w)).withColumn("_nr", F.sum("r").over(w))
    # try_divide: empty reference => NULL expected => vacuous (ANSI-safe)
    e = F.try_divide(F.col("r") * F.col("_no"), F.col("_nr"))
    term = F.when(e > 0, F.try_divide(F.pow(F.col("o") - e, F.lit(2)), e)).otherwise(
        F.when(F.col("o") > 0, F.lit(float("inf"))).otherwise(F.lit(0.0))
    )
    one = t.agg(
        F.sum(term).alias("_stat"),
        F.greatest(F.lit(1), F.count(F.lit(1)) - 1).cast("int").alias("_dof"),
        F.coalesce(F.max("_no"), F.lit(0.0)).alias("_n_obs"),
        F.coalesce(F.max("_nr"), F.lit(0.0)).alias("_n_ref"),
    )

    import math

    def _p(stat, dof, n_obs, n_ref) -> float:
        if not n_obs or not n_ref or stat is None:
            return 1.0  # vacuous: nothing to compare
        if math.isinf(stat) or math.isnan(stat):
            return 0.0
        return chi2_sf(float(stat), int(dof))

    p = _one_row_pvalue_udf(_p)(F.col("_stat"), F.col("_dof"), F.col("_n_obs"), F.col("_n_ref"))
    return one.select(
        F.lit("table").alias("scope"),
        F.lit(None).cast("int").alias("partition_id"),
        F.lit(check_id(c)).alias("check"),
        F.col("_n_obs").cast("long").alias("n_rows"),
        F.lit(None).cast("long").alias("n_violations"),
        (p >= F.lit(float(c.alpha))).alias("passed"),
    )


def run_ks_drift(df: DataFrame, c: KSDrift, ref: DataFrame) -> DataFrame:
    """Two-sample KS drift → ONE table-scope verdict row, fully lazy.

    Plan: shared [lo, hi] from a lazy 1-row bounds agg (broadcast into
    both sides), one width-bucketed groupBy per side (the ONLY passes
    over the data; partial+final agg, spill-safe), cumulative-sum
    windows over O(buckets) rows for the ECDF gap D, Arrow-UDF
    asymptotic p-value on the single resulting row. Matches
    operators.drift.ks_two_sample (same bucketed-D estimator); empty
    side or degenerate range ⇒ vacuous pass."""
    from pyspark.sql import Window

    from hjsonschema_spark.operators.drift import ks_sf

    col = c.column
    a = df.na.drop(subset=[col]).select(F.col(col).cast("double").alias("x"))
    b = ref.na.drop(subset=[col]).select(F.col(col).cast("double").alias("x"))
    # ONE tagged union feeds both the bounds agg and the bucket counts:
    # the per-side bucketed() formulation scanned the input 6 times
    # (each side's groupBy dragged its own copy of the 2-scan bounds
    # subtree — plans/r06 drift before-plan (45)-(54)); this shape
    # scans it 4 times (2 for bounds, 2 for counts), and the two
    # per-side histograms become conditional sums in a single groupBy —
    # no full-outer histogram join. Counts, bucket set, and therefore
    # D / p / passed are identical (guide §1.2: fewer passes).
    u = a.withColumn("_g", F.lit(1)).unionByName(b.withColumn("_g", F.lit(0)))
    bounds = u.agg(F.min("x").alias("_lo"), F.max("x").alias("_hi"))

    nb = int(c.buckets)
    t = u.crossJoin(F.broadcast(bounds))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(nb))
    # try_divide: degenerate range (hi == lo) => NULL => bucket 0
    bkt = F.coalesce(
        F.least(F.lit(nb - 1), F.floor(F.try_divide(F.col("x") - F.col("_lo"), width)).cast("int")),
        F.lit(0),
    )
    hist = t.groupBy(bkt.alias("_b")).agg(
        F.sum("_g").alias("_na"),
        F.sum(F.lit(1) - F.col("_g")).alias("_nb"),
    )
    w_cum = Window.partitionBy().orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = hist.select(
        F.try_divide(F.sum("_na").over(w_cum), F.sum("_na").over(w_all)).alias("_ca"),
        F.try_divide(F.sum("_nb").over(w_cum), F.sum("_nb").over(w_all)).alias("_cb"),
        F.sum("_na").over(w_all).alias("_n1"),
        F.sum("_nb").over(w_all).alias("_n2"),
    )
    one = cum.agg(
        F.max(F.abs(F.col("_ca") - F.col("_cb"))).alias("_d"),
        F.coalesce(F.max("_n1"), F.lit(0)).alias("_n1"),
        F.coalesce(F.max("_n2"), F.lit(0)).alias("_n2"),
    )

    def _p(d, n1, n2) -> float:
        if d is None or not n1 or not n2:
            return 1.0  # vacuous
        return ks_sf(float(d), int(n1), int(n2))

    p = _one_row_pvalue_udf(_p)(F.col("_d"), F.col("_n1"), F.col("_n2"))
    return one.select(
        F.lit("table").alias("scope"),
        F.lit(None).cast("int").alias("partition_id"),
        F.lit(check_id(c)).alias("check"),
        F.col("_n1").cast("long").alias("n_rows"),
        F.lit(None).cast("long").alias("n_violations"),
        (p >= F.lit(float(c.alpha))).alias("passed"),
    )
