"""Suite execution: the reference's `validate` lifecycle
(src/JSONSchema/Draft4.hs:62-81) recast as a handful of Spark jobs.

Stages (all lazy until an output is consumed):
  1. config self-validation + Ref resolution  [driver, cheap]
  2. ONE fused row-level projection over the table
  3. table-level passes (agg / window / broadcast-join), one per check
  4. outputs: violations table (globally ordered by key — the
     byte-stable contract), per-partition + per-check verdicts,
     per-column stats (null-rate, min/max, HLL distinct)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hjsonschema_spark.checks import compile as C
from hjsonschema_spark.checks.ir import (
    CheckSuite,
    ConfigInvalid,
    Contiguous,
    FunctionalDependency,
    GroupAggBounds,
    Monotonic,
    NullRateMax,
    RefIntegrity,
    RowCheck,
    SequencePattern,
    SuiteRegistry,
    TableCheck,
    UniqueKey,
)

_VIOL_TAIL = ["check", "column", "value"]


def _dtype_of(df: DataFrame, name: str) -> str | None:
    """Spark simpleString of a column, resolving dotted paths into
    StructType fields (`a.b.c`) — the nested-object flattening surface
    (from_schema's Schema.hs properties recursion). None if absent."""
    from pyspark.sql.types import StructType

    parts = name.split(".")
    dt = df.schema
    for p in parts:
        if not isinstance(dt, StructType) or p not in dt.fieldNames():
            return None
        dt = dt[p].dataType
    return dt.simpleString()


@dataclass
class ValidationResult:
    """Lazy handles over the suite's outputs."""

    suite: CheckSuite
    checked: DataFrame  # input + `_failures` array column
    violations: DataFrame  # key cols + (check, column, value), globally sorted
    # verdicts (scope, partition_id, check, n_rows, n_violations,
    # passed) — materialized lazily from a zero-arg factory: assembling
    # the verdict union costs ~15 eagerly-analyzed DataFrame ops
    # (~0.1 s of driver time), which violations-only consumers — the
    # common bench/CLI path — never need. Config validation stays
    # eager in run_suite; only the frame CONSTRUCTION is deferred.
    _verdicts_src: Any = None  # DataFrame | () -> DataFrame
    stats: DataFrame | None = None
    # bounded per-check sample of violations (only when run_suite was
    # given max_violations_per_check) — counts in verdicts stay exact
    violations_sample: DataFrame | None = None
    _summary: dict[str, Any] | None = field(default=None, repr=False)
    _persisted: tuple = field(default=(), repr=False)
    # violations before the byte-stability global sort — clean_rows'
    # anti-join must not inherit a useless sort node
    _viols_unsorted: DataFrame | None = field(default=None, repr=False)
    # TABLE-scope-only violation union (None = the suite has no
    # table-scope violation checks): strict clean_rows anti-joins this
    # instead of the full union — row-scope keys can't match (base is
    # already _failures == []) and the row branch would cost an extra
    # input scan
    _table_viols_unsorted: DataFrame | None = field(default=None, repr=False)
    # True when run_suite fanned the input out (narrow/one-row-group
    # scan): clean_rows then pins its row filter ABOVE that exchange
    _fanned: bool = field(default=False, repr=False)
    # the fused pass's input before any fan-out: group_verdicts counts
    # its rows from a key-column scan of it
    _input: DataFrame | None = field(default=None, repr=False)
    # one violation row per input row that failed >=1 row check (its
    # first failure), read from the violation union; None when the
    # suite has no row checks
    _flagged: DataFrame | None = field(default=None, repr=False)

    @property
    def verdicts(self) -> DataFrame:
        if callable(self._verdicts_src):
            self._verdicts_src = self._verdicts_src()
        return self._verdicts_src

    def group_verdicts(self, group_columns: list[str] | tuple) -> DataFrame:
        """Per-group row-check pass/fail (e.g. per conversation:
        group_columns=("conv_id",)). n_rows counts each group's input
        rows from a key-column scan (no fused pass); n_violations counts
        its rows with >=1 row-check failure from the flagged violation
        rows — a read of the cached violation union when
        run_suite(persist=True). Group columns must be a subset of the
        suite's key_columns (violation rows carry only keys). Covers
        row-scope checks; table-scope checks aggregate above group
        level by design."""
        missing = [g for g in group_columns if g not in self.suite.key_columns]
        if missing:
            raise ConfigInvalid(
                f"group_verdicts: {missing} not in key_columns {self.suite.key_columns}"
            )
        by = list(group_columns)
        return _row_pass_counts(self._input.select(*by), self._flagged, by).withColumn(
            "passed", F.col("n_violations") == 0
        )

    def clean_rows(self, strict: bool = True) -> DataFrame:
        """The validate-and-filter surface: input rows that passed,
        original schema — route these to the pipeline, `quarantine()`
        the rest (the per-row analogue of the reference's accept/reject
        `validate` verdict, Draft4.hs:62-81, as a dataset operation).

        strict=False — rows whose ROW checks all passed: a pure filter
        on the fused pass, zero extra scans or shuffles (codegen'd
        filter on the already-computed `_failures` array). Rows
        implicated only in table-scope violations (duplicate keys) are
        NOT excluded.

        strict=True (default) — additionally anti-joins the row-keyed
        violation set on key_columns (one hash exchange of keys only;
        the violation side is the table-scope violations alone — a
        row-check violation's row already failed the filter — so the
        fused pass does not run a second time), so rows implicated in
        key-scoped table checks (UniqueKey, Monotonic) are quarantined
        too. Group-scoped violations (Contiguous gaps — emitted with a
        NULL order position, no single culpable row) never match the
        equality anti-join by construction; quarantine whole groups via
        group_verdicts() if that is the policy.
        """
        passed_row = F.size("_failures") == 0
        if self._fanned:
            # PushDownPredicates substitutes the filter through the
            # _failures projection AND the fan-out exchange, landing
            # the whole fused row pass back in the row-group-limited
            # scan stage (measured: 2.1s single-task of a 2.9s wall).
            # Pin the filter above the exchange with an always-FALSE
            # non-deterministic disjunct (spark_partition_id() is never
            # negative): an OR cannot be split, so the whole predicate
            # stays unpushable (guide §4.4's asNondeterministic
            # technique — a nondeterministic CONJUNCT does not work,
            # the optimizer splits conjunctions and pushes the
            # deterministic half anyway; rand() comparisons are even
            # bound-folded away). Rows are unchanged. Only applied when
            # the input was actually fanned out, so well-partitioned
            # production inputs keep full filter pushdown.
            passed_row = passed_row | (F.spark_partition_id() < F.lit(0))
        base = self.checked.filter(passed_row).drop("_failures")
        if not strict:
            return base
        keys = list(self.suite.key_columns)
        # prefer the table-scope-only union: row-scope violation keys
        # are a subset of the rows base already filtered out, and the
        # row branch would re-run the fused pass (extra input scan)
        src = self._table_viols_unsorted
        if src is None:
            # results built by run_suite always set the field; for any
            # externally-constructed result fall back to the full union
            src = self._viols_unsorted if self._viols_unsorted is not None else self.violations
            if src is None:
                return base
        return base.join(src.select(*keys).dropDuplicates(keys), keys, "left_anti")

    def quarantine(self) -> DataFrame:
        """Rows where at least one ROW check failed, with the failure
        structs attached (`_failures`: array<struct<check,column,value>>)
        — the write-aside side of the validate-and-filter pattern. Same
        fused pass as everything else; no extra scan."""
        return self.checked.filter(F.size("_failures") > 0)

    def passed(self) -> bool:
        """True iff zero violation rows AND every table/schema-scope
        verdict passed (null-rate and type-conformance failures appear
        only as verdicts, never as violation rows)."""
        if self.summary()["n_violations"] > 0:
            return False
        bad = (
            self.verdicts.filter(F.col("scope").isin("table", "schema") & ~F.col("passed"))
            .limit(1)
            .count()
        )
        return bad == 0

    def unpersist(self, blocking: bool = False) -> None:
        """Release frames cached by run_suite(persist=True).

        blocking=True waits for the blocks to actually drop — use it
        between back-to-back suite runs in one session, where async
        eviction lets caches from N runs coexist and overflow the pool."""
        for d in self._persisted:
            d.unpersist(blocking=blocking)

    def summary(self) -> dict[str, Any]:
        if self._summary is None:
            counts = {
                r["check"]: r["n"]
                for r in self.violations.groupBy("check").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            self._summary = {
                "suite": self.suite.name,
                "n_violations": sum(counts.values()),
                "by_check": counts,
            }
        return self._summary


def _row_violations(checked: DataFrame, key_columns: tuple) -> DataFrame:
    """One violation row per row-check failure, straight from the fused
    pass, tagged with two internal columns the public ``violations``
    drops: ``_pid`` (input partition id) and ``_first`` (the row's first
    failure — exactly one per failing row), from which the partition
    and group verdicts count failing rows without re-running the pass."""
    # no filter(size(_failures) > 0) before the explode: Generate with
    # outer=false already drops rows whose array is empty, and the
    # filter made the (expensive) fused failure-array expression
    # evaluate TWICE per row — once in the Filter condition, once in
    # the Project feeding the explode (plans/r06 suite_violations
    # before-plan, operators (2)+(3)). The partition id shares the
    # projection that computes `_failures` on purpose: a
    # nondeterministic Project stops Catalyst's inferred size(...) > 0
    # filter (InferFiltersFromGenerate) from being pushed below it and
    # re-introducing exactly that double evaluation.
    tagged = checked.select(*key_columns, F.spark_partition_id().alias("_pid"), "_failures")
    return tagged.select(
        *key_columns, "_pid", F.posexplode("_failures").alias("_pos", "f")
    ).select(
        *key_columns, "f.check", "f.column", "f.value", "_pid",
        (F.col("_pos") == 0).alias("_first"),
    )


def _row_pass_counts(rows: DataFrame, flagged: DataFrame | None, by: list) -> DataFrame:
    """n_rows / n_violations per ``by`` group: ``rows`` holds one row
    per input row, ``flagged`` one per failing input row (None: no row
    checks). ONE aggregation over their union — NULL group keys stay
    one group, as in a plain groupBy (a join would drop them)."""
    counted = rows.select(*by, F.lit(1).alias("_r"), F.lit(0).cast("long").alias("_b"))
    if flagged is not None:
        counted = counted.unionByName(
            flagged.select(
                *by, F.lit(None).cast("int").alias("_r"), F.lit(1).cast("long").alias("_b")
            )
        )
    return counted.groupBy(*by).agg(
        F.count("_r").alias("n_rows"), F.sum("_b").alias("n_violations")
    )


# logical operators that leave every row in the partition it came from
_NARROW_NODES = frozenset({"Project", "Filter", "Union", "Generate", "Sample", "SubqueryAlias"})


def _fixed_partitions(df: DataFrame) -> bool:
    """True when every query over ``df`` sees the same rows in each
    partition, whichever columns it reads: the optimized plan (cached
    fragments already substituted) has only narrow operators above its
    leaves. A shuffle inside it is re-planned by AQE per query — a
    column-pruned read can coalesce its partitions differently, or turn
    a join into a broadcast — so partition ids taken in two queries
    would not name the same rows."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        children = node.children()
        n = children.size()
        if n and node.nodeName() not in _NARROW_NODES:
            return False
        stack.extend(children.apply(i) for i in range(n))
    return True


def _partition_verdicts(
    checked: DataFrame, flagged: DataFrame | None, fixed: bool
) -> DataFrame:
    """Per-input-partition pass/fail. ``fixed`` (see _fixed_partitions):
    n_rows from a column-pruned count of the fused pass's input by
    partition id (no fused pass, nothing cached), n_violations from the
    flagged violation rows. Otherwise both from ONE groupBy over the
    fused pass, so they count the same partitions."""
    pid = F.spark_partition_id().alias("_pid")
    if fixed or flagged is None:
        counts = _row_pass_counts(checked.select(pid), flagged, ["_pid"])
    else:
        counts = (
            checked.select(pid, "_failures")
            .groupBy("_pid")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((F.size("_failures") > 0).cast("long")).alias("n_violations"),
            )
        )
    return counts.select(
        F.lit("partition").alias("scope"),
        F.col("_pid").alias("partition_id"),
        F.lit(None).cast("string").alias("check"),
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def column_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """ONE aggregation pass (partial+final, no shuffle beyond the 1-row
    final agg): per-column count / null-rate / min / max / HLL distinct
    (approx_count_distinct = HyperLogLog++) and, for numeric columns,
    p50/p95/p99 via percentile_approx (Greenwald-Khanna sketch — a
    mergeable partial aggregate, so it scales like the other stats).
    Long format: one row per column."""
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    numeric = {c for c in cols if dtypes.get(c, "").startswith(_NUMERIC_PREFIXES)}
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.avg(F.col(c).isNull().cast("double")).alias(f"{c}__null_rate"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
            F.approx_count_distinct(c).alias(f"{c}__approx_distinct"),
        ]
        if c in numeric:
            aggs.append(
                F.percentile_approx(F.col(c).cast("double"), [0.5, 0.95, 0.99], 10000).alias(
                    f"{c}__pct"
                )
            )
    wide = df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    struct_rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__n").alias("n"),
                F.col(f"{c}__null_rate").alias("null_rate"),
                F.col(f"{c}__min").alias("min"),
                F.col(f"{c}__max").alias("max"),
                F.col(f"{c}__approx_distinct").alias("approx_distinct"),
                (F.col(f"{c}__pct")[0] if c in numeric else null_d).alias("p50"),
                (F.col(f"{c}__pct")[1] if c in numeric else null_d).alias("p95"),
                (F.col(f"{c}__pct")[2] if c in numeric else null_d).alias("p99"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(struct_rows).alias("s")).select("s.*")


def _fuse_ordered_checks(
    df: DataFrame, table_checks: list, keys: tuple
) -> tuple[list, list[DataFrame]]:
    """Detect UniqueKey / Contiguous / Monotonic checks sharing the
    same (group_by, order_column) and evaluate them in ONE window pass
    (one shuffle) via C.run_ordered_fused. Returns (unfused leftovers,
    fused violation DataFrames)."""
    groups: dict[tuple, dict] = {}
    for c in table_checks:
        if isinstance(c, Contiguous):
            groups.setdefault((tuple(c.group_by), c.order_column), {}).setdefault("contig", c)
        elif isinstance(c, Monotonic) and len(c.order_by) == 1:
            groups.setdefault((tuple(c.group_by), c.order_by[0]), {}).setdefault("monos", []).append(c)
    for c in table_checks:
        if isinstance(c, UniqueKey):
            for (g, o), slot in groups.items():
                if tuple(c.columns) == g + (o,) and "unique" not in slot:
                    slot["unique"] = c
                    break
    fused_checks: set[int] = set()
    fused_viols: list[DataFrame] = []
    for (g, o), slot in groups.items():
        members = ([slot.get("unique")] if slot.get("unique") else []) + (
            [slot.get("contig")] if slot.get("contig") else []
        ) + slot.get("monos", [])
        if len(members) < 2:
            continue  # a single check gains nothing from the fused pass
        fused_viols.extend(
            C.run_ordered_fused(
                df, g, o, keys,
                unique=slot.get("unique"),
                contig=slot.get("contig"),
                monos=slot.get("monos", []),
            )
        )
        fused_checks.update(id(m) for m in members)
    remaining = [c for c in table_checks if id(c) not in fused_checks]
    return remaining, fused_viols


def run_suite(
    df: DataFrame,
    suite: CheckSuite,
    registry: SuiteRegistry | None = None,
    vocab_tables: dict[str, DataFrame] | None = None,
    include_stats: bool = False,
    persist: bool = False,
    max_violations_per_check: int | None = None,
) -> ValidationResult:
    """Compile + execute a suite against a DataFrame.

    persist=True caches the (unsorted) violation union — the only
    cached frame, as small as the violation count — so consuming
    violations AND verdicts AND summary() runs the fused row pass and
    the table passes once. It also saves a pass when ``violations`` is
    the only output: the global sort's RangePartitioning boundary
    sampling otherwise executes the whole union pipeline a second time
    (sample job + output job), doubling every scan and shuffle below
    the sort (guide §2.4; measured on suite_violations_lineitem).
    A suite with no violation-producing checks caches nothing.
    Partition and group verdicts never need an input-sized cache: they
    count input rows from a column-pruned scan and failing rows from
    the violation union's flagged rows. The one exception is partition
    verdicts over an input whose plan holds a shuffle: its partitions
    are re-planned per query, so both counts come from one groupBy over
    the fused pass instead."""
    suite.validate_config()  # schema validated before data (Draft4.hs:134-148)
    reg = registry or SuiteRegistry().add(suite)
    if suite.name not in reg.suites:
        reg.add(suite)
    resolved = reg.resolve(suite.name)

    # schema-scope resolution — all static, no per-row work:
    #   PatternColumns expands its row-check template over the matching
    #   column names (patternProperties analogue, Properties.hs:119-172;
    #   uncompilable regexes skipped silently per Properties.hs:150-155);
    #   ColumnsAllowed computes the "matched by neither" remainder
    #   (additionalProperties=false, Properties.hs:175-209)
    import dataclasses
    import re as _re

    from hjsonschema_spark.checks.ir import (
        ColumnsAllowed,
        PatternColumns,
        RemainderColumns,
        TypeIs,
    )

    expanded: list = []
    schema_verdicts: list[tuple[str, bool, int | None]] = []
    for c in resolved:
        if isinstance(c, RemainderColumns):
            # additionalProperties=SCHEMA over columns: instantiate the
            # template for every column matched by NEITHER the declared
            # names nor a pattern (Properties.hs:106-108, 199-209)
            pats = []
            for p in c.patterns:
                try:
                    pats.append(_re.compile(p))
                except _re.error:
                    pass  # skipped silently
            declared = set(c.columns)
            expanded.extend(
                dataclasses.replace(c.check, column=col)
                for col in df.columns
                if col not in declared and not any(r.search(col) for r in pats)
            )
        elif isinstance(c, PatternColumns):
            try:
                rx = _re.compile(c.name_regex)
            except _re.error:
                continue  # skipped silently (reference semantics)
            expanded.extend(
                dataclasses.replace(c.check, column=col)
                for col in df.columns
                if rx.search(col)
            )
        elif isinstance(c, ColumnsAllowed):
            pats = []
            for p in c.patterns:
                try:
                    pats.append(_re.compile(p))
                except _re.error:
                    pass  # skipped silently
            declared = set(c.columns)
            remainder = [
                col
                for col in df.columns
                if col not in declared and not any(r.search(col) for r in pats)
            ]
            schema_verdicts.append(
                (C.check_id(c), not remainder, len(remainder) or None)
            )
        else:
            expanded.append(c)
    resolved = tuple(expanded)

    # fail fast on misspelled columns (schema validated before data,
    # Draft4.hs:134-148): a table's schema is global and static, so a
    # check naming an absent column is a CONFIG error here — a
    # deliberate divergence from per-document JSON semantics (missing
    # key => vacuous pass), which the row-wise Draft4Validator keeps.
    # TypeIs is exempt (absence = failing schema verdict, above).
    from hjsonschema_spark.checks.ir import referenced_columns

    present = set(df.columns)
    wanted: set[str] = set(suite.key_columns)
    for c in resolved:
        wanted |= referenced_columns(c)
    absent = sorted(
        n for n in wanted - present if _dtype_of(df, n) is None
    )
    if absent:
        raise ConfigInvalid(
            f"suite {suite.name!r} references columns not in the table: {absent}"
        )

    # static schema conformance (`type` lifted): resolved at compile
    # time against df.schema, no per-row work (SURVEY §2.4 type row)
    from hjsonschema_spark.checks.ir import json_type_matches

    dtypes = dict(df.dtypes)
    for c in resolved:
        if isinstance(c, TypeIs):
            actual = _dtype_of(df, c.column)
            if c.json_type:
                ok = actual is not None and json_type_matches(c.json_type, actual)
            else:
                ok = actual == c.type_name
            schema_verdicts.append((C.check_id(c), ok, None if ok else 1))

    # `type` NESTED inside a combinator is a per-VALUE test in the
    # reference (Any.hs:320-341), not a static column property — e.g.
    # anyOf[{type: integer}, {minimum: 2}] over a double column must
    # test integrality row by row (1.0 IS a draft-4 integer, isInteger
    # at Any.hs:338-341). Rewrite nested TypeIs against the actual
    # column type: `integer` on a floating column becomes x = floor(x);
    # family matches/mismatches become constants. Top-level TypeIs
    # stays a static schema verdict (above).
    _FLOATING = ("float", "double")

    def _typeis_rowpred(c) -> "ir.Custom":
        from hjsonschema_spark.checks.ir import Custom as _Custom

        t = _dtype_of(df, c.column)
        label = f"json_type_{c.column}_{c.json_type or c.type_name}"
        qcol = ".".join(f"`{p}`" for p in c.column.split("."))
        if c.json_type and t is not None:
            if c.json_type == "integer" and (t in _FLOATING or t.startswith("decimal")):
                return _Custom(name=label, expr=f"{qcol} = floor({qcol})")
            ok = json_type_matches(c.json_type, t)
        else:
            ok = t == c.type_name
        return _Custom(name=label, expr="true" if ok else "false")

    def _rewrite_nested(c):
        from hjsonschema_spark.checks.ir import (
            AllOf as _All, AnyOf as _Any, DependentSchema as _Dep,
            Not as _Not, OneOf as _One,
        )

        if isinstance(c, TypeIs):
            return _typeis_rowpred(c)
        if isinstance(c, (_All, _Any, _One)):
            return type(c)(checks=tuple(_rewrite_nested(k) for k in c.checks))
        if isinstance(c, _Not):
            return _Not(check=_rewrite_nested(c.check))
        if isinstance(c, _Dep):
            return _Dep(
                when_column=c.when_column,
                checks=tuple(_rewrite_nested(k) for k in c.checks),
            )
        return c

    resolved = tuple(
        _rewrite_nested(c) if not isinstance(c, TypeIs) else c for c in resolved
    )

    # top-level TypeIs is fully resolved as a schema verdict above —
    # keep it out of the fused pass entirely (its failure-struct value
    # expression would reference the column, which may not even exist)
    row_checks = [
        c for c in resolved if isinstance(c, RowCheck) and not isinstance(c, TypeIs)
    ]
    table_checks = [c for c in resolved if isinstance(c, TableCheck)]
    missing = [c for c in resolved if not isinstance(c, (RowCheck, TableCheck))]
    if missing:
        raise ConfigInvalid(f"unsupported checks: {[type(c).__name__ for c in missing]}")

    keys = suite.key_columns
    # Adaptive scan fan-out (guide §2.5 input skew / §6 split sizing):
    # a small single-file parquet input yields as few as ONE busy scan
    # task (splits are byte-ranges but rows live in one row group), so
    # the whole fused row pass ran single-core (measured: 2.2s of a
    # 3.0s clean_rows wall in one task at sf0.1). fan_out hash-
    # repartitions narrow inputs to defaultParallelism and is a NO-OP
    # whenever the input already has enough partitions — real
    # multi-file tables and the cached transcripts input are untouched.
    # Applied ONLY when the suite has row checks: per-row CPU work is
    # what the fan-out parallelizes; aggregation-only suites collapse
    # their data map-side, and shuffling the raw input to parallelize a
    # cheap partial agg measured as a net LOSS (drift_suite +7%,
    # conversation_checks +15% before this guard).
    fanned = False
    df_in = df
    if row_checks:
        from hjsonschema_spark.functions import fan_out

        df = fan_out(df, by=tuple(suite.key_columns))
        fanned = df is not df_in
    # barrier=fanned: keep Catalyst's inferred size(_failures)>0 filter
    # (InferFiltersFromGenerate, below the violations explode) from
    # being substituted through the fan-out exchange into the serial
    # scan task — see compile._pushdown_barrier
    checked = C.compile_fused_pass(df, row_checks, barrier=fanned)
    # NOTE: nothing input-sized is ever persisted — `checked` carries
    # the whole payload, and even its keys-only projection (one row per
    # input row) cost more to cache than the consumers saved. Row
    # violations explode straight from the fused pass into the
    # violation union (cached when persist=True); the partition
    # verdicts count input rows from a column-pruned scan instead
    # (see _partition_verdicts for inputs whose partitions move).

    # an aggregate-only suite (no row checks) must not pay a row-pass
    # scan in the violations plan: size([]) > 0 is always false but
    # Catalyst does not fold the scan away, so skip the branch outright
    viols = [_row_violations(checked, keys)] if row_checks else []
    # verdict frames are assembled lazily (ValidationResult._verdicts_src):
    # each part is a zero-arg factory; config validation stays eager
    verdict_parts: list = [
        lambda: _partition_verdicts(checked, flagged, _fixed_partitions(df_in))
    ]

    # every NullRateMax + AggBounds folds into ONE lazy aggregation pass
    # (column-pruned scan of just the checked columns, no eager .first()
    # jobs)
    from hjsonschema_spark.checks.ir import AggBounds

    agg_level = [c for c in table_checks if isinstance(c, (NullRateMax, AggBounds))]
    table_checks = [c for c in table_checks if not isinstance(c, (NullRateMax, AggBounds))]
    if agg_level:
        verdict_parts.append(lambda: C.run_table_aggregates(df, agg_level))

    # distribution-drift checks (north star: chi² on role histograms,
    # KS on turn-length) produce table-scope verdict rows, not
    # violation rows — fully lazy plans, reference side from vocab_tables
    from hjsonschema_spark.checks.ir import ChiSquareDrift, KSDrift

    drift_checks = [c for c in table_checks if isinstance(c, (ChiSquareDrift, KSDrift))]
    table_checks = [c for c in table_checks if not isinstance(c, (ChiSquareDrift, KSDrift))]
    for c in drift_checks:
        ref = (vocab_tables or {}).get(c.ref_name)
        if ref is None:
            raise ConfigInvalid(f"{type(c).__name__}: no vocab table named {c.ref_name!r}")
        runner = C.run_chi2_drift if isinstance(c, ChiSquareDrift) else C.run_ks_drift
        verdict_parts.append(lambda r=runner, ck=c, rf=ref: r(df, ck, rf))

    # every violation-producing check gets a check-scope verdict row,
    # passed=True when it found nothing (resolved before fusion so
    # fused members keep their ids)
    from hjsonschema_spark.checks.ir import TypeIs as _TypeIs

    viol_check_ids = sorted(
        {C.check_id(c) for c in row_checks if not isinstance(c, _TypeIs)}
        | {C.check_id(c) for c in table_checks}
    )

    table_checks, fused_viols = _fuse_ordered_checks(df, table_checks, keys)
    viols.extend(fused_viols)

    # group-scoped checks (SequencePattern + GroupAggBounds) sharing a
    # group_by fuse into ONE hash aggregation — k checks, one shuffle
    group_scope = [
        c for c in table_checks if isinstance(c, (SequencePattern, GroupAggBounds))
    ]
    table_checks = [
        c for c in table_checks if not isinstance(c, (SequencePattern, GroupAggBounds))
    ]
    by_group: dict[tuple, list] = {}
    for c in group_scope:
        by_group.setdefault(tuple(c.group_by), []).append(c)
    for cs in by_group.values():
        viols.append(C.run_group_scope_checks(df, cs, keys))

    for c in table_checks:
        if isinstance(c, UniqueKey):
            v = C.run_unique_key(df, c, keys)
        elif isinstance(c, RefIntegrity):
            vt = (vocab_tables or {}).get(c.ref_name)
            if vt is None:
                raise ConfigInvalid(f"ref_integrity: no vocab table named {c.ref_name!r}")
            v = C.run_ref_integrity(df, c, vt, keys)
        elif isinstance(c, Contiguous):
            v = C.run_contiguous(df, c, keys)
        elif isinstance(c, Monotonic):
            v = C.run_monotonic(df, c, keys)
        elif isinstance(c, FunctionalDependency):
            v = C.run_functional_dependency(df, c, keys)
        else:
            raise ConfigInvalid(f"unsupported table check {type(c).__name__}")
        viols.append(v)

    # table-scope-only union for clean_rows(strict): base rows there are
    # already filtered to _failures == [], so row-scope violation keys
    # can never match the anti-join — joining against them only forces
    # the fused row pass to run a second time inside the clean_rows job
    # (a full extra input scan, measured ~2.4s of 7.2s on the bench's
    # clean_rows_lineitem). Same output, one fewer scan.
    from hjsonschema_spark.session import cached_local_df, local_df

    spark = df.sparkSession
    table_branches = viols[1:] if row_checks else viols
    if table_branches:
        table_viols = table_branches[0]
        for v in table_branches[1:]:
            table_viols = table_viols.unionByName(v)
    else:
        # no table-scope violation checks: an explicit EMPTY frame (not
        # None) so clean_rows(strict) anti-joins an empty local side
        # instead of falling back to the full union
        key_types = dict(df.dtypes)
        table_viols = cached_local_df(
            spark,
            (),
            ", ".join(
                [f"`{k}` {key_types.get(k, 'string')}" for k in keys]
                + [f"{c} string" for c in _VIOL_TAIL]
            ),
        )
    # no violation-producing checks at all: the empty frame, right schema
    # (shared through the memo, so never persisted — nothing to save)
    persist = persist and bool(viols)
    viols = viols or [table_viols]
    all_viols = viols[0]
    for v in viols[1:]:
        # table-scope branches get NULL _pid/_first
        all_viols = all_viols.unionByName(v, allowMissingColumns=True)
    persisted: list[DataFrame] = []
    if persist:
        all_viols = all_viols.persist()
        persisted.append(all_viols)
    flagged = all_viols.filter(F.col("_first")) if row_checks else None
    # global sort => byte-stable violation output across partition counts
    sorted_viols = all_viols.orderBy(*keys, "check").select(*keys, *_VIOL_TAIL)

    # Bounded violation output for web-scale runs: at 10^12 rows one
    # broken check makes the violations table as large as the input.
    # The sample is deterministic (pure function of the data, not of
    # partitioning) and unbiased, and it never uses a window over the
    # full violation set (a per-check window would put one check's
    # 10^12 rows in one reducer): rows are pre-thinned by a uniform
    # hash threshold — keep iff pmod(xxhash64(keys, check), n_check) <
    # budget, expected `budget` survivors per over-cap check — and only
    # the ~budget-sized survivor set pays a row_number window for the
    # exact cap. Exact per-check totals remain in `verdicts`.
    sample = None
    if max_violations_per_check is not None:
        from pyspark.sql import Window as _W

        k = int(max_violations_per_check)
        if k <= 0:
            raise ConfigInvalid("max_violations_per_check must be positive")
        # oversample so P(hash thinning keeps < k of an over-cap check)
        # is negligible (Binomial(n, budget/n) tail, budget ~ k + 4*sqrt(k))
        budget = k + 4 * int(k**0.5) + 50
        counts = all_viols.groupBy("check").agg(F.count(F.lit(1)).alias("_n_check"))
        key_cols = [F.col(c) for c in keys]
        h = F.pmod(F.xxhash64(*key_cols, F.col("check")), F.col("_n_check"))
        pre = all_viols.join(F.broadcast(counts), "check").filter(
            (F.col("_n_check") <= budget) | (h < F.lit(budget))
        )
        w = _W.partitionBy("check").orderBy(*keys, "column", "value")
        sample = (
            pre.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select(*keys, *_VIOL_TAIL)
            .orderBy(*keys, "check")
        )

    def _build_verdicts() -> DataFrame:
        ids_df = cached_local_df(
            spark, tuple((i,) for i in viol_check_ids), "check string"
        )
        table_verdicts = (
            ids_df.join(
                all_viols.groupBy("check").agg(F.count(F.lit(1)).alias("n_violations")),
                "check",
                "left",
            )
            .withColumn("n_violations", F.coalesce("n_violations", F.lit(0)).cast("long"))
            .select(
                F.lit("check").alias("scope"),
                F.lit(None).cast("int").alias("partition_id"),
                "check",
                F.lit(None).cast("long").alias("n_rows"),
                "n_violations",
                (F.col("n_violations") == 0).alias("passed"),
            )
        )
        parts = [p() for p in verdict_parts]
        if schema_verdicts:
            parts.append(
                local_df(
                    spark,
                    tuple(("schema", None, cid, None, n_bad, ok) for cid, ok, n_bad in schema_verdicts),
                    "scope string, partition_id int, check string, n_rows long, n_violations long, passed boolean",
                )
            )
        all_verdicts = parts[0]
        for v in parts[1:] + [table_verdicts]:
            all_verdicts = all_verdicts.unionByName(v)
        return all_verdicts

    return ValidationResult(
        suite=suite,
        checked=checked,
        violations=sorted_viols,
        _verdicts_src=_build_verdicts,
        stats=column_stats(df) if include_stats else None,
        violations_sample=sample,
        _viols_unsorted=all_viols,
        _table_viols_unsorted=table_viols,
        _persisted=tuple(persisted),
        _fanned=fanned,
        _input=df_in,
        _flagged=flagged,
    )
