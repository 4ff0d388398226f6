"""Projection planner: TaskConfig × input schema → one `select`.

This is the whole reference plugin as a Spark transformation:

* analysis/validation  = configure()            (TimestampFormatFilterPlugin.java:92-121)
* output schema retype = buildOuputSchema()     (:124-140)
* execution            = a single column-pruned projection; untargeted
  columns pass through verbatim (ColumnVisitorImpl.java:101-225), NULLs
  propagate, configured columns run the compiled CastPlan.

Engines:
* 'catalyst' — cast expressions inline in the select (whole-stage codegen);
* 'arrow'    — one `mapInPandas` over Arrow batches applying the numpy
  kernels (the pandas-UDF schema-coercion layer; identical results).

JSON columns (StringType holding JSON) addressed via JSONPath run the
batch-vectorized JsonRewritePlan in a pandas UDF under either engine.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cast import CastPlan
from ..functions.format import TimestampFormatterPlan
from ..functions.jsonpath import JsonRewritePlan, is_jsonpath, root_column
from ..functions.parse import TimestampParserPlan
from .config import ColumnConfig, ConfigError, TaskConfig

_SPARK_TO_SOURCE = {
    T.LongType: "long",
    T.IntegerType: "long",
    T.ShortType: "long",
    T.DoubleType: "double",
    T.FloatType: "double",
    T.StringType: "string",
    T.TimestampType: "timestamp",
    T.BooleanType: "boolean",
}

_TARGET_TO_SPARK = {
    "string": T.StringType(),
    "timestamp": T.TimestampType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
}


def _source_type_of(dtype: T.DataType) -> "str | None":
    return _SPARK_TO_SOURCE.get(type(dtype))


def _split_configs(task: TaskConfig) -> tuple[list[ColumnConfig], dict[str, list[ColumnConfig]]]:
    plain: list[ColumnConfig] = []
    by_root: dict[str, list[ColumnConfig]] = {}
    for c in task.columns:
        if is_jsonpath(c.name):
            by_root.setdefault(root_column(c.name), []).append(c)
        else:
            plain.append(c)
    return plain, by_root


def validate_task(task: TaskConfig, schema: T.StructType) -> None:
    """configure() checks (TimestampFormatFilterPlugin.java:92-121)."""
    names = {f.name for f in schema.fields}
    plain, by_root = _split_configs(task)
    for c in plain:
        if c.name not in names:
            raise ConfigError(f"column '{c.name}' is not included in the input schema")
        if c.type == "boolean":
            raise ConfigError("casting to boolean is not available")
        if c.type == "json":
            raise ConfigError("casting to json is not available")
        if c.type not in _TARGET_TO_SPARK:
            raise ConfigError(f"unknown target type '{c.type}' for column '{c.name}'")
    for root, cfgs in by_root.items():
        if root not in names:
            raise ConfigError(f"column '{root}' (JSONPath root) is not included in the input schema")
        for c in cfgs:
            if c.type == "timestamp":
                raise ConfigError(
                    "casting a JSONPath target to timestamp is not available "
                    "(JSON holds only string/long/double)"
                )
            if c.type in ("boolean", "json"):
                raise ConfigError(f"casting to {c.type} is not available")


def build_output_schema(task: TaskConfig, schema: T.StructType) -> T.StructType:
    """Retype-in-place schema evolution (buildOuputSchema, :124-140).

    Boolean source columns keep their type even when configured
    (ColumnVisitorImpl.java:102-110 ignores the cast for boolean sources).
    JSON (string) columns addressed via JSONPath keep StringType.
    """
    plain, _ = _split_configs(task)
    cfg_by_name = {c.name: c for c in plain}
    fields = []
    for f in schema.fields:
        c = cfg_by_name.get(f.name)
        if c is not None and not isinstance(f.dataType, T.BooleanType):
            fields.append(T.StructField(f.name, _TARGET_TO_SPARK[c.type], True))
        else:
            fields.append(T.StructField(f.name, f.dataType, f.nullable))
    return T.StructType(fields)


def _compile_plans(
    task: TaskConfig, schema: T.StructType
) -> tuple[dict[str, CastPlan], dict[str, JsonRewritePlan]]:
    """Build all per-column kernels once at plan time (ColumnCaster ctor)."""
    plain, by_root = _split_configs(task)
    dtypes = {f.name: f.dataType for f in schema.fields}
    casts: dict[str, CastPlan] = {}
    for c in plain:
        src = _source_type_of(dtypes[c.name])
        if src == "boolean":
            continue  # verbatim pass-through even when configured
        if src is None:
            raise ConfigError(
                f"column '{c.name}' has unsupported input type {dtypes[c.name]}"
            )
        casts[c.name] = CastPlan(
            src,
            c.type,
            parser=TimestampParserPlan(
                task.from_formats(c), task.from_tz(c), task.timestamp_parser
            ),
            formatter=TimestampFormatterPlan(task.to_fmt(c), task.to_tz(c)),
            from_unit=task.from_unit_of(c),
            to_unit=task.to_unit_of(c),
        )
    json_plans: dict[str, JsonRewritePlan] = {}
    for root, cfgs in by_root.items():
        if not isinstance(dtypes[root], T.StringType):
            raise ConfigError(
                f"JSONPath root column '{root}' must be a JSON string column"
            )
        targets = []
        for c in cfgs:
            targets.append(
                (
                    c.name,
                    CastPlan(
                        "string",  # re-dispatched per leaf at runtime
                        c.type,
                        parser=TimestampParserPlan(
                            task.from_formats(c), task.from_tz(c), task.timestamp_parser
                        ),
                        formatter=TimestampFormatterPlan(task.to_fmt(c), task.to_tz(c)),
                        from_unit=task.from_unit_of(c),
                        to_unit=task.to_unit_of(c),
                    ),
                )
            )
        json_plans[root] = JsonRewritePlan(targets)
    return casts, json_plans


class CompiledProjection:
    """Pre-built Column lists for one (task, schema) — build once, apply to
    every micro-batch (Columns are unresolved expressions, reusable across
    DataFrames with the same schema; avoids thousands of serial py4j calls
    per batch — the plan-time analog of the reference's per-task kernel
    cache, ColumnCaster.java:37-58)."""

    def __init__(self, task: TaskConfig, schema: T.StructType):
        from ..functions.format import _require_utc_session

        _require_utc_session()
        validate_task(task, schema)
        self.task = task
        self.schema = schema
        self.casts, self.json_plans = _compile_plans(task, schema)
        # the most parse formats any string cast plans (0: none parses)
        self.formats_planned = max(
            (len(cp.parser.formats) for cp in self.casts.values()
             if cp.source_type == "string"),
            default=0,
        )
        self.arrow = task.engine == "arrow"
        if self.arrow:
            return

        # Pre-stages: EVERY string cast stages its parse through the
        # fast-path/regex staging (functions.parse.staged_stages) —
        # fixed-width rows skip the regex entirely, each format's regex
        # extraction runs at most once per row, and the cascade then
        # combines cheap attributes. Levels are merged across columns
        # (each column's chain is self-contained, so alignment is free).
        # Without staging, formats 2..k live in coalesce's conditional
        # children where subexpression elimination is defeated and every
        # field reference re-runs the format's regex extraction (~15×
        # regex work/row).
        self.pre_levels: list[list[tuple[str, Column]]] = []
        pf_cols: dict[str, list[str]] = {}
        for name, cp in self.casts.items():
            if cp.needs_instant and cp.source_type == "string":
                stages, names = cp.parser.staged_stages(F.col(name), name)
                pf_cols[name] = names
                while len(self.pre_levels) < len(stages):
                    self.pre_levels.append([])
                for lvl, s in enumerate(stages):
                    self.pre_levels[lvl].extend(s.items())

        # Stage 1: instant-routed casts compute epoch-nanos into
        # intermediate columns (one evaluation; the formatter then
        # references the attribute instead of re-inlining the parse tree
        # per segment — CollapseProject keeps the stage because the nanos
        # column is non-cheap and multiply referenced).
        staged = {
            name: f"__nanos__{name}" for name, cp in self.casts.items() if cp.needs_instant
        }
        self.stage1 = None
        if staged:
            self.stage1 = [F.col(f.name) for f in schema.fields]

            def _nanos_col(name: str) -> Column:
                if name not in pf_cols:
                    return self.casts[name].to_nanos_expr(F.col(name))
                pfs = pf_cols[name]
                if len(pfs) == 1:
                    return F.col(pfs[0])
                return self.casts[name].parser.cascade_from_staged(
                    [F.col(t) for t in pfs]
                )

            self.stage1 += [_nanos_col(name).alias(tmp) for name, tmp in staged.items()]
        self.stage2 = []
        for f in schema.fields:
            if f.name in staged:
                self.stage2.append(
                    self.casts[f.name].from_nanos_expr(F.col(staged[f.name])).alias(f.name)
                )
            elif f.name in self.casts:
                self.stage2.append(self.casts[f.name].expr(F.col(f.name)).alias(f.name))
            elif f.name in self.json_plans:
                self.stage2.append(
                    _json_rewrite_udf(self.json_plans[f.name])(F.col(f.name)).alias(f.name)
                )
            else:
                self.stage2.append(F.col(f.name))

    def apply(self, df: DataFrame) -> DataFrame:
        if self.arrow:
            return _apply_arrow(df, self.task, self.casts, self.json_plans)
        for level in self.pre_levels:
            df = df.select("*", *[e.alias(n) for n, e in level])
        if self.stage1 is not None:
            df = df.select(*self.stage1)
        return df.select(*self.stage2)


def apply_task(df: DataFrame, task: TaskConfig) -> DataFrame:
    """The filter: one (staged) projection, untargeted columns verbatim."""
    return CompiledProjection(task, df.schema).apply(df)


def _json_rewrite_udf(plan: JsonRewritePlan):
    @F.pandas_udf(T.StringType())
    def rewrite(s: pd.Series) -> pd.Series:
        return plan.rewrite_series(s)

    return rewrite


def _apply_arrow(
    df: DataFrame,
    task: TaskConfig,
    casts: dict[str, CastPlan],
    json_plans: dict[str, JsonRewritePlan],
) -> DataFrame:
    out_schema = build_output_schema(task, df.schema)

    def transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf
            for name, plan in casts.items():
                out[name] = plan.apply_np(pdf[name])
            for name, jplan in json_plans.items():
                out[name] = jplan.rewrite_series(pdf[name])
            yield out

    return df.mapInPandas(transform, schema=out_schema)


def invalid_condition(schema: T.StructType, task: TaskConfig):
    """Boolean Column: row has a configured string column whose non-null
    value fails every parse format (the reference's per-record invalid
    test, ColumnVisitorImpl.java:79-99). None when no column can fail.

    Single-expression form — for MULTI-format tasks on a hot path use
    ``InvalidFlagPlan`` instead (per-format staged projections; this
    inline form pays the conditional-context CSE defeat of the coalesce
    cascade)."""
    casts, _ = _compile_plans(task, schema)
    conds = []
    for name, plan in casts.items():
        if plan.source_type == "string":
            parsed = plan.parser.parse_expr(F.col(name))
            conds.append(F.col(name).isNotNull() & parsed.isNull())
    if not conds:
        return None
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    return cond


class InvalidFlagPlan:
    """Per-batch invalid-record flag with per-format parse staging.

    Compiled once per (schema, task) — ``apply(df)`` returns
    ``df.select(keep + __bad + __miss1 int flags)`` built as two
    projections: stage A computes one epoch-nanos column per (string
    column, format) pair (unconditional top-level exprs → full
    subexpression elimination), stage B combines the cheap staged
    attributes into the flags. The
    double reference per staged column in the cascade keeps
    CollapseProject from re-inlining the parse trees into stage B's
    conditional context. ``can_fail`` is False when no configured column
    is a parseable string (callers then skip the flag entirely)."""

    FLAG = "__bad"
    # 1 when a configured string column is non-null and its FIRST format
    # fails: read off the same staged column, so it costs no parse. A
    # batch summing 0 here parses every row with format 1 alone, and
    # first-match-wins makes the cascade equal to that format on it.
    MISS1 = "__miss1"

    def __init__(self, schema: T.StructType, task: TaskConfig, keep: list[str]):
        casts, _ = _compile_plans(task, schema)
        scasts = [(n, p) for n, p in casts.items() if p.source_type == "string"]
        self.can_fail = bool(scasts)
        if not self.can_fail:
            return
        srcs = [n for n, _ in scasts if n not in keep]
        # per-column fast-path/regex staging (same machinery as
        # CompiledProjection — fixed-width rows skip the regex)
        self.pre_levels: list[list[tuple[str, Column]]] = []
        cond = miss = None
        for name, plan in scasts:
            stages, names = plan.parser.staged_stages(F.col(name), f"bad_{name}")
            while len(self.pre_levels) < len(stages):
                self.pre_levels.append([])
            for lvl, s in enumerate(stages):
                self.pre_levels[lvl].extend(s.items())
            parsed = (
                F.col(names[0])
                if len(names) == 1
                else plan.parser.cascade_from_staged([F.col(t) for t in names])
            )
            c = F.col(name).isNotNull() & parsed.isNull()
            cond = c if cond is None else cond | c
            m = F.col(name).isNotNull() & F.col(names[0]).isNull()
            miss = m if miss is None else miss | m
        self._keep = keep
        self._srcs = srcs
        self.stage_b: list = [F.col(c) for c in keep] + [
            cond.cast("int").alias(self.FLAG),
            miss.cast("int").alias(self.MISS1),
        ]

    def apply(self, df: DataFrame) -> DataFrame:
        df = df.select(*[F.col(c) for c in self._keep + self._srcs])
        for level in self.pre_levels:
            df = df.select("*", *[e.alias(n) for n, e in level])
        return df.select(*self.stage_b)


def first_format_task(task: TaskConfig, schema: T.StructType) -> TaskConfig:
    """``task`` with every string-source cast cut to the first format of
    its effective list, the one ``TimestampParserPlan`` plans after the
    mixed-dialect filter and ``auto_java`` lowering: ``[java, ruby]`` cuts
    to the ruby format. Returns ``task`` itself when no column plans more
    than one format.

    Exact wherever format 1 parses: the cascade is the first non-null of
    the formats' results, so on a value format 1 parses both plans agree.
    """
    casts, _ = _compile_plans(task, schema)
    first = {
        n: cp.parser.configured[:1]
        for n, cp in casts.items()
        if cp.source_type == "string" and len(cp.parser.formats) > 1
    }
    if not first:
        return task
    return dataclasses.replace(
        task,
        columns=[
            dataclasses.replace(c, from_format=first[c.name]) if c.name in first else c
            for c in task.columns
        ],
    )


def invalid_filter(df_in: DataFrame, task: TaskConfig) -> "DataFrame | None":
    """Rows that would fail parsing (error policy, ColumnVisitorImpl.java:79-99).

    Returns a DataFrame of offending rows for string→X configured columns
    (non-null input that parses to NULL), or None when no column can fail.
    With stop_on_invalid_record=True the caller counts these BEFORE
    committing a batch (abort-before-commit preserves exactly-once).
    """
    cond = invalid_condition(df_in.schema, task)
    return None if cond is None else df_in.filter(cond)
