"""curation_ops: one pass runs a fixed subset of the engine's curation
queries (``__spark_entry__.queries()``) over a corpus made from the seed.

The subset takes one query per operator module and no query that commits
to a table, so the operators do the work while the lake and the tsfmt
kernels barely run. The corpus has the sf0.1 test tables' shape at 0.3x
their size; its files are below the engine's scan-spread gate, so the
spread path does not run here. Each query is one operation: it builds
the query and collects its result. One round is one pass over the
subset, in a fixed order.

Checks, after the timed passes, on the last pass's results: each query
against its DuckDB twin from ``oracle_sql()`` -- rows, values and dtypes.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from decimal import Decimal

NUM_DOCS = 1500  # 0.3x the sf0.1 test tables (5,000 and 2,000): see README
NUM_EMB = 600
MIN_TRACED_PASSES = 2  # each query traced once and untraced once

# (query, operator module it stands for, input table)
SUBSET = [
    ("dedup_exact", "dedup", "documents"),
    ("embedding_topk", "similarity", "embeddings"),
    ("line_dedup", "lines", "documents"),
    ("text_analysis", "text", "documents"),
    ("pii_scrub", "pii", "documents"),
    ("url_extract", "urls", "documents"),
    ("contamination", "decontaminate", "documents"),
    ("multimodal_features", "multimodal", "documents"),
    ("corpus_split", "sampling", "documents"),
]
ROWS = {"documents": NUM_DOCS, "embeddings": NUM_EMB}


def run(ctx) -> dict:
    import __spark_entry__ as E
    from embulk_filter_timestamp_format_spark.operators import unpersist_intermediates
    from inputs import write_corpus

    spark, args, tr = ctx.spark, ctx.args, ctx.tracer
    sf_dir = os.path.join(ctx.workdir, "corpus")
    write_corpus(sf_dir, args.seed, NUM_DOCS, NUM_EMB)
    queries = E.queries()

    def query_op(name):
        def op():
            with tr.span(f"operators.{name}"):
                try:
                    df = queries[name](spark, sf_dir)
                    return df.collect(), df.dtypes
                finally:
                    unpersist_intermediates()
        return op

    # traced runs trace every other query, shifted by one each pass, so each
    # query is timed traced and untraced in neighbouring passes and JIT
    # drift over the run pulls half the queries' ratios up and half down
    traced_ops: dict[str, list[int]] = {name: [] for name, _m, _t in SUBSET}
    by_mode: dict[tuple[str, bool], list[float]] = {}

    def one_pass(n: int):
        lat, out = {}, {}
        for qi, (name, _mod, _tab) in enumerate(SUBSET):
            traced = bool(args.trace) and (qi + n) % 2 == 1
            tr.enabled = traced
            tr.op_id = 1000 * (n + 1) + qi
            ok, dt, rows = ctx.attempt(name, query_op(name))
            tr.enabled = False
            if ok:
                lat[name], out[name] = dt, rows
                by_mode.setdefault((name, traced), []).append(dt)
                if traced:
                    traced_ops[name].append(tr.op_id)
        return lat, out

    # the cold pass compiles every plan; it is part of setup_s and not
    # counted (a query that fails here fails again, and counts, when timed)
    cold = {}
    for name, _mod, _tab in SUBSET:
        t = time.perf_counter()
        try:
            query_op(name)()
        except Exception as e:
            ctx.log(f"cold {name} failed: {e!r}")
        cold[name] = time.perf_counter() - t
    setup_s = time.perf_counter() - ctx.t_start

    passes, op_lat = [], []
    results: dict = {}
    n = items = 0
    t_loop = time.perf_counter()
    while (
        time.perf_counter() - t_loop < args.seconds
        or (args.trace and n < MIN_TRACED_PASSES)
    ):
        lat, out = one_pass(n)
        results.update(out)
        op_lat += [(name, lat.get(name)) for name, _m, _t in SUBSET]
        if len(lat) == len(SUBSET):  # a pass with a failed query is not timed
            passes.append(sum(lat.values()))
            items += sum(ROWS[tab] for _name, _m, tab in SUBSET)
        n += 1

    if args.trace:
        from spans import total

        ratios = []
        for name, _mod, _tab in SUBSET:
            key = f"operators.{name}"
            per = [(total(tr.op_spans(op), key), total(tr.op_spans(op), key, "jobs"))
                   for op in traced_ops[name]]
            ctx.layers[f"{key}_s"] = statistics.median(p[0] for p in per) if per else 0.0
            ctx.layers[f"{key}_jobs"] = statistics.median(p[1] for p in per) if per else 0.0
            ctx.layers[f"{key}_cold_s"] = cold[name]
            if (name, True) in by_mode and (name, False) in by_mode:
                ratios.append(statistics.median(by_mode[name, True])
                              / statistics.median(by_mode[name, False]))
        ctx.layers["spark.codegen_failures"] = ctx.codegen_failures()
        ctx.layers["trace.overhead_ratio"] = (
            statistics.geometric_mean(ratios) if ratios else 0.0
        )

    _check(ctx, E, sf_dir, results)
    return {"setup_s": setup_s, "latencies": passes, "items": items,
            "op_latencies": op_lat}


# -- output checks ------------------------------------------------------------

_INT = {"tinyint", "smallint", "int", "bigint"}
_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"}
_FLOAT = {"float", "double"}


def _dtype_ok(spark_type: str, duck_type: str) -> bool:
    if spark_type in _INT:
        return duck_type in _DUCK_INT
    if spark_type in _FLOAT:
        return duck_type in ("FLOAT", "DOUBLE") or duck_type.startswith("DECIMAL")
    if spark_type == "string":
        return duck_type == "VARCHAR"
    if spark_type == "boolean":
        return duck_type == "BOOLEAN"
    return True  # nested and temporal types: the value comparison covers them


def _canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return f"{f + 0.0:.9g}"  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, dict):
        return "{" + ",".join(_canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _diff(got: list, want: list) -> str:
    first = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
    where = f"; first difference {got[first]} vs {want[first]}" if first is not None else ""
    return f"{len(got)} rows vs {len(want)} expected{where}"


def _check(ctx, E, sf_dir: str, results: dict) -> None:
    import duckdb

    con = duckdb.connect()
    for t in ROWS:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracles = E.oracle_sql()
    for name, _mod, _tab in SUBSET:
        if name not in results:
            continue  # the query failed in every pass; counted in `failed`
        rows, schema = results[name]
        cols = sorted(c for c, _t in schema)
        rel = con.sql(oracles[name])
        duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
        if sorted(rel.columns) != cols:
            ctx.check(f"curation.{name}", False, f"columns {cols} vs oracle {sorted(rel.columns)}")
            continue
        bad = [f"{c}: {t} vs {duck_types[c]}" for c, t in schema if not _dtype_ok(t, duck_types[c])]
        if bad:
            ctx.check(f"curation.{name}", False, "dtypes " + "; ".join(bad))
            continue
        idx = [rel.columns.index(c) for c in cols]
        want = sorted(tuple(_canon(r[i]) for i in idx) for r in rel.fetchall())
        got = sorted(tuple(_canon(r[c]) for c in cols) for r in rows)
        ctx.check(f"curation.{name}", got == want, _diff(got, want))
    con.close()
