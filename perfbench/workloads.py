"""The benchmark's workloads: which operations run, in which order,
on which inputs, and what each one is checked against.

An ``Op`` has four steps. ``build`` calls the engine and returns a
DataFrame (eager driver-side jobs inside the call count here).
``execute`` is the sink action: a collect to pandas, a count or a
write. Both are timed. After the timed passes, untimed, ``result``
turns the last pass's output into a pandas frame and ``oracle`` gives
DuckDB's answer on the same inputs; the two are compared strictly.

Registry operations come from ``__spark_entry__.queries()`` and are
checked against ``__spark_entry__.oracle_sql()``. The ``ingest``
operations call ``tablite_spark.sources.io``,
``tablite_spark.functions.inference`` and ``slice_rows`` directly and
carry their own DuckDB twins, which read the files the engine wrote.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import __spark_entry__ as entry
from tablite_spark.datasets import synthetic_order_data
from tablite_spark.functions.inference import apply_guessed_types
from tablite_spark.operators.sorting import slice_rows
from tablite_spark.sources import io

# Layer names used by the trace: an op's build time is charged to its
# layer's ``<layer>.call_s``.
OPERATORS, PIPELINE, STREAMING = "operators", "pipeline", "streaming"
SOURCES, FUNCTIONS = "sources", "functions"


@dataclass
class Context:
    """What an op may touch: the session, the input directory, a DuckDB
    connection over the same inputs and a scratch directory of its own.
    ``state`` carries frames from one ingest step to the next."""
    spark: Any
    data_dir: str
    work_dir: str
    duck: Any
    seed: int
    sf: float
    state: dict = field(default_factory=dict)


def _collect(ctx: Context, df) -> Any:
    return df.toPandas()


def _same(ctx: Context, out) -> Any:
    return out


@dataclass
class Op:
    name: str
    layer: str
    build: Callable[[Context], Any]
    execute: Callable[[Context, Any], Any]
    oracle: Callable[[Context], Any]
    result: Callable[[Context, Any], Any] = _same
    chained: bool = False      # feeds the next op: warms up in order with it


@dataclass
class Workload:
    name: str
    main: str | None           # input table whose engine save is stored_bytes_per_row
                               # (None: the workload's own ingest saves)
    tables: list[str]          # generated input tables (none for ingest)
    sf: float                  # scale factor of the inputs
    ops: list[Op]


def _registry_op(name: str, layer: str) -> Op:
    query = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    return Op(name, layer,
              lambda ctx: query(ctx.spark, ctx.data_dir),
              _collect,
              lambda ctx: ctx.duck.execute(sql).fetchdf())


# --------------------------------------------------------------------
# ingest: tablite's own headline path, the only workload that writes
# --------------------------------------------------------------------

# synthetic_order_data after a CSV round trip with type inference, as
# DuckDB column types: the oracle reads the engine's CSV with these.
_ORDER_TYPES = {
    "#": "BIGINT", "1": "BIGINT", "2": "TIMESTAMP", "3": "BIGINT",
    "4": "BIGINT", "5": "BIGINT", "6": "VARCHAR", "7": "VARCHAR",
    "8": "VARCHAR", "9": "VARCHAR", "10": "DOUBLE", "11": "DOUBLE"}
_SLICE = (3, 5, 7)   # start, rows cut from the end, step


def ingest_rows(sf: float) -> int:
    return max(int(200_000 * sf), 200)


def ingest_dir(ctx: Context, key: str) -> str:
    return os.path.join(ctx.work_dir, key)


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "*.parquet"))


def _typed_csv_sql(ctx: Context) -> str:
    cols = ", ".join(f"'{k}': '{v}'" for k, v in _ORDER_TYPES.items())
    path = os.path.join(ingest_dir(ctx, "csv"), "*.csv")
    return (f"SELECT * FROM read_csv('{path}', header=true, "
            f"columns={{{cols}}}, nullstr='')")


def _typed_csv(ctx: Context):
    return ctx.duck.execute(_typed_csv_sql(ctx)).fetchdf()


def _read_back(key: str) -> Callable[[Context, Any], Any]:
    def read(ctx: Context, _out):
        path = os.path.join(ingest_dir(ctx, key), "*.parquet")
        return ctx.duck.execute(f"SELECT * FROM read_parquet('{path}')").fetchdf()
    return read


def _ingest_ops() -> list[Op]:
    def write_csv(ctx, df):
        io.to_csv(df, ingest_dir(ctx, "csv"))

    def csv_keys(ctx, _out):
        return ctx.duck.execute(f'SELECT "#" FROM ({_typed_csv_sql(ctx)})').fetchdf()

    def expected_keys(ctx):
        return ctx.duck.execute(
            f'SELECT range + 1 AS "#" FROM range({ingest_rows(ctx.sf)})').fetchdf()

    def read_raw(ctx):
        ctx.state["raw"] = io.read_csv(ctx.spark, ingest_dir(ctx, "csv"),
                                       guess_datatypes=False)
        return ctx.state["raw"]

    def count_rows(ctx, df):
        import pandas as pd
        return pd.DataFrame({"rows": [df.count()]})

    def csv_rows(ctx):
        return ctx.duck.execute(
            f"SELECT count(*) AS rows FROM ({_typed_csv_sql(ctx)})").fetchdf()

    def guess(ctx):
        ctx.state["typed"] = apply_guessed_types(ctx.state["raw"])
        return ctx.state["typed"]

    def save(ctx, df):
        io.save(df, ingest_dir(ctx, "saved"))

    def load_saved(ctx):
        return io.load(ctx.spark, ingest_dir(ctx, "saved"))

    def save_sharded(ctx, df):
        io.save_sharded(df, ingest_dir(ctx, "sharded"), target_mb=1)

    def stepped_slice(ctx):
        start, cut, step = _SLICE
        return slice_rows(io.load(ctx.spark, ingest_dir(ctx, "sharded")),
                          start, ingest_rows(ctx.sf) - cut, step, order_by=["#"])

    def slice_oracle(ctx):
        start, cut, step = _SLICE
        stop = ingest_rows(ctx.sf) - cut
        return ctx.duck.execute(
            f'SELECT * EXCLUDE (i) FROM (SELECT *, row_number() OVER (ORDER BY "#") - 1 '
            f"AS i FROM ({_typed_csv_sql(ctx)})) WHERE i >= {start} AND i < {stop} "
            f"AND (i - {start}) % {step} = 0").fetchdf()

    ops = [
        Op("to_csv", SOURCES,
           lambda ctx: synthetic_order_data(ctx.spark, ingest_rows(ctx.sf), ctx.seed),
           write_csv, expected_keys, csv_keys),
        Op("read_csv", SOURCES, read_raw, count_rows, csv_rows),
        Op("guess_types", FUNCTIONS, guess, _collect, _typed_csv),
        Op("save", SOURCES, lambda ctx: ctx.state["typed"], save, _typed_csv,
           _read_back("saved")),
        Op("load", SOURCES, load_saved, _collect, _typed_csv),
        Op("save_sharded", SOURCES, load_saved, save_sharded, _typed_csv,
           _read_back("sharded")),
        Op("slice_rows", OPERATORS, stepped_slice, _collect, slice_oracle),
    ]
    for op in ops:
        op.chained = True
    return ops


WRITE_OPS = {"to_csv", "save", "save_sharded"}


def ingest_written(ctx: Context) -> list[str]:
    """The data files ingest's writes left: CSV parts and parquet."""
    return (glob.glob(os.path.join(ingest_dir(ctx, "csv"), "*.csv"))
            + parquet_files(ingest_dir(ctx, "saved"))
            + parquet_files(ingest_dir(ctx, "sharded")))


def ingest_bytes_per_row(ctx: Context) -> float:
    """Parquet bytes on disk per row saved by ``save`` and ``save_sharded``."""
    files = (parquet_files(ingest_dir(ctx, "saved"))
             + parquet_files(ingest_dir(ctx, "sharded")))
    return sum(os.path.getsize(f) for f in files) / (2 * ingest_rows(ctx.sf))


# --------------------------------------------------------------------
# the workloads (why each exists: perfbench/README.md)
# --------------------------------------------------------------------

RELATIONAL = [
    "q1_pricing_summary", "q3_shipping_revenue", "q6_forecast_revenue",
    "q18_large_orders", "groupby_accumulators", "join_inner",
    "window_running_sum", "dedup_exact", "top_k_per_group_lineitem"]
DOCS = ["text_stats", "language_id_docs", "perplexity_docs",
        "minhash_dedup_docs", "embedding_topk"]
ITERATIVE = ["kcore_lineitem", "bfs_hops_lineitem"]
STREAM = ["stream_matview_events"]


def build_workloads() -> dict[str, Workload]:
    return {w.name: w for w in [
        # tablite's own surface: import (ingest chain), then table queries
        Workload("tablite", None,
                 ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents"], 0.01,
                 _ingest_ops() + [_registry_op(n, OPERATORS) for n in RELATIONAL]),
        # the LLM-data operators: documents and embeddings, then the
        # iterative graph rounds and a streaming view
        Workload("pipeline", "documents", ["documents", "embeddings", "lineitem", "events"],
                 0.002,
                 [_registry_op(n, PIPELINE) for n in DOCS + ITERATIVE]
                 + [_registry_op(n, STREAMING) for n in STREAM]),
    ]}
