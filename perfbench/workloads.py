"""Workload definitions: which operations a pass runs, at which scale, and
how each operation's output is checked against its DuckDB oracle.

An operation is a build step (the engine call that returns frames; for
the iterative and streaming operators this is where their eager rounds
and micro-batches run) and an action step (the call that executes what
the build returned).  The benchmark passes the engine only query names,
the fixture directory and, for the asset ETL, the cycle's ``now``.
"""

from __future__ import annotations

import json
import random
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Any


@dataclass(frozen=True)
class Op:
    name: str
    build_span: str  # span name of the build call (its layer)
    action_span: str  # span name of the action call
    build: Callable[["Ctx"], Any]
    action: Callable[["Ctx", Any], Any]
    after: tuple[str, ...] = ()  # operations of the same pass that must run first


@dataclass
class Ctx:
    """What one pass hands to its operations."""

    spark: Any
    data_dir: str
    store_dir: str
    now: datetime
    frames: dict


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    ops: tuple[Op, ...]
    writes: bool = False  # asset ETL: a store that grows across passes


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------

def suite_op(name: str) -> Op:
    """A named suite query: build = the query call, action = collect."""

    def build(ctx: Ctx):
        import __spark_entry__

        return __spark_entry__.queries()[name](ctx.spark, ctx.data_dir)

    def action(ctx: Ctx, df):
        return df.columns, df.collect()

    return Op(name, "suite.build", "exec.action", build, action)


def _services_build(ctx: Ctx):
    from elastic_asset_etl_poc_spark.plans import collect_services_from_summaries

    return collect_services_from_summaries(ctx.spark, ctx.data_dir, ctx.now)


def _services_action(ctx: Ctx, frames):
    from elastic_asset_etl_poc_spark.sinks import to_json_lines

    services, parents = frames
    return to_json_lines(services), to_json_lines(parents)


def _collector_build(fn_name: str):
    def build(ctx: Ctx):
        from elastic_asset_etl_poc_spark.plans import assets

        ctx.frames[fn_name] = getattr(assets, fn_name)(ctx.spark, ctx.data_dir, ctx.now)
        return None

    return build


def _upsert_build(ctx: Ctx):
    a, b = ctx.frames["collect_services"]
    c, d = ctx.frames["collect_pods"]
    return a.unionByName(b).unionByName(c).unionByName(d)


def _upsert_action(ctx: Ctx, batch):
    from elastic_asset_etl_poc_spark.sinks import upsert_assets

    upsert_assets(ctx.spark, ctx.store_dir, batch)


def _noop(ctx: Ctx, _):
    return None


ASSET_OPS = (
    Op("services_from_summaries", "plans.services", "sinks.to_json_lines",
       _services_build, _services_action),
    Op("collect_services", "plans.assets", "plans.assets",
       _collector_build("collect_services"), _noop),
    Op("collect_pods", "plans.assets", "plans.assets",
       _collector_build("collect_pods"), _noop),
    Op("upsert_assets", "sinks.upsert", "sinks.upsert", _upsert_build, _upsert_action,
       after=("collect_services", "collect_pods")),
)

WORKLOADS = {
    # the reference's own job: one ETL cycle per pass into a store that
    # starts empty and grows; driver, scheduler and sinks dominate
    "asset_etl": Workload("asset_etl", 0.01, ASSET_OPS, writes=True),
    # the families the ETL bypasses: scan/aggregate/join queries, a
    # checkpointed graph fixpoint whose rounds run eagerly in the query
    # call, and a stateful stream drained in the query call through an
    # Arrow/pandas state kernel (Python workers)
    "suite_mix": Workload("suite_mix", 0.01, tuple(suite_op(n) for n in (
        "join_region_revenue",
        "daily_percentiles_events",
        "bfs_khop_custsupp",
        "stream_session_window_events",
    ))),
}


def pass_order(ops: tuple[Op, ...], rng: random.Random) -> list[Op]:
    """A seeded shuffle of the pass, then each operation moved after the
    operations it depends on."""
    order = list(ops)
    rng.shuffle(order)
    out: list[Op] = []
    pending = order
    while pending:
        done = {o.name for o in out}
        nxt = next(o for o in pending if all(a in done for a in o.after))
        out.append(nxt)
        pending = [o for o in pending if o is not nxt]
    return out


def cycle_nows(rng: random.Random, n: int) -> list[datetime]:
    """Increasing ETL-cycle timestamps inside the fixture's January 2024
    signal window (late enough that every lookback window is full)."""
    t = datetime(2024, 1, 21) + timedelta(hours=rng.uniform(0, 24))
    out = []
    for _ in range(n):
        out.append(t.replace(microsecond=0))
        t += timedelta(hours=rng.uniform(2, 10))
    return out


# ---------------------------------------------------------------------------
# Oracle checks (run outside the timed region)
# ---------------------------------------------------------------------------

def now_sql(sql: str, now: datetime) -> str:
    """Rebind a suite oracle from the pinned ``now`` to a cycle's ``now``."""
    from elastic_asset_etl_poc_spark.suite import NOW_SQL

    return sql.replace(NOW_SQL, f"TIMESTAMP '{now:%Y-%m-%d %H:%M:%S}'")


def json_rows(lines: list[str], oracle_rows: list[tuple], columns: list[str]):
    """``to_json_lines`` output and its oracle rows, made comparable.

    The JSON writer drops NULL fields and prints timestamps to the
    millisecond, so absent keys read as NULL, timestamp strings are
    parsed back and the oracle's timestamps are cut to milliseconds."""
    ts_cols = {
        i for i in range(len(columns))
        if any(isinstance(r[i], datetime) for r in oracle_rows)
    }

    def ms(v):
        return v.replace(microsecond=v.microsecond // 1000 * 1000) if v else v

    got = []
    for line in lines:
        d = json.loads(line)
        row = [d.get(c) for c in columns]
        for i in ts_cols:
            if row[i] is not None:
                row[i] = datetime.fromisoformat(row[i].replace("Z", "+00:00")).replace(tzinfo=None)
        got.append(tuple(row))
    want = [tuple(ms(v) if i in ts_cols else v for i, v in enumerate(r)) for r in oracle_rows]
    return got, want
