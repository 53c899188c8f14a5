"""The benchmark's workloads: their ops, and the check of every op's output.

An op is one call a user of the engine makes: a registry query (the caller
materializes it), a CLI verb run in-process through ``cli.main`` (it writes
its own sink), or a serving call.  ``Op.run(ctx)`` makes the public call and
returns a DataFrame when the caller still has to materialize it.
``Op.check(ctx, out)`` runs in the warm-up pass, outside timing, right after
the op, and raises ``CheckFailed`` on a wrong output; ``out`` is a registry
query's rows, which the warm-up pass materializes with ``toPandas``, and
``None`` for the other ops.  An index verb without a
check of its own is covered by the next verb's check of the index state.
"""

from __future__ import annotations

import contextlib
import io
import os
import statistics
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq


@dataclass
class Op:
    name: str
    group: str  # the op class an end-to-end figure is built from
    run: Callable
    check: Callable | None = None
    registry: bool = False  # a plans-registry query: checked on its result, in the count() ledger


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def cli(*args) -> None:
    """Run one CLI verb in-process; its console output is not the op's."""
    from bigdata_usaspending_spark import cli as engine_cli

    with contextlib.redirect_stdout(io.StringIO()):
        rc = engine_cli.main([str(a) for a in args])
    expect(rc == 0, f"cli {args[:2]} returned {rc}")


def read_rows(path: str) -> list[dict]:
    return ds.dataset(path, format="parquet").to_table().to_pylist()


# ---------------------------------------------------------------------------
# spending-analytics: the paper's flow on JVM-only paths
# ---------------------------------------------------------------------------

ROLLUPS = (("rollup", "recipient_name"), ("rollup-month", "awarding_sub_agency"))
SPENDING_QUERIES = ("q_corr", "q_window_topk_per_group", "q_tpch_q3_shape")


def expected_totals(awards_path: str, geo_path: str, key: str, by_month: bool) -> dict:
    """Exact-decimal SUM of the awards over the geocoded keys, as the double
    the rollup stores."""
    awards = pq.read_table(awards_path, columns=[key, "start_date", "award_amount"])
    geo = pq.read_table(geo_path, columns=[key])
    awards = awards.filter(pc.is_in(awards[key], geo[key]))
    keys = [key]
    if by_month:
        awards = awards.append_column("month", pc.month(awards["start_date"]).cast("int32"))
        keys.append("month")
    sums = awards.group_by(keys).aggregate([("award_amount", "sum")]).to_pylist()
    return {tuple(r[k] for k in keys): float(r["award_amount_sum"]) for r in sums}


def rollup_op(verb: str, key: str) -> Op:
    out = f"{verb}_{key}"
    keys = [key, "month"] if verb == "rollup-month" else [key]

    def run(ctx):
        cli(verb, "--awards", ctx.inputs["awards"], "--geo", ctx.inputs["geo_" + key],
            "--aggregator", key, "--output", ctx.out(out))

    def check(ctx, _out):
        want = expected_totals(ctx.inputs["awards"], ctx.inputs["geo_" + key], key, verb == "rollup-month")
        got = {tuple(r[k] for k in keys): r["total_award_amount"] for r in read_rows(ctx.out(out))}
        expect(got == want, f"{verb} totals differ on {len(set(got.items()) ^ set(want.items()))} keys")

    return Op(f"{verb}:{key}", "etl", run, check)


def dashboard(ctx):
    from bigdata_usaspending_spark.plans import serving

    read = ctx.spark.read.parquet
    ctx.payload = serving.dashboard_payload(
        read(ctx.inputs["awards"]), read(ctx.inputs["geo_recipient_name"]),
        read(ctx.inputs["geo_awarding_sub_agency"]),
    )


def check_dashboard(ctx, _out):
    """Grand total, pie (per sub-agency) and line (per month) datasets equal
    the exact-decimal sums of the awards; the other datasets are filled."""
    p = ctx.payload
    awards = pq.read_table(ctx.inputs["awards"], columns=["awarding_sub_agency", "start_date", "award_amount"])
    awards = awards.append_column("month", pc.month(awards["start_date"]).cast("int32"))

    def sums(key):
        rows = awards.group_by([key]).aggregate([("award_amount", "sum")]).to_pylist()
        return {r[key]: float(r["award_amount_sum"]) for r in rows}

    expect(p["grand_total"] == float(pc.sum(awards["award_amount"]).as_py()), "grand total differs")
    expect({r["awarding_sub_agency"]: r["total_award_amount"] for r in p["pie_data"]}
           == sums("awarding_sub_agency"), "pie totals differ")
    expect({r["month"]: r["total_award_amount"] for r in p["line_data"]} == sums("month"), "line totals differ")
    for name in ("map_recipient_data", "map_subagency_data", "sankey_data", "month_data"):
        expect(len(p[name]) > 0, f"{name} is empty")


def query_op(name: str) -> Op:
    def run(ctx):
        from bigdata_usaspending_spark import plans

        return plans.all_queries()[name](ctx.spark, ctx.sf)

    def check(ctx, got):
        from bigdata_usaspending_spark import plans
        from bigdata_usaspending_spark.plans.oracle_check import compare_frames

        want = ctx.duck().execute(plans.all_oracles()[name]).fetchdf()
        problems = compare_frames(got, want)
        expect(not problems, f"{name} differs from the DuckDB oracle: {problems[:2]}")

    return Op(f"query:{name}", "query", run, check, registry=True)


def spending_ops(rng: np.random.Generator) -> list[Op]:
    ops = [rollup_op(v, k) for v, k in ROLLUPS]
    ops.append(Op("dashboard", "etl", dashboard, check_dashboard))
    ops += [query_op(q) for q in SPENDING_QUERIES]
    return [ops[i] for i in rng.permutation(len(ops))]


# ---------------------------------------------------------------------------
# index-lifecycle: both persisted index families through their CLI verbs
# ---------------------------------------------------------------------------

# Plain IVF: on a 4-core host IVF-PQ's codebook training and ADC rerank added
# about 2.5 s to every pass, more than the per-run time budget allows.
ANN_BUILD = ("--cells", "8")
ANN_SEARCH = ("--k", "10", "--nprobe", "4")
# Floor of the IVF search's recall@10 against exact top-k over the live set,
# set below the lowest recall the baseline runs measured (perfbench/BASELINE.md).
RECALL_FLOOR = 0.7


def ann_live(ctx) -> int:
    from bigdata_usaspending_spark.operators import similarity

    return similarity.ann_index_stats(ctx.spark, ctx.out("ann"))["vectors"]


def win_live(ctx) -> int:
    from bigdata_usaspending_spark.operators import dedup

    return dedup.winnow_index_stats(ctx.spark, ctx.out("win"))["docs"]


def live_count(family: str, *parts: str, removed: bool = False) -> Callable:
    """Check: the index's live count is built + added (- removed)."""
    def check(ctx, _out):
        want = sum(ctx.lifecycle["rows"][p] for p in parts)
        if removed:
            want -= len(ctx.lifecycle[f"{family}_removed"])
        got = ann_live(ctx) if family == "ann" else win_live(ctx)
        expect(got == want, f"{family} index holds {got} live rows, expected {want}")
    return check


def ann_search(ctx) -> None:
    probe = ",".join(repr(x) for x in ctx.lifecycle["ann_probe"])
    cli("ann-index", "search", "--index", ctx.out("ann"), f"--query={probe}", *ANN_SEARCH,
        "--output", ctx.out("search"))


def search_hits(ctx) -> list[dict]:
    return sorted(read_rows(ctx.out("search")), key=lambda r: r["vec_id"])


def check_search(ctx, _out):
    """No removed id is hit, recall@10 holds its floor; the hits are kept
    for the compact check."""
    from bigdata_usaspending_spark.operators import similarity

    hits = search_hits(ctx)
    ids = {r["vec_id"] for r in hits}
    expect(len(hits) == 10, f"search returned {len(hits)} hits")
    expect(not ids & set(ctx.lifecycle["ann_removed"]), "search returned a removed id")
    live = similarity._read_index_vectors(ctx.spark, ctx.out("ann"))
    exact = similarity.brute_force_topk(live, ctx.lifecycle["ann_probe"], k=10)
    ctx.recall = len(ids & {r["vec_id"] for r in exact.collect()}) / 10
    expect(ctx.recall >= RECALL_FLOOR, f"search recall@10 {ctx.recall} below floor {RECALL_FLOOR}")
    ctx.pre_compact_hits = hits


ANN_LIVE = ("ann_build", "ann_landing")
WIN_LIVE = ("win_build", "win_add")


def check_ann_compact(ctx, _out):
    live_count("ann", *ANN_LIVE, removed=True)(ctx, None)
    ann_search(ctx)
    expect(search_hits(ctx) == ctx.pre_compact_hits, "search results changed across compact")


def index_ops(rng: np.random.Generator) -> list[Op]:
    ann, win = (lambda ctx: ctx.out("ann")), (lambda ctx: ctx.out("win"))
    inp = lambda ctx, key: ctx.inputs[key]  # noqa: E731
    ann_ops = [
        Op("ann:build", "index_build",
           lambda ctx: cli("ann-index", "build", *ANN_BUILD, "--vectors", inp(ctx, "ann_build"), "--index", ann(ctx))),
        Op("ann:stream-add", "index_add",
           lambda ctx: cli("ann-index", "stream-add", "--vectors", inp(ctx, "ann_landing"), "--index", ann(ctx),
                           "--checkpoint", ctx.out("ann_checkpoint")),
           live_count("ann", *ANN_LIVE)),
        Op("ann:remove", "index_maint",
           lambda ctx: cli("ann-index", "remove", "--index", ann(ctx),
                           "--ids", ",".join(map(str, ctx.lifecycle["ann_removed"])))),
        Op("ann:search", "ann_search", ann_search, check_search),
        Op("ann:compact", "index_maint", lambda ctx: cli("ann-index", "compact", "--index", ann(ctx)),
           check_ann_compact),
    ]
    win_ops = [
        Op("winnow:build", "index_build",
           lambda ctx: cli("winnow-index", "build", "--documents", inp(ctx, "win_build"), "--index", win(ctx))),
        Op("winnow:add", "index_add",
           lambda ctx: cli("winnow-index", "add", "--documents", inp(ctx, "win_add"), "--index", win(ctx)),
           live_count("win", *WIN_LIVE)),
        Op("winnow:remove", "index_maint",
           lambda ctx: cli("winnow-index", "remove", "--index", win(ctx),
                           "--ids", ",".join(map(str, ctx.lifecycle["win_removed"])))),
        Op("winnow:compact", "index_maint", lambda ctx: cli("winnow-index", "compact", "--index", win(ctx)),
           live_count("win", *WIN_LIVE, removed=True)),
    ]
    # each family's verbs keep their lifecycle order; the seed picks which family goes first
    return ann_ops + win_ops if rng.random() < 0.5 else win_ops + ann_ops


def index_bytes_per_row(ctx) -> float:
    """Bytes on disk of both indexes over their live rows."""
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for root in (ctx.out("ann"), ctx.out("win"))
        for d, _dirs, files in os.walk(root) for f in files
    )
    return size / (ann_live(ctx) + win_live(ctx))


# ---------------------------------------------------------------------------
# End-to-end figures of one timed pass
# ---------------------------------------------------------------------------


def pass_figures(workload: str, timings: list[tuple[str, str, float]]) -> dict:
    """Op-class sums, medians and latency samples of one pass."""
    by: dict[str, list[float]] = {}
    for _name, group, sec in timings:
        by.setdefault(group, []).append(sec)
    if workload == "spending-analytics":
        return {"etl_s": sum(by.get("etl", [])), "query_samples_s": by.get("query", [])}
    return {
        "index_build_s": sum(by.get("index_build", [])),
        "index_add_s": statistics.median(by.get("index_add", [0.0])),
        "ann_search_s": statistics.median(by.get("ann_search", [0.0])),
        "index_maint_s": sum(by.get("index_maint", [])),
    }


WORKLOADS = {"spending-analytics": spending_ops, "index-lifecycle": index_ops}
# the tables each workload's ops read; the catalog warm-up touches these
TABLES = {
    "spending-analytics": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    "index-lifecycle": ("documents", "embeddings"),
}
