"""The workloads (``ingest``, ``dashboard``) and the ``fixpoint`` layer
probe. Each calls only the package's public functions on inputs made by
:mod:`graftbench.gen` from the run's seed.

A workload has four steps, run in this order by ``run.py``:

- ``prepare`` makes the inputs and the expected outputs, in pure
  Python before the session starts (its time is not ``setup_s``);
- ``warm`` runs the same Spark work untimed so that the JVM, code
  generation and Python workers are warm before timing;
- ``run_pass`` is one timed pass; it returns the pass wall time and the
  per-operation latencies inside it;
- ``check`` compares what the passes produced with the oracles, after
  the timed passes, and returns ``(attempted, failed, problems)``.

``layers`` turns a traced pass into the per-layer metrics whose names
start with one of the workload's ``layer_prefixes``.

``fixpoint`` (the iterated graph loops) is not a workload of its own: a
warm run of it does not fit the per-run time budget next to the other
two. It runs once, traced and checked, at the end of every traced
``dashboard`` run, after the dashboard's own passes, so the
``operators.graph`` / ``operators.dedup`` layer keeps its numbers.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from dataclasses import dataclass, field

from graftbench import check, gen
from graftbench.stats import median_n, net_of
from graftbench.trace import COUNT_KEYS, group_counts

#: FPE key for every ingest run (any fixed 32 bytes; passed explicitly so
#: no key file or environment variable is involved).
FPE_KEY = hashlib.sha256(b"graftbench ingest key").digest()


def noop(df) -> None:
    """Evaluate every column of every row without a sink cost."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Pass:
    wall_s: float
    op_s: list[float]
    detail: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")


class Ingest:
    """Closed-loop drain of a pre-written backlog through the flagship
    stream (parse -> validate -> FPE-tokenize -> dual parquet sink):
    16 files x 15,000 messages, two files per micro-batch."""

    name = "ingest"
    layer_prefixes = ("ingest.",)
    n_files, per_file, files_per_trigger = 16, 15_000, 2
    #: Full backlog drains before timing. After one micro-batch of
    #: warm-up the drains still sped up by a quarter; after one full
    #: drain the pass time is level (4 cores: 25.7 s cold, then 13.0,
    #: 12.6, 12.7, 13.0, 12.1 s).
    warm_drains = 1

    def prepare(self, ctx) -> None:
        self.root = os.path.join(ctx.work, "ingest")
        self.backlog = gen.wire_backlog(
            os.path.join(self.root, "in"), ctx.seed, self.n_files, self.per_file)
        self.passes: list[tuple[str, str]] = []
        ctx.record["inputs"] = {
            "messages": self.backlog.n_messages,
            "valid_pan": self.backlog.n_valid_pan,
            "null_pan": self.backlog.n_null_pan,
            "over_length_pan": self.backlog.n_bad_pan,
            "distinct_pan_share": self.backlog.distinct_pan_share,
        }

    def _drain(self, ctx, in_dir: str, out: str):
        from realtime_financial_transactions_data_pipeline_spark.streaming.pipeline import (
            await_or_raise,
            build_pipeline_query,
        )

        valid, errors = os.path.join(out, "valid"), os.path.join(out, "errors")
        with ctx.tracer.span("streaming.pipeline.build_pipeline_query"):
            writer = build_pipeline_query(
                ctx.spark, in_dir, valid, errors, os.path.join(out, "ckpt"),
                key=FPE_KEY, max_files_per_trigger=self.files_per_trigger)
        with ctx.tracer.span("stream.window"):
            t0 = time.perf_counter()
            query = writer.start()
            await_or_raise(query, 170)
            window = time.perf_counter() - t0
        return query, window, valid, errors

    def warm(self, ctx) -> None:
        """Drain the whole backlog ``warm_drains`` times into outputs of
        their own. The FPE memo lives inside one task, so a warm drain
        leaves no tokens behind for the timed ones to read."""
        ctx.record["warm_s"] = [
            self._drain(ctx, os.path.join(self.root, "in"),
                        os.path.join(self.root, f"warm{i}"))[1]
            for i in range(self.warm_drains)]

    def run_pass(self, ctx) -> Pass:
        out = os.path.join(self.root, f"pass{len(self.passes)}")
        query, window, valid, errors = self._drain(
            ctx, os.path.join(self.root, "in"), out)
        self.passes.append((valid, errors))
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        return Pass(window, [p.durationMs["triggerExecution"] / 1e3 for p in progress], {
            "run_id": str(query.runId),
            "batches": len(progress),
            "input_rows": sum(p.numInputRows for p in progress),
            "phases_ms": {k: [p.durationMs.get(k, 0) for p in progress] for k in PHASES},
            "msgs_per_s": self.backlog.n_messages / window,
            "sinks": [valid, errors],
        })

    def check(self, ctx):
        problems: list[str] = []
        failed = 0
        for valid, errors in self.passes:
            n_wrong, probs = check.audit_sinks(valid, errors, self.backlog)
            failed += n_wrong
            problems += probs
        return self.backlog.n_messages * len(self.passes), failed, problems

    def layers(self, ctx, traced: Pass) -> dict:
        from realtime_financial_transactions_data_pipeline_spark.functions.fpe import fpe_token_col
        from realtime_financial_transactions_data_pipeline_spark.functions.scalar import pan_is_valid
        from realtime_financial_transactions_data_pipeline_spark.streaming.pipeline import (
            parse_stream,
            route_and_tokenize,
        )
        spark, cores = ctx.spark, ctx.cores
        d = traced.detail
        n_msgs, n_batches = self.backlog.n_messages, d["batches"]
        stream = group_counts(spark, d["run_id"])
        m = {
            "ingest.msgs_per_s": d["msgs_per_s"],
            "ingest.batches": n_batches,
            "ingest.jobs_per_batch": stream["jobs"] / n_batches,
            "ingest.tasks_per_batch": stream["tasks"] / n_batches,
            "ingest.plan_runs_per_batch": d["input_rows"] / n_msgs,
            "ingest.fpe_distinct_share": self.backlog.distinct_pan_share,
            "ingest.executor_busy_share": stream["run_ms"] / (traced.wall_s * 1e3 * cores),
            "ingest.executor_cpu_s": stream["cpu_ms"] / 1e3,
            "ingest.gc_s": stream["gc_ms"] / 1e3,
            "ingest.sink_bytes_per_msg": sum(map(check.tree_bytes, d["sinks"])) / n_msgs,
        }
        for k in PHASES:
            m[f"ingest.phase.{k}_ms"] = median_n(d["phases_ms"][k])[0]

        # Outside in, on one micro-batch's worth of the backlog as a
        # static frame: each layer runs with everything under it, and
        # its value is that time net of the layer below.
        batch_files = self.backlog.files[: self.files_per_trigger]
        layer_out = os.path.join(self.root, "layers")

        def med(name: str, action, reps: int = 3) -> float:
            times = []
            for _ in range(reps):
                with ctx.tracer.span(name):
                    t0 = time.perf_counter()
                    action()
                    times.append(time.perf_counter() - t0)
            return median_n(times)[0]

        raw = spark.read.text(batch_files)
        parsed = parse_stream(raw)
        valid, errors = route_and_tokenize(parsed, key=FPE_KEY)
        fpe_only = parsed.filter(pan_is_valid(parsed["card_number"])).select(
            fpe_token_col(parsed["card_number"], key=FPE_KEY).alias("t"))

        def sink() -> None:
            valid.write.mode("overwrite").parquet(os.path.join(layer_out, "valid"))
            errors.write.mode("overwrite").parquet(os.path.join(layer_out, "errors"))

        t_read = med("layer.source_read", lambda: noop(raw))
        t_parse = med("layer.parse_stream", lambda: noop(parsed))
        t_route = med("layer.route_and_tokenize", lambda: noop(valid))
        t_errors = med("layer.route_errors", lambda: noop(errors))
        t_fpe = med("layer.fpe_token_col", lambda: noop(fpe_only))
        t_sink = med("layer.sink_write", sink)
        m.update({
            "ingest.source_read_s": t_read,
            "ingest.parse_s": net_of(t_parse, t_read),
            "ingest.route_tokenize_s": net_of(t_route, t_parse),
            "ingest.fpe_s": net_of(t_fpe, t_parse),
            "ingest.sink_write_s": net_of(t_sink, t_route + t_errors),
        })
        return m


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

#: The five README dashboard panels plus five of the 22 TPC-H shapes: a
#: scan-aggregate (q1b), a join with top-k (q3), a many-way star join
#: with a heavy build step (q9), an outer join with a two-level aggregate
#: (q13) and a semi-join on an aggregated subquery (q18). Ten queries
#: keep a run (session start, cold correctness pass, timed pass) inside
#: the benchmark's per-run time budget.
DASHBOARD_QUERIES = (
    "a1_a6_stat_cards", "a7_daily_timeseries", "a8_a9_group_by_dim",
    "l1_l3_slicer_stack", "q1_star_revenue_by_nation",
    "q1b_pricing_summary", "q3_unshipped_orders_topk", "q9_profit_by_nation_year",
    "q13_order_count_distribution", "q18_large_volume_orders",
)


class Dashboard:
    """One client refreshing the dashboard: every query built and
    evaluated to the noop sink, one after another, in a seed-permuted
    order, over star tables generated at sf0.1 (``tablecheck.py``
    compares them with the package's sf0.1 test tables)."""

    name = "dashboard"
    layer_prefixes = ("dashboard.", "fixpoint.")
    sf = 0.1

    def prepare(self, ctx) -> None:
        self.order = list(DASHBOARD_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.dir = os.path.join(ctx.work, "tables")
        ctx.record["inputs"] = {
            "sf": self.sf, "queries": self.order,
            "rows": gen.write_star_tables(self.dir, ctx.seed, self.sf)}
        self.attempted, self.failed, self.problems = 0, 0, []
        self.rows: dict[str, tuple[list[str], list[tuple]]] = {}
        self.fixpoint = None

    def warm(self, ctx) -> None:
        """Spark only: build and collect every query once, and assert
        that no query function hands back a memoized frame (the rows are
        kept for ``check``); then one untimed refresh."""
        from realtime_financial_transactions_data_pipeline_spark import caching
        from realtime_financial_transactions_data_pipeline_spark.registry import all_probes

        probes = all_probes()
        self.probes = {n: probes[n] for n in self.order}
        for name in self.order:
            self.attempted += 1
            try:
                df = self.probes[name].fn(ctx.spark, self.dir)
                if any(df is v for v in caching._MEMO.values()):
                    raise AssertionError("query function returned a memoized frame")
                self.rows[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001 - a failing query is counted, not fatal
                self.failed += 1
                self.problems.append(f"{name}: {type(exc).__name__}: {exc}".splitlines()[0])
        # One collect pass leaves the refresh still speeding up (4 cores:
        # 10.5, 9.2, 9.1, 8.3, 8.4 s), so one untimed noop refresh follows.
        ctx.record["warm_s"] = [self.run_pass(ctx).wall_s]

    def run_pass(self, ctx) -> Pass:
        tr = ctx.tracer
        per: dict[str, float] = {}
        probe_s = 0.0
        t0 = time.perf_counter()
        for name in self.order:
            self.attempted += 1
            q0 = time.perf_counter()
            try:
                with tr.span(f"dashboard.q.{name}"):
                    with tr.span("build"):
                        df = self.probes[name].fn(ctx.spark, self.dir)
                    if tr.enabled:
                        # Planning alone, for dashboard.plan_s; the noop
                        # write below plans the query again, so this is
                        # extra work that only the traced pass does.
                        p0 = time.perf_counter()
                        with tr.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                        probe_s += time.perf_counter() - p0
                    with tr.span("exec"):
                        noop(df)
            except Exception as exc:  # noqa: BLE001
                self.failed += 1
                self.problems.append(f"{name} (timed): {exc}".splitlines()[0])
            per[name] = time.perf_counter() - q0
        return Pass(time.perf_counter() - t0, list(per.values()),
                    {"query_s": per, "probe_s": probe_s})

    def check(self, ctx):
        """Every query's warm-pass rows against its DuckDB oracle on the
        same files, then the fixpoint calls if they ran."""
        attempted, failed, problems = self.attempted, self.failed, list(self.problems)
        con = check.duckdb_on(self.dir)
        for name, (cols, rows) in self.rows.items():
            try:
                cur = con.execute(self.probes[name].oracle)
                why = check.same_rows(cols, rows, [c[0] for c in cur.description],
                                      cur.fetchall())
            except Exception as exc:  # noqa: BLE001
                why = f"oracle: {type(exc).__name__}: {exc}".splitlines()[0]
            if why:
                failed += 1
                problems.append(f"{name}: {why}")
        con.close()
        if self.fixpoint is not None:
            a, f, p = self.fixpoint.check(ctx)
            attempted, failed, problems = attempted + a, failed + f, problems + p
        return attempted, failed, problems

    def layers(self, ctx, traced: Pass) -> dict:
        tr = ctx.tracer
        qspans = [s for s in tr.spans if s.name.startswith("dashboard.q.")][-len(self.order):]
        kids = [c for q in qspans for c in tr.children(q)]
        by = {k: [c for c in kids if c.name == k] for k in ("build", "plan", "exec")}
        # ``plan`` only plans, and the noop write plans again inside
        # ``exec``: exec_s is the whole write, plan_s the planning share
        # of it, and neither the busy share nor a query's time counts
        # the separate planning.
        plan_of = {c.parent: c.duration for c in by["plan"]}
        tot = {k: tr.total(k, kids) for k in COUNT_KEYS}
        m = {f"dashboard.{k}_s": sum(c.duration for c in v) for k, v in by.items()}
        m.update({
            "dashboard.jobs": tot["jobs"],
            "dashboard.stages": tot["stages"],
            "dashboard.tasks": tot["tasks"],
            "dashboard.heavy_single_task_stages": tot["heavy_single_task_stages"],
            "dashboard.executor_run_s": tot["run_ms"] / 1e3,
            "dashboard.executor_cpu_s": tot["cpu_ms"] / 1e3,
            "dashboard.gc_s": tot["gc_ms"] / 1e3,
            "dashboard.shuffle_write_mb": tot["shuffle_write_bytes"] / 1e6,
            "dashboard.spill_mb": tot["spill_bytes"] / 1e6,
            "dashboard.executor_busy_share":
                tot["run_ms"] / ((traced.wall_s - traced.detail["probe_s"]) * 1e3 * ctx.cores),
        })
        for s in qspans:
            m[f"{s.name}_s"] = s.duration - plan_of.get(s.id, 0.0)
        self.fixpoint = Fixpoint()
        self.fixpoint.prepare(ctx)
        m.update(self.fixpoint.layers(ctx, self.fixpoint.run_pass(ctx)))
        return m


# ---------------------------------------------------------------------------
# fixpoint
# ---------------------------------------------------------------------------

FIXPOINT_CALLS = ("cc_minlabel", "cc_star", "kcore")
KCORE_K = 3


class Fixpoint:
    """One pass = min-label connected components, star-contraction
    connected components and the 3-core, on one seeded graph of 50-node
    components (a path plus random chords each). Used as a layer probe
    (see the module docstring), so it has no warm-up of its own."""

    n_nodes, n_edges = 20_000, 29_000

    def prepare(self, ctx) -> None:
        self.edges = gen.chorded_paths(ctx.seed, self.n_nodes, 50, self.n_edges)
        self.labels = check.union_find_labels(self.edges)
        self.core = check.kcore_peel(self.edges, KCORE_K)
        self.frame = ctx.spark.createDataFrame(self.edges, "u long, v long")
        self.results: list[dict] = []
        ctx.record["inputs"]["fixpoint"] = {
            "nodes": len(self.labels), "edges": len(self.edges),
            "components": len(set(self.labels.values())), "kcore_edges": len(self.core)}

    def _calls(self, ctx, frame) -> tuple[dict, dict]:
        from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
            connected_components,
        )
        from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
            connected_components_star,
            kcore_edges,
        )

        tr = ctx.tracer
        out, secs = {}, {}
        t = time.perf_counter()
        with tr.span("fixpoint.cc_minlabel"):
            out["cc_minlabel"] = connected_components(frame, "u", "v")
            noop(out["cc_minlabel"])
        secs["cc_minlabel"] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("fixpoint.cc_star"):
            out["cc_star"] = connected_components_star(frame)
            noop(out["cc_star"])
        secs["cc_star"] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("fixpoint.kcore"):
            out["kcore"] = kcore_edges(frame, KCORE_K)
            noop(out["kcore"][0])
        secs["kcore"] = time.perf_counter() - t
        return out, secs

    def run_pass(self, ctx) -> Pass:
        t0 = time.perf_counter()
        out, secs = self._calls(ctx, self.frame)
        wall = time.perf_counter() - t0
        self.results.append(out)
        return Pass(wall, [secs[c] for c in FIXPOINT_CALLS], {"call_s": secs})

    def check(self, ctx):
        problems: list[str] = []
        for out in self.results:
            for name in ("cc_minlabel", "cc_star"):
                got = {r[0]: r[1] for r in out[name].select("doc_id", "canonical_id").collect()}
                if got != self.labels:
                    wrong = sum(got.get(n) != lab for n, lab in self.labels.items())
                    problems.append(f"{name}: {wrong} of {len(self.labels)} labels differ")
            core, n = out["kcore"]
            got_core = {(min(r[0], r[1]), max(r[0], r[1])) for r in core.collect()}
            if got_core != self.core or n != len(self.core):
                problems.append(f"kcore: {len(got_core)} edges (count {n}), "
                                f"expected {len(self.core)}")
        return 3 * len(self.results), len(problems), problems

    def layers(self, ctx, traced: Pass) -> dict:
        tr = ctx.tracer
        m = {}
        spans = []
        for c in FIXPOINT_CALLS:
            s = tr.named(f"fixpoint.{c}")[-1]
            spans.append(s)
            m[f"fixpoint.{c}_s"] = s.duration
            m[f"fixpoint.{c}_jobs"] = s.counts["jobs"]
            m[f"fixpoint.{c}_tasks"] = s.counts["tasks"]
        m["fixpoint.executor_busy_share"] = (
            tr.total("run_ms", spans) / (traced.wall_s * 1e3 * ctx.cores))
        m["fixpoint.shuffle_write_mb"] = tr.total("shuffle_write_bytes", spans) / 1e6
        return m


WORKLOADS = {w.name: w for w in (Ingest, Dashboard)}
