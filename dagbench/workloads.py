"""The benchmark's workloads.

Each workload has a set-up (inputs, warm-up, prebuilt state), an op
(the unit the latency metrics time), an untimed check after each op,
and a ``finish`` that measures disk use and runs the end-of-run
checks.  In a traced run the set-up also wraps the package entry
points of every layer the workload reaches.  An untraced ``backfill``
run wraps only the ``io.writers`` write functions, with a timing-only
tracer, for ``commit_p50_s``; an untraced ``lakehouse_write`` run
times its commits itself and wraps nothing.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.functions.calendar import (
    period_year_window,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io import (
    fsck, versioned as V, writers as W,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.warehouse_dag import (
    build_warehouse_dag,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.sources import (
    versioned_source,
)

import diskstat
import gen
import oracle

WRITER_WRITES = ("append", "overwrite", "replace_range", "replace_keys",
                 "delete_keys")
WRITER_SWAPS = ("swap_into_place", "heal_swap")
VERSIONED_COMMITS = (
    "write_version", "append_version", "merge_version", "merge_clauses",
    "delete_keys_version", "delete_keys_dv", "delete_where_dv",
    "compact_table", "compact_where", "maybe_compact", "replace_partitions",
    "drop_columns", "rename_column", "widen_column_type", "restore_table",
    "vacuum")
VERSIONED_READS = (
    "read_current", "read_version", "read_versions", "read_as_of",
    "read_where", "read_where_all", "read_changes", "consume_changes",
    "count_where", "count_nulls", "column_range", "table_rowcount",
    "show_partitions", "describe_table", "history")


@dataclass
class Ctx:
    spark: object
    work: str           # this run's scratch dir
    seed: int
    nproc: int
    tracer: object      # spans.Tracer
    traced: bool


@dataclass
class OpResult:
    ok: bool
    error: str | None = None
    commit_s: list = field(default_factory=list)
    read_s: list = field(default_factory=list)
    kind: int = 0       # which op of the workload's mix this was


def top_level(tracer, sp) -> bool:
    """True when the span's parent is not in the same layer family."""
    return sp.parent is None or tracer.spans[sp.parent].layer.split(
        ".")[0] != sp.layer.split(".")[0]


def _writer_files(tracer):
    """After-hook for a top-level writer span: parquet files the call
    left under its target path, from footers (no Spark job)."""
    def after(sp, args, kwargs, out):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        if (tracer.sc is not None and isinstance(path, str)
                and top_level(tracer, sp)):
            files, nbytes, rows = diskstat.new_parquet(path, sp.start)
            sp.attrs.update(files=files, bytes=nbytes, rows=rows)
    return after


def _pruned(sp, args, kwargs, out):
    kept, total = out
    sp.attrs.update(considered=total, pruned=total - len(kept))


def commit_walls(tracer, op) -> list[float]:
    """Wall times of the top-level commit spans opened in op ``op``."""
    return [sp.wall for sp in tracer.spans
            if sp.op == op and sp.layer in ("writers", "versioned.commit")
            and top_level(tracer, sp)]


# ----------------------------------------------------------------------
# backfill: the warehouse DAG over a 12-month run_range
# ----------------------------------------------------------------------

BACKFILL_SITES = 30                 # the reference's site count
BASE_YEAR = 2023
# Jan 2023 .. Jan 2024; the range is the last twelve
MONTHS = [dt.date(2023 + m // 12, m % 12 + 1, 1) for m in range(13)]
BACKFILL_DATES = MONTHS[1:]
SERVING_READS = 12                  # read samples per op


class Backfill:
    """``build_warehouse_dag(validate=True)`` with every optional tail
    job fed.  A run starts at month ``seed % 12`` of the 12-month range,
    so runs with different seeds measure different dates.  Set-up runs
    the month before it (warm-up, and the warehouse then holds a prior
    run); op ``i`` runs the next month through
    ``JobRegistry.run_range``.  A traced run runs each month twice, the
    traced arm first, so the overhead pair compares one date."""

    name = "backfill"
    cycle = 1
    # one op is ~15 s; a second does not fit the time all of the
    # benchmark's runs may take together
    min_ops = 1

    def __init__(self) -> None:
        self.seen: list[dt.date] = []
        self.expected: dict = {}

    def date(self, ctx: Ctx, i: int) -> dt.date:
        step = i // 2 if ctx.traced else i
        return BACKFILL_DATES[(ctx.seed + step) % len(BACKFILL_DATES)]

    def setup(self, ctx: Ctx) -> dict:
        t0 = time.perf_counter()
        self.inputs = gen.write_dag_inputs(
            os.path.join(ctx.work, "inputs"), ctx.seed, BACKFILL_SITES)
        t_gen = time.perf_counter() - t0
        spark = ctx.spark
        sources = {k: spark.read.parquet(v) for k, v in self.inputs.items()}
        self.wh = os.path.join(ctx.work, "warehouse")
        self.reg = build_warehouse_dag(self.wh, sources, base_year=BASE_YEAR,
                                       validate=True)
        self.deps = {n: self.reg[n].depends_on for n in self.reg.names()}
        tr = ctx.tracer
        after = _writer_files(tr)
        for name in WRITER_WRITES:
            tr.wrap(W, name, f"writers.{name}", "writers", after)
        if ctx.traced:
            for name in WRITER_SWAPS:
                tr.wrap(W, name, f"writers.{name}", "writers.swap")
            tr.wrap(W, "read_table", "writers.read_table", "writers.read")
            tr.wrap(self.reg, "run_range", "run_all.run_range", "run_all")
            tr.wrap(self.reg, "run_all", "run_all.run_all", "run_all")
            for n in self.reg.names():
                tr.wrap(self.reg[n], "run", f"pipelines.{n}", "pipelines")
        prior = MONTHS[ctx.seed % len(BACKFILL_DATES)]
        res = self.reg.run_range(spark, [prior], max_workers=ctx.nproc)
        bad = {k: v for r in res.values() for k, v in r.items() if v != "ok"}
        if bad or not res:
            raise RuntimeError(f"set-up DAG run of {prior} failed: {bad}")
        self.seen.append(prior)
        self.write_acc = diskstat.WriteAmp()
        self.snap = diskstat.snapshot(self.wh)
        return {"gen_s": t_gen}

    def op(self, ctx: Ctx, i: int) -> OpResult:
        d = self.date(ctx, i)
        res = self.reg.run_range(ctx.spark, [d], max_workers=ctx.nproc)
        self.seen.append(d)
        bad = {k: v for r in res.values() for k, v in r.items() if v != "ok"}
        if bad or not res:
            return OpResult(False, f"{d}: {bad}")
        return OpResult(True)

    def after_op(self, ctx: Ctx, i: int, res: OpResult) -> OpResult:
        after = diskstat.snapshot(self.wh)
        self.write_acc.add(self.snap, after)
        self.snap = after
        res.commit_s = commit_walls(ctx.tracer, i)
        # what a dashboard reads once the run lands: the serving tables
        for _ in range(SERVING_READS):
            t0 = time.perf_counter()
            for schema, table in (("app", "decarb_elec_overview"),
                                  ("staging", "electricity_decarb")):
                (W.read_table(ctx.spark, W.table_path(self.wh, schema, table))
                 .write.format("noop").mode("overwrite").save())
            res.read_s.append(time.perf_counter() - t0)
        if not res.ok:
            return res
        # every window starts on a Jan 1 and consecutive windows
        # overlap, so the staging months written so far are one
        # contiguous span.  Every op must match the replay of its span,
        # so ops that cover the same span (reruns) converge.
        starts, ends = zip(*(period_year_window(d) for d in self.seen))
        state = (min(starts), max(ends))
        if state not in self.expected:
            self.expected[state] = oracle.digest(*oracle.replay_rows(
                self.inputs, state[0], state[1], BASE_YEAR))
        if oracle.digest(*oracle.warehouse_rows(self.wh)) != \
                self.expected[state]:
            res.ok, res.error = False, (f"op {i}: staging/app differ from "
                                        f"the DuckDB replay of {state}")
        return res

    def finish(self, ctx: Ctx) -> dict:
        return {"write_amp": self.write_acc.ratio(),
                "space_amp": diskstat.warehouse_space_amp(self.wh),
                "ok": True,
                "info": {"sites": BACKFILL_SITES,
                         "dates_run": [d.isoformat() for d in self.seen]}}


# ----------------------------------------------------------------------
# lakehouse_write: versioned-table commits and reads
# ----------------------------------------------------------------------

# Sizes follow the versioned-table fixture of tools/scaling_slopes.py
# behind SCALE.md's versioned rows at x1: the sf0.1 orders row count,
# compacted sorted on the key into 5 files, a fixed 2k-key merge slice
# (keys below 2000), a 3-key deletion-vector delete and a 1k-row
# append (the compact_where fragment).  The pruned read covers a
# 2k-key range, one merge slice wide.
LAKE_ROWS = 150_000
LAKE_APPEND = 1_000
LAKE_MERGE = 2_000
LAKE_DELETE = 3
LAKE_READ = 2_000
LAKE_FILES = 5


@dataclass
class Commit:
    """What a lakehouse op committed and read; the model is brought up
    to date and the reads checked after the op, off its clock."""
    kind: int
    keys: np.ndarray | None
    salt: int
    prev: int
    version: int
    lo: int
    got: tuple


class LakehouseWrite:
    """One versioned table, sorted on ``k`` into ``LAKE_FILES`` files.  Op
    ``i`` commits ``append_version``, ``merge_version``,
    ``delete_keys_dv`` or ``compact_table`` + ``vacuum`` by ``i % 4``,
    then reads the current version, the version before the commit, a
    pruned key range through ``read_where``, and the same range
    through the ``versioned_table`` datasource with filter pushdown.
    Batches are formulas over ``spark.range``, so the benchmark's own
    model of the table predicts every read exactly."""

    name = "lakehouse_write"
    cycle = 4   # runs end on a cycle boundary: after a compaction
    # two cycles, so a burst of host load that slows a few seconds of
    # the run moves fewer than half of the ops the medians are over
    min_ops = 8

    def _vals(self, k: np.ndarray, salt: int) -> np.ndarray:
        return ((k * self.a + salt * self.b) % 1000).astype(np.int64)

    def _df(self, spark, keys: np.ndarray, salt: int):
        return (spark.range(int(keys[0]), int(keys[-1]) + 1)
                .select(F.col("id").alias("k"),
                        ((F.col("id") * self.a + salt * self.b) % 1000)
                        .cast("double").alias("v"),
                        (F.col("id") % 97).cast("int").alias("g")))

    def _compact(self, spark) -> int:
        return V.compact_table(spark, self.td, sort_by=["k"],
                               stats_columns=["k"],
                               sort_partitions=LAKE_FILES)

    def setup(self, ctx: Ctx) -> dict:
        rng = np.random.default_rng(ctx.seed)
        self.rng = rng
        self.a, self.b = int(rng.integers(3, 997)), int(rng.integers(3, 997))
        self.lake = os.path.join(ctx.work, "lake")
        self.td = os.path.join(self.lake, "t")
        tr = ctx.tracer
        if ctx.traced:
            for name in VERSIONED_COMMITS:
                tr.wrap(V, name, f"versioned.{name}", "versioned.commit")
            for name in VERSIONED_READS:
                tr.wrap(V, name, f"versioned.{name}", "versioned.read")
            tr.wrap(V, "pruned_files", "versioned.pruned_files",
                    "versioned.prune", _pruned)
        versioned_source.register(ctx.spark)
        keys = np.arange(LAKE_ROWS, dtype=np.int64)
        self.model = dict(zip(keys.tolist(), self._vals(keys, 0).tolist()))
        self.next_key = LAKE_ROWS
        # key-clustered files from spark.range; the warm-up cycle's
        # compaction sorts them into LAKE_FILES
        v = V.append_version(self._df(ctx.spark, keys, 0), self.td,
                             stats_columns=["k"])
        self.fp = {v: self._fingerprint()}
        self.version = v
        self.seq = 0            # ops run so far, warm-up included
        self.pending: Commit | None = None
        self._count_from_here()
        # one whole cycle off the clock: each kind's first commit and
        # reads run cold (JIT, first touch) and took about 1.5x as long
        # as the same op a cycle later
        for i in range(self.cycle):
            res = self.after_op(ctx, i, self.op(ctx, i))
            if not res.ok:
                raise RuntimeError(f"warm-up op {i}: {res.error}")
        self._count_from_here()
        return {"warm_ops": self.cycle}

    def _count_from_here(self) -> None:
        """Start write_amp's tallies afresh (after the warm-up)."""
        self.snap = diskstat.snapshot(self.td)
        self.write_acc = diskstat.WriteAmp()
        self.logical_rows = 0   # rows the ops asked to insert or update

    def _fingerprint(self, lo=None, hi=None) -> tuple:
        ks = np.fromiter(self.model.keys(), np.int64, len(self.model))
        vs = np.fromiter(self.model.values(), np.int64, len(self.model))
        if lo is not None:
            m = (ks >= lo) & (ks <= hi)
            ks, vs = ks[m], vs[m]
        return (len(ks), int(ks.sum()), int(vs.sum()))

    @staticmethod
    def _agg(df) -> tuple:
        r = df.agg(F.count("*").alias("n"), F.sum("k").alias("sk"),
                   F.sum("v").alias("sv")).collect()[0]
        return (int(r["n"]), int(r["sk"] or 0), int(r["sv"] or 0))

    def _reads(self, spark, prev: int, lo: int) -> tuple:
        hi = lo + LAKE_READ - 1
        ds = (spark.read.format("versioned_table").option("path", self.td)
              .option("pushdown", "true").load()
              .filter((F.col("k") >= lo) & (F.col("k") <= hi)))
        return (self._agg(V.read_current(spark, self.td)),
                self._agg(V.read_version(spark, self.td, prev)),
                self._agg(V.read_where(spark, self.td, "k", lo, hi)),
                self._agg(ds))

    def op(self, ctx: Ctx, i: int) -> OpResult:
        spark, rng, kind = ctx.spark, self.rng, i % self.cycle
        prev, keys, salt = self.version, None, 0
        self.seq += 1
        if kind == 0:
            keys = np.arange(self.next_key, self.next_key + LAKE_APPEND)
            self.next_key += LAKE_APPEND
        elif kind == 1:
            # the fixed low slice, new values every time; keys deleted
            # earlier come back
            keys, salt = np.arange(LAKE_MERGE), self.seq
        elif kind == 2:
            d = int(rng.integers(0, self.next_key - LAKE_DELETE))
            keys = np.arange(d, d + LAKE_DELETE)
        # the range read covers the keys the commit wrote (so a delete's
        # reads always meet its deletion vector); a compaction's is random
        if keys is None:
            lo = int(rng.integers(0, self.next_key - LAKE_READ))
        else:
            lo = min(max(int(keys[len(keys) // 2]) - LAKE_READ // 2, 0),
                     self.next_key - LAKE_READ)
        t0 = time.perf_counter()
        if kind == 0:
            v = V.append_version(self._df(spark, keys, 0), self.td,
                                 stats_columns=["k"])
        elif kind == 1:
            v = V.merge_version(spark, self.td, self._df(spark, keys, salt),
                                key="k")
        elif kind == 2:
            # keys already gone simply miss
            v = V.delete_keys_dv(spark, self.td,
                                 self._df(spark, keys, 0).select("k"),
                                 key="k")
        else:
            v = self._compact(spark)
            V.vacuum(self.td, keep_last=2)
        commit = time.perf_counter() - t0
        v = prev if v is None else v  # a delete that matched nothing
        self.version = v
        t1 = time.perf_counter()
        got = self._reads(spark, prev, lo)
        read = time.perf_counter() - t1
        self.pending = Commit(kind, keys, salt, prev, v, lo, got)
        return OpResult(True, None, [commit], [read], kind)

    def after_op(self, ctx: Ctx, i: int, res: OpResult) -> OpResult:
        after = diskstat.snapshot(self.td)
        self.write_acc.add(self.snap, after)
        self.snap = after
        c, self.pending = self.pending, None
        if c is None:       # the op raised; it already counts as failed
            return res
        if c.kind in (0, 1):
            self.model.update(zip(c.keys.tolist(),
                                  self._vals(c.keys, c.salt).tolist()))
            self.logical_rows += len(c.keys)
        elif c.kind == 2:
            for k in c.keys.tolist():
                self.model.pop(k, None)
        self.fp[c.version] = self._fingerprint()
        in_range = self._fingerprint(c.lo, c.lo + LAKE_READ - 1)
        want = (self.fp[c.version], self.fp[c.prev], in_range, in_range)
        if res.ok and c.got != want:
            res.ok, res.error = False, f"op {i}: reads {c.got} != model {want}"
        return res

    def finish(self, ctx: Ctx) -> dict:
        rep = fsck.verify_table(ctx.spark, self.td)
        live = V.describe_table(self.td).get("bytes", 0)
        # the ops' logical rows at the table's live bytes per row
        produced = self.logical_rows * live / max(len(self.model), 1)
        return {"write_amp": (self.write_acc.written / produced
                              if produced else 0.0),
                "space_amp": diskstat.versioned_space_amp(self.lake),
                "versioned_root": self.lake,
                "ok": bool(rep.get("ok")),
                "info": {"fsck_ok": bool(rep.get("ok")),
                         "rows": len(self.model), "version": self.version,
                         "logical_rows": self.logical_rows,
                         "bytes_written": self.write_acc.written}}


WORKLOADS = {"backfill": Backfill, "lakehouse_write": LakehouseWrite}
