"""The three benchmark workloads and their correctness checks.

A workload is a closed loop with one client: each op is submitted only
after the previous one returned. ``setup()`` runs the cold first pass and
fixes the expected results; ``run_pass()`` runs one steady pass. Both
return ``Op`` records and fill a per-pass ``layer`` dict of sums.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import sys
import time
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pandas as pd

import gen


@dataclass
class Op:
    name: str
    wall_s: float
    ok: bool


def _norm(v) -> str:
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def fingerprint(cols, rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, floats
    rounded to 6 places, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _pandas_rows(pdf) -> list[tuple]:
    obj = pdf.astype(object).where(pdf.notna(), None)
    return [tuple(r) for r in obj.itertuples(index=False, name=None)]


def median(xs):
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def oracle_fingerprints(sf_dir: str, names) -> dict:
    """DuckDB's result fingerprint and sorted column names for every named
    registry entry that has an oracle query, over the tables in ``sf_dir``."""
    import duckdb

    from mapreduce_google_spark.queries import REGISTRY

    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in names:
        if REGISTRY[name].oracle:
            rel = con.execute(REGISTRY[name].oracle)
            cols = [d[0] for d in rel.description]
            out[name] = {"fingerprint": fingerprint(cols, rel.fetchall()),
                         "columns": sorted(cols)}
    con.close()
    return out


class Workload:
    """Defaults: the cold pass is a first steady pass; no extra metrics."""

    def setup(self, layer) -> list[Op]:
        return self.run_pass(layer)

    def finish(self, steady: dict[str, list[float]]) -> dict:
        return {}


class Headline(Workload):
    """The registry's ``headline=True`` entries over a generated corpus,
    each delivered through ``toPandas`` (``bench.py``'s set and delivery)."""

    def __init__(self, spark, inputs: str, tracer, plant_wrong: bool, names):
        from mapreduce_google_spark.queries import REGISTRY

        self.spark, self.sf_dir, self.tracer = spark, inputs, tracer
        self.specs = {n: REGISTRY[n] for n in names}
        self.expected: dict[str, str] = {}
        self.plant_wrong = plant_wrong
        self.cold: dict[str, float] = {}

    def _op(self, name, layer) -> tuple[Op, object]:
        spec = self.specs[name]
        t0 = time.perf_counter()
        try:
            self.tracer.begin("build")
            df = spec.builder(self.spark, self.sf_dir)
            self.tracer.end("build", layer)
            t1 = time.perf_counter()
            self.tracer.begin("action")
            pdf = df.toPandas()
            self.tracer.end("action", layer)
            t2 = time.perf_counter()
        except Exception as ex:  # a raising op is a failed op
            print(f"perfbench: {name} raised {type(ex).__name__}: {ex}"[:400],
                  file=sys.stderr)
            return Op(name, time.perf_counter() - t0, False), None
        self.tracer.plan(df, layer)
        layer["queries.build_s"] += t1 - t0
        layer["action.wall_s"] += t2 - t1
        layer["action.result_rows"] += len(pdf)
        return Op(name, t2 - t0, True), pdf

    def setup(self, layer) -> list[Op]:
        """Cold pass: every result is checked against the DuckDB oracle
        where the entry has one, t25 against t18 for recall, and the
        result fingerprints become the expected values of later passes."""
        with open(os.path.join(self.sf_dir, "oracle.json")) as fh:
            oracle = json.load(fh)
        ops, pdfs = [], {}
        for name, spec in self.specs.items():
            op, pdf = self._op(name, layer)
            self.cold[name] = op.wall_s
            if pdf is not None:
                got = fingerprint(list(pdf.columns), _pandas_rows(pdf))
                if spec.oracle:
                    want = oracle.get(name, {})
                    op.ok = (got == want.get("fingerprint")
                             and sorted(pdf.columns) == want.get("columns"))
                    if not op.ok:
                        print(f"perfbench: {name} differs from its oracle",
                              file=sys.stderr)
                self.expected[name] = got if op.ok else "mismatch"
                pdfs[name] = pdf
            ops.append(op)
        if "t18_cosine_topk" in pdfs and "t25_ivf_topk" in pdfs:
            exact = set(zip(pdfs["t18_cosine_topk"]["probe_id"],
                            pdfs["t18_cosine_topk"]["vec_id"]))
            approx = set(zip(pdfs["t25_ivf_topk"]["probe_id"],
                             pdfs["t25_ivf_topk"]["vec_id"]))
            recall = len(exact & approx) / max(1, len(exact))
            # the engine's own IVF contract (tests/test_approx_ops.py)
            if recall < 0.5:
                print(f"perfbench: t25 recall {recall:.3f} < 0.5",
                      file=sys.stderr)
                next(o for o in ops if o.name == "t25_ivf_topk").ok = False
        if self.plant_wrong and self.expected:
            self.expected[next(iter(self.expected))] = "planted-wrong"
        return ops

    def run_pass(self, layer) -> list[Op]:
        ops = []
        for name in self.specs:
            op, pdf = self._op(name, layer)
            if pdf is not None:
                op.ok = fingerprint(list(pdf.columns),
                                    _pandas_rows(pdf)) == self.expected.get(name)
            ops.append(op)
        return ops

    def finish(self, steady: dict[str, list[float]]) -> dict:
        extra = sum(self.cold[n] - median(steady[n])
                    for n in self.cold if steady.get(n))
        return {"queries.cold_extra_s": extra}


class PipeExec(Workload):
    """The reference exec job: text dir → piped word-count mapper and
    reducer → md5-partitioned, sorted part files."""

    num_reducers = 4

    def __init__(self, spark, inputs: str, tracer, plant_wrong: bool, cores: int):
        from mapreduce_google_spark.operators.pipe import ASSETS

        self.spark, self.tracer, self.cores = spark, tracer, cores
        self.corpus = os.path.join(inputs, "corpus")
        with open(os.path.join(inputs, "counts.json")) as fh:
            self.expected = json.load(fh)
        if plant_wrong:
            k = next(iter(self.expected))
            self.expected[k] += 1
        self.mb = sum(os.path.getsize(os.path.join(self.corpus, f))
                      for f in os.listdir(self.corpus)) / 1e6
        self.out = os.path.join(os.environ["TMPDIR"], "wc-out")
        py = sys.executable
        self.mapper = f"{py} {ASSETS}/wc_mapper.py"
        self.reducer = f"{py} {ASSETS}/wc_reducer.py"

    def _job(self, layer) -> Op:
        from pyspark.sql import functions as F

        from mapreduce_google_spark.io import read_text_dir, write_text_dir
        from mapreduce_google_spark.operators.pipe import pipe_map_reduce

        t0 = time.perf_counter()
        try:
            self.tracer.begin("pipe")
            lines = read_text_dir(self.spark, self.corpus)
            kv = pipe_map_reduce(lines, self.mapper, self.reducer,
                                 num_reducers=self.num_reducers)
            # pipe_map_reduce is lazy: the whole job runs inside the sink
            write_text_dir(
                kv.select(F.concat_ws("\t", "key", "value").alias("value")),
                self.out,
            )
            wall = time.perf_counter() - t0
            self.tracer.end("pipe", layer)
        except Exception as ex:
            print(f"perfbench: pipe job raised {type(ex).__name__}: {ex}"[:400],
                  file=sys.stderr)
            return Op("pipe_job", time.perf_counter() - t0, False)
        layer["pipe.mb_per_s_per_core"] += self.mb / wall / self.cores
        layer["io.bytes_written"] += sum(
            os.path.getsize(os.path.join(self.out, f)) for f in os.listdir(self.out))
        return Op("pipe_job", wall, self._check())

    def _check(self) -> bool:
        """Every word count equals the generator's, and every key sits in
        part ``md5(key) % num_reducers`` (reference partitioning)."""
        from mapreduce_google_spark.operators.pipe import md5_partition

        got: dict[str, int] = {}
        misplaced = 0
        for f in os.listdir(self.out):
            if not f.startswith("part-"):
                continue
            part = int(f.split("-")[1])
            with open(os.path.join(self.out, f)) as fh:
                for line in fh:
                    key, _, val = line.rstrip("\n").partition("\t")
                    got[key] = got.get(key, 0) + int(val)
                    misplaced += md5_partition(key, self.num_reducers) != part
        if misplaced or got != self.expected:
            print(f"perfbench: pipe output wrong: {misplaced} misplaced keys, "
                  f"{len(got)} vs {len(self.expected)} keys", file=sys.stderr)
            return False
        return True

    def run_pass(self, layer) -> list[Op]:
        return [self._job(layer)]


class Lakehouse(Workload):
    """Durable writes beside reads on ``io``: one seeded step of upsert,
    snapshot publish, deletion-vector delete, snapshot read, DV read and
    vacuum per cycle, checked against a pandas model of the same deltas."""

    def __init__(self, spark, inputs: str, tracer, plant_wrong: bool, seed: int):
        import shutil

        self.spark, self.tracer, self.plant_wrong = spark, tracer, plant_wrong
        ev = pd.read_parquet(os.path.join(inputs, "model.parquet"))
        self.model = ev.set_index("event_id", drop=False)
        self.flat_live = ev[["event_id", "user_id", "value"]].set_index("event_id")
        self.deltas = gen.lakehouse_deltas(seed, ev, gen.LAKE_DAYS, gen.LAKE_USERS)
        self.del_rng = np.random.default_rng(seed + 2)
        # the run mutates its tables, so it works on a private copy
        self.root = os.path.join(os.environ["TMPDIR"], "lakehouse")
        self.base = os.path.join(self.root, "events_by_day")
        self.flat = os.path.join(self.root, "events_flat")
        self.snaps = os.path.join(self.root, "events_snapshots")
        shutil.copytree(os.path.join(inputs, "events_by_day"), self.base)
        shutil.copytree(os.path.join(inputs, "events_flat"), self.flat)
        self.versions = 0

    def _frame(self, pdf):
        return self.spark.createDataFrame(pdf.reset_index(drop=True), schema=_SCHEMA)

    def _timed(self, name, layer, fn) -> tuple[Op, object]:
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as ex:
            print(f"perfbench: {name} raised {type(ex).__name__}: {ex}"[:400],
                  file=sys.stderr)
            return Op(name, time.perf_counter() - t0, False), None
        wall = time.perf_counter() - t0
        layer[f"io.{name}_s"] += wall
        return Op(name, wall, True), out

    def _agg(self, df):
        from pyspark.sql import functions as F

        r = df.agg(F.count("*"), F.sum("value")).collect()[0]
        return int(r[0]), float(r[1] or 0.0)

    @staticmethod
    def _same(got, n, total) -> bool:
        return got[0] == n and abs(got[1] - total) <= 1e-6 * max(1.0, abs(total))

    def run_pass(self, layer) -> list[Op]:
        from pyspark.sql import functions as F

        from mapreduce_google_spark import io

        spark, before = self.spark, _tree(self.root) if self.tracer.enabled else None
        day, delta = next(self.deltas)
        ops = []
        self.tracer.begin("io")
        op, touched = self._timed("partition_upsert", layer, lambda: io.partition_upsert(
            spark, self.base, self._frame(delta), "day", ["event_id"]))
        op.ok = op.ok and touched == [day]
        self.model = self.model.drop(delta["event_id"], errors="ignore")
        self.model = pd.concat([self.model, delta.set_index("event_id", drop=False)])
        ops.append(op)

        op, v = self._timed("versioned_write", layer, lambda: io.versioned_write(
            spark.read.parquet(self.base).where(F.col("day") == day), self.snaps))
        self.versions += 1
        op.ok = op.ok and v == self.versions
        ops.append(op)

        user = int(self.del_rng.integers(0, gen.LAKE_USERS))
        op, n = self._timed("delete_where", layer, lambda: io.delete_where(
            spark, self.flat, F.col("user_id") == user))
        hit = self.flat_live.index[self.flat_live["user_id"] == user]
        op.ok = op.ok and n == len(hit)
        self.flat_live = self.flat_live.drop(hit)
        ops.append(op)

        op, got = self._timed("read_snapshot", layer, lambda: self._agg(
            io.read_snapshot(spark, self.snaps)))
        want = self.model[self.model["day"] == day]["value"]
        op.ok = op.ok and self._same(got, len(want) + self.plant_wrong, want.sum())
        ops.append(op)

        op, got = self._timed("read_with_deletes", layer, lambda: self._agg(
            io.read_with_deletes(spark, self.flat)))
        op.ok = op.ok and self._same(got, len(self.flat_live),
                                     self.flat_live["value"].sum())
        ops.append(op)

        op, res = self._timed("vacuum_snapshots", layer, lambda: io.vacuum_snapshots(
            self.snaps, keep_last=2))
        op.ok = op.ok and io.list_versions(self.snaps) == [
            v for v in (self.versions - 1, self.versions) if v > 0]
        ops.append(op)
        self.tracer.end("io", layer)
        if before is not None:
            after = _tree(self.root)
            new = [p for p, st in after.items() if before.get(p) != st]
            layer["io.files_written"] += len(new)
            layer["io.bytes_written"] += sum(after[p][0] for p in new)
            layer["io.store_bytes"] += sum(st[0] for st in after.values())
        for o in ops:
            if not o.ok:
                print(f"perfbench: lakehouse {o.name} wrong on day {day}",
                      file=sys.stderr)
        return ops

    def check_table(self) -> bool:
        """Whole-table aggregate of the upserted table against the model."""
        got = self._agg(self.spark.read.parquet(self.base))
        return self._same(got, len(self.model), self.model["value"].sum())



def _tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string, day int"
)
