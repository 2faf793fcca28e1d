"""``acid_rw``: writes beside reads on one ``sources.acid`` table.

Set-up creates a seeded 200k-row table ``(id, grp, val)`` and turns on
``deletionVectors`` (merge-on-read, as ``q_acid_ivm_loop`` sets it).
Each cycle commits

- ``append`` of new keys,
- ``merge(cdf=True)`` upserting existing and new keys,
- a ``MERGE INTO`` through ``sql.acid_sql`` (the canonical upsert),
- ``update`` of one group and ``delete`` of part of another,

then reads a per-group aggregate of the latest version and an earlier
version (time travel) through the ``format("acid")`` Python DataSource,
whose reader runs in the Python workers and returns Arrow batches; one
key through ``AcidTable.snapshot`` (the JVM parquet path); and the
cycle's change feed (``table_changes``). Finally it compacts the table
with ``optimize``. Every read is checked against
:class:`perfbench.acid_model.AcidModel`, which replays the same
operations without Spark; after the measured pass the whole table is
compared with the model row for row.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench.acid_model import AcidModel

N_ROWS = 200_000
N_GROUPS = 64
APPEND_ROWS = 2000
MERGE_MATCHED = 500
MERGE_NEW = 100
DELETE_BELOW = 300
#: how far back (in versions) the time-travel read may reach
TRAVEL_BACK = 8
SCHEMA = "id BIGINT, grp INT, val BIGINT"


def _upsert(touched, changes):
    """WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *."""
    return touched.join(changes.select("id").distinct(), "id", "anti").unionByName(changes)


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class AcidRW:
    def __init__(self):
        self.initial = None
        self.root = None
        self.table = None
        self.model = None
        self.next_id = N_ROWS
        self.cycles_run = 0
        self.bytes_before = 0

    def _frame(self, spark, rows: dict[int, tuple[int, int]]):
        ids = np.fromiter(rows, np.int64, len(rows))
        gv = np.array(list(rows.values()), np.int64).reshape(-1, 2)
        pdf = pd.DataFrame({"id": ids, "grp": gv[:, 0].astype(np.int32), "val": gv[:, 1]})
        return spark.createDataFrame(pdf, SCHEMA)

    def _scan(self, bench, version: int | None = None):
        reader = bench.spark.read.format("acid")
        if version is not None:
            reader = reader.option("version", version)
        return reader.load(self.table.path)

    def make_inputs(self, bench, out_dir: str) -> None:
        rng = np.random.default_rng([bench.seed, 0])
        grp = rng.integers(0, N_GROUPS, N_ROWS)
        val = rng.integers(0, 1000, N_ROWS)
        self.initial = {i: (int(g), int(v)) for i, (g, v) in enumerate(zip(grp, val))}
        self.root = out_dir

    def prepare(self, bench) -> None:
        from als_hadoop_spark.sources.acid import AcidTable
        from als_hadoop_spark.sources.acid_format import register_acid_format

        register_acid_format(bench.spark)
        self.table = AcidTable(bench.spark, os.path.join(self.root, "table"))
        v = self.table.append(self._frame(bench.spark, self.initial).coalesce(4))
        self.model = AcidModel(self.initial, v)
        self.model.no_change(self.table.set_property("deletionVectors", "true"))
        self.bytes_before = _du(self.table.path)

    def _new_rows(self, rng, n: int) -> dict[int, tuple[int, int]]:
        ids = range(self.next_id, self.next_id + n)
        self.next_id += n
        return {
            i: (int(g), int(v))
            for i, g, v in zip(ids, rng.integers(0, N_GROUPS, n), rng.integers(0, 1000, n))
        }

    def _upsert_rows(self, rng) -> dict[int, tuple[int, int]]:
        live = np.fromiter(self.model.rows, np.int64, len(self.model.rows))
        src = {}
        for k in rng.choice(live, MERGE_MATCHED, replace=False):
            g, v = self.model.rows[int(k)]
            src[int(k)] = (g, v + int(rng.integers(1, 1000)))  # always a real change
        src.update(self._new_rows(rng, MERGE_NEW))
        return src

    def _write(self, bench, name: str, span: str, fn, apply) -> None:
        """One commit; ``apply(version)`` replays it on the model."""
        expect = self.model.version + 1

        def run():
            with bench.span(span):
                return fn()

        v = bench.op(name, "write", run, lambda got: got == expect)
        if v == expect:
            apply(v)

    def _read(self, bench, name: str, build, action, expect, span: str) -> None:
        """One read: ``build()`` assembles the frame on the driver,
        ``action(frame)`` runs it."""

        def run():
            with bench.span(span), bench.span("operators.build"):
                df = build()
            with bench.span("operators.exec"):
                return action(df)

        bench.op(name, "read", run, lambda got: got == expect)

    def cycle(self, bench) -> None:
        from als_hadoop_spark.sql import acid_sql

        spark, t, m = bench.spark, self.table, self.model
        rng = np.random.default_rng([bench.seed, 1, self.cycles_run])
        self.cycles_run += 1
        first = m.version + 1

        new = self._new_rows(rng, APPEND_ROWS)
        df = self._frame(spark, new)
        self._write(bench, "append", "acid.append", lambda: t.append(df), lambda v: m.append(v, new))

        src = self._upsert_rows(rng)
        df = self._frame(spark, src)
        self._write(
            bench, "merge", "acid.merge",
            lambda: t.merge(df, "id", _upsert, cdf=True), lambda v: m.merge_cdf(v, src),
        )

        src2 = self._upsert_rows(rng)
        self._frame(spark, src2).createOrReplaceTempView("perfbench_src")
        stmt = (
            f"MERGE INTO acid.`{t.path}` AS t USING perfbench_src AS s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        self._write(
            bench, "sql_merge", "sql.merge", lambda: acid_sql(spark, stmt), lambda v: m.sql_merge(v, src2)
        )

        g_up, g_del = (int(x) for x in rng.choice(N_GROUPS, 2, replace=False))
        self._write(
            bench, "update", "acid.update",
            lambda: t.update({"val": "val + 1"}, f"grp = {g_up}"), lambda v: m.update_group(v, g_up),
        )
        self._write(
            bench, "delete", "acid.delete",
            lambda: t.delete(f"grp = {g_del} AND val < {DELETE_BELOW}"),
            lambda v: m.delete_where(v, g_del, DELETE_BELOW),
        )
        last = m.version

        self._read(
            bench, "scan_agg", lambda: self._scan(bench),
            lambda d: {
                r[0]: (r[1], r[2])
                for r in d.groupBy("grp").agg(F.count("*"), F.sum("val")).collect()
            },
            m.group_aggregate(),
            span="acid.scan",
        )
        key = int(rng.choice(np.fromiter(m.rows, np.int64, len(m.rows))))
        self._read(
            bench, "point_read", t.snapshot,
            lambda d: [tuple(r) for r in d.filter(F.col("id") == key).collect()],
            [(key, *m.rows[key])],
            span="acid.snapshot",
        )
        back = int(rng.integers(max(0, first - TRAVEL_BACK), first))
        self._read(
            bench, "time_travel", lambda: self._scan(bench, back),
            lambda d: tuple(d.agg(F.count("*"), F.sum("val"), F.sum(F.col("id") * F.col("val"))).first()),
            m.summaries[back],
            span="acid.scan",
        )
        self._read(
            bench, "table_changes", lambda: t.table_changes(first, last),
            lambda d: {
                (r[0], r[1]): r[2]
                for r in d.groupBy("_commit_version", "_change_type").count().collect()
            },
            m.expected_changes(first, last),
            span="acid.changes",
        )
        self._write(bench, "optimize", "acid.optimize", t.optimize, m.no_change)

    def verify(self, bench) -> None:
        def table_rows():
            pdf = self.table.snapshot().toPandas()
            return len(pdf), dict(zip(pdf["id"].tolist(), zip(pdf["grp"].tolist(), pdf["val"].tolist())))

        rows = self.model.rows
        # the row count catches a duplicated key, which the dict would fold
        bench.op("final_state", "verify", table_rows, lambda got: got == (len(rows), rows))

    def layer_metrics(self, bench) -> dict[str, float]:
        t = self.table
        on_disk = _du(t.path)
        compact = os.path.join(bench.work, "compact")
        t.snapshot().coalesce(1).write.parquet(compact)
        data_files = [
            f for d, _, fs in os.walk(t.path) if "_acid_log" not in d for f in fs
            if not f.startswith(".")
        ]
        n_cycles = max(1, len(bench.log.cycles()))
        return {
            "acid.bytes_written_mb": (on_disk - self.bytes_before) / n_cycles / (1024 * 1024),
            "acid.log_entries": float(t.latest_version() + 1),
            "acid.files_live": float(len(t.snapshot().inputFiles())),
            "acid.files_on_disk": float(len(data_files)),
            "acid.space_amp": on_disk / _du(compact),
        }
