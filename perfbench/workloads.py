"""Workload definitions: which registry queries run, on which generated
tables, and the versioned-table commit sequence that runs beside them.

Each op is timed as two phases: ``build`` (the Python call into the
program: DataFrame construction for a query, the whole eager call for a
table write) and ``exec`` (materialising the result on the driver).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa

from gen import TABLE_ORDER, TABLE_SCHEMA, change_batch

#: query name prefix -> input tables it reads.  The lists are subsets of
#: the registry families each workload stands for, sized so that one
#: pass fits the benchmark's run-time budget (see perfbench/README.md).
SIGNAL_QUERIES = {
    "q40": ["events"], "q41": ["events"], "q80": [], "q81": [], "q86": [],
    "q83": ["events"], "q96": ["events"], "q50": ["events"],
}
OLAP_QUERIES = {
    "q01": ["lineitem"], "q03": ["customer", "lineitem", "nation", "orders", "region"],
    "q48": ["lineitem"],
}
CORPUS_QUERIES = {
    "q63": ["documents"], "q111": ["embeddings"], "q153": ["embeddings"],
}

#: the relational tables; they share key ranges, so one scale applies to all
OLAP_TABLES = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}

COMMIT_OPS = {"append", "merge", "update", "delete", "optimize"}
#: one round of the commit sequence: a write, a read, an update, a
#: tombstone delete, a read over the tombstones and a time-travel read
CYCLE = ["append", "read_latest", "update", "delete", "read_latest", "read_travel"]
READ_OPS = {"read_latest", "read_travel"}


@dataclass(frozen=True)
class Workload:
    queries: dict[str, list[str]]
    #: versioned-table ops of one pass, in commit-sequence order
    table_ops: list[str]
    #: row-count multiplier of the generated tables over sf0.1
    scale: float
    #: versioned table: initial rows and rows per change batch
    table_rows: int
    batch_rows: int

    #: the same for the relational (OLAP) tables, when it differs
    olap_scale: float | None = None

    @property
    def tables(self) -> list[str]:
        """The generated tables the queries read, in generation order."""
        used = set().union(*self.queries.values())
        return [t for t in TABLE_ORDER if t in used]

    @property
    def warm_table(self) -> tuple[str, str]:
        """Table and column the set-up warm-up aggregates (generated small)."""
        return ("events", "value") if "events" in self.tables else ("lineitem", "l_extendedprice")

    def scales(self) -> dict[float, list[str]]:
        """Row-count multiplier -> the tables generated at it."""
        out: dict[float, list[str]] = {}
        for t in self.tables:
            s = self.olap_scale if self.olap_scale and t in OLAP_TABLES else self.scale
            out.setdefault(s, []).append(t)
        return out

    def op_class(self, kind: str, name: str) -> str:
        if kind == "table":
            return "table"
        return "olap" if name in OLAP_QUERIES else "corpus" if name in CORPUS_QUERIES else "signal"


WORKLOADS = {
    "signal-scan": Workload(
        queries=SIGNAL_QUERIES,
        table_ops=CYCLE,
        scale=0.1, table_rows=2_000, batch_rows=256,
    ),
    # after the cycle, a merge, an optimize and a read of the result
    "batch-pipeline": Workload(
        queries={**OLAP_QUERIES, **CORPUS_QUERIES},
        table_ops=CYCLE + ["merge", "optimize", "read_latest"],
        scale=0.25, olap_scale=1.0, table_rows=20_000, batch_rows=2_000,
    ),
}


def resolve_queries(registry: dict, prefixes) -> dict[str, str]:
    """prefix -> registry name (``q40`` -> ``q40_nearest_event``)."""
    out = {}
    for p in prefixes:
        hits = [n for n in registry if n.startswith(p + "_")]
        if len(hits) != 1:
            raise KeyError(f"registry has {len(hits)} queries for {p!r}")
        out[p] = hits[0]
    return out


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class VersionedSequence:
    """A seeded commit sequence against one table through
    ``fdf_spark.sources.versioned``, mirrored op by op in DuckDB so the
    final snapshot and one time-travel snapshot can be checked."""

    def __init__(self, path: str, seed: int, table_rows: int, batch_rows: int) -> None:
        from fdf_spark.sources import versioned

        self.v = versioned
        self.path, self.seed, self.table_rows, self.batch_rows = path, seed, table_rows, batch_rows
        #: a copy of the table as its first commit left it
        self.first = path + "-first"
        self.duck = duckdb.connect()
        self.user_bytes = 0
        self.bytes_written = 0
        self.files_written = 0
        self.batch_no = 0
        self.base = self._batch(np.arange(table_rows, dtype=np.int64))
        self.row_bytes = self.base.nbytes / self.base.num_rows
        self._restart()

    def _restart(self) -> None:
        """The sequence's state right after the first commit."""
        self.rng = np.random.default_rng([self.seed, 7])
        self.batch_no = 1
        self.next_key = self.table_rows
        self.check_version: int | None = None
        self.commits = 0
        d = self.duck
        d.execute("DROP TABLE IF EXISTS snap")
        d.execute("DROP TABLE IF EXISTS t")
        d.register("base_batch", self.base)
        d.execute("CREATE TABLE t AS SELECT * FROM base_batch")
        d.unregister("base_batch")

    def _batch(self, keys: np.ndarray) -> pa.Table:
        self.batch_no += 1
        return change_batch(self.seed, self.batch_no, keys)

    def live_rows(self) -> int:
        return self.duck.execute("SELECT count(*) FROM t").fetchone()[0]

    def create(self, spark) -> None:
        """The first commit and a first read of it (untimed input
        preparation; the read compiles the snapshot-read path once)."""
        self.v.commit_version(spark.createDataFrame(self.base.to_pandas()), self.path)
        self.v.read_version(spark, self.path).toPandas()
        shutil.rmtree(self.first, ignore_errors=True)
        shutil.copytree(self.path, self.first)

    def reset(self) -> None:
        """Untimed: back to the first commit, on disk and in DuckDB, so
        the sequence replays the same changes with the same seeded draws.
        Restored files equal the originals byte for byte, and files written
        later carry fresh UUIDs and mtimes, so the program's caches keyed
        by file name or stat cannot serve stale content."""
        shutil.rmtree(self.path)
        shutil.copytree(self.first, self.path)
        self._restart()

    def prepare(self, spark, kind: str):
        """Untimed: draw the op's arguments. Returns (args, input_rows).
        A change batch comes as (Arrow table, its DataFrame): the op times
        the program's call, not pyspark's conversion of the batch."""
        if kind == "append":
            keys = np.arange(self.next_key, self.next_key + self.batch_rows, dtype=np.int64)
            self.next_key += self.batch_rows
            b = self._batch(keys)
            return (b, spark.createDataFrame(b.to_pandas())), b.num_rows
        if kind == "merge":
            live = self.duck.execute("SELECT key FROM t").fetchnumpy()["key"]
            half = self.batch_rows // 2
            old = self.rng.choice(live, half, replace=False)
            new = np.arange(self.next_key, self.next_key + half, dtype=np.int64)
            self.next_key += half
            b = self._batch(np.sort(np.concatenate([old, new])))
            return (b, spark.createDataFrame(b.to_pandas())), b.num_rows
        # key predicates: keys are dense ranges, so the rows touched per
        # op are nearly the same for every seed
        if kind == "update":
            return f"key % 16 = {int(self.rng.integers(0, 16))}", self.live_rows()
        if kind == "delete":
            return f"key % 53 = {int(self.rng.integers(0, 53))}", self.live_rows()
        if kind == "read_travel":
            head = self.v.list_versions(self.path)[-1]
            return max(1, head - 3), self.live_rows()
        return None, self.live_rows()

    def build(self, spark, kind: str, arg):
        """Timed: the call into the program."""
        v = self.v
        if kind == "append":
            return v.commit_version(arg[1], self.path)
        if kind == "merge":
            return v.merge_versioned(spark, self.path, arg[1], ["key"])
        if kind == "update":
            return v.update_where(spark, self.path, arg, {"qty": "qty + 1", "note": "'updated'"})
        if kind == "delete":
            return v.delete_where(spark, self.path, arg)
        if kind == "optimize":
            return v.optimize(spark, self.path)
        if kind == "read_latest":
            return v.read_version(spark, self.path)
        return v.read_version(spark, self.path, version=arg)

    def before_write(self) -> dict[str, int]:
        return _files(self.path)

    def after_write(self, kind: str, arg, before: dict[str, int]) -> None:
        """Untimed: account bytes and apply the same change in DuckDB."""
        after = _files(self.path)
        new = [p for p in after if p not in before]
        self.files_written += len(new)
        self.bytes_written += sum(after[p] for p in new)
        self.commits += 1
        d = self.duck
        if kind == "append":
            arg = arg[0]
            self.user_bytes += arg.nbytes
            d.register("c", arg)
            d.execute("INSERT INTO t SELECT * FROM c")
            d.unregister("c")
        elif kind == "merge":
            arg = arg[0]
            self.user_bytes += arg.nbytes
            d.register("c", arg)
            d.execute("DELETE FROM t WHERE key IN (SELECT key FROM c)")
            d.execute("INSERT INTO t SELECT * FROM c")
            d.unregister("c")
        elif kind == "update":
            n = d.execute(f"UPDATE t SET qty = qty + 1, note = 'updated' WHERE {arg}").fetchone()[0]
            self.user_bytes += int(n * self.row_bytes)
        elif kind == "delete":
            d.execute(f"DELETE FROM t WHERE {arg}")
        if self.commits == 2:
            self.check_version = self.v.list_versions(self.path)[-1]
            d.execute("CREATE TABLE snap AS SELECT * FROM t")

    def space(self) -> tuple[int, int, int]:
        """(bytes on disk, manifest bytes, Arrow bytes of the live rows)."""
        files = _files(self.path)
        live = self.duck.execute("SELECT * FROM t").fetch_arrow_table().cast(TABLE_SCHEMA).nbytes
        return sum(files.values()), sum(s for p, s in files.items() if p.endswith(".json")), live
