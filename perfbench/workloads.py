"""The benchmark's workloads: klepto-shaped jobs over seeded inputs.

Each workload generates its inputs (:meth:`Workload.prepare`, before the
program is imported), connects to them (:meth:`connect`, part of set-up
time), runs operations (:meth:`run_op`, the timed part) and checks every
operation's output against DuckDB (:meth:`check`, untimed). Operation 0 is
the cold one: the first the process runs.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import duckdb

import datagen

# --------------------------------------------------------------------------
# the spec every steal workload runs (klepto .klepto.toml shape)
# --------------------------------------------------------------------------

SEGMENT = "customer.c_mktsegment = 'BUILDING'"
STEAL_SPEC = f"""
[[Tables]]
  Name = "customer"
  [Tables.Filter]
    Match = "{SEGMENT}"
  [Tables.Anonymise]
    c_name = "FullName"
    c_mktsegment = "EmailAddress"

[[Tables]]
  Name = "supplier"
  [Tables.Anonymise]
    s_name = "FormatPreserve"
    s_acctbal = "Latitude"

[[Tables]]
  Name = "orders"
  [Tables.Filter]
    Match = "{SEGMENT}"
  [[Tables.Relationships]]
    ForeignKey = "o_custkey"
    ReferencedTable = "customer"
    ReferencedKey = "c_custkey"

[[Tables]]
  Name = "lineitem"
  [Tables.Filter]
    Match = "{SEGMENT}"
  [[Tables.Relationships]]
    ForeignKey = "l_orderkey"
    ReferencedTable = "orders"
    ReferencedKey = "o_orderkey"
  [[Tables.Relationships]]
    Table = "orders"
    ForeignKey = "o_custkey"
    ReferencedTable = "customer"
    ReferencedKey = "c_custkey"

[[Tables]]
  Name = "events"
  [Tables.Filter]
    Limit = 2000
    [Tables.Filter.Sorts]
      ts = "desc"
      event_id = "asc"

[[Tables]]
  Name = "documents"
  IgnoreData = true

[[Tables]]
  Name = "embeddings"
  IgnoreData = true
"""

CDC_SPEC = """
[[Tables]]
  Name = "orders"
  [Tables.Anonymise]
    o_orderpriority = "FormatPreserve"
"""

SQLTEXT_TABLES = ["customer", "supplier", "orders", "part", "nation",
                  "region"]
CORPUS_QUERIES = {
    "keep_best": "d07_dedup_keep_best",
    "gopher": "t15_gopher_signals",
    "curated": "c05_curation_recipe",
}
#: d07's own oracle closes the pair graph with a recursive CTE, which takes
#: about a minute on 1,000 documents; its pairs come from this oracle and
#: the closure from :func:`keep_best_oracle` instead
LSH_PAIRS_QUERY = "d02_dedup_minhash_lsh"


@dataclass
class Scale:
    sf: float
    n_docs: int
    n_emb: int


FULL = Scale(sf=0.01, n_docs=600, n_emb=300)
QUICK = Scale(sf=0.001, n_docs=300, n_emb=200)


@dataclass
class OpResult:
    rows: int
    #: per-layer counts that come from the program's own report
    layer: dict = field(default_factory=dict)


# --------------------------------------------------------------------------
# DuckDB helpers
# --------------------------------------------------------------------------

def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _norm(col: str, dtype: str) -> str:
    q = f'"{col}"'
    if dtype in ("DOUBLE", "FLOAT") or dtype.startswith("DECIMAL"):
        return f"round({q}::DOUBLE, 6)::VARCHAR"
    if dtype.startswith("TIMESTAMP"):
        return f"{q}::TIMESTAMP::VARCHAR"
    return f"{q}::VARCHAR"


def digest(con, sql: str) -> tuple:
    """Order-independent digest of a result: (sorted columns, row count,
    sum of row hashes). Floats compare at 6 decimals, timestamps as UTC
    wall clock, everything else by its text form."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, [str(t) for t in rel.types]))
    row = ", ".join(_norm(c, t) for c, t in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash([{row}])::HUGEINT), 0) "
        f"FROM ({sql})").fetchone()
    return [c for c, _ in cols], n, int(h)


def keep_best_oracle(con, pairs_sql: str):
    """d07's decision from the LSH pairs: connected components by
    union-find, and in each the longest document (ties: lowest id) is
    kept; every document maps to its component's keeper."""
    import pyarrow as pa
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in con.execute(f"SELECT a, b FROM ({pairs_sql})").fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    docs = con.execute("SELECT doc_id, n_chars FROM documents").fetchall()
    best: dict[int, tuple] = {}
    for doc, n in docs:
        root = find(doc)
        cand = (-(n if n is not None else -1), doc)
        if root not in best or cand < best[root]:
            best[root] = cand
    keeper = [best[find(doc)][1] for doc, _ in docs]
    ids = [doc for doc, _ in docs]
    return pa.table({"doc_id": ids, "canonical": keeper,
                     "is_duplicate": [d != k for d, k in zip(ids, keeper)]})


def parquet_dir(path: Path) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _diff(what: str, got: tuple, want: tuple) -> list[str]:
    if got == want:
        return []
    if got[0] != want[0]:
        return [f"{what}: columns {got[0]} != {want[0]}"]
    if got[1] != want[1]:
        return [f"{what}: {got[1]} rows, expected {want[1]}"]
    return [f"{what}: row digest differs from the DuckDB oracle"]


def _files(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()
             and not p.name.startswith((".", "_"))]
    return len(files), sum(p.stat().st_size for p in files)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Workload:
    name = ""

    def __init__(self, work: Path, seed: int, scale: Scale):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.src = work / "src"
        self.sink = work / "sink"
        self.con = duck()

    def prepare(self) -> None:
        datagen.write_source(self.src, self.seed, self.scale.sf,
                             self.scale.n_docs, self.scale.n_emb)

    def connect(self, spark) -> None:
        from klepto_spark.sources.catalog import connect
        self.spark = spark
        self.source = connect(spark, f"parquet://{self.src}")

    def expect(self) -> None:
        """Compute the oracle side once (untimed)."""

    def before_op(self, op: int) -> None:
        """Change the inputs before an operation (untimed)."""

    def run_op(self, op: int) -> OpResult:
        raise NotImplementedError

    def check(self, op: int, result: OpResult) -> list[str]:
        raise NotImplementedError

    def layer_counts(self, result: OpResult) -> dict:
        """Per-layer counts read back after a traced op (untimed)."""
        return {}

    def after_op(self) -> None:
        """Reset between operations (untimed)."""

    def close(self) -> None:
        self.con.close()

    def _views(self, tables) -> None:
        for t in tables:
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{self.src}/{t}.parquet')")

    def _steal_sql(self, spec, table: str) -> str:
        """DuckDB text of ``table``'s pipeline under ``spec``."""
        from klepto_spark.config import TableSpec
        from klepto_spark.operators.pipeline import build_table_sql
        cols = [c[0] for c in self.con.execute(f"DESCRIBE {table}").fetchall()]
        return build_table_sql(spec.find_table(table) or TableSpec(name=table),
                               spec=spec, columns=cols)


def _steal_report(report, steal_s: float) -> OpResult:
    done = [t for t in report.tables if not t.skipped]
    sums = sum(t.seconds for t in done)
    return OpResult(
        rows=sum(t.rows or 0 for t in done),
        layer={"engine.tables": len(done),
               "engine.slowest_table_s": max(
                   (t.seconds for t in done), default=0.0),
               "engine.table_s_sum": sums,
               "engine.overlap": sums / steal_s if steal_s else 0.0})


class StealParquet(Workload):
    name = "steal_parquet"

    def expect(self) -> None:
        import klepto_spark as ks
        self.spec = ks.load_spec(text=STEAL_SPEC)
        self.tables = self.source.tables()
        self._views(self.tables)
        self.ignored = {t.name for t in self.spec.tables if t.ignore_data}
        self.want = {t: digest(self.con, self._steal_sql(self.spec, t))
                     for t in self.tables if t not in self.ignored}

    def run_op(self, op: int) -> OpResult:
        from klepto_spark import engine
        t0 = time.perf_counter()
        report = engine.steal(self.spec, self.source,
                              f"parquet://{self.sink}",
                              concurrency=os.cpu_count())
        return _steal_report(report, time.perf_counter() - t0)

    def layer_counts(self, result: OpResult) -> dict:
        files, size = _files(self.sink)
        return {"sinks.files_written": files, "sinks.bytes_written": size}

    def check(self, op: int, result: OpResult) -> list[str]:
        errs = []
        for t in self.tables:
            out = self.sink / f"{t}.parquet"
            if t in self.ignored:
                if out.exists():
                    errs.append(f"{t}: IgnoreData table has output")
                continue
            if not out.exists():
                errs.append(f"{t}: no output")
                continue
            errs += _diff(t, digest(self.con, f"SELECT * FROM "
                                    f"{parquet_dir(out)}"), self.want[t])
        for tspec in self.spec.tables:
            out = self.sink / f"{tspec.name}.parquet"
            for col in tspec.anonymise:
                if not out.exists():
                    continue
                leaked = self.con.execute(
                    f"SELECT count(*) FROM {parquet_dir(out)} "
                    f"WHERE {col}::VARCHAR IN (SELECT {col}::VARCHAR "
                    f"FROM {tspec.name})").fetchone()[0]
                if leaked:
                    errs.append(f"{tspec.name}.{col}: {leaked} source "
                                "values survive anonymisation")
        return errs


class StealSqlText(Workload):
    """Known to fail on the code this benchmark was written against: the
    ``file://`` sink reopens its target with mode ``"w"`` for every table
    (``sinks/writers.py`` ``write_table`` -> ``sinks/sqltext.py``
    ``open_output``), so concurrent tables truncate each other's text."""
    name = "steal_sqltext"
    known_defect = ("file:// sql-text sink reopens the target with mode 'w' "
                    "per table, so a multi-table dump keeps only part of "
                    "the tables' DDL and INSERTs")

    def expect(self) -> None:
        import klepto_spark as ks
        self.spec = ks.load_spec(text=STEAL_SPEC)
        self._views(SQLTEXT_TABLES)
        self.want = {t: self.con.execute(
            f"SELECT count(*) FROM ({self._steal_sql(self.spec, t)})"
        ).fetchone()[0] for t in SQLTEXT_TABLES}
        self.sink.mkdir(parents=True, exist_ok=True)
        self.target = self.sink / "dump.sql"

    def run_op(self, op: int) -> OpResult:
        from klepto_spark import engine
        t0 = time.perf_counter()
        report = engine.steal(self.spec, self.source,
                              f"file://{self.target}",
                              concurrency=os.cpu_count(),
                              only_tables=SQLTEXT_TABLES)
        return _steal_report(report, time.perf_counter() - t0)

    def layer_counts(self, result: OpResult) -> dict:
        text = self.target.read_text() if self.target.exists() else ""
        size = len(text.encode())
        return {"sinks.text_lines": text.count("\n"),
                "sinks.text_bytes": size,
                "sinks.files_written": int(self.target.exists()),
                "sinks.bytes_written": size}

    def check(self, op: int, result: OpResult) -> list[str]:
        text = self.target.read_text() if self.target.exists() else ""
        creates = Counter(re.findall(r'^CREATE TABLE "?(\w+)"?', text, re.M))
        inserts = Counter(re.findall(r'^INSERT INTO "?(\w+)"?', text, re.M))
        errs = []
        for t, rows in self.want.items():
            if creates[t] != 1:
                errs.append(f"{t}: {creates[t]} CREATE TABLE statements")
            if inserts[t] != rows:
                errs.append(f"{t}: {inserts[t]} INSERTs, expected {rows}")
        if errs:
            errs.append("known defect: " + self.known_defect)
        return errs


class CorpusCurate(Workload):
    name = "corpus_curate"

    def expect(self) -> None:
        import __spark_entry__ as entry
        self._views(["documents", "embeddings"])
        oracles = entry.oracle_sql()
        self.want = {}
        for out, q in CORPUS_QUERIES.items():
            if out == "keep_best":
                self.con.register("keep_best_want", keep_best_oracle(
                    self.con, oracles[LSH_PAIRS_QUERY]))
                q_sql = "SELECT * FROM keep_best_want"
            else:
                q_sql = oracles[q]
            self.want[out] = digest(self.con, q_sql)
        self.queries = entry.queries()

    def run_op(self, op: int) -> OpResult:
        from klepto_spark.sinks import writers
        for out, q in CORPUS_QUERIES.items():
            df = self.queries[q](self.spark, str(self.src))
            writers.write_table(df, f"parquet://{self.sink}", out)
        return OpResult(rows=self.scale.n_docs)

    def after_op(self) -> None:
        # the contract queries pin caches in a process-wide list; drop
        # them between operations so each one starts from the same state
        self.spark.catalog.clearCache()

    def check(self, op: int, result: OpResult) -> list[str]:
        errs = []
        for out, want in self.want.items():
            got = digest(self.con,
                         f"SELECT * FROM {parquet_dir(self.sink / (out + '.parquet'))}")
            errs += _diff(out, got, want)
        return errs

    def layer_counts(self, result: OpResult) -> dict:
        """Candidate pairs and kept share, read back after the op."""
        from klepto_spark.operators import dedup
        docs = self.spark.read.parquet(f"{self.src}/documents.parquet")
        files, size = _files(self.sink)
        kept = self.con.execute(
            f"SELECT avg(CASE WHEN is_duplicate THEN 0 ELSE 1 END) FROM "
            f"{parquet_dir(self.sink / 'keep_best.parquet')}").fetchone()[0]
        return {"dedup.candidate_pairs": dedup.minhash_lsh_pairs(docs).count(),
                "dedup.kept_ratio": float(kept),
                "sinks.files_written": files, "sinks.bytes_written": size}


class CdcMerge(Workload):
    name = "cdc_merge"

    def prepare(self) -> None:
        orders = datagen.star_tables(datagen.seeded(self.seed),
                                     self.scale.sf * 2)["orders"]
        self.versions = datagen.VersionedOrders(self.src, orders, self.seed)

    def expect(self) -> None:
        import klepto_spark as ks
        from klepto_spark.incremental import CdcTable
        self.spec = ks.load_spec(text=CDC_SPEC)
        self.tables = {"orders": CdcTable(mark_col="version",
                                          keys=["o_orderkey"],
                                          tombstone="deleted")}
        self.state = self.work / "marks.json"

    def before_op(self, op: int) -> None:
        if op > 0:
            self.versions.next_window()

    def run_op(self, op: int) -> OpResult:
        from klepto_spark import incremental
        t0 = time.perf_counter()
        report = incremental.steal_cdc(
            self.spec, self.source, f"parquet://{self.sink}",
            state_path=str(self.state), tables=self.tables)
        res = _steal_report(report, time.perf_counter() - t0)
        t = report.tables[0]
        res.rows = (t.rows or 0) + t.deleted_rows
        res.layer.update({"incremental.window_rows": t.rows or 0,
                          "incremental.deleted_rows": t.deleted_rows})
        return res

    def layer_counts(self, result: OpResult) -> dict:
        out = self.sink / "orders.parquet"
        rewritten = self.con.execute(
            f"SELECT count(*) FROM {parquet_dir(out)}").fetchone()[0]
        files, size = _files(out)
        return {"sinks.write_amp": (rewritten / result.rows
                                    if result.rows else 0.0),
                "sinks.files_written": files, "sinks.bytes_written": size}

    def check(self, op: int, result: OpResult) -> list[str]:
        from klepto_spark.operators.pipeline import build_table_sql
        latest = self.versions.latest()
        self.con.register("orders", latest)
        want = digest(self.con, build_table_sql(
            self.spec.tables[0], spec=self.spec, columns=latest.column_names))
        got = digest(self.con, "SELECT * FROM "
                     f"{parquet_dir(self.sink / 'orders.parquet')}")
        return _diff("orders", got, want)


WORKLOADS = {w.name: w for w in
             (StealParquet, StealSqlText, CorpusCurate, CdcMerge)}


def reset(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
