"""FileCatalog schema memo and the parquet_loader handle memo: a table
whose files are unchanged resolves without a schema-inference Spark job,
and any change to its files is seen on the next load."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from klepto_spark.config import FilterSpec, Relationship, Spec, TableSpec
from klepto_spark.engine import steal
from klepto_spark.operators.pipeline import parquet_loader
from klepto_spark.sources.catalog import FileCatalog, file_signature

GROUP = "catalog-memo-probe"


def _grouped(spark, fn):
    """``fn`` with this thread's Spark jobs tagged ``GROUP``."""
    sc = spark.sparkContext

    def run(*args, **kwargs):
        sc.setLocalProperty("spark.jobGroup.id", GROUP)
        try:
            return fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return run


def _group_jobs(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(GROUP))


def _jobs_during(spark, fn):
    """(result of fn(), Spark jobs fn started on this thread)."""
    before = _group_jobs(spark)
    out = _grouped(spark, fn)()
    return out, _group_jobs(spark) - before


@pytest.fixture
def src(tmp_path):
    pq.write_table(pa.table({"id": [1, 2, 3], "v": ["x", "y", "z"]}),
                   tmp_path / "a.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), tmp_path / "b.parquet")
    return tmp_path


def test_second_load_of_unchanged_table_starts_no_job(spark, src):
    cat = FileCatalog(spark, str(src))
    first, cold_jobs = _jobs_during(spark, lambda: cat.load("a"))
    second, warm_jobs = _jobs_during(spark, lambda: cat.load("a"))
    assert cold_jobs >= 1  # inference ran on the miss
    assert warm_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_structure_on_warm_catalog_starts_no_job(spark, src):
    cat = FileCatalog(spark, str(src))
    cold, cold_jobs = _jobs_during(spark, cat.structure)
    warm, warm_jobs = _jobs_during(spark, cat.structure)
    assert cold_jobs >= 2  # one inference per table
    assert warm_jobs == 0
    assert warm == cold


def test_appended_file_invalidates_directory_table(spark, tmp_path):
    root = tmp_path / "t.parquet"
    spark.range(5).write.parquet(str(root))
    cat = FileCatalog(spark, str(tmp_path))
    assert cat.load("t").count() == 5
    sig = file_signature(root)
    spark.range(5, 8).write.mode("append").parquet(str(root))
    assert file_signature(root) != sig
    df, jobs = _jobs_during(spark, lambda: cat.load("t"))
    assert jobs >= 1  # the changed listing missed the memo
    assert sorted(r.id for r in df.collect()) == list(range(8))


def test_rewritten_single_file_with_new_schema(spark, src):
    cat = FileCatalog(spark, str(src))
    assert cat.load("b").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2, 3], "note": ["p", "q", "r"]}),
                   src / "b.parquet")
    df = cat.load("b")
    assert df.columns == ["k", "note"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "p"), (2, "q"), (3, "r")]


def test_columns_follow_a_rewritten_table(spark, src):
    cat = FileCatalog(spark, str(src))
    assert cat.columns("a") == ["id", "v"]
    pq.write_table(pa.table({"id": [1], "v": ["x"], "added": [True]}),
                   src / "a.parquet")
    assert cat.columns("a") == ["id", "v", "added"]


def test_nanos_timestamp_table_same_on_hit_as_cold(spark, tmp_path):
    """INT64 TIMESTAMP(NANOS) reads as a long under nanosAsLong; a memo
    hit passes that long schema back to the reader and must normalise to
    the same timestamps as the inferring load."""
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_001, None]
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                             "ts": pa.array(ns, pa.timestamp("ns"))}),
                   tmp_path / "events.parquet")
    cat = FileCatalog(spark, str(tmp_path))
    cold = cat.load("events")
    hit, jobs = _jobs_during(spark, lambda: cat.load("events"))
    assert jobs == 0
    assert cold.schema["ts"].dataType.simpleString() == "timestamp"
    assert hit.schema == cold.schema
    assert sorted(hit.collect(), key=lambda r: r.id) == \
        sorted(cold.collect(), key=lambda r: r.id)


def test_second_steal_over_same_catalog_infers_nothing(spark, src, tmp_path):
    cat = FileCatalog(spark, str(src))
    cat.load = _grouped(spark, cat.load)  # tag every load's jobs
    spec = Spec(tables=[TableSpec(
        name="a", filter=FilterSpec(match="b.k > 1"),
        relationships=[Relationship(referenced_table="b",
                                    referenced_key="k",
                                    foreign_key="id")])])
    sink = f"parquet://{tmp_path / 'out'}"
    before = _group_jobs(spark)
    first = steal(spec, cat, sink, concurrency=2)
    cold_jobs = _group_jobs(spark) - before
    second = steal(spec, cat, sink, concurrency=2)
    warm_jobs = _group_jobs(spark) - before - cold_jobs
    assert cold_jobs >= 2  # structure pass inferred each table once
    assert warm_jobs == 0
    assert first.structure_sql == second.structure_sql
    assert dict((t.table, t.rows) for t in first.tables) == {"a": 1, "b": 2}
    assert ([(t.table, t.rows) for t in first.tables]
            == [(t.table, t.rows) for t in second.tables])


def test_parquet_loader_serves_rewritten_file(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"x": [1, 2]}), tmp_path / "t.parquet")
    load = parquet_loader(spark, d)
    assert sorted(r.x for r in load("t").collect()) == [1, 2]
    assert load("t") is load("t")  # unchanged file: memoised handle
    pq.write_table(pa.table({"x": [3, 4, 5], "y": ["p", "q", "r"]}),
                   tmp_path / "t.parquet")
    df = load("t")
    assert df.columns == ["x", "y"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (3, "p"), (4, "q"), (5, "r")]


def test_file_signature_shapes(tmp_path):
    assert file_signature(tmp_path / "missing") is None
    f = tmp_path / "one.bin"
    f.write_bytes(b"abc")
    st = os.stat(f)
    assert file_signature(f) == (3, st.st_mtime_ns)
    d = tmp_path / "dir"
    (d / "k=1").mkdir(parents=True)
    (d / "k=1" / "p0").write_bytes(b"x")
    (d / "_SUCCESS").write_bytes(b"")
    rels = [e[0] for e in file_signature(d)]
    assert rels == sorted(["_SUCCESS", os.path.join("k=1", "p0")])
