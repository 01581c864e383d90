"""File source/sink round-trips + partitioned-write layout checks."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from kaer_spark.sources import read_parquet
from kaer_spark.sources.files import open_table


@pytest.fixture(scope="module")
def small(spark):
    return spark.createDataFrame(
        [(i, f"name{i}", ["a", "b"][i % 2], float(i) / 4) for i in range(40)],
        "id long, name string, grp string, score double",
    )


def test_partitioned_write_layout(spark, small, tmp_path):
    p = str(tmp_path / "pq")
    small.write.partitionBy("grp").parquet(p)
    assert sorted(
        d for d in os.listdir(p) if d.startswith("grp=")
    ) == ["grp=a", "grp=b"]
    back = read_parquet(spark, p)
    assert back.count() == 40
    # partition pruning: only one directory scanned for a partition filter
    from kaer_spark.plans import executed_plan

    plan = executed_plan(back.filter(F.col("grp") == "a"))
    assert "PartitionFilters" in plan and "grp" in plan


def test_lakehouse_formats_gated(spark, tmp_path):
    for fmt in ("delta", "avro"):
        with pytest.raises(NotImplementedError):
            open_table(spark, fmt, str(tmp_path / "nope"))


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed identically on the join key must join without an
    Exchange on either side — the co-located-join layout for 100 TB
    fact-fact joins."""
    from kaer_spark.plans import executed_plan
    from kaer_spark.sources.files import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    try:
        write_bucketed(orders, "b_orders", ["o_orderkey"], 8)
        write_bucketed(li, "b_lineitem", ["l_orderkey"], 8)
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        j = bl.join(
            bo.hint("merge"), bl.l_orderkey == bo.o_orderkey
        ).groupBy("o_orderstatus").count()
        plan = executed_plan(j)
        join_part = plan.split("SortMergeJoin")[-0] if "SortMergeJoin" in plan else plan
        # no shuffle below the join: the only allowed Exchange is the one
        # ABOVE it for the final groupBy
        assert "SortMergeJoin" in plan
        below = plan[plan.index("SortMergeJoin"):]
        assert "Exchange hashpartitioning" not in below
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


# ---------------------------------------------------------------------------
# read_parquet's per-session schema memo
# ---------------------------------------------------------------------------
def _jobs(spark, fn):
    from tests.conftest import jobs_fired

    with jobs_fired(spark) as fired:
        out = fn()
    return out, len(fired)


def test_read_parquet_memo_hits_until_the_listing_changes(spark, tmp_path):
    """A warm read fires no job and returns Spark's own inferred schema
    (partition column included); an overwrite or an append misses and
    re-infers; a glob is never memoised."""
    p = str(tmp_path / "t")
    spark.range(6).withColumn("g", F.col("id") % 2).write.partitionBy("g").parquet(p)
    first, jobs = _jobs(spark, lambda: read_parquet(spark, p))
    assert jobs >= 1
    warm, jobs = _jobs(spark, lambda: read_parquet(spark, p))
    assert jobs == 0
    assert warm.schema == first.schema == spark.read.parquet(p).schema
    assert warm.columns == ["id", "g"]
    assert sorted(map(tuple, warm.collect())) == sorted(map(tuple, first.collect()))

    spark.range(3).select(F.col("id").cast("string").alias("s")).write.mode(
        "overwrite"
    ).parquet(p)
    rewritten, jobs = _jobs(spark, lambda: read_parquet(spark, p))
    assert jobs >= 1 and rewritten.columns == ["s"]

    spark.range(3, 5).select(
        F.col("id").cast("string").alias("s"), F.lit(1.5).alias("x")
    ).write.mode("append").parquet(p)
    merged, jobs = _jobs(spark, lambda: read_parquet(spark, p, merge_schema=True))
    assert jobs >= 1 and merged.columns == ["s", "x"]
    warm, jobs = _jobs(spark, lambda: read_parquet(spark, p, merge_schema=True))
    assert jobs == 0 and warm.schema == merged.schema
    assert warm.filter(F.col("x").isNotNull()).count() == 2

    glob = os.path.join(p, "*.parquet")
    read_parquet(spark, glob)
    _, jobs = _jobs(spark, lambda: read_parquet(spark, glob))
    assert jobs >= 1


def test_has_data_files_follows_sparks_hidden_file_rule(tmp_path):
    """A table holds data when a file has no hidden path component: a
    missing table, a ``_SUCCESS`` marker and a crashed write's
    ``_temporary/`` hold none, a ``_cell=0/`` partition file does."""
    from kaer_spark.sources.files import has_data_files

    t = tmp_path / "t"
    assert not has_data_files(str(t))
    (t / "_temporary" / "0").mkdir(parents=True)
    (t / "_temporary" / "0" / "part-0.parquet").write_bytes(b"x")
    (t / "_SUCCESS").write_bytes(b"")
    (t / ".part-0.parquet.crc").write_bytes(b"x")
    assert not has_data_files(str(t))
    (t / "_cell=0").mkdir()
    (t / "_cell=0" / "part-0.parquet").write_bytes(b"x")
    assert has_data_files(str(t))


def test_read_parquet_hit_rechecks_sparks_own_listing(spark, tmp_path, monkeypatch):
    """A file appended after the memo's listing but before Spark lists the
    path inside ``.parquet(...)`` sends the hit back to inference, so its
    new column is read rather than dropped."""
    from kaer_spark.sources import files

    p = str(tmp_path / "t")
    spark.range(3).write.parquet(p)
    read_parquet(spark, p, merge_schema=True)
    stale = files._listing(os.path.abspath(p))
    spark.range(3, 5).withColumn("x", F.lit(1.5)).write.mode("append").parquet(p)
    monkeypatch.setattr(files, "_listing", lambda root: stale)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, p, merge_schema=True))
    assert jobs >= 1 and df.columns == ["id", "x"]
    assert df.filter(F.col("x").isNotNull()).count() == 2


def test_warm_collection_reads_and_queries_fire_no_jobs(spark, tmp_path):
    """Constructing a warm ``Collection.df()`` and a filtered exact query
    fires no Spark job. A filtered IVF query, full-probe or partial, runs
    its probe at construction (one collect per escalation round) and
    collecting it fires no job."""
    from kaer_spark.context import KaerContext

    coll = KaerContext(spark, str(tmp_path / "kaer")).create_collection("warm")
    coll.insert([f"document {i} about topic {i % 5}" for i in range(40)],
                [{"topic": i % 5} for i in range(40)])
    coll.build_index(cells=4, seed=42)
    flt = {"topic": {"$gte": 0}}

    def exact():
        return coll.query("topic 3", k=3, filter=flt)

    def full_probe():
        return coll.query("topic 3", k=3, filter=flt, approximate=True, nprobe=4)

    def one_probe():
        return coll.query("topic 3", k=1, filter=flt, approximate=True, nprobe=1)

    for build in (coll.df, exact):
        _, jobs = _jobs(spark, build)
        assert jobs == 0, build
    full_probe()  # the first read of the index table infers its schema
    for build in (full_probe, one_probe):
        q, jobs = _jobs(spark, build)
        _, collect_jobs = _jobs(spark, q.collect)
        assert (jobs, collect_jobs) == (1, 0), build


def test_compact_and_delete_rewrites_read_by_catalog(spark, tmp_path):
    """A collection's ``data/`` is read under its catalog schema, not
    through the memo: after a compaction or a delete swaps the directory,
    the first read fires no job and reads the swapped-in rows."""
    from kaer_spark.context import KaerContext
    from kaer_spark.sources import files

    coll = KaerContext(spark, str(tmp_path / "kaer")).create_collection("rewrite")
    for batch in range(3):
        coll.insert([f"doc {batch}-{i}" for i in range(5)],
                    [{"batch": batch} for _ in range(5)])
    ids = sorted(r["_m_id"] for r in coll.df().collect())

    assert coll.compact(target_files=1) == 1
    df, jobs = _jobs(spark, coll.df)
    assert jobs == 0
    assert sorted(r["_m_id"] for r in df.collect()) == ids

    assert coll.delete({"batch": 1}) == 5
    df, jobs = _jobs(spark, coll.df)
    assert jobs == 0
    assert sorted(r["batch"] for r in df.select("batch").distinct().collect()) == [0, 2]
    data = os.path.abspath(coll.data_path)
    assert not [k for k in files._schema_memo if k[0] == data]


_NEW_CONTEXT_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession
from kaer_spark.sources import files

def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.driver.memory", "512m")
            .config("spark.ui.enabled", "false").getOrCreate())

def jobs(spark, fn, n=[0]):
    n[0] += 1
    sc, group = spark.sparkContext, f"memo-{n[0]}"
    sc.setJobGroup(group, group)
    fn()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))

path = sys.argv[1]
spark = session()
spark.range(3).write.parquet(path)
cold = jobs(spark, lambda: files.read_parquet(spark, path))
warm = jobs(spark, lambda: files.read_parquet(spark, path))
spark.stop()
spark = session()
fresh = jobs(spark, lambda: files.read_parquet(spark, path))
print(json.dumps({"cold": cold, "warm": warm, "fresh": fresh,
                  "entries": len(files._schema_memo)}))
spark.stop()
"""


def test_new_spark_context_starts_with_an_empty_memo(tmp_path):
    """The memo belongs to one SparkContext: after a stop and a new
    context, the first read infers again (run in a child process, so the
    suite's session stays up)."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", _NEW_CONTEXT_SCRIPT, str(tmp_path / "t")],
        capture_output=True, text=True, env=env, timeout=300, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got == {"cold": 1, "warm": 0, "fresh": 1, "entries": 1}


def test_engine_reads_parquet_only_through_read_parquet():
    """``kaer_spark/sources/files.py`` is the one place a parquet schema
    read is decided: no other module in the package may call the reader
    or set ``mergeSchema`` itself."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "kaer_spark")
    allowed = os.path.join(pkg, "sources", "files.py")
    offenders = []
    for root, _dirs, names in os.walk(pkg):
        for n in names:
            full = os.path.join(root, n)
            if not n.endswith(".py") or full == allowed:
                continue
            with open(full, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if "read.parquet(" in line or '"mergeSchema"' in line:
                        offenders.append(f"{os.path.relpath(full, pkg)}:{i}")
    assert offenders == []


def test_sidecars_flip_only_through_write_sidecar():
    """``sources.files.write_sidecar`` is the engine's one atomic-flip path for
    a JSON sidecar: no other code in the package may ``json.dump`` or
    ``os.replace`` itself. ``streaming.ingest._fs_write_json`` is exempt —
    it writes through the Hadoop filesystem client, not ``os``."""
    import ast
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "kaer_spark")
    exempt = {
        os.path.join(pkg, "sources", "files.py"): "write_sidecar",
        os.path.join(pkg, "streaming", "ingest.py"): "_fs_write_json",
    }
    pat = re.compile(r"json\.dump\(|os\.replace\(")
    offenders = []
    for root, _dirs, names in os.walk(pkg):
        for n in names:
            full = os.path.join(root, n)
            if not n.endswith(".py"):
                continue
            with open(full, encoding="utf-8") as f:
                src = f.read()
            allowed = set()
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, ast.FunctionDef) and node.name == exempt.get(full):
                    allowed.update(range(node.lineno, node.end_lineno + 1))
            for i, line in enumerate(src.splitlines(), 1):
                if pat.search(line) and i not in allowed:
                    offenders.append(f"{os.path.relpath(full, pkg)}:{i}")
    assert offenders == []


def test_write_sidecar_fsyncs_before_the_flip(tmp_path, monkeypatch):
    """The sidecar flip is durable: the tmp file is fsynced before
    ``os.replace`` renames it over the target, so a power loss cannot
    leave an empty sidecar behind the rename."""
    import json

    from kaer_spark.sources import files

    calls = []
    real_fsync, real_replace = os.fsync, os.replace
    monkeypatch.setattr(
        files.os, "fsync", lambda fd: calls.append("fsync") or real_fsync(fd)
    )
    monkeypatch.setattr(
        files.os, "replace",
        lambda a, b: calls.append("replace") or real_replace(a, b),
    )
    target = str(tmp_path / "idx" / "index.json")
    files.write_sidecar(target, {"max_id": 7})
    assert calls == ["fsync", "replace"]
    assert files.read_sidecar(target) == {"max_id": 7}
    with open(target) as f:
        assert json.load(f) == {"max_id": 7}
    assert os.listdir(tmp_path / "idx") == ["index.json"]
