"""CI-runnable pytest for the graft Python on-ramp (sf0.001).

Covers the reference's Python consumption surface end to end: session
boot + function registry, the ECS toy (spawn/step/query with closed-
form positions), the operator registry (run_query), and the LLM-
pipeline composition (example_curate.curate) — dedup, quality gates,
token budget — cross-checked against plain PySpark recomputation.

Run: scripts/pytest_ci.sh   (or: python3 -m pytest python/ -q)
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from graft import session
    from example_curate import find_classpath
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    s = session(jar=find_classpath(root), app_name="graft-pytest")
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()


def test_registry_is_complete(spark):
    from graft import query_names
    names = query_names(spark)
    assert len(names) >= 301
    for family in ("dedup_", "knn_", "text_", "mm_", "stream_", "src_",
                   "sketch_", "pipeline_", "ecs_"):
        assert any(n.startswith(family) for n in names), family


def test_session_installs_the_local_file_system(spark):
    conf = spark._jsc.hadoopConfiguration()
    assert conf.get("fs.file.impl") == "graft.NioLocalFileSystem"
    assert conf.get("fs.AbstractFileSystem.file.impl") == "graft.NioLocalFs"
    jfs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jvm.java.net.URI.create("file:///"), conf)
    assert jfs.getClass().getName() == "graft.NioLocalFileSystem"


def test_session_settings_come_from_the_jvm_factory(spark):
    # the values Graft.session sets on every oracle-checked JVM session
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        spark.sparkContext.defaultParallelism)
    assert spark.conf.get(spark._jvm.graft.Tables.NanosAsLongKey()) == "true"
    # parquet Timestamp(isAdjustedToUTC=false) reads as timestamp_ntz,
    # in Python as in the JVM
    py_type = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")) \
        .schema["o_orderdate"].dataType.simpleString()
    jvm_type = spark._jvm.graft.Tables.load(
        spark._jsparkSession, SF_DIR, "orders").schema() \
        .apply("o_orderdate").dataType().simpleString()
    assert py_type == jvm_type == "timestamp_ntz"


def test_toy_world_closed_form(spark):
    from graft import Component, World, sql_processor

    class Position(Component):
        x: float
        y: float

    class Velocity(Component):
        vx: float
        vy: float

    world = World.make(spark, simulation="pytest_toy")
    world.add_processor(sql_processor(
        "Movement", [Position, Velocity],
        {"position__x": "position__x + velocity__vx * {dt}",
         "position__y": "position__y + velocity__vy * {dt}"},
        priority=1))
    world.spawn(Position(x=0.0, y=0.0), Velocity(vx=1.0, vy=2.0))
    world.spawn(Position(x=10.0, y=5.0), Velocity(vx=-2.0, vy=0.0))
    for _ in range(5):
        world.step(dt=0.1)
    frames = world.query(Position, Velocity)
    assert len(frames) == 1
    rows = sorted(next(iter(frames.values())).collect(),
                  key=lambda r: r["entity_id"])
    assert len(rows) == 2
    assert abs(rows[0]["position__x"] - 0.5) < 1e-9
    assert abs(rows[0]["position__y"] - 1.0) < 1e-9
    assert abs(rows[1]["position__x"] - 9.0) < 1e-9


def test_run_query_dedup_exact_matches_recompute(spark):
    from graft import run_query
    got = run_query(spark, "dedup_exact", SF_DIR)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    from pyspark.sql import functions as F
    want = (docs.groupBy(F.md5(F.col("text")))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))
    assert got.count() == want.count()
    assert got.agg(F.sum("n_copies")).collect()[0][0] == docs.count()
    # representative ids identical set-wise
    g = {r["keep_id"] for r in got.select("keep_id").collect()}
    w = {r["keep_id"] for r in want.select("keep_id").collect()}
    assert g == w


def test_curate_chain(spark):
    from example_curate import curate
    from pyspark.sql import functions as F
    selected, stages = curate(spark, SF_DIR, token_budget=20000)
    counts = [n for _, n in stages]
    assert counts[0] > 0
    assert counts == sorted(counts, reverse=True), counts
    assert stages[-1][1] > 0, "budget selection kept nothing"
    kept = selected.agg(F.sum("n_words_approx")).collect()[0][0]
    assert kept <= 20000
    # greedy longest-first: every selected doc is at least as long as
    # any gated-but-unselected doc minus the boundary effect of the
    # running budget — check the simple invariant instead: cum_tokens
    # strictly increases with rank and the last one respects the budget
    rows = selected.orderBy("cum_tokens").collect()
    assert all(a["cum_tokens"] < b["cum_tokens"]
               for a, b in zip(rows, rows[1:]))


def test_graft_sql_functions(spark):
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    li.createOrReplaceTempView("li_pytest")
    row = spark.sql("""
        SELECT graft_hll(l_partkey) AS approx,
               count(DISTINCT l_partkey) AS exact
        FROM li_pytest""").collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_step_async_many_worlds(spark):
    """The reference's async-step shape (world.py:23): several sims
    step CONCURRENTLY from Python and land exactly the same state a
    sequential step would."""
    from graft import Component, World, sql_processor

    class Position(Component):
        x: float
        y: float

    class Velocity(Component):
        vx: float
        vy: float

    def make_world(i):
        w = World.make(spark, simulation=f"pytest_async_{i}")
        w.add_processor(sql_processor(
            "Movement", [Position, Velocity],
            {"position__x": "position__x + velocity__vx * {dt}",
             "position__y": "position__y + velocity__vy * {dt}"},
            priority=1))
        w.spawn(Position(x=float(i), y=0.0), Velocity(vx=1.0, vy=-1.0))
        return w

    worlds = [make_world(i) for i in range(3)]
    for _ in range(2):  # two concurrent rounds
        futures = [w.step_async(dt=0.5) for w in worlds]
        for f in futures:
            f.result(timeout=120)
    for i, w in enumerate(worlds):
        assert w.current_step == 2
        rows = next(iter(w.query(Position).values())).collect()
        assert len(rows) == 1
        assert abs(rows[0]["position__x"] - (i + 1.0)) < 1e-9
        assert abs(rows[0]["position__y"] + 1.0) < 1e-9


def test_component_field_validation():
    """Pydantic-style spawn validation (reference components are
    LanceModel/pydantic subclasses): per-field messages, lax coercion
    (int->float, integral float->int, "true"->bool), no Spark needed."""
    from graft import Component, ValidationError

    class Doc(Component):
        doc_id: int
        score: float
        lang: str
        kept: bool
        payload: bytes

    d = Doc(doc_id=3.0, score=2, lang="en", kept="true", payload="raw")
    assert d.doc_id == 3 and isinstance(d.doc_id, int)
    assert d.score == 2.0 and isinstance(d.score, float)
    assert d.kept is True
    assert d.payload == b"raw"

    with pytest.raises(ValidationError) as ei:
        Doc(doc_id="seven", score="high", lang=4, kept="maybe")
    msg = str(ei.value)
    errs = dict(ei.value.errors)
    assert "5 validation errors for Doc" in msg
    assert "valid integer" in errs["doc_id"]
    assert "valid number" in errs["score"]
    assert "valid string" in errs["lang"]
    assert "valid boolean" in errs["kept"]
    assert errs["payload"] == "Field required"

    with pytest.raises(ValidationError) as ei2:
        Doc(doc_id=1, score=0.5, lang="en", kept=True, payload=b"x",
            bogus=1)
    assert dict(ei2.value.errors)["bogus"] == "Unexpected keyword argument"

    # bool must never silently satisfy a numeric field
    with pytest.raises(ValidationError):
        Doc(doc_id=True, score=0.5, lang="en", kept=True, payload=b"x")
    # fractional float must not round into an int field
    with pytest.raises(ValidationError):
        Doc(doc_id=1.5, score=0.5, lang="en", kept=True, payload=b"x")
