"""The benchmark's own tests: generator determinism, the output checks
rejecting broken marts, and the event-log fold on a tiny traced job.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _generate(root: str, seed: int) -> dict[str, bytes]:
    gen.generate_etl(os.path.join(root, "etl"), seed, history=200, loads=3,
                     load_records=100, mix=gen.INCREMENTAL_MIX)
    gen.generate_corpus(os.path.join(root, "corpus"), seed, docs=300,
                        files=4, min_tokens=20, max_tokens=40)
    return _files(root)


def test_generator_same_seed_is_byte_identical(tmp_path):
    a = _generate(str(tmp_path / "a"), 5)
    b = _generate(str(tmp_path / "b"), 5)
    assert a.keys() == b.keys()
    assert [k for k in a if a[k] != b[k]] == []
    assert sum(k.startswith("corpus/part-") for k in a) == 4


def test_generator_different_seed_differs(tmp_path):
    a = _generate(str(tmp_path / "a"), 5)
    c = _generate(str(tmp_path / "c"), 6)
    assert a.keys() == c.keys()
    # Every feed and every corpus file changes with the seed.
    assert [k for k in a if a[k] == c[k]] == []


def test_generator_truth_matches_plan(tmp_path):
    truth = gen.generate_etl(str(tmp_path), 9, history=200, loads=3,
                             load_records=100, mix=gen.INCREMENTAL_MIX)
    for source, per in truth["sources"].items():
        active = per["history"]["active_keys"]
        for t in per["loads"]:
            assert t["records"] == 100
            assert t["insert"] + t["update"] + t["duplicate"] + t["inbatch_dups"] == 100
            assert t["active_keys"] == active + t["insert"]
            active = t["active_keys"]
    corpus = gen.generate_corpus(str(tmp_path / "corpus"), 9, docs=300,
                                 files=4, min_tokens=20, max_tokens=40)
    assert corpus["docs"] == 300
    ids = [d for g in corpus["exact_groups"] for d in g]
    ids += [d for p in corpus["near_pairs"] for d in p]
    assert len(ids) == len(set(ids))


def test_op_time_counts_every_source():
    # One slow path moves the figure even when it is not the middle load.
    loads = [("att", 7.0), ("amazon", 6.0), ("uber", 8.0),
             ("att", 7.2), ("amazon", 6.2), ("uber", 8.4)]
    ops = [{"source": s, "wall_s": w} for s, w in loads]
    assert run.op_p50_s(ops) == pytest.approx(7.1 + 6.1 + 8.2)
    slow = [dict(o, wall_s=o["wall_s"] * 1.5) if o["source"] == "uber" else o
            for o in ops]
    assert run.op_p50_s(slow) == pytest.approx(7.1 + 6.1 + 8.2 * 1.5)
    passes = [{"source": "corpus", "wall_s": w} for w in (6.0, 5.0, 9.0)]
    assert run.op_p50_s(passes) == 6.0


# --- Spark-backed tests -------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.eventLog.enabled", "true")
         .config("spark.eventLog.dir", "file://" + log_dir)
         .config("spark.eventLog.compress", "false")
         .config("spark.eventLog.rolling.enabled", "false")
         .getOrCreate())
    s.log_dir = log_dir
    yield s
    s.stop()


T0, T1 = gen.run_ts(0), gen.run_ts(1)
OPEN = "2099-12-31 00:00:00"
LOADS = [(T0, {"insert": 3, "update": 0, "invalid_fresh": 1, "active_keys": 3}),
         (T1, {"insert": 1, "update": 1, "invalid_fresh": 0, "active_keys": 4})]
GOOD = [("a", 0, 1, T0, T1), ("a", 1, 1, T1, OPEN), ("b", 1, 0, T0, OPEN),
        ("c", 1, 1, T0, OPEN), ("d", 1, 1, T1, OPEN)]


def _mart(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "SOURCE_SYSTEM_IDENTIFIER string, ACTIVE_FLAG int, "
              "IS_VALID_DATA int, START_DATE string, END_DATE string")
    return (df.withColumn("START_DATE", F.col("START_DATE").cast("timestamp"))
              .withColumn("END_DATE", F.col("END_DATE").cast("timestamp")))


def _failed(spark, rows) -> set[str]:
    from etl import check_mart

    checks, _fresh = check_mart(_mart(spark, rows), LOADS, "t")
    return {name for name, ok, _ in checks if not ok}


def test_checks_pass_on_a_correct_mart(spark):
    assert _failed(spark, GOOD) == set()


def test_checks_reject_duplicated_active_row(spark):
    failed = _failed(spark, GOOD + [("c", 1, 1, T0, OPEN)])
    assert "t.one_active_per_key" in failed
    assert "t.active_rows" in failed


def test_checks_reject_missing_expiry(spark):
    # Key a's first version was never expired: still active, open-ended.
    rows = [("a", 1, 1, T0, OPEN)] + GOOD[1:]
    failed = _failed(spark, rows)
    assert {"t.one_active_per_key", f"t.expired@{T1}", "t.expiry_chain"} <= failed


def test_event_log_fold_schema(spark):
    from pyspark.sql import functions as F

    tracer = tracing.Tracer(spark, "test", enabled=True)
    with tracer.span("outer"):
        with tracer.span("inner"):
            spark.range(1000).repartition(2).groupBy((F.col("id") % 7)).count().collect()
        spark.range(10).count()
    outer, inner = tracer.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.jobs >= 1 and inner.tasks >= 2 and outer.jobs >= 1
    assert inner.probe_s > 0 and outer.probe_s > 0
    # Stop the session so the event log is complete, then fold it.
    app_id = spark.sparkContext.applicationId
    spark.stop()
    folded = tracing.fold_event_log(os.path.join(spark.log_dir, app_id),
                                    tracer.spans)
    assert set(folded) == {outer.group, inner.group}
    for counters in folded.values():
        assert list(counters) == tracing.FOLD_KEYS
    f = folded[inner.group]
    assert f["jobs"] == inner.jobs
    assert f["tasks"] >= inner.tasks
    assert f["shuffle_write_bytes"] > 0 and f["shuffle_read_bytes"] > 0
    assert f["executor_run_s"] >= 0 and f["peak_exec_mem_bytes"] >= 0


def test_per_layer_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = report.metric_units()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == units
    assert len(units) < 128
    for name in units:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
