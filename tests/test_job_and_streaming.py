"""Job-spec runner (sources -> transformers -> sinks) + streaming replay."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datax_3_0_0_src_spark.cdc.gen import EventGenConfig, write_event_log
from datax_3_0_0_src_spark.cdc.oracle import expected_pages
from datax_3_0_0_src_spark.config import JobSpec, run_job
from datax_3_0_0_src_spark.lake.table import LakeTable
from datax_3_0_0_src_spark.sources import read_source
from datax_3_0_0_src_spark.streaming.stream_replay import StreamReplayer

SF = "/root/testdata/sf0.001"


def test_job_parquet_to_csv_with_transformers(spark, tmp_path):
    out = str(tmp_path / "out_csv")
    run_job(spark, {
        "job": {
            "setting": {"speed": {"channel": 2}},
            "content": [{
                "reader": {"name": "parquet",
                           "parameter": {"path": f"{SF}/part.parquet",
                                         "column": ["p_partkey", "p_name", "p_size"]}},
                "transformer": [
                    {"name": "dx_substr",
                     "parameter": {"columnName": "p_name", "paras": [0, 6]}},
                    {"name": "dx_filter",
                     "parameter": {"columnName": "p_size", "paras": ["<", 10]}},
                ],
                "writer": {"name": "csv",
                           "parameter": {"path": out, "writeMode": "truncate",
                                         "header": True}},
            }],
        }
    })
    back = spark.read.csv(out, header=True)
    rows = back.collect()
    assert all(len(r["p_name"]) <= 6 for r in rows)
    assert all(int(r["p_size"]) >= 10 for r in rows)  # dx_filter DROPS matches


def test_write_modes_nonconflict_truncate(spark, tmp_path):
    df = spark.range(5).select(F.col("id"))
    p = str(tmp_path / "t")
    run_job(spark, {"reader": {"name": "parquet", "parameter": {"path": f"{SF}/region.parquet"}},
                    "writer": {"name": "parquet", "parameter": {"path": p, "writeMode": "nonConflict"}}})
    with pytest.raises(Exception, match="already exists|ErrorIfExists|path"):
        run_job(spark, {"reader": {"name": "parquet", "parameter": {"path": f"{SF}/region.parquet"}},
                        "writer": {"name": "parquet", "parameter": {"path": p, "writeMode": "nonConflict"}}})
    run_job(spark, {"reader": {"name": "parquet", "parameter": {"path": f"{SF}/region.parquet"}},
                    "writer": {"name": "parquet", "parameter": {"path": p, "writeMode": "truncate"}}})
    assert spark.read.parquet(p).count() == 5


def test_eventlog_reader_epoch_pruning(spark, tmp_path):
    cfg = EventGenConfig(seed=11, n_events=2_000, events_per_epoch=500)
    log = str(tmp_path / "wal")
    write_event_log(spark, cfg, log, slices=2)
    df = read_source(spark, {"name": "eventlog",
                             "parameter": {"path": log, "epochs": [1, 2]}})
    offs = df.agg(F.min("log_offset"), F.max("log_offset")).collect()[0]
    assert offs[0] == 500 and offs[1] == 1499
    rng = read_source(spark, {"name": "eventlog",
                              "parameter": {"path": log, "startEpoch": 0,
                                            "endEpoch": 0,
                                            "offsetRange": [100, 200]}})
    assert rng.count() == 100


def test_synthetic_reader_matches_gen(spark):
    df = read_source(spark, {"name": "synthetic",
                             "parameter": {"seed": 42, "nEvents": 1000,
                                           "eventsPerEpoch": 100, "slices": 4}})
    assert df.count() == 1000
    assert df.filter(F.col("op") == "D").count() > 0


def test_lake_writer_merge_mode(spark, tmp_path):
    p = str(tmp_path / "lake")
    ev = read_source(spark, {"name": "synthetic",
                             "parameter": {"seed": 5, "nEvents": 500,
                                           "eventsPerEpoch": 500, "slices": 2}})
    from datax_3_0_0_src_spark.cdc.dedup import dedup_lww
    from datax_3_0_0_src_spark.cdc.quarantine import split_quarantine
    clean, _ = split_quarantine(ev)
    stats = run_job(spark, {
        "reader": {"name": "synthetic",
                   "parameter": {"seed": 5, "nEvents": 1, "eventsPerEpoch": 1}},
        "writer": {"name": "lake",
                   "parameter": {"path": p, "key": "url", "tsCol": "warc_ts",
                                 "schema": None}},
    })
    assert stats.version == 2  # the delta commit (v1), then its fold (v2)
    t = LakeTable.load(spark, p)
    assert t.read().count() == 1


def test_streaming_replay_matches_oracle(spark, tmp_path):
    gcfg = EventGenConfig(seed=42, n_events=2_000, events_per_epoch=500)
    log = str(tmp_path / "wal")
    write_event_log(spark, gcfg, log, slices=2)
    from pyspark.sql.types import StructType
    from datax_3_0_0_src_spark.cdc.replayer import PAGES_DDL
    table = LakeTable.create(
        spark, str(tmp_path / "pages"), StructType.fromDDL(PAGES_DDL),
        key="url", ts_col="warc_ts", num_buckets=8,
    )
    sr = StreamReplayer(spark, log_dir=log, table=table,
                        work_dir=str(tmp_path / "work"))
    q = sr.start(trigger_once=True)
    q.awaitTermination(300)
    got = table.read().orderBy("url").toPandas()
    exp = expected_pages(gcfg)
    assert list(got["url"]) == list(exp["url"])
    assert list(got["text"]) == list(exp["text"])


def test_cdc_job_spec_end_to_end(spark, tmp_path):
    """One DataX-shaped job JSON == one full CDC sync: eventlog reader ->
    rate-capped micro-batches -> lake MERGE; resume-safe; error limits wired."""
    from datax_3_0_0_src_spark.config import run_cdc_job

    gcfg = EventGenConfig(seed=42, n_events=2_000, events_per_epoch=1_000)
    log = str(tmp_path / "wal")
    write_event_log(spark, gcfg, log, slices=2)
    hooks = []
    job = {
        "job": {
            "setting": {"speed": {"record": 600},
                        "errorLimit": {"percentage": 0.05}},
            "content": [{
                "reader": {"name": "eventlog", "parameter": {"path": log}},
                "writer": {"name": "lake",
                           "parameter": {"path": str(tmp_path / "pages"),
                                         "workDir": str(tmp_path / "work"),
                                         "numBuckets": 4,
                                         "password": "s3cret"}},
            }],
        }
    }
    results = run_cdc_job(spark, job, hooks=[lambda conf, s: hooks.append((conf, s))])
    assert len(results) == 4  # 2 epochs x ceil(1000/600) sub-batches
    assert max(r.events_read for r in results) <= 600
    t = LakeTable.load(spark, str(tmp_path / "pages"))
    got = t.read().orderBy("url").toPandas()
    exp = expected_pages(gcfg)
    assert list(got["url"]) == list(exp["url"])
    assert list(got["text"]) == list(exp["text"])
    # hook got masked conf + totals
    assert hooks[0][0]["writer"]["parameter"]["password"] == "*****"
    assert hooks[0][1]["events_read"] == 2_000
    # re-running the same job JSON is a no-op (exactly-once resume)
    assert run_cdc_job(spark, job) == []
    # a job asking for a removed merge/lineage mode fails loudly, by key
    import copy

    for k, v in (("mergeMode", "cow"), ("lineageLevel", "bucket")):
        bad = copy.deepcopy(job)
        bad["job"]["content"][0]["writer"]["parameter"][k] = v
        with pytest.raises(ValueError, match=k):
            run_cdc_job(spark, bad)


def test_cli_main_runs_cdc_job(spark, tmp_path):
    """Engine.main parity: `-m datax_3_0_0_src_spark -job job.json` executes a
    CDC job document end-to-end (in-process main(); the SparkSession is
    reused via getOrCreate)."""
    import json as _json

    from datax_3_0_0_src_spark.__main__ import main

    gcfg = EventGenConfig(seed=13, n_events=1_000, events_per_epoch=500)
    log = str(tmp_path / "wal")
    write_event_log(spark, gcfg, log, slices=2)
    job = {
        "job": {"setting": {}, "content": [{
            "reader": {"name": "eventlog", "parameter": {"path": log}},
            "writer": {"name": "lake",
                       "parameter": {"path": str(tmp_path / "pages"),
                                     "workDir": str(tmp_path / "work"),
                                     "numBuckets": 4}},
        }]}
    }
    jpath = tmp_path / "job.json"
    jpath.write_text(_json.dumps(job))
    assert main(["-job", str(jpath)]) == 0
    t = LakeTable.load(spark, str(tmp_path / "pages"))
    assert t.read().count() > 0
