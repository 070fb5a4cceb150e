import pytest

from spans import Tracer, group_costs, read_status_store, self_times, subtree_costs


def _stage(sid, status="COMPLETE", tasks=2, run_ms=100, shuffle=10, start=0, end=1000):
    return {"stageId": sid, "attemptId": 0, "status": status, "numCompleteTasks": tasks,
            "executorRunTime": run_ms, "shuffleWriteBytes": shuffle, "diskBytesSpilled": 0,
            "outputBytes": 0, "submissionTime": start, "completionTime": end}


def test_shared_stage_is_charged_once_and_skipped_stages_are_free():
    jobs = [
        {"jobId": 0, "jobGroup": "a", "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "b", "stageIds": [1, 2, 3]},  # 1 reused from job 0
        {"jobId": 2, "jobGroup": None, "stageIds": [4]},
    ]
    stages = {0: _stage(0, start=0, end=1000), 1: _stage(1, start=500, end=2000),
              2: _stage(2, start=3000, end=3500), 3: _stage(3, status="SKIPPED"),
              4: _stage(4)}
    costs = group_costs(jobs, stages)
    assert set(costs) == {"a", "b"}
    assert costs["a"]["stages"] == 2 and costs["a"]["tasks"] == 4
    assert costs["b"]["stages"] == 1 and costs["b"]["shuffle_write_bytes"] == 10
    # overlapping stage intervals count once on the critical path
    assert costs["a"]["critical_s"] == pytest.approx(2.0)
    assert costs["b"]["critical_s"] == pytest.approx(0.5)


def test_subtree_costs_and_self_time():
    spans = [
        {"id": 0, "parent": None, "group": "r.0", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "group": "r.1", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "group": "r.2", "start": 3.0, "end": 6.0},
    ]
    one = {"jobs": 1, "stages": 1, "tasks": 3, "executor_run_s": 1.0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "bytes_written": 0, "critical_s": 0.5}
    sub = subtree_costs(spans, {"r.1": one, "r.2": one})
    assert sub[0]["tasks"] == 6 and sub[1]["tasks"] == 3
    assert self_times(spans)[0] == pytest.approx(5.0)  # children cover 1..6


@pytest.fixture(scope="module")
def spark():
    from isp_trace_parser_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def test_status_store_reader_charges_jobs_to_their_span(spark):
    tracer = Tracer(spark.sparkContext, "t", enabled=True)
    with tracer.span("outer"):
        with tracer.span("inner") as inner:
            spark.range(0, 10000, numPartitions=4).selectExpr("id % 7 AS k") \
                .groupBy("k").count().collect()
        spark.range(100).count()
    jobs, stages = read_status_store(spark.sparkContext)
    costs = group_costs(jobs, stages)
    assert costs[inner["group"]]["jobs"] >= 1
    assert costs[inner["group"]]["tasks"] >= 4  # the 4 map tasks at least
    assert costs[inner["group"]]["shuffle_write_bytes"] > 0
    outer = tracer.spans[0]
    sub = subtree_costs(tracer.spans, costs)
    assert sub[outer["id"]]["tasks"] > costs[inner["group"]]["tasks"]
    # closing the last span clears the job group
    spark.range(10).count()
    jobs, _ = read_status_store(spark.sparkContext)
    assert max(jobs, key=lambda j: j["jobId"]).get("jobGroup") is None
