from perfbench import layers
from perfbench.run import summary, tail


def test_job_counter_counts_known_jobs(spark):
    sc = spark.sparkContext
    jc = layers.JobCounter(sc)
    sc.parallelize(range(4), 2).count()  # settle any start-up jobs
    before_job, before_stage = jc.last_job_id(), jc.last_stage_id()
    for _ in range(5):
        sc.parallelize(range(4), 2).count()  # one job, one stage, two tasks
    assert jc.last_job_id() - before_job == 5
    stages = jc.stages_after(before_stage)
    assert len(stages) == 5
    window = layers.spark_window(stages, 5, wall_s=1.0, cores=2)
    assert window["tasks"] == 10 and window["failed_tasks"] == 0


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 31))
    value, label = tail(xs)
    assert label == "p66" and sum(x > value for x in xs) >= 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, "p100")


def test_summary_quartiles():
    s = summary([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["n"] == 5 and s["median"] == 3.0 and s["q1"] < 3.0 < s["q3"]
