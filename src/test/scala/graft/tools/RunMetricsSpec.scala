package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec

/** The collector's per-group totals are exact as soon as the action
  * returns (no sleep: reads drain the listener bus) and are not
  * polluted by jobs other threads run in other groups meanwhile.
  */
class RunMetricsSpec extends SparkSpec {

  test("a job group's totals are exact and exclude a concurrent group") {
    val sc = spark.sparkContext
    val metrics = RunMetrics.of(sc)
    assert(RunMetrics.of(sc) eq metrics, "one collector per context")
    val mine = s"runmetrics-mine-${System.nanoTime()}"
    val other = s"runmetrics-other-${System.nanoTime()}"
    RunMetricsSpec.release = new CountDownLatch(1)
    RunMetricsSpec.started = new CountDownLatch(2)

    // the other group's map tasks block until this thread's jobs are
    // done, so both groups' jobs are in flight at the same time
    val otherThread = new Thread(() => RunMetrics.inGroup(sc, other) {
      sc.parallelize(1 to 1000, 2).mapPartitions { it =>
        RunMetricsSpec.started.countDown()
        RunMetricsSpec.release.await(60, TimeUnit.SECONDS)
        it.map(i => (i % 7, 1L))
      }.reduceByKey(_ + _).collect()
    })
    otherThread.start()
    try {
      assert(RunMetricsSpec.started.await(60, TimeUnit.SECONDS))
      RunMetrics.inGroup(sc, mine) {
        (1 to 3).foreach(_ => sc.parallelize(1 to 100, 2).map(_ * 2).count())
      }
      val m = metrics.group(mine)
      assert(m.jobs == 3)
      assert(m.stages == 3)
      assert(m.tasks == 6)
      assert(m.shuffleWriteBytes == 0L && m.shuffleReadBytes == 0L)
      assert(metrics.group(other).jobs == 1, "the other group's job has started")
    } finally {
      RunMetricsSpec.release.countDown()
      otherThread.join()
    }
    val o = metrics.group(other)
    assert(o.jobs == 1)
    assert(o.stages == 2)
    assert(o.shuffleWriteBytes > 0L && o.shuffleReadBytes > 0L)
    assert(metrics.group(mine).jobs == 3, "the other group's job is not counted as mine")
  }

  test("overall totals cover every group") {
    val metrics = RunMetrics.of(spark.sparkContext)
    val before = metrics.overall()
    val g = s"runmetrics-overall-${System.nanoTime()}"
    RunMetrics.inGroup(spark.sparkContext, g)(spark.range(1000).groupBy().count().collect())
    val after = metrics.overall()
    val m = metrics.group(g)
    assert(m.jobs >= 1 && after.jobs - before.jobs >= m.jobs)
    assert(after.tasks - before.tasks >= m.tasks)
    assert(m.p50TaskMs >= 0 && m.maxTaskMs >= m.p50TaskMs)
  }
}

object RunMetricsSpec {
  @volatile var release = new CountDownLatch(0)
  @volatile var started = new CountDownLatch(0)
}
