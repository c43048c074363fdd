package graft

import org.apache.spark.TaskContext

/** The shared fork-join helper: results in input order, and a failing arm
  * takes its siblings' Spark jobs down with it instead of leaving them
  * running behind the rethrown exception. */
class ForkJoinSpec extends SparkSuite {

  test("results come back in input order") {
    val out = ForkJoin.all(spark, 3)((1 to 8).map { i => () =>
      Thread.sleep((8 - i) * 10L)
      spark.range(i).count()
    })
    assert(out == (1 to 8).map(_.toLong))
    assert(ForkJoin.both(spark)("a", 2) == (("a", 2)))
  }

  test("a failing arm cancels the sibling's Spark job and rethrows its own exception") {
    val sc = spark.sparkContext
    val slowMs = 60000L
    val boom = new IllegalStateException("boom")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      ForkJoin.all(spark, 2)(Seq(
        () => sc.parallelize(1 to 2, 2).map { x =>
          // cooperative: a killed task sees its context interrupted
          val ctx = TaskContext.get()
          val end = System.currentTimeMillis() + slowMs
          while (!ctx.isInterrupted() && System.currentTimeMillis() < end) Thread.sleep(20)
          x
        }.count(),
        () => {
          val until = System.currentTimeMillis() + 30000
          while (sc.statusTracker.getActiveJobIds.isEmpty &&
            System.currentTimeMillis() < until) Thread.sleep(20)
          throw boom
        }))
    }
    assert(thrown eq boom)
    val until = System.currentTimeMillis() + 10000
    while (sc.statusTracker.getActiveJobIds.nonEmpty &&
      System.currentTimeMillis() < until) Thread.sleep(20)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert((System.nanoTime() - t0) / 1000000L < slowMs / 2)
  }
}
