package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

/** The one fork-join shape the engine uses to overlap independent chains
  * of driver-paced Spark jobs (parallel ingest, panel construction, the
  * curation funnel's construct chains, PQ subspace fits).
  *
  * Results come back in input order. Every arm runs under one Spark job
  * tag shared by the call (tags ride the thread-local properties that
  * pool threads inherit, so jobs an arm starts on nested threads carry it
  * too); job descriptions set by the caller are left as they are. When an
  * arm fails, the call cancels every job still carrying the tag,
  * interrupts the other arms (`shutdownNow`) and rethrows that arm's own
  * exception — a failed call leaves no sibling job running behind it. */
private[graft] object ForkJoin {

  def all[A](spark: SparkSession, parallelism: Int)(arms: Seq[() => A]): Seq[A] = {
    if (arms.isEmpty) return Nil
    val sc = spark.sparkContext
    val tag = s"graft-forkjoin-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(parallelism, arms.size)))
    val done = new ExecutorCompletionService[(Int, A)](pool)
    try {
      arms.zipWithIndex.foreach { case (arm, i) =>
        done.submit { () =>
          sc.addJobTag(tag)
          try (i, arm()) finally sc.removeJobTag(tag)
        }
      }
      val out = new Array[Any](arms.size)
      arms.foreach { _ =>
        val (i, a) =
          try done.take().get()
          catch { case e: ExecutionException =>
            sc.cancelJobsWithTag(tag)
            pool.shutdownNow()
            throw e.getCause
          }
        out(i) = a
      }
      out.toSeq.asInstanceOf[Seq[A]]
    } finally { pool.shutdown(); () }
  }

  /** Two arms of different result types. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](spark, 2)(Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
