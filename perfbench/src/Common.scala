package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** What a workload's measured phase produced: per-unit latencies, the work
  * count behind the throughput figure, per-layer extras, and the output
  * checks. A workload that throws ends the run without a result. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val latMs = ArrayBuffer.empty[Double]
  var items = 0.0
  var busyS = 0.0
  /** Units of work the per-layer totals are divided by (default: the timed
    * units) and the store rows those units changed (new + updated). */
  var units = -1
  var changedRows = 0L
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var reported = 0

  /** Record one operation's output check. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (reported < 20) { System.err.println(s"[perfbench] check failed: $what"); reported += 1 }
    }
  }
}

/** One benchmark workload: `setup` generates its inputs from the seed into a
  * fresh directory (and loads whatever state the measured phase starts
  * from); `run` drives the program for the given seconds; `verify` checks
  * the final state against the generator. */
trait Workload {
  def setup(dir: Path): Unit
  def run(seconds: Double, t: Tracer, o: Outcome): Unit
  def verify(o: Outcome): Unit
  /** Forced per-layer probes that only the traced run makes. */
  def probe(t: Tracer, o: Outcome): Unit = ()
}

object Common {
  /** Median of a sample (0 when empty). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Columns `from`.. of `r` hold `want`, none of them null. */
  def rowMatches(r: org.apache.spark.sql.Row, from: Int, want: Array[Double]): Boolean =
    want.indices.forall(i => !r.isNullAt(from + i) &&
      close(r.getAs[Number](from + i).doubleValue, want(i)))

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** Bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try {
      var total = 0L
      s.forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
      total
    } finally s.close()
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }

  /** Heap still in use after full collections: what the program holds on
    * to once its work is done (cached frames, checkpoints, listeners).
    * Weakly held Spark state (broadcasts, shuffles, a stopped query's
    * state) is released by cleaner threads only after a collection has
    * found it, so this collects three times and keeps the least. */
  def retainedHeapMb: Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Peak resident set of this process, from /proc (0 where unavailable). */
  def peakRssMb: Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else scala.io.Source.fromFile(f.toFile).getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
  }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** Run independent tasks on `n` threads, failing on the first error. */
  def parallel(n: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
      fs.foreach(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }
}
