package perfbench

import graft.config.Registry
import graft.store.TableStore
import graft.streaming.StreamIngest
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Streaming upsert into one large year-partitioned keyed series, fed open
  * loop: a generator thread drops one micro-batch file every `PeriodMs`
  * whatever the stream is doing, and each batch's latency runs from the
  * moment it was due to the moment its micro-batch committed. */
final class StreamUpsert(spark: SparkSession, seed: Long, runSeconds: Double) extends Workload {
  val FirstYear = 2001
  val FullYears = 24          // 2001..2024, KeysPerYear keys each
  val KeysPerYear = 42000
  val CurrentYear = FirstYear + FullYears
  val CurrentInitial = 6000   // keys already in the current year
  val BatchNew = 6000         // new current-year keys per batch
  val BatchUpdates = 2000     // revised current-year keys per batch
  val BatchLate = 1000        // late revisions, spread over LateYears past years
  val LateYears = 2
  val PeriodMs = 3500L
  /** Batches staged in set-up: the untimed first one, one per period of
    * the measured phase, and one spare. */
  val Horizon = math.ceil(runSeconds * 1000 / PeriodMs).toInt + 2
  val BatchRows = BatchNew + BatchUpdates + BatchLate
  val Table = "observations"

  private val s = Math.floorMod(seed, 1000003L)
  def base(y: Int, i: Int): Long = (i * 7919L + y * 104729L + s * 1299709L) % 100003L
  def key(y: Int, i: Int): String = f"$y%04d-$i%07d"

  private var dir: Path = _
  private var store: TableStore = _
  /** Per-year (count, sum of values, sum of key-index * value) after each
    * staged batch (index 0 = the initial table), and the revision count. */
  private val expect = mutable.ArrayBuffer.empty[Array[(Long, Long, Long)]]
  private val revisionsAfter = mutable.ArrayBuffer.empty[Long]
  private var dropped = 0

  def setup(d: Path): Unit = {
    dir = d
    store = new TableStore(spark, d.resolve("store").toString)
    expect.clear(); revisionsAfter.clear(); dropped = 0
    val years = FullYears + 1
    val agg = Array.tabulate(years) { yi =>
      val y = FirstYear + yi
      val n = if (y == CurrentYear) CurrentInitial else KeysPerYear
      var sv, siv = 0L
      (0 until n).foreach { i => val v = base(y, i); sv += v; siv += i * v }
      (n.toLong, sv, siv)
    }
    expect += agg.clone(); revisionsAfter += 0L
    // the initial table, laid out by year the way the partitioned merge
    // reads and writes it
    val g = col("id")
    val y = (lit(FirstYear) + (g / KeysPerYear).cast("int")).cast("int")
    val i = (g % KeysPerYear).cast("int")
    val v = ((i.cast("long") * 7919L + y.cast("long") * 104729L + lit(s * 1299709L)) % 100003L)
    val initial = spark.range(0L, FullYears.toLong * KeysPerYear + CurrentInitial)
      .select(concat(y.cast("string"), lit("-"), lpad(i.cast("string"), 7, "0")).as("date"),
        v.cast("double").as("value"), y.as("__year"))
    store.overwrite(Table, initial.repartition(col("__year")), partitionBy = Seq("__year"))

    val rng = new scala.util.Random(seed)
    val overrides = mutable.HashMap.empty[(Int, Int), Long]
    def value(y: Int, i: Int): Long = overrides.getOrElse((y, i), base(y, i))
    var cur = CurrentInitial
    var revs = 0L
    val staging = d.resolve("staging")
    Files.createDirectories(staging)
    (1 to Horizon).foreach { b =>
      val lines = new StringBuilder
      def emit(y: Int, i: Int, v: Long): Unit =
        lines.append(s"""{"date":"${key(y, i)}","value":$v.0}""").append('\n')
      def update(y: Int, i: Int): Unit = {
        val old = value(y, i)
        val nv = old + 1 + rng.nextInt(1000)
        overrides((y, i)) = nv
        val yi = y - FirstYear
        val (n, sv, siv) = agg(yi)
        agg(yi) = (n, sv + nv - old, siv + i * (nv - old))
        emit(y, i, nv)
      }
      val before = cur
      (cur until cur + BatchNew).foreach { i =>
        val v = base(CurrentYear, i); emit(CurrentYear, i, v)
        val yi = CurrentYear - FirstYear
        val (n, sv, siv) = agg(yi)
        agg(yi) = (n + 1, sv + v, siv + i * v)
      }
      cur += BatchNew
      def distinct(n: Int, below: Int): Iterable[Int] = {
        val picked = mutable.LinkedHashSet.empty[Int]
        while (picked.size < n) picked += rng.nextInt(below)
        picked
      }
      distinct(BatchUpdates, before).foreach(i => update(CurrentYear, i))
      distinct(LateYears, FullYears).foreach(yi =>
        distinct(BatchLate / LateYears, KeysPerYear).foreach(i => update(FirstYear + yi, i)))
      revs += BatchUpdates + BatchLate
      expect += agg.clone(); revisionsAfter += revs
      Common.write(staging.resolve(f"batch-$b%04d.json"), lines.toString)
    }
  }

  def run(seconds: Double, t: Tracer, o: Outcome): Unit = {
    val in = dir.resolve("in")
    Files.createDirectories(in)
    val schema = StructType(Seq(StructField("date", StringType), StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(in.toString)
    val q = StreamIngest.ingestPartitioned(stream, store, Table, "value",
      dir.resolve("checkpoint").toString, () => new Timestamp(System.currentTimeMillis()),
      Trigger.ProcessingTime("50 milliseconds"))
    def committed = q.recentProgress.count(_.numInputRows > 0)
    def drop(b: Int): Unit = Files.move(dir.resolve("staging").resolve(f"batch-$b%04d.json"),
      in.resolve(f"batch-$b%04d.json"), StandardCopyOption.ATOMIC_MOVE)
    def awaitCommitted(n: Int): Unit = {
      val until = System.currentTimeMillis() + 120000
      while (committed < n && q.exception.isEmpty && System.currentTimeMillis() < until)
        Thread.sleep(20)
    }
    val startNs = System.nanoTime()
    // batch 1 pays the query's start-up and is not timed
    drop(1)
    awaitCommitted(1)
    val due = mutable.ArrayBuffer.empty[Long]
    val deadlineNs = Common.deadline(seconds)
    val feeder = new Thread(() => {
      var b = 2
      var next = System.currentTimeMillis() + 200
      while (b <= Horizon && System.nanoTime() + (next - System.currentTimeMillis()) * 1000000L < deadlineNs) {
        val wait = next - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        drop(b)
        due.synchronized(due += next)
        b += 1
        next += PeriodMs
      }
    }, "perfbench-feeder")
    feeder.start()
    feeder.join()
    dropped = due.size + 1
    awaitCommitted(dropped)
    val progress = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    q.stop()
    if (t.on) t.spans.synchronized(t.spans += Span(-1, 0, 0, "window", startNs, System.nanoTime()))
    q.exception.foreach(e => o.op(false, s"stream failed: $e"))
    progress.zipWithIndex.foreach { case (p, k) =>
      o.op(p.numInputRows == BatchRows, s"batch ${k + 1} read ${p.numInputRows} rows, expected $BatchRows")
    }
    if (progress.length < dropped) o.op(false, s"${progress.length} of $dropped batches committed")
    val commits = progress.drop(1).map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").longValue)
    due.zip(commits).foreach { case (d, c) => o.latMs += (c - d).toDouble }
    // throughput over the engine's own time: the timed batches' trigger
    // executions, not the feeder's schedule
    o.items = progress.drop(1).map(_.numInputRows).sum.toDouble
    o.busyS = progress.drop(1).map(_.durationMs.get("triggerExecution").longValue).sum / 1000.0
    o.units = progress.length
    o.changedRows += progress.length.toLong * BatchRows
  }

  def verify(o: Outcome): Unit = {
    val want = expect(dropped)
    val got = store.read(Table)
      .select(col("__year"), substring(col("date"), 6, 7).cast("long").as("i"), col("value").cast("long").as("v"))
      .groupBy("__year").agg(count(lit(1)), sum("v"), sum(col("i") * col("v")))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ok = got.size == want.length && want.zipWithIndex.forall { case (w, yi) =>
      got.get(FirstYear + yi).contains(w)
    }
    o.op(ok, s"final table per-year aggregates differ from the generator after $dropped batches")
    val nRev = store.read(Registry.RevisionsTable).count()
    o.op(nRev == revisionsAfter(dropped), s"revision log has $nRev rows, expected ${revisionsAfter(dropped)}")
    o.layer("store.amplification") = Common.treeBytes(dir.resolve("store").resolve(Table)) /
      (want.map(_._1).sum * 20.0)
  }
}
