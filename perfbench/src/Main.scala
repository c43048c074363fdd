package perfbench

import java.nio.file.Paths

/** One benchmark run: build the session, set the workload up once, drive it
  * for the given seconds, check its outputs, and print one JSON result line
  * prefixed with `RESULT `.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --spans FILE
  *
  * With --trace 0 the end-to-end metrics are reported; with --trace 1 the
  * run registers Spark listeners, records spans around every layer call,
  * and reports per-layer metrics instead, each per unit of work. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val spark = graft.LocalSession.build(Runtime.getRuntime.availableProcessors.toString)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val exit = try {
      val w: Workload = workload match {
        case "econ_daily" => new EconDaily(spark, seed)
        case "econ_read" => new EconRead(spark, seed)
        case "corpus_curate" => new CorpusCurate(spark, seed)
        case "stream_upsert" => new StreamUpsert(spark, seed, seconds)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val t0 = System.nanoTime()
      w.setup(work.resolve("setup"))
      val setupS = (System.nanoTime() - t0) / 1e9
      val tracer = new Tracer(traced)
      val o = new Outcome
      tracer.register(spark)
      w.run(seconds, tracer, o)
      tracer.drain()
      val retainedMb = Common.retainedHeapMb
      val layers = if (traced) Some(Layers(tracer, o)) else None
      if (traced) w.probe(tracer, o)
      tracer.unregister(spark)
      w.verify(o)
      val metrics: Seq[(String, Double, String)] = layers match {
        case Some(l) => l.metrics(tracer, o)
        case None => Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_ms", Common.median(o.latMs.toSeq), "ms"),
          ("items_per_s", if (o.busyS > 0) o.items / o.busyS else 0.0, "1/s"),
          ("heap_retained_mb", retainedMb, "MB"))
      }
      if (traced) tracer.writeSpans(Paths.get(opts("spans")))
      val body = metrics.map { case (n, v, u) =>
        s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")
      val correct = o.failed == 0 && o.attempted > 0
      println(s"""RESULT {"correct":$correct,"attempted":${math.max(o.attempted, 1)},""" +
        s""""failed":${o.failed},"metrics":{$body}}""")
      System.err.println(f"[perfbench] $workload seed=$seed: ${o.latMs.size} timed units, " +
        f"setup=$setupS%.2fs")
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(exit)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
}

/** Per-layer metrics of a traced run, each per unit of work unless it is a
  * ratio. Spark-side totals are snapshotted right after the measured phase,
  * before the forced probes add their own jobs. */
final class Layers private (units: Double, jobs: Seq[JobRec], writes: Seq[WriteRec],
                            planMs: Map[String, Long], counters: Map[String, Double],
                            progress: Seq[(Long, Long)]) {
  import Layers._

  def metrics(t: Tracer, o: Outcome): Seq[(String, Double, String)] = {
    val self = t.selfTimeNs.map { case (k, v) => k -> v.toDouble }.withDefaultValue(0.0)
    def perUnitS(ns: Double): Double = ns / 1e9 / units
    val unitSpans = t.named("unit") ++ t.named("window")
    val unitNs = unitSpans.map(_.durNs).sum.toDouble
    // wall-clock job intervals, clipped to the timed intervals
    val busyNs = unitSpans.map { s =>
      val (a, b) = (t.toWallMs(s.startNs), t.toWallMs(s.endNs))
      Tracer.unionNs(jobs.map(j => (math.max(j.startMs, a), math.min(j.endMs, b)))) * 1e6
    }.sum
    def jobsOf(l: String) = jobs.filter(_.layer == l)
    val planTotalMs = planMs.values.sum.toDouble
    val apiNs = t.spans.synchronized(t.spans.filter(_.name.startsWith("api.")).map(_.durNs).sum)
    def tableOf(p: String): String = {
      val n = p.split('/').filter(_.nonEmpty).lastOption.getOrElse("")
      if (n.startsWith(".")) n.drop(1).takeWhile(_ != '.') else n
    }
    val series = writes.filterNot(w => Set(graft.config.Registry.RevisionsTable,
      graft.config.Registry.MetadataTable, "runsummary").contains(tableOf(w.path)))
    val streamWrites = writes.filter(w => tableOf(w.path) == "observations")
    val base = Seq(
      ("plan.analysis_s", planMs.getOrElse("analysis", 0L) / 1e3 / units, "s"),
      ("plan.optimizer_s", planMs.getOrElse("optimization", 0L) / 1e3 / units, "s"),
      ("plan.physical_s", planMs.getOrElse("planning", 0L) / 1e3 / units, "s"),
      ("sched.jobs", jobs.size / units, "count"),
      ("sched.stages", counters("stages") / units, "count"),
      ("sched.tasks", counters("tasks") / units, "count"),
      ("sched.driver_idle_s", perUnitS(unitNs - busyNs), "s"),
      ("exec.task_s", perUnitS(counters("taskNs")), "s"),
      ("exec.cpu_s", perUnitS(counters("cpuNs")), "s"),
      ("exec.gc_s", counters("gcMs") / 1e3 / units, "s"),
      ("exec.shuffle_write_mb", counters("shuffleWriteB") / 1e6 / units, "MB"),
      ("exec.shuffle_read_mb", counters("shuffleReadB") / 1e6 / units, "MB"),
      ("exec.spill_mb", counters("spillB") / 1e6 / units, "MB"),
      ("sources.parse_s", perUnitS(self("sources.parse")), "s"),
      ("sources.process_s", perUnitS(self("sources.process")), "s"),
      ("ops.canonicalize_s", perUnitS(self("ops.canonicalize")), "s"),
      ("pipeline.run_all_s", perUnitS(self("pipeline.run_all")), "s")) ++
      Modules.flatMap(l => Seq(
        (s"$l.jobs", jobsOf(l).size / units, "count"),
        (s"$l.job_s", jobsOf(l).map(j => j.endMs - j.startMs).sum / 1e3 / units, "s"))) ++ Seq(
      ("store.rows_written_per_changed_row",
        if (o.changedRows > 0) series.map(_.rows).sum.toDouble / o.changedRows else 0.0, "ratio"),
      ("store.files_written", writes.map(_.files).sum / units, "count"),
      ("store.partitions_rewritten_per_batch", streamWrites.map(_.parts).sum / units, "count"),
      ("store.read_s", perUnitS(self("store.read")), "s"),
      ("api.plan_share", if (apiNs > 0) planTotalMs * 1e6 / unitNs else 0.0, "ratio"),
      ("ops.exact_dedup_s", self("ops.exact_dedup") / 1e9, "s"),
      ("ops.minhash_s", self("ops.minhash") / 1e9, "s"),
      ("streaming.add_batch_s", progress.map(_._1).sum / 1e3 / units, "s"),
      ("streaming.overhead_s", progress.map(p => p._2 - p._1).sum / 1e3 / units, "s"),
      ("trace.unit_s", Common.median(o.latMs.toSeq) / 1e3, "s"),
      ("trace.self_s", perUnitS(t.selfNs.toDouble), "s"),
      ("trace.overhead_share", if (unitNs > 0) t.selfNs / unitNs else 0.0, "ratio"))
    o.layer("process.peak_rss_mb") = Common.peakRssMb
    val extras = Seq("ops.minhash.pairs" -> "count", "ops.minhash.recall" -> "ratio",
      "store.amplification" -> "ratio", "process.peak_rss_mb" -> "MB",
      "api.panel_p50_ms" -> "ms", "api.lookup_p50_ms" -> "ms")
      .map { case (n, u) => (n, o.layer.getOrElse(n, 0.0), u) }
    base ++ extras
  }
}

object Layers {
  /** The graft modules a Spark job can be attributed to ("entry" is the
    * query registry in the root package, "bench" the benchmark itself). */
  val Modules = Seq("sources", "ops", "pipeline", "merge", "store", "api", "streaming", "entry", "bench",
    Tracer.Unattributed)

  def apply(t: Tracer, o: Outcome): Layers = {
    val units = math.max(1, if (o.units >= 0) o.units else o.latMs.size).toDouble
    t.synchronized {
      new Layers(units, t.attributedJobs, t.writes.synchronized(t.writes.toSeq),
        t.planMs.synchronized(t.planMs.toMap), Map("stages" -> t.stages.toDouble,
          "tasks" -> t.tasks.toDouble, "taskNs" -> t.taskNs.toDouble, "cpuNs" -> t.cpuNs.toDouble,
          "gcMs" -> t.gcMs.toDouble, "shuffleWriteB" -> t.shuffleWriteB.toDouble,
          "shuffleReadB" -> t.shuffleReadB.toDouble, "spillB" -> t.spillB.toDouble),
        t.progress.synchronized(t.progress.toSeq))
    }
  }
}
