package perfbench

import graft.api.EngineApi
import graft.config.Registry
import graft.config.Registry.DatasetConfig
import graft.pipeline.Runner
import graft.sources.{FredSource, GridSource, NyuSource, XlsWriter, XlsxWriter}
import graft.store.{SinkTypes, TableStore}
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import scala.collection.mutable

/** Seeded state of the 26 registry series and the day-by-day changes made
  * to it. Periods are calendar month indices (year * 12 + month - 1). The
  * generator writes each day's source files the way the sites publish them
  * (EDB grids as BIFF8 `.xls`, FRED observation JSON bodies, the NYU sheet
  * as `.xlsx`) and keeps the values the store must hold afterwards. */
final class EconGen(seed: Long) {
  private val rng = new scala.util.Random(seed)

  def mi(y: Int, m: Int): Int = y * 12 + m - 1
  def dateOf(p: Int): String = f"${p / 12}%04d-${p % 12 + 1}%02d-01"

  /** The simulated "today" of day 0: every series is populated up to here,
    * leaving 18 months of room in the EDB fiscal-year window for new
    * months. */
  private val Cursor0 = mi(2023, 12)
  private val FredStart = mi(2014, 1)

  final class Series(val cfg: DatasetConfig) {
    val fields: Seq[String] =
      if (cfg.kind == Registry.NyuStern) Registry.nyuValueFields
      else Seq(Registry.snakeCase(cfg.valueColumn))
    val step: Int = if (cfg.kind == Registry.Fred && cfg.frequency == "q") 3 else 1
    val first: Int = cfg.kind match {
      case Registry.Fred => mi(2000, 1)
      case Registry.NyuStern => mi(2014, 1)
      case _ => mi(2015, 7) // FY2016 July, the grid's first cell
    }
    val lastAllowed: Int = cfg.kind match {
      case Registry.Monthly | Registry.Quarterly => mi(2025, 6) // FY2025 June
      case _ => mi(2027, 12)
    }
    var last: Int = first + ((Cursor0 - first) / step) * step
    /** Period -> text of each value field, as published. */
    val values = mutable.TreeMap.empty[Int, Array[String]]
    (first to last by step).foreach(p => values(p) = fields.map(_ => draw()).toArray)

    /** The store key an observation period lands on: FRED quarterly
      * observations are shifted to the start of the next quarter. */
    def storedDate(p: Int): String = dateOf(if (step == 3) p + 3 else p)
    def stored(p: Int): Boolean = cfg.kind != Registry.Fred || p >= FredStart

    /** Store key -> values the table must hold. */
    def expected: Map[String, Array[Double]] =
      values.iterator.filter { case (p, _) => stored(p) }
        .map { case (p, vs) => storedDate(p) -> vs.map(BigDecimal(_).toDouble) }.toMap

    /** A published value at the series' declared scale, text-canonical
      * (no trailing zeros), so every engine path parses it exactly. */
    def draw(): String = {
      val bd = (cfg.valueType, cfg.decimal) match {
        case (Registry.IntType, _) => BigDecimal(100 + rng.nextInt(99900))
        case (_, Some((6, 4))) => BigDecimal(200 + rng.nextInt(1300), 4) // NYU rates, 0.02..0.15
        case (_, Some((6, s))) => BigDecimal(100 * (1 + rng.nextInt(19)) + rng.nextInt(100), 2).setScale(s)
        case (_, dec) =>
          val s = dec.map(_._2).getOrElse(2)
          BigDecimal(BigInt(1 + rng.nextInt(99999)) * BigInt(10).pow(s) + rng.nextInt(math.pow(10, s).toInt), s)
      }
      bd.bigDecimal.stripTrailingZeros.toPlainString
    }
  }

  val series: Seq[Series] = Registry.allConfigs.map(new Series(_))

  /** Every revision made so far: (table, stored date, field, old, new). */
  val revisionLog = mutable.ArrayBuffer.empty[(String, String, String, Double, Double)]

  /** Expected (new, updated, revisions) per table for one day. */
  type DayCounts = Map[String, (Long, Long, Long)]

  /** Bytes of user values the store holds now: a stored cell is a 10-byte
    * date key plus 8 bytes per value field. */
  def userBytes: Double =
    series.map(s => s.expected.size.toDouble * (10 + 8 * s.fields.size)).sum

  /** Day 0: everything is new. */
  def initialCounts: DayCounts =
    series.map(s => s.cfg.tableName -> (s.expected.size.toLong, 0L, 0L)).toMap

  /** Advance one day: a seeded few series gain a period or have one past
    * value revised; the rest are republished unchanged. */
  def nextDay(): DayCounts = {
    val n = 1 + rng.nextInt(3)
    val picked = rng.shuffle(series.toList).take(n)
    val counts = mutable.Map.empty[String, (Long, Long, Long)]
    series.foreach(s => counts(s.cfg.tableName) = (0L, 0L, 0L))
    picked.foreach { s =>
      if (s.last + s.step <= s.lastAllowed && rng.nextBoolean()) {
        s.last += s.step
        s.values(s.last) = s.fields.map(_ => s.draw()).toArray
        counts(s.cfg.tableName) = (1L, 0L, 0L)
      } else {
        val candidates = s.values.keys.filter(s.stored).toIndexedSeq
        val p = candidates(rng.nextInt(candidates.size))
        val f = rng.nextInt(s.fields.size)
        val old = BigDecimal(s.values(p)(f))
        var v = s.draw()
        while ((BigDecimal(v) - old).abs <= BigDecimal("0.002")) v = s.draw()
        s.values(p)(f) = v
        revisionLog += ((s.cfg.tableName, s.storedDate(p), s.fields(f), old.toDouble, BigDecimal(v).toDouble))
        counts(s.cfg.tableName) = (0L, 1L, 1L)
      }
    }
    counts.toMap
  }

  /** Whether `rows` is exactly `EngineApi.panelFull()` of the current
    * state: one row per date any series holds, a column per single-value
    * series in registry order, then the three NYU rates, null where a
    * series has no value. */
  def panelMatches(rows: Array[Row]): Boolean = {
    val singles = series.filter(_.cfg.kind != Registry.NyuStern).map(_.expected)
    val nyu = series.find(_.cfg.kind == Registry.NyuStern).get.expected
    val cols = singles ++ Registry.nyuValueFields.indices.map(i => nyu.map { case (d, v) => d -> Array(v(i)) })
    val dates = cols.flatMap(_.keys).distinct.sorted
    rows.length == dates.size && rows.zip(dates).forall { case (row, d) =>
      row.getString(0) == d && cols.zipWithIndex.forall { case (c, j) =>
        c.get(d) match {
          case Some(v) => Common.rowMatches(row, 1 + j, v)
          case None => row.isNullAt(1 + j)
        }
      }
    }
  }

  private val FiscalMonths = Seq(7, 8, 9, 10, 11, 12, 1, 2, 3, 4, 5, 6)
  private val MonthNames = Map(1 -> "January", 2 -> "February", 3 -> "March",
    4 -> "April", 5 -> "May", 6 -> "June", 7 -> "July", 8 -> "August",
    9 -> "September", 10 -> "October", 11 -> "November", 12 -> "December")
  private val FiscalYears = 2016 to 2025

  def fileName(s: Series): String = s.cfg.kind match {
    case Registry.Fred => s"fred_${s.cfg.name}.json"
    case Registry.NyuStern => "nyu_erp.xlsx"
    case _ => s"edb_${s.cfg.name}.xls"
  }

  /** Publish every series' current state into `dir`. */
  def writeDay(dir: Path): Unit = {
    Files.createDirectories(dir)
    series.foreach { s =>
      val path = dir.resolve(fileName(s)).toString
      s.cfg.kind match {
        case Registry.Fred =>
          // pre-window observations carry FRED's "." missing-value sentinel
          // now and then; the source drops them with the window filter
          val obs = (s.first to s.last by s.step).map { p =>
            val v = if (p < FredStart && p % 17 == 0) "." else s.values(p)(0)
            s"""{"realtime_start":"2025-01-01","date":"${dateOf(p)}","value":"$v"}"""
          }
          Common.write(dir.resolve(fileName(s)),
            s"""{"count":${obs.size},"observations":[${obs.mkString(",")}]}""")
        case Registry.NyuStern =>
          val header = Vector("Start of month", "T.Bond Rate", "ERP (T12m)", "Expected Return")
          XlsxWriter.write(path, header +: (s.first to s.last).map(p =>
            dateOf(p) +: s.values(p).toVector).toVector)
        case _ =>
          val filler = Vector(Vector("SYNTHETIC EDB WORKBOOK"),
            Vector(s.cfg.fileName + " / " + s.cfg.sheetName),
            Vector.empty[String], Vector.empty[String], Vector.empty[String])
          val header: Vector[String] = null +: FiscalYears.map(_.toString).toVector
          val body = FiscalMonths.map { mn =>
            MonthNames(mn) +: FiscalYears.map { fy =>
              val p = mi(if (mn >= 7) fy - 1 else fy, mn)
              if (p <= s.last) s.values(p)(0) else null
            }.toVector
          }
          XlsWriter.write(path, filler ++ (header +: body))
      }
    }
  }
}

/** Shared by econ_daily and econ_read: one store, one Runner, and the
  * simulated clock that advances 25 hours per day so the 24-hour gate
  * always opens. */
final class EconStore(spark: SparkSession, root: Path, seed: Long) {
  val gen = new EconGen(seed)
  val store = new TableStore(spark, root.resolve("store").toString)
  private val t0 = Timestamp.valueOf("2025-01-01 06:00:00").getTime
  @volatile var day = 0
  val runner = new Runner(spark, store, () => new Timestamp(t0 + day * 25L * 3600L * 1000L))
  var revisions = 0L
  private val inputs = root.resolve("inputs")

  /** Write day `d`'s inputs (untimed). */
  def publish(d: Int): Path = {
    val dir = inputs.resolve(f"day-$d%03d")
    gen.writeDay(dir)
    dir
  }

  /** One production daily run over day `d`'s files: read, process and
    * canonicalize every series, then merge them all in parallel. */
  def runDay(d: Int, dir: Path, t: Tracer): Seq[Runner.DatasetResult] = {
    day = d
    val datasets = gen.series.map { s =>
      val cfg = s.cfg
      val path = dir.resolve(gen.fileName(s)).toString
      cfg.kind match {
        case Registry.Fred =>
          val raw = t.span("sources.parse", d)(FredSource.readObservations(spark, path))
          val p = t.span("sources.process", d)(FredSource.process(raw, cfg))
          val (c, snake) = t.span("ops.canonicalize", d)(FredSource.canonicalize(p, cfg))
          (cfg.tableName, c, Seq(snake))
        case Registry.NyuStern =>
          val raw = t.span("sources.parse", d)(NyuSource.readSheet(spark, path))
          val p = t.span("sources.process", d)(NyuSource.process(raw))
          val c = t.span("ops.canonicalize", d)(NyuSource.canonicalize(p))
          (cfg.tableName, c, Registry.nyuValueFields)
        case _ =>
          val grid = t.span("sources.parse", d)(GridSource.readGrid(spark, path, cfg.dataLocation))
          val p = t.span("sources.process", d)(GridSource.processMonthly(grid, cfg))
          val (c, snake) = t.span("ops.canonicalize", d)(GridSource.canonicalize(p, cfg))
          (cfg.tableName, c, Seq(snake))
      }
    }
    t.span("pipeline.run_all", d)(runner.runAllParallel(datasets))
  }

  /** Populate the store the way daily runs leave it, without running them:
    * each series table written whole at its declared at-rest types (one
    * file), one revision-log file per revising day, and the run metadata.
    * Then `revisionDays` seeded days of changes are applied the same way.
    * Set-up pays this instead of a cold full daily run per day. */
  def bulkLoad(revisionDays: Int): Unit = {
    import spark.implicits._
    def writeSeries(s: EconGen#Series): Unit = {
      val schema = StructType(StructField("date", StringType) +:
        s.fields.map(f => StructField(f, DoubleType)))
      val rows = s.expected.toSeq.sortBy(_._1).map { case (d, vs) => Row.fromSeq(d +: vs.toSeq) }
      store.overwrite(s.cfg.tableName, SinkTypes.sinkCast(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema), s.cfg.tableName),
        maxFiles = 1)
    }
    Common.parallel(Common.cores(spark))(gen.series.map(s => () => writeSeries(s)))
    (1 to revisionDays).foreach { d =>
      val before = gen.revisionLog.size
      val changed = gen.nextDay().filter { case (_, (n, u, _)) => n + u > 0 }.keySet
      gen.series.filter(s => changed(s.cfg.tableName)).foreach(writeSeries)
      val ts = new Timestamp(t0 + d * 25L * 3600L * 1000L)
      val revs = gen.revisionLog.drop(before).map { case (t, date, f, o, n) => (t, date, f, o, n, ts) }
      revisions += revs.size
      if (revs.nonEmpty)
        store.append(Registry.RevisionsTable, revs.toSeq.toDF("dataset", "data_date", "value_field",
          "old_value", "new_value", "revision_date"), maxFiles = 1)
    }
    day = revisionDays
    store.overwrite(Registry.MetadataTable, gen.series.map(s =>
      (s.cfg.tableName, new Timestamp(t0 + day * 25L * 3600L * 1000L))).toDF("dataset", "last_run"),
      maxFiles = 1)
  }

  /** Check one day's per-dataset results against the generator's counts. */
  def checkDay(d: Int, res: Seq[Runner.DatasetResult], want: EconGen#DayCounts,
               o: Outcome): Unit = {
    val got = res.map(r => r.dataset -> r).toMap
    val bad = want.toSeq.filter { case (table, (n, u, r)) =>
      got.get(table).forall(g => g.status != "success" || g.newRows != n ||
        g.updated != u || g.revisions != r)
    }
    revisions += want.values.map(_._3).sum
    o.op(bad.isEmpty && got.size == want.size,
      s"day $d: ${bad.map(_._1).mkString(",")} differ from the generator " +
        s"(got ${bad.flatMap(b => got.get(b._1)).mkString("; ")})")
  }

  /** Every table and the revision log must hold exactly the values of
    * `g`, a generator advanced to the last day that ran. */
  def verifyStore(g: EconGen, o: Outcome): Unit = {
    val got = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()
    Common.parallel(Common.cores(spark))(g.series.map(s => () => got.put(s.cfg.tableName,
      store.read(s.cfg.tableName).select("date", s.fields: _*).collect())))
    g.series.foreach { s =>
      val want = s.expected
      val rows = got.get(s.cfg.tableName)
      o.op(rows.map(_.getString(0)).distinct.length == want.size && rows.length == want.size &&
        rows.forall(r => want.get(r.getString(0)).exists(Common.rowMatches(r, 1, _))),
        s"final store: ${s.cfg.tableName} differs from the generator")
    }
    // the log appears with the first revision
    val nRev = if (store.exists(Registry.RevisionsTable)) store.read(Registry.RevisionsTable).count() else 0L
    o.op(nRev == revisions, s"revision log has $nRev rows, expected $revisions")
  }

  /** On-disk bytes of the store per byte of user value held. */
  def amplification(userBytes: Double): Double =
    Common.treeBytes(root.resolve("store")) / userBytes
}

/** The reference's production runbook, one simulated day after another:
  * every day republishes all 26 series and runs the whole pipeline over
  * them, while only a seeded few series actually changed. */
final class EconDaily(spark: SparkSession, seed: Long) extends Workload {
  private var es: EconStore = _
  /** Days published in set-up; a run that uses them all ends early. A day
    * takes about 27 s on a 4-core machine, so a run of under a minute
    * uses one. */
  private val Horizon = 2
  private val dayDirs = mutable.ArrayBuffer.empty[Path]
  private val dayCounts = mutable.ArrayBuffer.empty[EconGen#DayCounts]
  private var userBytes = 0.0
  private var lastDay = 0

  def setup(dir: Path): Unit = {
    es = new EconStore(spark, dir, seed)
    es.bulkLoad(0)
    dayDirs.clear(); dayCounts.clear()
    (1 to Horizon).foreach { d =>
      dayCounts += es.gen.nextDay(); dayDirs += es.publish(d)
      if (d == 1) userBytes = es.gen.userBytes
    }
  }

  def run(seconds: Double, t: Tracer, o: Outcome): Unit = {
    val deadlineNs = Common.deadline(seconds)
    var d = 1
    while (d == 1 || (System.nanoTime() < deadlineNs && d <= Horizon)) {
      val t0 = System.nanoTime()
      val res = t.span("unit", d)(es.runDay(d, dayDirs(d - 1), t))
      val dt = (System.nanoTime() - t0) / 1e9
      o.latMs += dt * 1000; o.busyS += dt; o.items += res.size
      o.changedRows += res.map(r => r.newRows + r.updated).sum
      es.checkDay(d, res, dayCounts(d - 1), o)
      // read after the first day, so it does not depend on the run length
      if (d == 1) o.layer("store.amplification") = es.amplification(userBytes)
      d += 1
    }
    lastDay = d - 1
  }

  def verify(o: Outcome): Unit = {
    // set-up published days ahead; replay the generator to the last day run
    val g = new EconGen(seed)
    (1 to lastDay).foreach(_ => g.nextDay())
    es.verifyStore(g, o)
  }
}

/** Analysts reading a populated store through the read API: a seeded
  * request mix, one client, closed loop. Every answer is checked against
  * the generator. */
final class EconRead(spark: SparkSession, seed: Long) extends Workload {
  /** Revision days applied after the initial load in set-up. */
  private val RevisionDays = 2
  private var es: EconStore = _
  private var api: EngineApi = _
  /** One cycle of the request mix: kind -> requests per cycle. A run
    * issues whole cycles, each in a seeded order with seeded targets, so
    * every run sees the same composition. The all-series reads (panel,
    * latest_all) touch every table and cost ten times a single-series
    * read. Half the cycle is point lookups, the commonest analyst read,
    * so the median request lands among the warm cheap reads rather than
    * between request kinds, where it would move with the seeded order. */
  private val cycle = Seq("lookup" -> 13, "latest" -> 3, "series" -> 3, "sql" -> 3,
    "revisions" -> 2, "panel" -> 1, "latest_all" -> 1)

  def setup(dir: Path): Unit = {
    es = new EconStore(spark, dir, seed)
    es.bulkLoad(RevisionDays)
    api = new EngineApi(spark, es.store)
    api.registerViews()
  }

  def run(seconds: Double, t: Tracer, o: Outcome): Unit = {
    import scala.math.Ordering.Double.TotalOrdering
    val deadlineNs = Common.deadline(seconds)
    val rng = new scala.util.Random(seed * 31 + 7)
    val kinds = cycle.flatMap { case (k, n) => Seq.fill(n)(k) }
    val expected = es.gen.series.map(s => s.cfg.tableName -> s.expected).toMap
    val singles = es.gen.series.filter(_.cfg.kind != Registry.NyuStern)
    val revs = es.gen.revisionLog.groupBy(_._1)
    val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var req = 0L
    val queue = mutable.Queue.empty[String]
    while (queue.nonEmpty || System.nanoTime() < deadlineNs) {
      if (queue.isEmpty) queue ++= rng.shuffle(kinds)
      req += 1
      val kind = queue.dequeue()
      val s = es.gen.series(rng.nextInt(es.gen.series.size))
      val table = s.cfg.tableName
      val want = expected(table)
      val dates = want.keys.toIndexedSeq.sorted
      val date = dates(rng.nextInt(dates.size))
      val t0 = System.nanoTime()
      val (ok, what) = t.span("unit", req)(kind match {
        case "lookup" =>
          val r = t.span("api.pointLookup", req)(api.pointLookup(table, date))
          (r.exists(Common.rowMatches(_, 1, want(date))), s"pointLookup($table, $date) = $r")
        case "latest" =>
          val r = t.span("api.latest", req)(api.latest(table).collect())
          val d = dates.last
          (r.length == 1 && r(0).getString(0) == d && Common.rowMatches(r(0), 1, want(d)), s"latest($table)")
        case "series" =>
          val r = t.span("api.series", req)(api.series(table).collect())
          (r.length == dates.size && r.zip(dates).forall { case (row, d) =>
            row.getString(0) == d && Common.rowMatches(row, 1, want(d)) }, s"series($table)")
        case "latest_all" =>
          val r = t.span("api.latestAll", req)(api.latestAll().collect())
          (r.length == singles.size && r.forall { row =>
            val w = expected(row.getString(0)); val d = w.keys.max
            row.getString(1) == d && Common.rowMatches(row, 2, w(d)) }, "latestAll()")
        case "panel" =>
          val r = t.span("api.panelFull", req)(api.panelFull().collect())
          (es.gen.panelMatches(r), "panelFull()")
        case "revisions" =>
          val r = t.span("api.revisionHistory", req)(api.revisionHistory(dataset = Some(table)).collect())
          val got = r.map(row => (row.getAs[String]("data_date"), row.getAs[String]("value_field"),
            row.getAs[Double]("old_value"), row.getAs[Double]("new_value"))).sorted
          val exp = revs.getOrElse(table, Nil).map(x => (x._2, x._3, x._4, x._5)).sorted
          (got.length == exp.length && got.zip(exp).forall { case (a, b) =>
            a._1 == b._1 && a._2 == b._2 && Common.close(a._3, b._3) && Common.close(a._4, b._4)
          }, s"revisionHistory($table)")
        case _ =>
          val f = s.fields.head
          val r = t.span("api.sql", req)(spark.sql(
            s"SELECT count(*) AS n, max(date) AS d, sum(CAST($f AS DOUBLE)) AS s " +
              s"FROM $table WHERE date >= '$date'").collect())
          val sel = dates.filter(_ >= date)
          (r.length == 1 && r(0).getLong(0) == sel.size && r(0).getString(1) == sel.last &&
            Common.close(r(0).getDouble(2), sel.map(want(_)(0)).sum), s"sql over $table from $date")
      })
      val ms = (System.nanoTime() - t0) / 1e6
      if (t.on) probeStore(t, req, kind, table)
      o.latMs += ms; o.busyS += ms / 1000; o.items += 1
      byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      o.op(ok, what)
    }
    o.layer("api.panel_p50_ms") = Common.median(byKind.getOrElse("panel", Nil).toSeq)
    o.layer("api.lookup_p50_ms") = Common.median(byKind.getOrElse("lookup", Nil).toSeq)
  }

  /** The store read path a request takes (`exists` then `read` of every
    * table it touches), timed on its own after the request: made before
    * it, the probe would warm the request's own reads and make the traced
    * request faster than the untraced one. */
  private def probeStore(t: Tracer, req: Long, kind: String, table: String): Unit = {
    val tables = kind match {
      case "latest_all" | "panel" => Registry.allConfigs.map(_.tableName)
      case "revisions" => Seq(Registry.RevisionsTable)
      case _ => Seq(table)
    }
    t.span("store.read", req)(tables.foreach(x => if (es.store.exists(x)) es.store.read(x)))
  }

  /** The store is only read; every answer was checked as it came. */
  def verify(o: Outcome): Unit = ()
}
