package graft.pipeline

import graft.config.Registry
import graft.merge.SmartUpdate
import graft.store.{SinkTypes, TableStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The §3.1 pipeline lifecycle: per-dataset dataflow -> incremental gate ->
  * smart_update merge -> last-run metadata -> run summary.
  *
  * Mirrors /root/reference/core_local/main_azure.py:53-126,236-329 and the
  * 24h should_update gate (azure_connector.py:598-617; get/set :552-596).
  * Reference ordering quirk preserved: data is processed BEFORE the gate is
  * consulted — the gate only guards the WRITE (main_azure.py:84-116).
  *
  * Every entry point (runDataset, runDatasetPartitioned, runAllParallel,
  * runFetched, and StreamIngest's micro-batches) is a thin call into the
  * same two steps: one per-dataset merge (empty check, gate, declared-type
  * policy, SmartUpdate.diff, write) and one commit (one revision-log
  * append, one metadata write). The entry points differ only in the
  * layout they give a NEW table; an existing table keeps its own layout.
  *
  * The wall clock is injected (`now`), never read inside a plan, so runs
  * are deterministic and harness-checkable (SURVEY.md §7.5 risk 3).
  */
object Runner {
  final case class DatasetResult(dataset: String, status: String,
                                 newRows: Long, updated: Long, revisions: Long)

  /** The fan-out formula behind defaultIngestParallelism, factored out so
    * the shape is testable against synthetic session widths (the suite
    * session is not local[32]). The /4 divisor encodes the DRIVER-parse
    * ingest path (each slot burns a core parsing workbook grids before its
    * tiny Spark jobs; probed flat across 4/8/16 on local[32], COVERAGE.md
    * round 15) — if the executor-side V2 `edb-grid` source ever becomes
    * the default ingest path, the parse cost moves off the driver and the
    * min(16, _) cap becomes the binding term to revisit. */
  def ingestParallelismFor(defaultParallelism: Int): Int =
    math.min(16, math.max(2, defaultParallelism / 4))
}

final class Runner(spark: SparkSession, store: TableStore, now: () => Timestamp) {
  import spark.implicits._

  // ------------------------------------------------------------- metadata

  /** Driver-side mirror of scrapermetadata (dataset -> last_run,
    * azure_connector.py:563-571). The table is tiny and driver-owned — the
    * reference does point lookups against the store; here we load it once
    * per Runner and write-through on update, saving a table read per
    * dataset (26 reads per run at full inventory). */
  @volatile private var metadataCache: Option[Map[String, Timestamp]] = None

  private def metadata: Map[String, Timestamp] = metadataCache.getOrElse {
    val m =
      if (!store.exists(Registry.MetadataTable)) Map.empty[String, Timestamp]
      else store.read(Registry.MetadataTable).collect()
        .map(r => r.getAs[String]("dataset") -> r.getAs[Timestamp]("last_run"))
        .toMap
    metadataCache = Some(m)
    m
  }

  /** should_update: true iff never run or >= `hours` since last run
    * (azure_connector.py:598-617). */
  def shouldUpdate(dataset: String, hours: Int = 24): Boolean =
    metadata.get(dataset) match {
      case None => true
      case Some(last) =>
        (now().getTime - last.getTime) >= hours * 3600L * 1000L
    }

  // ------------------------------------------------------------------ run

  import Runner.DatasetResult

  private val Key = "date"
  private val Year = "__year"
  private def yearOf(c: Column) = substring(c, 1, 4).cast("int")

  /** The one per-dataset merge. `canonical0` is (date: 'YYYY-MM-DD'
    * string, <value fields>). The write scope follows the table's layout,
    * read off the schema the merge loads anyway: a year-partitioned table
    * (a `__year` column) replaces only the year partitions holding new or
    * updated keys; a flat table is rewritten whole by atomic swap.
    * `partitionedIfNew` picks the layout of a table this merge creates.
    * Neither layout writes when no key is new or updated. Returns the
    * revision frame for [[commit]] to persist. */
  private def merge(table: String, canonical0: DataFrame,
                    valueFields: Seq[String], gateHours: Int,
                    partitionedIfNew: Boolean): (DatasetResult, Option[DataFrame]) = {
    // deduped once, before the cache, so the classify and the write see
    // the same surviving row per key; cached so the source pipeline (file
    // read + reshape + sort) runs once, not per action
    val canonical = SmartUpdate.dedupeLastWins(canonical0, Key).cache()
    try {
      // one aggregate answers the empty check and scopes the existing side
      val span = canonical.agg(count(lit(1)), min(col(Key)), max(col(Key)),
        collect_set(substring(col(Key), 1, 4))).head()
      if (span.getLong(0) == 0)
        return (DatasetResult(table, "no_data", 0, 0, 0), None)
      if (!shouldUpdate(table, gateHours))
        return (DatasetResult(table, "skipped", 0, 0, 0), None)
      val ts = now()
      val stored = if (store.exists(table)) Some(store.read(table)) else None
      val partitioned = stored.fold(partitionedIfNew)(_.columns.contains(Year))
      val incoming =
        if (partitioned) canonical.withColumn(Year, yearOf(col(Key))) else canonical
      // reads normalize declared decimals to the engine's double surface;
      // the write casts back to the declared at-rest types — but ONLY for
      // tables created under the policy (legacy double tables keep their
      // layout: a partition-scoped write must never mix physical types),
      // and incoming values are snapped to the declared scale first so
      // sink rounding can never churn the tolerance compare
      val pol = SinkTypes.mergePolicy(stored.getOrElse(incoming.limit(0)),
        table, stored.isEmpty, incoming)
      // the range predicate reaches the parquet row-group stats; the year
      // predicate prunes directories, so untouched years are never read
      val inRange = col(Key).between(lit(span.get(1)), lit(span.get(2)))
      val scope = if (!partitioned) inRange
        else inRange && col(Year).isin(span.getSeq[String](3).map(_.toInt): _*)
      val d = SmartUpdate.diff(pol.incoming, pol.existing.filter(scope), Key,
        valueFields, table, ts)
      if (d.counts.newRows > 0 || d.counts.updated > 0) {
        val cols = ((Key +: valueFields) ++ (if (partitioned) Seq(Year) else Nil)).map(col)
        val kept = if (!partitioned) pol.existing else {
          val years = d.changedKeys.select(yearOf(col(Key))).distinct()
            .collect().map(_.getInt(0)).toSeq
          pol.existing.filter(col(Year).isin(years: _*))
        }
        val out = pol.writeCast(kept.join(d.changedKeys, Seq(Key), "left_anti")
          .select(cols: _*).unionByName(d.fresh.select(cols: _*)))
        if (partitioned) store.overwritePartitions(table, out, Seq(Year))
        else store.overwrite(table, out, maxFiles = 1)
      }
      (DatasetResult(table, "success", d.counts.newRows, d.counts.updated,
        d.counts.revisions), if (d.counts.revisions > 0) Some(d.revisions) else None)
    } finally canonical.unpersist()
  }

  /** The one commit: every merge's revisions in one append to the shared
    * log, and every success's last_run in one metadata write. */
  private def commit(outcomes: Seq[(DatasetResult, Option[DataFrame])]): Seq[DatasetResult] = {
    val revs = outcomes.flatMap(_._2)
    if (revs.nonEmpty)
      store.append(Registry.RevisionsTable, revs.reduce(_.unionByName(_)), maxFiles = 1)
    val successes = outcomes.collect { case (r, _) if r.status == "success" => r.dataset }
    if (successes.nonEmpty) {
      val ts = now()
      val m = metadata ++ successes.map(_ -> ts)
      metadataCache = Some(m)
      store.overwrite(Registry.MetadataTable,
        m.toSeq.toDF("dataset", "last_run"), maxFiles = 1)
    }
    outcomes.map(_._1)
  }

  /** The per-dataset fetch-failure contract (main_azure.py:136-152 +
    * azure_common_scrapers.py:35-64): `parse` turns fetched bytes into the
    * canonical frame; a failed fetch (None) records status "error" for
    * THIS dataset and the run continues — callers loop over datasets and
    * summarize() reports the mixed statuses, exactly the reference's
    * behavior when one source site is down. */
  def runFetched(tableName: String, fetched: Option[Array[Byte]],
                 parse: Array[Byte] => DataFrame, valueFields: Seq[String],
                 gateHours: Int = 24): DatasetResult =
    fetched match {
      case None => DatasetResult(tableName, "error", 0, 0, 0)
      case Some(bytes) =>
        // a site that is "up" but broken (HTTP 200 with an HTML error
        // page where workbook bytes belong) fails in parse() or in the
        // merge actions, not in fetch — that too is THIS dataset's error,
        // never the run's (main_azure.py wraps each dataset in try/log)
        try runDataset(tableName, parse(bytes), valueFields, gateHours)
        catch { case scala.util.control.NonFatal(_) =>
          DatasetResult(tableName, "error", 0, 0, 0)
        }
    }

  /** Run one dataset; a new table is created flat (one file). */
  def runDataset(tableName: String, canonical0: DataFrame,
                 valueFields: Seq[String], gateHours: Int = 24): DatasetResult =
    commit(Seq(merge(tableName, canonical0, valueFields, gateHours,
      partitionedIfNew = false))).head

  /** Ingest fan-out sized to the session instead of a hard-coded literal.
    * Each dataset's merge is driver-side parse plus a handful of small
    * Spark jobs, so the sweet spot sits well under the executor thread
    * count: the measured optimum at fixture scale is 8 on local[32]
    * (round 10: parallelism 8 → 10.2s vs 13 → 12.0s median, sf0.1 —
    * higher fan-out adds scheduler/IO contention, not throughput).
    * defaultParallelism/4 reproduces that 8 on local[32], scales down on
    * a smaller driver (floor 2 keeps some overlap), and is capped at 16
    * on bigger ones — concurrent jobs contend on the driver's scheduler
    * and the store's commit lock, not on executor threads, so fan-out
    * past ~2× the optimum only adds contention.
    *
    * Shape probed off the measured point (round 16, three independent
    * quiet-box `panel_all` sweeps at sf0.1): fan-out 4 is consistently
    * ~45% slower (mins 8.3-9.6s vs 5.7-6.6s at 8); 8 and 16 are
    * statistically indistinguishable (mins 5.7-6.6 vs 5.4-6.1s, medians
    * overlapping across sessions) — the response surface is FLAT from 8
    * to 16 and falls off below. dp/4 picks the flat region's low end,
    * which also minimizes commit-lock/scheduler contention; deployments
    * where executor-side parse (the V2 edb-grid source) moves the
    * bottleneck can raise `spark.graft.ingest.parallelism` toward the
    * cap instead of editing the formula. */
  def defaultIngestParallelism: Int =
    spark.conf.getOption("spark.graft.ingest.parallelism").map { v =>
      // validated loudly and verbatim (it may deliberately exceed the
      // formula's cap — that is what the override is FOR); only a value
      // that would break the pool (<=0, non-numeric) is a config error
      val p = try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.ingest.parallelism must be a positive integer, got '$v'")
      }
      require(p > 0,
        s"spark.graft.ingest.parallelism must be positive, got $p")
      p
    }.getOrElse(
      Runner.ingestParallelismFor(spark.sparkContext.defaultParallelism))

  /** §7.6(a): per-dataset PARALLEL execution — the reference's sequential
    * 26-dataset loop (main_azure.py:136-152) becomes a pool of concurrent
    * Spark jobs (the scheduler interleaves them across executor threads).
    * Per-dataset table writes target distinct directories and are safe
    * concurrently; the SHARED writes — datarevisions append, metadata —
    * are collected and committed once, serially, at the end. The pool is
    * never wider than the dataset list; `parallelism` defaults to the
    * session-derived fan-out above. New tables are created flat. */
  def runAllParallel(datasets: Seq[(String, DataFrame, Seq[String])],
                     gateHours: Int = 24,
                     parallelism: Int = defaultIngestParallelism): Seq[DatasetResult] =
    commit(graft.ForkJoin.all(spark, parallelism)(datasets.map { case (table, df, vf) =>
      () => merge(table, df, vf, gateHours, partitionedIfNew = false)
    }))

  /** Scale path: the same merge, creating a new table YEAR-partitioned
    * (`table/__year=YYYY/`). The existing side is read with a partition
    * filter on the years the incoming batch touches (directory pruning —
    * untouched years are never read), and the write replaces only the
    * years holding new or updated keys (dynamic partition overwrite —
    * untouched years are never written): cost per merge is
    * O(touched partitions), not O(table). */
  def runDatasetPartitioned(tableName: String, canonical0: DataFrame,
                            valueFields: Seq[String],
                            gateHours: Int = 24): DatasetResult =
    commit(Seq(merge(tableName, canonical0, valueFields, gateHours,
      partitionedIfNew = true))).head

  /** Fold per-dataset results into the run summary (main_azure.py:267-309)
    * and persist it (S11 — a table here; JSON via df.write.json if a blob
    * sink is wanted). */
  def summarize(results: Seq[DatasetResult], durationSecs: Double): DataFrame = {
    val df = results.toDF()
      .withColumn("run_time", lit(now()))
      .withColumn("duration_seconds", lit(durationSecs))
    store.append("runsummary", df, maxFiles = 1)
    df
  }
}
