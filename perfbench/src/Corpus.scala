package perfbench

import graft.SparkEntry
import graft.ops.{Dedup, TextAnalysis}
import java.nio.file.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The curation funnel (`curate_corpus`: language gate, quality gate, exact
  * dedup, MinHash near-duplicate drop) over a seeded corpus in the
  * `documents.parquet` schema, with planted shares of every kind of
  * document the funnel removes. Expected per-source stage counts follow
  * from the plan, not from running any engine. */
final class CorpusCurate(spark: SparkSession, seed: Long) extends Workload {
  /** Corpus size and its planted shares (of all documents): originals of
    * clean English prose make up the rest. */
  val Docs = 10000
  val Sources = 8
  val ExactShare = 0.10   // verbatim copies of an original
  val NearShare = 0.08    // an original with its last word replaced
  val ForeignShare = 0.06 // Spanish prose: fails the language gate
  val NoisyShare = 0.06   // English but punctuation-heavy: fails the quality gate

  private var dir: Path = _
  /** Share of planted near-duplicates that banding finds. */
  private var recall = 0.0
  /** source -> (raw, lang, quality, exact, final) */
  private var want: Map[String, Array[Long]] = Map.empty

  private val esStop = Seq("el", "la", "de", "que", "y", "en", "los", "una")
  private val enStop = Seq("the", "and", "of", "to", "a", "in", "is", "that")
  private val reserved = (esStop ++ enStop ++ TextAnalysis.FrStop ++ TextAnalysis.DeStop).toSet

  def setup(d: Path): Unit = {
    dir = d
    val rng = new scala.util.Random(seed)
    val syl = Seq("ka", "lo", "mi", "ren", "tas", "vor", "pel", "qui", "dro", "sun", "bex", "nal",
      "tor", "fis", "gam", "hul", "jen", "wex", "zor", "cly")
    val vocab = (0 until 4000).map(_ => (1 to 2 + rng.nextInt(2)).map(_ => syl(rng.nextInt(syl.size))).mkString)
      .distinct.filterNot(reserved)
    def words(n: Int, stops: Seq[String]): IndexedSeq[String] = (0 until n).map(i =>
      if (i % 6 == 2) stops(rng.nextInt(stops.size)) else vocab(rng.nextInt(vocab.size)))
    def prose(stops: Seq[String]): String = words(45 + rng.nextInt(40), stops).mkString(" ") + "."

    val counts = mutable.Map.empty[String, Array[Long]]
    def bump(src: String, stages: Int): Unit = {
      val a = counts.getOrElseUpdate(src, new Array[Long](5))
      (0 until stages).foreach(i => a(i) += 1)
    }
    val nExact = (Docs * ExactShare).toInt
    val nNear = (Docs * NearShare).toInt
    val nForeign = (Docs * ForeignShare).toInt
    val nNoisy = (Docs * NoisyShare).toInt
    val nOrig = Docs - nExact - nNear - nForeign - nNoisy
    val rows = mutable.ArrayBuffer.empty[Row]
    def src(): String = s"src${rng.nextInt(Sources)}"
    def add(text: String, s: String, lang: String): Unit =
      rows += Row(rows.size.toLong, text, lang, s, text.length.toLong)
    val originals = (0 until nOrig).map { _ =>
      val t = prose(enStop); val s = src(); add(t, s, "en"); bump(s, 5); t
    }
    (0 until nForeign).foreach { _ => val s = src(); add(prose(esStop), s, "es"); bump(s, 1) }
    (0 until nNoisy).foreach { _ =>
      val s = src()
      add(words(20 + rng.nextInt(20), enStop).map(w => s"$w ;!?,").mkString(" "), s, "en"); bump(s, 2)
    }
    // copies come after every original, so the original keeps the min id
    (0 until nExact).foreach { _ =>
      val s = src(); add(originals(rng.nextInt(nOrig)), s, "en"); bump(s, 3)
    }
    // each near-duplicate is distinct, or two of them would be exact copies
    val near = mutable.HashSet.empty[String]
    val clusters = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[(String, String)]]
    while (near.size < nNear) {
      val k = rng.nextInt(nOrig)
      val o = originals(k)
      val t = o.substring(0, o.lastIndexOf(' ') + 1) + vocab(rng.nextInt(vocab.size)) + "."
      if (t != o && near.add(t)) {
        val s = src(); add(t, s, "en"); bump(s, 4)
        clusters.getOrElseUpdate(k, mutable.ArrayBuffer((o, ""))) += ((t, s))
      }
    }
    // A near-duplicate is dropped when its MinHash signature shares a whole
    // LSH band with an earlier document of its cluster (all of them verify
    // above the Jaccard threshold). Banding can miss a pair; the documents
    // it misses survive, so they are counted here from the same signatures.
    var missed = 0
    clusters.values.foreach { docs =>
      val sigs = docs.map(d => MinHashSpec.signature(d._1))
      docs.indices.drop(1).foreach { j =>
        if (!docs.indices.take(j).exists(i => MinHashSpec.collide(sigs(i), sigs(j)))) {
          counts(docs(j)._2)(4) += 1; missed += 1
        }
      }
    }
    recall = 1.0 - missed.toDouble / nNear
    want = counts.toMap
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val shuffled = new scala.util.Random(seed + 1).shuffle(rows.toSeq)
    spark.createDataFrame(spark.sparkContext.parallelize(shuffled, Common.cores(spark)), schema)
      .write.parquet(dir.resolve("documents.parquet").toString)
  }

  private val query = SparkEntry.queries("curate_corpus")

  def run(seconds: Double, t: Tracer, o: Outcome): Unit = {
    o.layer("ops.minhash.recall") = recall
    val deadlineNs = Common.deadline(seconds)
    var pass = 0L
    while (System.nanoTime() < deadlineNs) {
      pass += 1
      val t0 = System.nanoTime()
      val rows = t.span("unit", pass)(query(spark, dir.toString).collect())
      val dt = (System.nanoTime() - t0) / 1e9
      o.latMs += dt * 1000; o.busyS += dt; o.items += Docs
      o.op(checkCounts(rows), s"curate_corpus pass $pass: ${rows.map(_.toSeq.mkString("/")).mkString(" ")}" +
        s" expected ${want.toSeq.sortBy(_._1).map { case (k, v) => (k +: v.toSeq).mkString("/") }.mkString(" ")}")
    }
  }

  private def checkCounts(rows: Array[Row]): Boolean =
    rows.length == want.size && rows.forall { r =>
      want.get(r.getString(0)).exists(w => (0 until 5).forall(i => r.getLong(i + 1) == w(i)))
    }

  /** The funnel's two dedup operators, called on their own with the
    * funnel's parameters and forced, so their cost is attributed. */
  override def probe(t: Tracer, o: Outcome): Unit = {
    val txt = col("text")
    val docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
    val cand = docs.filter(TextAnalysis.langIdHeuristic(txt) === "en" &&
      length(txt).between(20, 20000) && TextAnalysis.punctRatio(txt) < 0.2 &&
      TextAnalysis.meanWordLength(txt).between(2.0, 14.0))
      .select("doc_id", "source", "text").localCheckpoint(true)
    val keep = t.span("ops.exact_dedup", 0)(
      Dedup.exactSurvivors(cand, "doc_id", "text").select("doc_id").localCheckpoint(true))
    val exact = cand.join(keep, Seq("doc_id"), "left_semi").localCheckpoint(true)
    val pairs = t.span("ops.minhash", 0) {
      val p = Dedup.minhashNearDupPairs(exact, "doc_id", "text", shingleWords = 3,
        numHashes = 64, bands = 16, threshold = 0.7, materialize = true)
      val n = p.count(); p.unpersist(); n
    }
    o.layer("ops.minhash.pairs") = pairs.toDouble
  }

  def verify(o: Outcome): Unit = ()
}

/** The funnel's MinHash-LSH stage re-derived from its specification
  * (`Dedup.wordShingles`, `minhashSignaturesFromShingles`, `lshBandKeys`
  * with 3-word shingles, 64 hashes, 16 bands): the shingle base hash is the
  * first 15 hex digits of its md5, hash i is ((2i+1)x + 12345i + 1) mod
  * (2^31 - 1), and two documents are candidates iff one band of 4 hash
  * minima is equal. */
object MinHashSpec {
  private val P = 2147483647L
  private val Hashes = 64
  private val RowsPerBand = 4

  def shingles(text: String): Seq[String] = {
    val toks = "\\S+".r.findAllIn(text.toLowerCase).toIndexedSeq
    (0 to math.max(toks.size - 3, 0)).map(i => toks.slice(i, i + 3).mkString(" "))
      .filter(_.nonEmpty).distinct
  }

  def signature(text: String): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val xs = shingles(text).map { s =>
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16) % P
    }
    Array.tabulate(Hashes)(i => xs.map(x => (x * (2L * i + 1) + (12345L * i + 1)) % P).min)
  }

  def collide(a: Array[Long], b: Array[Long]): Boolean =
    (0 until Hashes / RowsPerBand).exists(band =>
      (band * RowsPerBand until (band + 1) * RowsPerBand).forall(k => a(k) == b(k)))
}
