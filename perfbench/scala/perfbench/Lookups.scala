package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Bm25, RangeIndex, SimilaritySearch, TemporalJoins, TextDedup}
import graft.table.WarehouseTable

/** Small seeded at-rest indexes — IVF over clustered vectors, banded MinHash
  * and BM25 over generated documents, a cell range index over intervals —
  * and a fixed lookup mix through their at-rest lookup functions. Each
  * lookup runs under an `operators` span; its result is then checked,
  * under a `probe` span, against the matching in-memory operator path.
  */
final class Lookups(spark: SparkSession, seed: Long, dir: Path) {
  private val rnd = new SplittableRandom(seed ^ 0x10c4L)
  val mismatches = mutable.ArrayBuffer.empty[String]
  private var built = false
  var lookups = 0L

  private val Vocab = 400
  private val DocWords = 30
  private val Dim = 16
  private val Clusters = 8
  private val Extent = 100000L
  private val CellWidth = 1000L

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  // words skewed toward low ids, so BM25 sees common and rare terms
  private def word(): String = f"w${(math.pow(rnd.nextDouble(), 2) * Vocab).toInt}%03d"
  private def text(): Seq[String] = Seq.fill(DocWords)(word())

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(FloatType, false)),
    StructField("bucket", IntegerType)))
  private val querySchema = StructType(Seq(
    StructField("qid", LongType), StructField("qvec", ArrayType(FloatType, false))))
  private val centSchema = StructType(Seq(
    StructField("bucket", IntegerType), StructField("cvec", ArrayType(FloatType, false))))
  private val intervalSchema = StructType(Seq(
    StructField("iid", LongType), StructField("istart", LongType), StructField("iend", LongType)))
  private val pointSchema = StructType(Seq(StructField("pid", LongType), StructField("pt", LongType)))

  private var docTexts: Seq[Seq[String]] = _
  private var docs, vectors, cents, intervals: DataFrame = _
  private var centers: Array[Array[Float]] = _
  private var bm25Model: Bm25.Model = _
  private val ivfTable = WarehouseTable(dir.resolve("ivf").toString)
  private val minhashTable = WarehouseTable(dir.resolve("minhash").toString)
  private val bm25Table = WarehouseTable(dir.resolve("bm25").toString)
  private val rangeTable = WarehouseTable(dir.resolve("range").toString)

  private def near(c: Array[Float]): Array[Float] = c.map(x => x + (rnd.nextGaussian() * 0.3).toFloat)

  /** Generates the inputs and builds the four indexes. */
  def build(): Unit = {
    docTexts = Seq.fill(300)(text())
    docs = df(docTexts.zipWithIndex.map { case (t, i) => Row(i.toLong, t.mkString(" ")) }, docSchema)
    centers = Array.fill(Clusters)(Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat))
    vectors = df((0 until 400).map { i =>
      val b = rnd.nextInt(Clusters)
      Row(i.toLong, near(centers(b)).toSeq, b)
    }, vecSchema)
    // the generator's own cluster centres are the coarse quantizer
    cents = df(centers.toSeq.zipWithIndex.map { case (c, b) => Row(b, c.toSeq) }, centSchema)
    intervals = df((0 until 500).map { i =>
      val s = (rnd.nextDouble() * Extent).toLong
      Row(i.toLong, s, s + 1 + rnd.nextInt(2000))
    }, intervalSchema)
    Trace.span("operators", "operators.index_build") {
      SimilaritySearch.ivfIndexAtRest(vectors, ivfTable)
      TextDedup.minhashIndexAtRest(docs, "doc_id", "text", minhashTable)
      Bm25.indexAtRest(docs, "doc_id", "text", bm25Table)
      RangeIndex.indexAtRest(intervals, "istart", "iend", Seq("iid"), rangeTable, CellWidth, partBuckets = 16)
    }
    bm25Model = Bm25.fit(docs, "doc_id", "text")
    built = true
  }

  private def check(what: String, got: Set[_], want: Set[_]): Unit =
    if (got != want) mismatches += s"$what at rest ${got.toSeq.take(5)}…, in memory ${want.toSeq.take(5)}…"

  /** One lookup of each kind; builds the indexes on first use. */
  def run(): Unit = {
    if (!built) build()
    lookups += 1

    val qs = df((0 until 4).map(q => Row(q.toLong, near(centers(rnd.nextInt(Clusters))).toSeq)), querySchema)
    def ivfRows(d: DataFrame) = d.select("qid", "id", "cos", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val ivf = Trace.span("operators", "operators.ivf_lookup") {
      ivfRows(SimilaritySearch.ivfTopKAtRest(spark, qs, ivfTable, cents, k = 5, nprobe = 2))
    }

    // near-duplicates (one word changed) of corpus documents, plus fresh ones
    val arrivals = df((0 until 5).map { a =>
      val t =
        if (a < 3) docTexts(rnd.nextInt(docTexts.size)).updated(rnd.nextInt(DocWords), "zz" + a)
        else text()
      Row(1000000L + lookups * 10 + a, t.mkString(" "))
    }, docSchema)
    val pairs = Trace.span("operators", "operators.minhash_lookup") {
      TextDedup.minhashLookupAtRest(spark, arrivals, docs, "doc_id", "text", minhashTable)
        .select("d1", "d2", "jaccard").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }

    val terms = Seq.fill(3)(word()).distinct
    val top = Trace.span("operators", "operators.bm25_lookup") {
      Bm25.lookupAtRest(spark, bm25Table, terms, k = 10).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }

    val pts = df((0 until 20).map(i => Row(i.toLong, (rnd.nextDouble() * Extent).toLong)), pointSchema)
    val hits = Trace.span("operators", "operators.range_lookup") {
      RangeIndex.lookupAtRest(spark, pts, "pt", rangeTable).select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    Trace.span("probe", "probe") {
      check("ivf top-k", ivf, ivfRows(SimilaritySearch.ivfTopK(qs, vectors, cents, k = 5, nprobe = 2)))
      check("minhash near-dups", pairs,
        TextDedup.crossPairsAgainstCorpus(arrivals, docs, "doc_id", "text").select("d2", "d1", "jaccard")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      val want = Bm25.topK(bm25Model, terms, k = 10).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      if (top != want) mismatches += s"bm25 top-k of $terms at rest $top, in memory $want"
      check("range lookup", hits,
        TemporalJoins.intervalJoin(pts, intervals, "pt", "istart", "iend", CellWidth).select("pid", "iid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      val found = pairs.filter(_._3 >= 0.75).map(_._1).size
      if (found != 3) mismatches += s"minhash lookup matched $found of 3 near-duplicate arrivals"
    }
  }

  def layers(): Map[String, Double] = Map(
    "operators.index_build_s" -> Trace.spanSeconds("operators.index_build"),
    "operators.ivf_lookup_s" -> Trace.spanSeconds("operators.ivf_lookup"),
    "operators.minhash_lookup_s" -> Trace.spanSeconds("operators.minhash_lookup"),
    "operators.bm25_lookup_s" -> Trace.spanSeconds("operators.bm25_lookup"),
    "operators.range_lookup_s" -> Trace.spanSeconds("operators.range_lookup"),
    "operators.lookups" -> lookups.toDouble)
}
