package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._

import graft.streaming.StreamingIngest
import graft.table.WarehouseTable

/** A MOR source table that receives small seeded merges, drained into an
  * aggregate view (`StreamingIngest.startAggView`) and a CDC mirror
  * (`startCdcMirror`), one source commit per trigger. Each client call first
  * commits `compact_delta_threshold` merges to the source (not timed, their
  * jobs not counted), the last of which compacts inline, then runs both
  * drains to the end of the history (timed): every call drains the same mix
  * of data windows and one maintenance-only window. The traced run also runs
  * the read mix on the mirror and the at-rest index lookup mix after every
  * call.
  */
final class Drain(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val p = ctx.gen
  private val keys = Seq("invoiceid", "itemid")
  private val progress = new Progress
  spark.streams.addListener(progress)

  private var gen: Gen = _
  private var model: Model = _
  private var dir: Path = _
  private var source, view, mirror: WarehouseTable = _
  private var viewProbe, mirrorProbe: TableProbe = _
  private var snapBase, viewSnap0, mirrorSnap0 = 0L
  private val reads = new Reads(spark, ctx.seed, p)
  private val lookups = new Lookups(spark, ctx.seed, ctx.work.resolve("lookups"))

  // traced-run totals, all in milliseconds except the counts
  private var triggerMs, addBatchMs, latestOffsetMs, windows, maintenanceWindows, attempts = 0L

  private val schema = StructType(Seq(
    StructField("Op", StringType), StructField("invoiceid", IntegerType),
    StructField("itemid", IntegerType), StructField("category", StringType),
    StructField("price", FloatType), StructField("quantity", IntegerType),
    StructField("orderdate", StringType), StructField("destinationstate", StringType),
    StructField("shippingtype", StringType), StructField("referral", StringType)))

  /** One source merge: the batch reduced to its latest op per key, deletes
    * marked by `Op = 'D'` (what the CDC ingest path hands the table).
    */
  private def commit(batch: Seq[CdcRow]): Unit = {
    model.apply(batch)
    val latest = batch.groupBy(_.invoiceid).values.map(_.maxBy(_.ts)).toSeq.sortBy(_.ts)
    val rows = latest.map(r => Row(r.op.toString, r.invoiceid, r.itemid, r.category,
      r.priceCents / 100f, r.quantity, r.orderdate, r.state, r.shippingtype, r.referral))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    source.merge(spark, df, keys, deleteWhere = Some(col("Op") === "D"))
  }

  /** Both drains to the end of the history; the time is that of the two
    * queries alone, not of collecting their progress.
    */
  private def drainBoth(): (Seq[Map[String, Long]], Seq[Map[String, Long]], Long) = {
    val t0 = System.nanoTime()
    Trace.span("streaming", "streaming.agg_view") {
      StreamingIngest.startAggView(spark, source, view, Seq("destinationstate"), Seq("quantity"),
        dir.resolve("ckpt-agg").toString).awaitTermination()
    }
    val aggNs = System.nanoTime() - t0
    val agg = progress.take(spark)
    val t1 = System.nanoTime()
    Trace.span("streaming", "streaming.cdc_mirror") {
      StreamingIngest.startCdcMirror(spark, source, mirror, keys,
        dir.resolve("ckpt-mirror").toString).awaitTermination()
    }
    val mirNs = System.nanoTime() - t1
    (agg, progress.take(spark), aggNs + mirNs)
  }

  def setup(rep: Int): Unit = {
    dir = ctx.dir(s"rep$rep")
    gen = new Gen(ctx.seed, p)
    model = new Model
    source = WarehouseTable(dir.resolve("src").toString)
    view = WarehouseTable(dir.resolve("view").toString)
    mirror = WarehouseTable(dir.resolve("mirror").toString)
    source.create(StructType(schema.fields.tail), Some("destinationstate"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> ctx.int("compact_delta_threshold").toString))
    commit(gen.initialLoad().flatten)
    // folds the load's delta, so each call's `compact_delta_threshold`
    // commits end in exactly one compaction: every call drains the same mix
    source.compact(spark)
    drainBoth()
  }

  def hasNext: Boolean = true

  def step(): Step = {
    Trace.span("probe", "feed") {
      for (_ <- 0 until ctx.int("compact_delta_threshold")) commit(gen.poll().flatten)
      if (Trace.enabled) WarehouseTable.drainRebaseAttempts()
    }
    val to = source.currentSnapshotId
    val (agg, mir, ns) = drainBoth()
    if (Trace.enabled) Trace.span("probe", "probe") {
      viewProbe.update(); mirrorProbe.update()
      val drained = new TableProbe(java.nio.file.Paths.get(source.root)).snapshots()
        .filter(s => s._1 > snapBase && s._1 <= to)
      maintenanceWindows += 2 * drained.count(_._2 == "maintenance")
      snapBase = to
      (agg ++ mir).foreach { w =>
        windows += 1
        triggerMs += w.getOrElse("triggerExecution", 0L)
        addBatchMs += w.getOrElse("addBatch", 0L)
        latestOffsetMs += w.getOrElse("latestOffset", 0L)
      }
      attempts += WarehouseTable.drainRebaseAttempts().sum
    }
    // the traced run also reads the mirror, a merge-on-read table whose
    // deltas pile up between compactions, to measure the read side
    if (Trace.enabled) reads.run(mirror, model)
    // and runs the at-rest index lookup mix, so the operators layer is measured
    if (Trace.enabled) lookups.run()
    // one sample per source commit: the cost of bringing both views past it
    val n = math.min(agg.size, mir.size)
    val samples = (0 until n).map(i =>
      (agg(i).getOrElse("triggerExecution", 0L) +
        mir(i).getOrElse("triggerExecution", 0L)) / 1e3)
    Step(samples, n.toLong, ns)
  }

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val want = model.digest
    val planted = if (ctx.plantWrong) want.copy(count = want.count + 1) else want
    val src = Gen.digest(source.read(spark).collect().iterator.map(TableRows.canon))
    if (src != planted) bad += s"source digest $src, model $planted"
    val mir = Gen.digest(mirror.read(spark).collect().iterator.map(TableRows.canon))
    if (mir != src) bad += s"mirror digest $mir, source $src"
    val got = StreamingIngest.readAggView(spark, view)
      .select("destinationstate", "n", "sum_quantity").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val truth = source.read(spark).groupBy("destinationstate")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("quantity")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (got != truth) bad += s"aggregate view $got, group-by over the source $truth"
    if (truth != model.byState) bad += "group-by over the source differs from the model"
    bad ++= reads.mismatches.map("mirror read: " + _)
    bad ++= lookups.mismatches.map("at-rest lookup: " + _)
    bad.toSeq
  }

  def startTrace(): Unit = {
    viewProbe = new TableProbe(java.nio.file.Paths.get(view.root)); viewProbe.reset()
    mirrorProbe = new TableProbe(java.nio.file.Paths.get(mirror.root)); mirrorProbe.reset()
    snapBase = source.currentSnapshotId
    viewSnap0 = view.currentSnapshotId
    mirrorSnap0 = mirror.currentSnapshotId
    WarehouseTable.rebaseRecording(true)
  }

  def layers(): Map[String, Double] = {
    val (counters, scanned) = Trace.sparkCounters(spark)
    val snaps = viewProbe.snapshots().filter(_._1 > viewSnap0) ++
      mirrorProbe.snapshots().filter(_._1 > mirrorSnap0)
    counters ++ reads.layers(scanned) ++ lookups.layers() ++ Map(
      "table.snapshots" -> snaps.size.toDouble,
      "table.compactions" -> snaps.count(_._2 == "maintenance").toDouble,
      "table.bytes_written" -> (viewProbe.bytes + mirrorProbe.bytes).toDouble,
      "table.files_written" -> (viewProbe.files + mirrorProbe.files).toDouble,
      "table.commit_attempts" -> attempts.toDouble,
      "streaming.trigger_s" -> triggerMs / 1e3,
      "streaming.fold_s" -> addBatchMs / 1e3,
      "streaming.overhead_s" -> (triggerMs - addBatchMs) / 1e3,
      "streaming.latest_offset_s" -> latestOffsetMs / 1e3,
      "streaming.windows" -> windows.toDouble,
      "streaming.maintenance_windows" -> maintenanceWindows.toDouble)
  }

  def meta: Map[String, JValue] = Map(
    "generator" -> ctx.params,
    "recent_update_share" -> JDouble(gen.recentUpdateShare))
}
