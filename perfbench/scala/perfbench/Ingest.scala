package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s._

import graft.config.JobConfig
import graft.pipeline.IngestRunner
import graft.sources.{LocalDirQueue, QueueMessage, QueueSource, S3EventParser}
import graft.table.WarehouseTable

/** The queue seam with timing spans around receive and ack, passed to
  * `IngestRunner` in place of the bare queue.
  */
final class TimedQueue(q: QueueSource) extends QueueSource {
  var messages, files = 0L
  override def receive(max: Int): Seq[QueueMessage] = Trace.span("sources", "sources.receive") {
    val got = q.receive(max)
    if (Trace.enabled) {
      messages += got.size
      files += got.map(m => S3EventParser.parseMessage(m.body, "file").size).sum
    }
    got
  }
  override def commit(): Unit = Trace.span("sources", "sources.ack")(q.commit())
  override def abandon(): Unit = q.abandon()
  override def ack(receipts: Seq[String]): Unit = Trace.span("sources", "sources.ack")(q.ack(receipts))
}

/** Files added under a table root, and its snapshot history, read from the
  * filesystem between client calls.
  */
final class TableProbe(root: Path) {
  private val seen = mutable.HashSet.empty[String]
  var bytes, files = 0L
  private def walk(): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  /** Forget what was added so far; later `update`s count from here. */
  def reset(): Unit = { seen.clear(); walk().foreach(p => seen += p.toString); bytes = 0; files = 0 }
  def update(): Unit = walk().foreach { p =>
    if (seen.add(p.toString)) { bytes += Files.size(p); files += 1 }
  }
  /** Published snapshot ids with their writer-stamped kind. */
  def snapshots(): Seq[(Long, String)] = {
    val d = root.resolve("snaps")
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      val names = try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
      names.collect { case n if n.startsWith("snap-") && n.endsWith(".json") =>
        val text = new String(Files.readAllBytes(d.resolve(n)), StandardCharsets.UTF_8)
        val kind = if (text.contains("\"maintenance\"")) "maintenance" else "data"
        n.stripPrefix("snap-").stripSuffix(".json").toLong -> kind
      }.sorted
    }
  }
}

/** Canonical text of the table's rows, as the model writes them. */
object TableRows {
  def canon(r: org.apache.spark.sql.Row): String =
    Gen.canon(r.getAs[Int]("invoiceid"), r.getAs[Int]("itemid"), r.getAs[String]("category"),
      Gen.price(math.round(r.getAs[Float]("price") * 100)), r.getAs[Int]("quantity"),
      r.getAs[String]("orderdate"), r.getAs[String]("destinationstate"),
      r.getAs[String]("shippingtype"), r.getAs[String]("referral"))

  val Avsc: String =
    """{"type":"record","name":"Silver","fields":[
      |{"name":"invoiceid","type":"int"},{"name":"itemid","type":"int"},
      |{"name":"category","type":"string"},{"name":"price","type":"float"},
      |{"name":"quantity","type":"int"},{"name":"orderdate","type":"string"},
      |{"name":"destinationstate","type":"string"},{"name":"shippingtype","type":"string"},
      |{"name":"referral","type":"string"}]}""".stripMargin
}

/** Landing files and queue messages of one seeded feed. */
final class Feed(val gen: Gen, val land: Path, val queue: Path) {
  val polls = mutable.ArrayBuffer.empty[Seq[CdcRow]] // poll 0 is the initial load
  val csvBytes = mutable.ArrayBuffer.empty[Long]
  private def add(files: Seq[Seq[CdcRow]]): Unit = {
    val i = polls.size
    var bytes = 0L
    files.zipWithIndex.foreach { case (rows, f) =>
      val name = f"p$i%06d-f$f%02d.csv"
      bytes += Gen.write(land.resolve(name), Gen.csv(rows))
      Gen.write(queue.resolve(f"$i%06d-$f%02d.json"), S3EventParser.eventJson(land.toString, Seq(name)))
    }
    polls += files.flatten
    csvBytes += bytes
  }
  def generate(n: Int): this.type = {
    add(gen.initialLoad())
    for (_ <- 0 until n) add(gen.poll())
    this
  }
}

object Ingest {
  /** Writes the feed of a seed into `dir` and nothing else (the generator self-test). */
  def generateOnly(seed: Long, params: JValue, dir: Path): Unit = {
    val ctx = Ctx(null, seed, dir, params, plantWrong = false)
    new Feed(new Gen(seed, ctx.gen), ctx.dir("land"), ctx.dir("queue")).generate(ctx.int("backlog_polls"))
  }
}

/** `IngestRunner.runOnce` draining a pre-loaded backlog in op-aware CDC merge
  * mode into a copy-on-write table partitioned by `destinationstate`.
  */
final class Ingest(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val p = ctx.gen
  private var feed: Feed = _
  private var runner: IngestRunner = _
  private var queue: TimedQueue = _
  private var tableRoot: Path = _
  private var done = 0 // polls consumed, the initial load included

  // traced-run probes
  private var probe: TableProbe = _
  private var snapBase, tracedCsvBytes, pollsFailed = 0L

  def setup(rep: Int): Unit = {
    val dir = ctx.dir(s"rep$rep")
    feed = new Feed(new Gen(ctx.seed, p), ctx.dir(s"rep$rep/land"), ctx.dir(s"rep$rep/queue"))
      .generate(ctx.int("backlog_polls"))
    tableRoot = dir.resolve("orders")
    val avsc = dir.resolve("silver.avsc")
    Files.write(avsc, TableRows.Avsc.getBytes(StandardCharsets.UTF_8))
    val config = JobConfig.fromJson(
      s"""{"spark": {},
         | "input_config": {"queue_url": "${feed.queue}", "poll_interval": "1",
         |   "protocol": "file", "type": "sqs", "format": "csv", "transform_query": "",
         |   "commit_checkpoint": true,
         |   "csv_options": {"sep": "\\t", "header": "true", "inferSchema": "true"},
         |   "cdc_op_column": "Op", "cdc_order_column": "replicadmstimestamp"},
         | "output_config": {"catalog_name": "bench", "database": "db", "table_name": "orders",
         |   "type": "unmanaged_iceberg", "mode": "merge", "schema": "$avsc",
         |   "table_type": "COW", "compression": "snappy",
         |   "partition": "destinationstate", "merge_keys": "invoiceid,itemid"}}""".stripMargin)
    queue = new TimedQueue(new LocalDirQueue(feed.queue.toString))
    runner = new IngestRunner(spark, config, queue, tableRoot.toString, batchSize = p.filesPerPoll)
    done = 0
    poll() // the initial load creates the table
    poll() // the first poll after it is the slowest by far (JIT)
  }

  def hasNext: Boolean = done < feed.polls.size

  private def poll(): Unit = {
    val n =
      try Trace.span("pipeline", "pipeline.run_once")(runner.runOnce())
      catch { case e: Exception => pollsFailed += 1; throw e }
    require(n == p.filesPerPoll, s"poll $done took $n files, expected ${p.filesPerPoll}")
    done += 1
  }

  def step(): Step = {
    val rows = feed.polls(done).size
    val t0 = System.nanoTime()
    poll()
    val ns = System.nanoTime() - t0
    if (Trace.enabled) Trace.span("probe", "probe") {
      probe.update()
      tracedCsvBytes += feed.csvBytes(done - 1)
    }
    Step(Seq(ns / 1e9), rows, ns)
  }

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val model = new Model
    (0 until done).foreach(i => model.apply(feed.polls(i)))
    val want = model.digest
    val planted = if (ctx.plantWrong) want.copy(count = want.count + 1) else want
    val got = Gen.digest(runner.table.read(spark).collect().iterator.map(TableRows.canon))
    if (got != planted) bad += s"final table digest $got, model $planted"
    val pending = new LocalDirQueue(feed.queue.toString).pendingCount
    val wantPending = (feed.polls.size - done) * p.filesPerPoll
    if (pending != wantPending) bad += s"queue holds $pending messages, expected $wantPending"
    bad.toSeq
  }

  def startTrace(): Unit = {
    probe = new TableProbe(tableRoot)
    probe.reset()
    snapBase = probe.snapshots().lastOption.map(_._1).getOrElse(0L)
    WarehouseTable.rebaseRecording(true)
  }

  def layers(): Map[String, Double] = {
    val snaps = probe.snapshots().filter(_._1 > snapBase)
    Trace.sparkCounters(spark)._1 ++ Map(
      "sources.receive_s" -> Trace.spanSeconds("sources.receive"),
      "sources.ack_s" -> Trace.spanSeconds("sources.ack"),
      "sources.messages" -> queue.messages.toDouble,
      "sources.files" -> queue.files.toDouble,
      "pipeline.run_once_s" -> Trace.spanSeconds("pipeline.run_once"),
      "pipeline.polls" -> Trace.spanCount("pipeline.run_once").toDouble,
      "pipeline.polls_failed" -> pollsFailed.toDouble,
      "table.bytes_written" -> probe.bytes.toDouble,
      "table.files_written" -> probe.files.toDouble,
      "table.write_amp" -> probe.bytes.toDouble / tracedCsvBytes,
      "table.snapshots" -> snaps.size.toDouble,
      "table.compactions" -> snaps.count(_._2 == "maintenance").toDouble,
      "table.commit_attempts" -> WarehouseTable.drainRebaseAttempts().sum.toDouble)
  }

  def meta: Map[String, JValue] = Map(
    "generator" -> ctx.params,
    "recent_update_share" -> JDouble(feed.gen.recentUpdateShare))
}
