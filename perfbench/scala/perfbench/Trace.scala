package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into graft's modules, and a Spark
  * listener whose per-job counters are attributed to those modules.
  *
  * A job belongs to the module whose source file is its call site (the
  * stage name reads e.g. `csv at CsvBatchReader.scala:31`). Jobs whose call
  * site is not a graft file — benchmark code, or a pool thread that lost its
  * call site (`CompletableFuture.java`) — fall back to the innermost span
  * open when they were submitted. One client thread opens spans, so that
  * span is unambiguous. Everything here is off unless `enable` was called.
  */
object Trace {
  val Modules: Seq[String] = Seq("sources", "operators", "table", "streaming", "pipeline")
  val Counters: Seq[String] =
    Seq("jobs", "tasks", "job_s", "cpu_s", "input_bytes", "output_bytes", "shuffle_bytes", "spill_bytes")

  @volatile private var on = false
  private var fileModule: Map[String, String] = Map.empty

  private final case class Span(module: String, name: String, startMs: Long, endMs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val spanTime = mutable.LinkedHashMap.empty[String, (Long, Long)] // name -> (count, ns)

  /** graft's source files by name, mapped to the module directory they live in. */
  def loadModules(srcRoot: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(srcRoot)
    try fileModule = walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val rel = srcRoot.relativize(p)
        p.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
      }.toMap
    finally walk.close()
  }

  def enable(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    on = true
  }
  def enabled: Boolean = on

  def span[A](module: String, name: String)(f: => A): A =
    if (!on) f
    else {
      val s = System.currentTimeMillis(); val t0 = System.nanoTime()
      try f
      finally {
        val dt = System.nanoTime() - t0
        val e = System.currentTimeMillis()
        spans.synchronized(spans += Span(module, name, s, e))
        val (c, ns) = spanTime.getOrElse(name, (0L, 0L))
        spanTime(name) = (c + 1, ns + dt)
      }
    }

  /** Total seconds and count recorded under a span name. */
  def spanSeconds(name: String): Double = spanTime.get(name).map(_._2 / 1e9).getOrElse(0.0)
  def spanCount(name: String): Long = spanTime.get(name).map(_._1).getOrElse(0L)

  private final class JobRec(val startMs: Long, val site: String) {
    var endMs = 0L
    var tasks, cpuNs, in, records, out, shuffle, spill = 0L
  }

  private object Jobs extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageJob = mutable.HashMap.empty[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) = new JobRec(e.time, site)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); r <- jobs.get(j)) {
        r.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          r.cpuNs += m.executorCpuTime
          r.in += m.inputMetrics.bytesRead
          r.records += m.inputMetrics.recordsRead
          r.out += m.outputMetrics.bytesWritten
          r.shuffle += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
    }
  }

  private def innermost(r: JobRec): Option[Span] = {
    val open = spans.filter(s => s.startMs <= r.startMs && r.startMs <= s.endMs)
    if (open.isEmpty) None else Some(open.minBy(s => s.endMs - s.startMs))
  }

  private def moduleOf(r: JobRec, span: Option[Span]): String = {
    val at = r.site.lastIndexOf(" at ")
    val file = if (at < 0) "" else r.site.substring(at + 4).takeWhile(_ != ':')
    fileModule.getOrElse(file, span.map(_.module).getOrElse("other"))
  }

  /** Per-module Spark counters over every job seen since `enable`, plus
    * rows read per span name. Jobs the benchmark's own probes start (spans
    * of module `probe`) are left out.
    */
  def sparkCounters(spark: SparkSession): (Map[String, Double], Map[String, Long]) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val rows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    Jobs.synchronized(spans.synchronized {
      Jobs.jobs.values.foreach { r =>
        val span = innermost(r)
        if (!span.exists(_.module == "probe")) {
          val m = moduleOf(r, span)
          acc(s"$m.jobs") += 1
          acc(s"$m.tasks") += r.tasks
          acc(s"$m.job_s") += math.max(0L, r.endMs - r.startMs) / 1e3
          acc(s"$m.cpu_s") += r.cpuNs / 1e9
          acc(s"$m.input_bytes") += r.in
          acc(s"$m.output_bytes") += r.out
          acc(s"$m.shuffle_bytes") += r.shuffle
          acc(s"$m.spill_bytes") += r.spill
          span.foreach(s => rows(s.name) += r.records)
        }
      }
    })
    ((for (m <- Modules; c <- Counters) yield s"$m.$c" -> acc(s"$m.$c")).toMap, rows.toMap)
  }
}

/** Drain progress of the streaming queries: each trigger's phase durations
  * in milliseconds (`StreamingQueryProgress.durationMs`).
  */
final class Progress extends StreamingQueryListener {
  private val windows = mutable.ArrayBuffer.empty[Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    windows += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
  /** The triggers reported since the last call, in order. */
  def take(spark: SparkSession): Seq[Map[String, Long]] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { val w = windows.toList; windows.clear(); w }
  }
}
