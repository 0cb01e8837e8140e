package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** What one client call did: its latency samples in seconds, the items it
  * completed, and how long the timed part of it took.
  */
final case class Step(samples: Seq[Double], items: Long, timedNs: Long)

/** A benchmark workload. `setup` builds fresh state (it runs several times;
  * the last state is the one timed), `step` is one closed-loop client call,
  * `check` compares the outputs with the generator's model afterwards.
  */
trait Workload {
  def setup(rep: Int): Unit
  def hasNext: Boolean
  def step(): Step
  /** Mismatches between the program's outputs and the model. */
  def check(): Seq[String]
  /** Called once, right before the traced calls start. */
  def startTrace(): Unit
  /** Per-layer numbers of a traced run, probed outside the timed parts. */
  def layers(): Map[String, Double]
  /** Run metadata: measured generator properties and sample counts. */
  def meta: Map[String, JValue]
}

final case class Ctx(
    spark: SparkSession,
    seed: Long,
    work: Path,
    params: JValue,
    plantWrong: Boolean) {
  implicit val formats: Formats = DefaultFormats
  def int(k: String): Int = (params \ k).extract[Int]
  def dbl(k: String): Double = (params \ k).extract[Double]
  def gen: GenParams = GenParams(
    keys = int("keys"), filesPerPoll = int("files_per_poll"), rowsPerFile = int("rows_per_file"),
    insertShare = dbl("insert_share"), updateShare = dbl("update_share"),
    recentKeys = int("recent_keys"), recentBias = dbl("recent_bias"), partitions = int("partitions"))
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

object Main {
  private def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1 " +
      "--work DIR --params FILE [--tiny] [--plant-wrong-model] [--generate-only]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit =
    try sys.exit(run(argv))
    catch { case e: Throwable => e.printStackTrace(); sys.exit(3) }

  /** One benchmark run; returns the process exit status. */
  private def run(argv: Array[String]): Int = {
    val flags = Set("--tiny", "--plant-wrong-model", "--generate-only")
    val opts = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < argv.length) {
      if (flags(argv(i))) { opts(argv(i)) = "1"; i += 1 }
      else if (i + 1 < argv.length && argv(i).startsWith("--")) { opts(argv(i)) = argv(i + 1); i += 2 }
      else usage()
    }
    def need(k: String) = opts.getOrElse(k, usage())
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toInt
    val trace = need("--trace") == "1"
    val work = Files.createDirectories(Paths.get(need("--work")).toAbsolutePath)
    val all = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(need("--params"))), "UTF-8"))
    val wp = all \ "workloads" \ workload
    if (wp == JNothing) { System.err.println(s"unknown workload $workload"); sys.exit(2) }
    val size = if (opts.contains("--tiny")) "tiny" else "full"
    val params = (wp \ "generator").merge(wp \ size)

    if (opts.contains("--generate-only")) {
      Ingest.generateOnly(seed, params, work)
      return 0
    }

    Trace.loadModules(Paths.get("src/main/scala/graft"))
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ctx = Ctx(spark, seed, work, params, opts.contains("--plant-wrong-model"))
    implicit val formats: Formats = DefaultFormats
    val w: Workload = workload match {
      case "ingest_cow" => new Ingest(ctx)
      case "drain_views" => new Drain(ctx)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    val heap = new Heap
    val setupS = (0 until (params \ "setup_reps").extract[Int]).map { r =>
      val t0 = System.nanoTime(); w.setup(r); (System.nanoTime() - t0) / 1e9
    }
    heap.sampleAfterGc()
    heap.watch()

    var attempted, failed, items, timedNs = 0L
    val samples = mutable.ArrayBuffer.empty[Double]
    def once(): Unit = {
      attempted += 1
      try {
        val s = w.step()
        samples ++= s.samples; items += s.items; timedNs += s.timedNs
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] step failed: $e")
      }
    }
    // the JIT keeps speeding calls up long after set-up; a fixed number of
    // untimed calls keeps most of that drift out of the figures
    for (_ <- 0 until (params \ "warmup_steps").extract[Int] if w.hasNext) w.step()
    val layerOut = mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      val end = System.nanoTime() + seconds * 1000000000L
      while (System.nanoTime() < end && w.hasNext) once()
    } else {
      // a fixed number of calls, so the counters repeat exactly for a seed;
      // the untraced calls before tracing starts give the overhead's base
      val n = (params \ "traced_steps").extract[Int]
      for (_ <- 0 until n if w.hasNext) once()
      val base = Stats.median(samples.toSeq)
      samples.clear()
      w.startTrace()
      Trace.enable(spark)
      for (_ <- 0 until n if w.hasNext) once()
      layerOut ++= w.layers()
      layerOut("trace.op_p50_s") = Stats.median(samples.toSeq)
      layerOut("trace.overhead_s") = Stats.median(samples.toSeq) - base
    }
    heap.unwatch()
    heap.sampleAfterGc()

    val mismatches = w.check()
    mismatches.take(20).foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("op_p50_s", Stats.median(samples.toSeq), "s"),
        ("items_per_s", items / (timedNs / 1e9), "1/s"),
        ("live_heap_peak_mb", heap.peakMb, "MB"))
      else layerOut.toSeq.map { case (k, v) => (k, v, Units.of(k)) }

    val meta: Map[String, JValue] = w.meta ++ Map(
      "workload" -> JString(workload), "seed" -> JLong(seed), "trace" -> JBool(trace),
      "loop" -> JString("closed, one client"),
      "spark_master" -> JString(s"local[$nproc]"),
      "shuffle_partitions" -> JInt(nproc),
      "samples" -> JInt(samples.size),
      "samples_s" -> JArray(samples.toList.map(JDouble(_))),
      "setup_runs_s" -> JArray(setupS.map(JDouble(_)).toList),
      "host" -> Host.fingerprint, "calibration_s" -> JDouble(Host.calibrate()))
    println("perfbench-meta " + JsonMethods.compact(JsonMethods.render(JObject(meta.toList))))
    val result = JObject(
      "correct" -> JBool(mismatches.isEmpty && failed == 0),
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed),
      "metrics" -> JObject(metrics.toList.map { case (k, v, u) =>
        k -> JObject("value" -> JDouble(v), "unit" -> JString(u)) }))
    println(JsonMethods.compact(JsonMethods.render(result)))
    spark.stop()
    if (mismatches.isEmpty && failed == 0) 0 else 1
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Peak old-generation occupancy after GC: the most the old generation held
  * right after any collection while the calls ran (read from the collectors'
  * notifications, so no collection is forced between calls), and after the
  * full collections forced once set-up is done and once the calls are.
  */
final class Heap {
  private val old = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var peak = 0L
  private def record(used: Long): Unit = synchronized { peak = math.max(peak, used) }

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        for (p <- old; u <- Option(info.getGcInfo.getMemoryUsageAfterGc.get(p.getName))) record(u.getUsed)
      }
  }
  private def emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }

  /** Forces a full collection and records what the old generation still holds. */
  def sampleAfterGc(): Unit = {
    System.gc()
    old.foreach(p => record(p.getUsage.getUsed))
  }
  def watch(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
  def unwatch(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  def peakMb: Double = synchronized { peak / (1024.0 * 1024.0) }
}

object Host {
  def fingerprint: JValue = {
    val cpu =
      try Files.readAllLines(Paths.get("/proc/cpuinfo")).asScala
        .find(_.startsWith("model name")).map(_.split(":", 2)(1).trim).getOrElse("unknown")
      catch { case _: Exception => "unknown" }
    JObject(
      "cpu" -> JString(cpu),
      "cores" -> JInt(Runtime.getRuntime.availableProcessors),
      "max_heap_mb" -> JLong(Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "java" -> JString(System.getProperty("java.version")),
      "os" -> JString(System.getProperty("os.name") + " " + System.getProperty("os.version")))
  }

  /** A fixed CPU-bound loop: run metadata to compare hosts, not a metric. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var h = 1469598103934665603L; var i = 0
    while (i < 50000000) { h = (h ^ i) * 1099511628211L; i += 1 }
    if (h == 42) println()
    (System.nanoTime() - t0) / 1e9
  }
}

object Units {
  def of(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_amp") || name.endsWith("_ratio")) "ratio"
    else "count"
}
