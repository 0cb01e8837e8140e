package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.sources.EqualTo

import graft.table.WarehouseTable

/** A fixed read mix through `WarehouseTable.read` — a partition-pruned
  * aggregate, a full group-by and a key lookup — checked against the model,
  * with the read-side probes (delta files, rows scanned, files planned).
  */
final class Reads(spark: SparkSession, seed: Long, p: GenParams) {
  private val rnd = new SplittableRandom(seed ^ 0x5eedL)
  val mismatches = mutable.ArrayBuffer.empty[String]
  var reads, deltaFiles, liveRows, filesPlanned, filesInTable = 0L

  def run(table: WarehouseTable, model: Model): Unit = {
    val state = Gen.States(rnd.nextInt(p.partitions))
    val key = 1 + rnd.nextInt(p.keys + p.keys / 4)
    Trace.span("probe", "probe") {
      deltaFiles += table.filesMeta(spark).filter(col("content") === "delta").count()
      filesPlanned += table.read(spark, partitions = Some(Seq(state))).inputFiles.length
      filesInTable += table.read(spark).inputFiles.length
    }
    val agg = Trace.span("table", "table.read.pruned") {
      val r = table.read(spark, partitions = Some(Seq(state)))
        .agg(count(lit(1)), sum("quantity")).collect().head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val groups = Trace.span("table", "table.read.full") {
      table.read(spark).groupBy("destinationstate").agg(count(lit(1)), sum("quantity")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val rows = Trace.span("table", "table.read.key") {
      table.read(spark, dataFilters = Seq(EqualTo("invoiceid", key)))
        .filter(col("invoiceid") === key).collect().map(TableRows.canon).toSet
    }
    reads += 1
    val want = model.byState
    liveRows += want.values.map(_._1).sum
    if (agg != want.getOrElse(state, (0L, 0L))) mismatches += s"pruned aggregate of $state = $agg"
    if (groups != want) mismatches += s"group-by = $groups, model $want"
    val keyRows = model.rows.get(key).map(Gen.canon).toSet
    if (rows != keyRows) mismatches += s"lookup of key $key = $rows, model $keyRows"
  }

  /** Read-side layer numbers; `scanned` is rows read per span name. */
  def layers(scanned: Map[String, Long]): Map[String, Double] = Map(
    "table.delta_files_at_read" -> deltaFiles.toDouble,
    "table.read_amp" -> (if (liveRows == 0) 0.0 else scanned.getOrElse("table.read.full", 0L).toDouble / liveRows),
    "table.read_s" -> Seq("table.read.pruned", "table.read.full", "table.read.key").map(Trace.spanSeconds).sum,
    "table.prune_ratio" -> (if (filesInTable == 0) 0.0 else filesPlanned.toDouble / filesInTable))
}
