package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Generator parameters of one workload, read from `perfbench/workloads.json`. */
final case class GenParams(
    keys: Int,
    filesPerPoll: Int,
    rowsPerFile: Int,
    insertShare: Double,
    updateShare: Double,
    recentKeys: Int,
    recentBias: Double,
    partitions: Int) {
  require(insertShare >= 0 && updateShare >= 0 && insertShare + updateShare <= 1.0)
}

/** One CDC row in the `silver_orders` shape. `ts` is a global sequence
  * number, so the `replicadmstimestamp` order is the generation order.
  */
final case class CdcRow(
    op: Char, ts: Long, invoiceid: Int, state: String, category: String, priceCents: Int,
    quantity: Int, orderdate: String, shippingtype: String, referral: String) {
  def itemid: Int = 1 + invoiceid % 4
}

/** Seeded CDC feed plus its reference model: the latest op per key with
  * deletes dropped. Everything is derived from the seed, so two calls with
  * the same seed and parameters produce byte-identical files.
  */
final class Gen(seed: Long, val p: GenParams) {
  private val rnd = new SplittableRandom(seed)
  private var ts = 0L
  private var nextKey = 1
  // live keys: indexable for uniform picks, with swap-remove
  private val live = mutable.ArrayBuffer.empty[Int]
  private val livePos = mutable.HashMap.empty[Int, Int]
  private val recent = new Array[Int](math.max(1, p.recentKeys))
  private var recentN = 0L
  private val recentSet = mutable.HashMap.empty[Int, Int] // key -> times in ring
  var updates = 0L
  var updatesRecent = 0L

  private def touch(k: Int): Unit = {
    val slot = (recentN % recent.length).toInt
    if (recentN >= recent.length) {
      val old = recent(slot)
      val c = recentSet(old) - 1
      if (c == 0) recentSet.remove(old) else recentSet(old) = c
    }
    recent(slot) = k
    recentSet(k) = recentSet.getOrElse(k, 0) + 1
    recentN += 1
  }
  private def addLive(k: Int): Unit = { livePos(k) = live.size; live += k }
  private def removeLive(k: Int): Unit = {
    val i = livePos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; livePos(last) = i }
  }
  private def pickLive(): Int = {
    val filled = math.min(recentN, recent.length.toLong).toInt
    if (filled > 0 && rnd.nextDouble() < p.recentBias) {
      val k = recent(rnd.nextInt(filled))
      if (livePos.contains(k)) return k
    }
    live(rnd.nextInt(live.size))
  }

  private val categories = Array("books", "toys", "games", "garden", "tools", "music", "sports", "food")
  private val shipping = Array("air", "ground", "sea", "pickup")
  private val referral = Array("web", "ad", "mail", "partner", "social")

  private def row(op: Char, k: Int): CdcRow = {
    ts += 1
    CdcRow(op, ts, k, Gen.States(k % p.partitions), categories(rnd.nextInt(categories.length)),
      100 + rnd.nextInt(99900), 1 + rnd.nextInt(20),
      f"2025-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d",
      shipping(rnd.nextInt(shipping.length)), referral(rnd.nextInt(referral.length)))
  }

  private def insertRow(): CdcRow = {
    val k = nextKey; nextKey += 1
    addLive(k); touch(k)
    row('I', k)
  }

  /** The initial load: every key of the key space inserted once, in
    * `filesPerPoll` files.
    */
  def initialLoad(): Seq[Seq[CdcRow]] = {
    val all = (1 to p.keys).map(_ => insertRow())
    all.grouped((all.size + p.filesPerPoll - 1) / p.filesPerPoll).toSeq
  }

  /** One poll: `filesPerPoll` files of `rowsPerFile` I/U/D rows. */
  def poll(): Seq[Seq[CdcRow]] = Seq.fill(p.filesPerPoll) {
    Seq.fill(p.rowsPerFile) {
      val u = rnd.nextDouble()
      if (live.isEmpty || u < p.insertShare) insertRow()
      else {
        val k = pickLive()
        if (u < p.insertShare + p.updateShare) {
          updates += 1
          if (recentSet.contains(k)) updatesRecent += 1
          touch(k)
          row('U', k)
        } else {
          removeLive(k)
          row('D', k)
        }
      }
    }
  }

  def recentUpdateShare: Double = if (updates == 0) 0.0 else updatesRecent.toDouble / updates
}

object Gen {
  val States: Array[String] = Array("CA", "NY", "TX", "FL", "WA", "IL", "PA", "OH",
    "GA", "NC", "MI", "NJ", "VA", "AZ", "MA", "TN")

  val Header: String = Seq("Op", "replicadmstimestamp", "invoiceid", "itemid", "category",
    "price", "quantity", "orderdate", "destinationstate", "shippingtype", "referral").mkString("\t")

  private val base = java.time.LocalDateTime.of(2025, 3, 1, 0, 0)
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
  def tsString(ts: Long): String = base.plusNanos(ts * 1000000L).format(fmt)

  def price(cents: Int): String = f"${cents / 100}%d.${cents % 100}%02d"

  def csv(rows: Seq[CdcRow]): String = {
    val sb = new StringBuilder(Header).append('\n')
    rows.foreach { r =>
      sb.append(r.op).append('\t').append(tsString(r.ts)).append('\t')
        .append(r.invoiceid).append('\t').append(r.itemid).append('\t')
        .append(r.category).append('\t').append(price(r.priceCents)).append('\t')
        .append(r.quantity).append('\t').append(r.orderdate).append('\t')
        .append(r.state).append('\t').append(r.shippingtype).append('\t')
        .append(r.referral).append('\n')
    }
    sb.toString
  }

  /** Canonical text of a live row, shared by the model and the table check. */
  def canon(invoiceid: Int, itemid: Int, category: String, price: String, quantity: Int,
      orderdate: String, state: String, shippingtype: String, referral: String): String =
    s"$invoiceid|$itemid|$category|$price|$quantity|$orderdate|$state|$shippingtype|$referral"

  def canon(r: CdcRow): String =
    canon(r.invoiceid, r.itemid, r.category, price(r.priceCents), r.quantity,
      r.orderdate, r.state, r.shippingtype, r.referral)

  /** Order-independent digest of a row set: count plus a 64-bit sum of row hashes. */
  final case class Digest(count: Long, hash: Long)
  def digest(rows: Iterator[String]): Digest = {
    var n = 0L; var h = 0L
    rows.foreach { s =>
      n += 1
      h += (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
    }
    Digest(n, h)
  }

  def write(path: Path, text: String): Long = {
    val b = text.getBytes(StandardCharsets.UTF_8)
    Files.write(path, b)
    b.length.toLong
  }
}

/** The reference model: applies CDC rows in timestamp order. */
final class Model {
  val rows = mutable.HashMap.empty[Int, CdcRow]
  def apply(batch: Iterable[CdcRow]): Unit = batch.foreach { r =>
    if (r.op == 'D') rows.remove(r.invoiceid) else rows(r.invoiceid) = r
  }
  def digest: Gen.Digest = Gen.digest(rows.valuesIterator.map(Gen.canon))
  /** (count, sum of quantity) per destinationstate. */
  def byState: Map[String, (Long, Long)] =
    rows.values.groupBy(_.state).map { case (s, rs) => s -> (rs.size.toLong, rs.map(_.quantity.toLong).sum) }
}
