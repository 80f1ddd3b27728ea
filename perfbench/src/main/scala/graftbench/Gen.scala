package graftbench

/** Seeded input generators. Every value is a pure function of the seed
  * and the row's key (and version), so a workload and its reference
  * model derive the same rows without sharing any state with graft. */
object Gen {

  /** SplitMix64 finaliser: a bijective 64-bit mix. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hash(a: Long, b: Long, c: Long): Long =
    mix(mix(mix(a) + b) + c)

  /** Uniform in [0, n). */
  def below(h: Long, n: Int): Int = ((h >>> 1) % n).toInt

  /** Deterministic random stream (splitmix64) for driver-side draws. */
  final class Rng(seed: Long) {
    private var s = mix(seed ^ 0x5DEECE66DL)
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def nextInt(n: Int): Int = below(nextLong(), n)
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def gaussian(): Double = {
      // Box-Muller; u1 kept away from 0
      val u1 = math.max(nextDouble(), 1e-12)
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * nextDouble())
    }
  }
}

/** One lineitem-shaped row. Money is integer cents so every aggregate is
  * exact on both sides of a check. The partition (`l_shipyear`) and
  * `l_shipday` depend on the key only, so an update never moves a row
  * between partitions. */
case class LineRow(
    l_key: Long,
    l_orderkey: Long,
    l_partkey: Long,
    l_quantity: Int,
    l_price_c: Long,
    l_discount: Int,
    l_returnflag: String,
    l_linestatus: String,
    l_shipday: Int,
    l_shipyear: String,
    l_comment: String,
    l_ver: Long)

/** One orders-shaped row, keyed by `o_orderkey`. */
case class OrderRow(
    o_orderkey: Long,
    o_custkey: Long,
    o_orderday: Int,
    o_priority: String,
    o_total_c: Long,
    o_year: String,
    o_ver: Long)

/** The lineitem-shaped table: `baseRows` keys laid out over 84 months
  * (7 yearly partitions) in key order, as TPC-H orders its dates; keys at
  * or above `baseRows` are inserts and land in the most recent months. */
final case class LineGen(seed: Long, baseRows: Long) {
  import Gen._
  val Months = 84

  def monthIndex(key: Long): Int =
    if (key < baseRows) (key * Months / baseRows).toInt
    else Months - 2 + (key % 2).toInt

  def yearName(month: Int): String = (1992 + month / 12).toString

  /** First base key of the most recent year. */
  def lastYearFrom: Long = baseRows * (Months - 12) / Months

  def row(key: Long, ver: Long): LineRow = {
    val m = monthIndex(key)
    val hk = hash(seed, key, 0)
    val h = hash(seed, key, ver + 1)
    LineRow(
      l_key = key,
      l_orderkey = key / 4,
      l_partkey = below(hk, 200000).toLong,
      l_quantity = 1 + below(h, 50),
      l_price_c = 100L + below(mix(h + 1), 10000000),
      l_discount = below(mix(h + 2), 11),
      l_returnflag = "ANR".charAt(below(mix(h + 3), 3)).toString,
      l_linestatus = if (m < Months / 2) "F" else "O",
      l_shipday = m * 30 + below(mix(hk + 1), 30),
      l_shipyear = yearName(m),
      l_comment = Words.phrase(mix(h + 4), 3 + below(mix(h + 5), 4)),
      l_ver = ver)
  }

  /** Order-independent fingerprint of a (key, version) pair: the content
    * checksum of a table state is the wrapping sum of these. */
  def fingerprint(key: Long, ver: Long): Long = mix(hash(seed, key, ver) ^ 0x51ED27L)
}

final case class OrderGen(seed: Long, baseOrders: Long) {
  import Gen._
  val Months = 84
  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def monthIndex(key: Long): Int =
    if (key < baseOrders) (key * Months / baseOrders).toInt
    else Months - 1

  /** First base key of the most recent year. */
  def lastYearFrom: Long = baseOrders * (Months - 12) / Months

  def row(key: Long, ver: Long): OrderRow = {
    val m = monthIndex(key)
    val hk = hash(seed ^ 0x0DE5L, key, 0)
    val h = hash(seed ^ 0x0DE5L, key, ver + 1)
    OrderRow(
      o_orderkey = key,
      o_custkey = below(hk, 15000).toLong,
      o_orderday = m * 30 + below(mix(hk + 1), 30),
      o_priority = Priorities(below(h, Priorities.length)),
      o_total_c = 1000L + below(mix(h + 1), 50000000),
      o_year = (1992 + m / 12).toString,
      o_ver = ver)
  }
}

/** A fixed pseudo-word vocabulary, a few words carrying accents so that
  * Unicode normalisation matters to exact dedup. */
object Words {
  val Vocab: Array[String] = {
    val r = new Gen.Rng(0x70CABL)
    val letters = "abcdefghijklmnoprstuvwy"
    val accented = Array("é", "ü", "ñ", "ç", "ø")
    Array.tabulate(6000) { i =>
      val len = 3 + r.nextInt(7)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb += letters.charAt(r.nextInt(letters.length)))
      if (i % 37 == 5) sb.insert(r.nextInt(sb.length), accented(r.nextInt(accented.length)))
      sb.toString
    }
  }

  /** Zipf-like draw: low ranks are far more frequent. */
  def word(h: Long): String = {
    val u = (h >>> 11) * (1.0 / (1L << 53))
    Vocab((Vocab.length * u * u * u).toInt)
  }

  def phrase(h: Long, n: Int): String =
    (0 until n).map(i => word(Gen.mix(h + i))).mkString(" ")
}
