package perfbench

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types._

/** Order-insensitive cell digest: a 64-bit hash per live cell over
  * (key, name, value, write_time), summed mod 2^64. A sum (not xor)
  * so a duplicated cell changes the digest as surely as a dropped one.
  */
object Digest {
  @inline def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  @inline def bytes(h0: Long, b: Array[Byte], off: Int, len: Int): Long = {
    var h = h0
    var i = off
    val end = off + len
    while (i < end) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    (h ^ 0xff) * 0x100000001b3L // field separator
  }
  def cell(key: Array[Byte], kOff: Int, kLen: Int, name: Array[Byte],
      nOff: Int, nLen: Int, value: Array[Byte], vOff: Int, vLen: Int,
      writeTime: Long): Long = {
    var h = 0xcbf29ce484222325L
    h = bytes(h, key, kOff, kLen)
    h = bytes(h, name, nOff, nLen)
    h = bytes(h, value, vOff, vLen)
    mix(h ^ mix(writeTime))
  }
}

/** The seeded `events` generator and its answer key.
  *
  * Every attribute of cell `g` (its partition, kind, value and write
  * time) is a pure function of (seed, g), so the Spark job that writes
  * the parquet and the plain loop that builds the [[Answer]] agree
  * without either one reading the other — and neither uses the engine.
  *
  * Shape (what the engine's cost depends on):
  *  - partition widths are Pareto quantiles (alpha 1.15, minimum 10,
  *    capped at 20 000 cells): median ~18 cells, with a tail of
  *    partitions of 10^4 cells and more;
  *  - event types click 35% / purchase 23% (live), view 20% (counter),
  *    signup 12% (expiring), error 10% (deleted), and every 25th
  *    partition is tombstoned (`user_id % 50 == 0`): ~44% non-live;
  *  - `props` (the cell value) is 10..130 bytes of word text;
  *  - `ts` is uniform over [[Days]] days, so any one-day window holds a
  *    1/[[Days]] sample of nearly every wide partition.
  *
  * Keys are `user_id = 1000000 + 2p`: seven decimal digits, so string
  * order equals numeric order, and the odd ids between two partitions
  * are keys that are absent yet inside every file's key range.
  */
final case class Gen(seed: Long, cells: Long) {
  import Gen._

  val widths: Array[Int] = {
    // stratified Pareto quantiles: every seed gets the same multiset of
    // widths (so the skew that sets the nest's cost does not vary with
    // the seed), dealt to the keys in a seeded order
    def quantiles(n: Int): Array[Int] = Array.tabulate(n) { i =>
      math.min(MaxWidth.toDouble, math.floor(MinWidth / math.pow((i + 0.5) / n, 1 / Alpha))).toInt
    }
    var n = 1
    while (quantiles(n).map(_.toLong).sum < cells) n *= 2
    var lo = n / 2; var hi = n // smallest n whose widths cover `cells`
    while (hi - lo > 1) {
      val mid = (lo + hi) / 2
      if (quantiles(mid).map(_.toLong).sum >= cells) hi = mid else lo = mid
    }
    val w = quantiles(hi)
    w(0) -= (w.map(_.toLong).sum - cells).toInt // the widest absorbs the excess
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(w.toSeq).toArray
  }
  val offsets: Array[Long] = widths.scanLeft(0L)(_ + _)
  def partitions: Int = widths.length

  /** Hash of cell `g`: every attribute below derives from it. */
  @inline def h(g: Long): Long = Digest.mix(Digest.mix(seed) ^ (g * 0x9e3779b97f4a7c15L))

  /** The shared value text; a cell's value is a slice of it. */
  val text: Array[Byte] = {
    val sb = new StringBuilder
    var i = 0L
    while (sb.length < TextLen + 200) {
      sb.append(Words((Digest.mix(seed + 17 * i) >>> 33).toInt % Words.length)).append(' ')
      i += 1
    }
    sb.toString.getBytes(US_ASCII)
  }
  @inline def valueLen(hg: Long): Int = {
    val u = ((hg >>> 40) & 0xffff) / 65536.0
    10 + (u * u * 121).toInt
  }
  @inline def valueOff(hg: Long): Int = ((Digest.mix(hg) >>> 33) % TextLen).toInt
  @inline def tsMicros(hg: Long): Long =
    T0Micros + (Digest.mix(hg ^ 0x5bd1e995L) >>> 1) % (Days * DayMicros)

  /** Writes `<dir>/events.parquet` (the engine's `events` schema). */
  def write(spark: SparkSession, dir: String, slices: Int): Unit = {
    val self = this
    val rows = spark.sparkContext.parallelize(0 until slices, slices).flatMap { s =>
      val gen = self
      Iterator.from(s, slices).takeWhile(_ < gen.partitions).flatMap { p =>
        val userId = 1000000L + 2L * p
        Iterator.range(0, gen.widths(p)).map { j =>
          val g = gen.offsets(p) + j
          val hg = gen.h(g)
          Row(g, gen.tsMicros(hg), userId, Types(kind(hg)), ((hg >>> 11) % 10000) / 100.0,
            new String(gen.text, gen.valueOff(hg), gen.valueLen(hg), US_ASCII))
        }
      }
    }
    spark.createDataFrame(rows, RawSchema)
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** The answer key, from the same pure functions, in plain loops. */
  def answer(threads: Int): Answer = {
    val n = partitions
    val live = new Array[Int](n)
    val digest = new Array[Long](n)
    val genMask = new Array[Int](n)
    val payload = new Array[Long](n)
    val inDigest = new Array[Long](n)
    val chunks = (0 until n).grouped(math.max(1, n / (threads * 8) + 1)).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      chunks.map { ps => pool.submit(new Runnable { def run(): Unit = ps.foreach { p =>
        val userId = 1000000L + 2L * p
        val key = userId.toString.getBytes(US_ASCII)
        val dead = userId % 50 == 0
        val name = new Array[Byte](12 + 1 + 8)
        var j = 0
        while (j < widths(p)) {
          val g = offsets(p) + j
          val hg = h(g)
          val k = kind(hg)
          val ts = tsMicros(hg)
          val vOff = valueOff(hg); val vLen = valueLen(hg)
          inDigest(p) += Digest.mix(Digest.bytes(g * 31 + k, text, vOff, vLen) ^ ts ^ userId)
          if (!dead) {
            genMask(p) |= 1 << dayOf(ts)
            if (k < 2) {
              val nLen = nameInto(name, g, k)
              live(p) += 1
              digest(p) += Digest.cell(key, 0, key.length, name, 0, nLen,
                text, vOff, vLen, ts)
              payload(p) += key.length + nLen + vLen + 8
            }
          }
          j += 1
        }
      }})}.foreach(_.get())
    } finally pool.shutdown()
    Answer(live, digest, genMask, payload, inDigest.sum)
  }
}

object Gen {
  val MinWidth = 10.0
  val Alpha = 1.15
  val MaxWidth = 20000
  val Days = 8
  val DayMicros = 86400L * 1000000L
  val T0Micros = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  val TextLen = 1 << 16
  /** Index order matters: kinds 0 and 1 are the live ones. */
  val Types: Array[String] = Array("click", "purchase", "view", "signup", "error")
  private val Words = Array("user", "session", "page", "cart", "item", "price",
    "ok", "ref", "search", "query", "home", "checkout", "id", "token", "v2",
    "mobile", "web", "eu", "us", "promo", "null", "true", "false", "0", "42")

  @inline def dayOf(tsMicros: Long): Int = ((tsMicros - T0Micros) / DayMicros).toInt

  @inline def kind(hg: Long): Int = {
    val r = ((hg >>> 20) % 100).toInt
    if (r < 35) 0 else if (r < 58) 1 else if (r < 78) 2 else if (r < 90) 3 else 4
  }

  /** The engine's cell name: 12-digit zero-padded event_id, ':', type. */
  def nameInto(out: Array[Byte], g: Long, k: Int): Int = {
    var v = g
    var i = 11
    while (i >= 0) { out(i) = ('0' + (v % 10)).toByte; v /= 10; i -= 1 }
    out(12) = ':'
    val t = Types(k)
    var j = 0
    while (j < t.length) { out(13 + j) = t.charAt(j).toByte; j += 1 }
    13 + t.length
  }

  def key(p: Int): Array[Byte] = (1000000L + 2L * p).toString.getBytes(US_ASCII)
  /** An id between partition p's key and the next: present in no file. */
  def gapKey(p: Int): Array[Byte] = (1000001L + 2L * p).toString.getBytes(US_ASCII)

  private val RawSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))
}

/** Expected results, per partition index p (key [[Gen.key]]).
  * `genMask` bit d is set when the partition has any cell written on
  * day d; a tombstoned partition has an empty mask and no live cells.
  */
final case class Answer(live: Array[Int],
    digest: Array[Long], genMask: Array[Int], payload: Array[Long],
    inputDigest: Long) {
  def partitions: Int = live.length
  /** Rows the convert output holds: every non-tombstoned partition,
    * key-only when none of its cells is live.
    */
  lazy val rows: Long = genMask.count(_ != 0).toLong
  lazy val liveCells: Long = live.map(_.toLong).sum
  lazy val liveDigest: Long = digest.sum
  lazy val livePayloadBytes: Long = payload.sum
  /** Rows, cells and digest a key range [p0, p1) of a corpus written
    * as one append per day holds: a row per (key, day with a cell).
    */
  def range(p0: Int, p1: Int): Totals = {
    var t = Totals.Zero
    var p = p0
    while (p < p1) {
      t = t + Totals(Integer.bitCount(genMask(p)), live(p), digest(p))
      p += 1
    }
    t
  }
}

final case class Totals(rows: Long, cells: Long, digest: Long) {
  def +(o: Totals): Totals = Totals(rows + o.rows, cells + o.cells, digest + o.digest)
}
object Totals { val Zero: Totals = Totals(0, 0, 0) }
