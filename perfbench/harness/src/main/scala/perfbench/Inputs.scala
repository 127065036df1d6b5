package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** The benchmark's own seeded inputs. Nothing here calls the program, so a
  * program change can never change what the workloads feed it.
  */
object Rows {
  // the reference generator's dictionaries (cmd/gen_file/main.go), copied
  // rather than imported from the program for the reason above
  val timezones: Array[String] = Array("America/New_York", "Europe/London",
    "Asia/Tokyo", "Australia/Sydney", "America/Los_Angeles", "Europe/Berlin")
  val countries: Array[String] =
    Array("USA", "UK", "Japan", "Australia", "Germany", "Canada")
  val locnames: Array[String] = Array("Springfield", "Rivertown", "Lakeside",
    "Hillview", "Bayport", "Meadowfield")
  val businesses: Array[String] = Array("TechCorp", "CoffeeCo", "MarketPlace",
    "MediHealth", "EduWise", "GreenBuild")

  val csvHeader = "locid,loctimezone,country,locname,business,seq"

  /** A row's five attributes packed into one Int: tz, country, city,
    * city number, business, business number.
    */
  def randomCode(r: SplittableRandom): Int =
    ((((r.nextInt(6) * 6 + r.nextInt(6)) * 6 + r.nextInt(6)) * 1000 +
      r.nextInt(1000)) * 6 + r.nextInt(6)) * 1000 + r.nextInt(1000)

  def locid(key: Int): String = {
    val s = key.toString
    "LOC" + "0" * (12 - s.length) + s
  }

  /** The five business columns of `key` with attributes `code`. */
  def fields(key: Int, code: Int): Array[String] = {
    val bizNum = code % 1000
    val biz = (code / 1000) % 6
    val cityNum = (code / 6000) % 1000
    val city = (code / 6000000) % 6
    val country = (code / 36000000) % 6
    val tz = code / 216000000
    Array(locid(key), timezones(tz), countries(country),
      s"${locnames(city)}_$cityNum", s"${businesses(biz)}_$bizNum")
  }

  /** Spark's `xxhash64(concat_ws('|', <five columns>))` computed here, so
    * the expected state can be checked without collecting the table.
    */
  def rowHash(key: Int, code: Int): Long = hashFields(fields(key, code).toSeq)

  def hashFields(f: Seq[String]): Long = {
    val b = f.mkString("|").getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
}

/** One CSV upload: row i carries `keys(i)`, attributes `codes(i)` and
  * sequence number `firstSeq + i`.
  */
final case class Upload(index: Int, keys: Array[Int], codes: Array[Int],
    firstSeq: Long) {
  def rows: Int = keys.length

  def writeCsv(path: Path): Unit = {
    val w = Files.newBufferedWriter(path, UTF_8)
    try {
      w.write(Rows.csvHeader)
      w.write('\n')
      var i = 0
      while (i < keys.length) {
        w.write(Rows.fields(keys(i), codes(i)).mkString(","))
        w.write(',')
        w.write((firstSeq + i).toString)
        w.write('\n')
        i += 1
      }
    } finally w.close()
  }
}

/** Seeded upload sequence.
  *
  * Upload sizes are drawn from `small`, except that every tenth upload is
  * drawn from `large` when given. Draws are stratified so that runs of
  * different seeds import about the same number of rows: the small
  * uploads of each block of ten take one stratum each of `small` in a
  * seeded order, and each pair of blocks puts its two large uploads in
  * opposite halves of `large`. About 30% of the rows of every
  * upload after the first update an earlier key, picked from an earlier
  * upload that is geometrically more likely to be a recent one; about 2%
  * repeat a key of the same upload later in the file, so with a later
  * `seq`. Sequence numbers rise by one per row across all uploads.
  */
final class UploadGen(seed: Long, small: (Int, Int),
    large: Option[(Int, Int)]) {
  private val rng = new SplittableRandom(seed)
  private var nextKey = 0
  private var nextSeq = 0L
  private val newKeys = ArrayBuffer[(Int, Int)]()

  private var smallStrata: List[Int] = Nil
  private var largeHalves: List[Int] = Nil

  /** A draw from stratum `k` of `n` equal strata of the range `r`. */
  private def stratum(r: (Int, Int), k: Int, n: Int): Int =
    r._1 + ((k + rng.nextDouble()) * (r._2 - r._1) / n).round.toInt

  private def shuffled(n: Int): List[Int] = {
    val a = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toList
  }

  private def size(i: Int): Int = large match {
    case Some(l) if i % 10 == 9 =>
      if (largeHalves.isEmpty) largeHalves = shuffled(2)
      val h = largeHalves.head
      largeHalves = largeHalves.tail
      stratum(l, h, 2)
    case _ =>
      val perBlock = if (large.isDefined) 9 else 10
      if (smallStrata.isEmpty) smallStrata = shuffled(perBlock)
      val k = smallStrata.head
      smallStrata = smallStrata.tail
      stratum(small, k, perBlock)
  }

  private def earlierKey(i: Int): Int = {
    var back = 0
    while (back < 50 && rng.nextDouble() > 0.35) back += 1
    val (s, e) = newKeys(math.max(0, i - 1 - back))
    if (e > s) s + rng.nextInt(e - s) else rng.nextInt(nextKey)
  }

  def next(): Upload = {
    val i = newKeys.size
    val n = size(i)
    val start = nextKey
    val keys = new Array[Int](n)
    val codes = new Array[Int](n)
    var r = 0
    while (r < n) {
      keys(r) =
        if (nextKey > 0 && i > 0 && rng.nextDouble() < 0.30) earlierKey(i)
        else { nextKey += 1; nextKey - 1 }
      codes(r) = Rows.randomCode(rng)
      r += 1
    }
    newKeys += ((start, nextKey))
    // duplicates of this upload's own rows, each placed after its source
    val dups = Array.fill(math.round(n * 0.02).toInt) {
      val src = rng.nextInt(n)
      (src + 1 + rng.nextInt(n - src), keys(src), Rows.randomCode(rng))
    }.sortBy(_._1)
    val outKeys = new Array[Int](n + dups.length)
    val outCodes = new Array[Int](n + dups.length)
    var o = 0
    var d = 0
    r = 0
    while (r <= n) {
      while (d < dups.length && dups(d)._1 == r) {
        outKeys(o) = dups(d)._2; outCodes(o) = dups(d)._3; o += 1; d += 1
      }
      if (r < n) { outKeys(o) = keys(r); outCodes(o) = codes(r); o += 1 }
      r += 1
    }
    val u = Upload(i, outKeys, outCodes, nextSeq)
    nextSeq += outKeys.length
    u
  }
}

/** The last-wins state the uploads so far must produce: per key, the
  * attributes of its row with the highest `seq`.
  */
final class ExpectedState {
  private var codes = new Array[Int](1 << 16)
  private var seqs = Array.fill(1 << 16)(-1L)
  private var n = 0

  def keys: Int = n
  def code(key: Int): Int = codes(key)

  def apply(u: Upload): Unit = {
    var i = 0
    while (i < u.rows) {
      val k = u.keys(i)
      val seq = u.firstSeq + i
      if (k >= codes.length) {
        val cap = math.max(codes.length * 2, k + 1)
        codes = java.util.Arrays.copyOf(codes, cap)
        val grown = Array.fill(cap)(-1L)
        System.arraycopy(seqs, 0, grown, 0, seqs.length)
        seqs = grown
      }
      if (seq > seqs(k)) { seqs(k) = seq; codes(k) = u.codes(i) }
      n = math.max(n, k + 1)
      i += 1
    }
  }

  /** (live rows, sum of [[Rows.rowHash]] over them). */
  def checksum: (Long, BigInt) = {
    var sum = BigInt(0)
    var k = 0
    while (k < n) { sum += Rows.rowHash(k, codes(k)); k += 1 }
    (n.toLong, sum)
  }

  /** The JSON `Relational.jsonPage` must return for the page of keys
    * [offset, offset + limit) in key order.
    */
  def pageJson(offset: Int, limit: Int): String =
    (offset until math.min(offset + limit, n)).map { k =>
      val f = Rows.fields(k, codes(k))
      s"""{"locid":"${f(0)}","loctimezone":"${f(1)}","country":"${f(2)}",""" +
        s""""locname":"${f(3)}","business":"${f(4)}"}"""
    }.mkString("[", ",", "]")
}

/** Seeded browse sessions over a table of `keys` live keys: each session
  * starts at page 1 and clicks "next" a geometric number of times
  * (mean 4); each click jumps to a uniformly random page instead with
  * probability 0.15. Yields request offsets.
  */
final class BrowseGen(seed: Long, keys: Int, pageSize: Int) {
  private val rng = new SplittableRandom(seed)
  private val pages = math.max(1, (keys + pageSize - 1) / pageSize)
  private var offset = 0
  private var clicksLeft = clicks()

  private def clicks(): Int = {
    var c = 0
    while (c < 100 && rng.nextDouble() > 0.2) c += 1
    c
  }

  def next(): Int = {
    val out = offset
    if (clicksLeft == 0) { offset = 0; clicksLeft = clicks() }
    else {
      clicksLeft -= 1
      offset =
        if (rng.nextDouble() < 0.15) rng.nextInt(pages) * pageSize
        else if (offset + pageSize < keys) offset + pageSize
        else 0
    }
    out
  }
}
