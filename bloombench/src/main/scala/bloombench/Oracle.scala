package bloombench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.codec.digest.MurmurHash3
import org.apache.commons.math3.distribution.BinomialDistribution

/** The benchmark's own Bloom arithmetic, written apart from the program:
  * murmur3_x86_32 from commons-codec, bit index `floorMod(hash, m)` for
  * seeds `0 until k`, slab routing `floorMod(hash(key, 1000003), s)`, and
  * the sizing formulas. It reads the artifact's documented packed layout
  * (bit `i` is byte `i >>> 3`, mask `1 << (i & 7)`) and nothing else of
  * the program. */
object Oracle {

  val routeSeed = 1000003

  /** Smallest two-sided binomial p-value an observed FP count may have. A
    * correct filter fails about once in a billion rating checks, yet an
    * FPP a few sigma off on a large rating fails. */
  val minFppPValue = 1e-9

  def hash(key: Array[Byte], seed: Int): Int = MurmurHash3.hash32x86(key, 0, key.length, seed)

  def probe(bits: Array[Byte], m: Int, k: Int, key: Array[Byte]): Boolean = {
    var s = 0
    while (s < k) {
      val i = java.lang.Math.floorMod(hash(key, s), m)
      if ((bits(i >>> 3) & (1 << (i & 7))) == 0) return false
      s += 1
    }
    true
  }

  def shard(key: Array[Byte], s: Int): Int = java.lang.Math.floorMod(hash(key, routeSeed), s)

  def bitsPerKey(p: Double): Double = -math.log(p) / (math.log(2) * math.log(2))
  def numHashes(p: Double): Int = math.ceil(-math.log(p) / math.log(2)).toInt
  def numBits(n: Long, p: Double): Int = math.ceil(n * bitsPerKey(p)).toInt

  /** Sharded geometry: slab count and per-slab bits for `n` keys. */
  def slabs(n: Long, p: Double, maxSlabBits: Long): (Int, Int) = {
    val s = math.max(1L, math.ceil(math.ceil(n * bitsPerKey(p)) / maxSlabBits.toDouble).toLong).toInt
    (s, math.ceil(math.ceil(n / s.toDouble) * bitsPerKey(p)).toInt)
  }

  /** Analytic false-positive probability of `n` keys in `m` bits, `k` hashes. */
  def expectedFpp(n: Long, m: Long, k: Int): Double = math.pow(1 - math.exp(-k.toDouble * n / m), k)

  /** |observed - expected| in binomial sigma of `trials` probes. */
  def zScore(hits: Long, trials: Long, q: Double): Double =
    if (trials == 0) 0.0
    else math.abs(hits.toDouble / trials - q) / math.sqrt(math.max(q * (1 - q), 1e-12) / trials)

  /** Exact two-sided binomial p-value of `hits` in `trials` at rate `q`. */
  def pValue(hits: Long, trials: Long, q: Double): Double =
    if (trials == 0) 1.0
    else {
      val d = new BinomialDistribution(null, trials.toInt, q)
      val lower = d.cumulativeProbability(hits.toInt)
      val upper = 1.0 - d.cumulativeProbability(hits.toInt - 1)
      math.min(1.0, 2 * math.min(lower, upper))
    }

  def popcount(bits: Array[Byte]): Long = {
    var c = 0L
    var i = 0
    while (i < bits.length) { c += Integer.bitCount(bits(i) & 0xff); i += 1 }
    c
  }

  /** Lines of every `part-*` file under a text-output directory. */
  def textLines(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala)
      .filter(_.nonEmpty)

  /** One filter (or slab) of the artifact; `n` is its rating's key count. */
  final case class Filter(rating: Int, shard: Int, n: Long, s: Int, m: Int, k: Int, bits: Array[Byte]) {
    def wellFormed: Boolean = m > 0 && k > 0 && bits.length == (m + 7) / 8
  }

  /** Content digest of an artifact: equal digests re-probe identically. */
  def digest(fs: Seq[Filter]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    fs.sortBy(f => (f.rating, f.shard)).foreach { f =>
      md.update(s"${f.rating}/${f.shard}/${f.n}/${f.s}/${f.m}/${f.k}/".getBytes(StandardCharsets.US_ASCII))
      md.update(f.bits)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** A lifecycle's check result, plus the filter-layer figures the traced
    * run reports. */
  final case class Verdict(failures: Seq[String], filters: Seq[Filter], corruptDropped: Long,
      bitsPerKey: Double, fillRatio: Double, fppMaxZ: Double)

  /** Total bits over distinct keys. */
  def bitsPerKeyOf(fs: Seq[Filter]): Double = {
    val keys = fs.groupBy(_.rating).values.map(_.head.n).sum
    if (keys == 0) 0.0 else fs.map(_.m.toLong).sum.toDouble / keys
  }

  def fillOf(fs: Seq[Filter]): Double = {
    val m = fs.map(_.m.toLong).sum
    if (m == 0) 0.0 else fs.map(f => popcount(f.bits)).sum.toDouble / m
  }

  /** Collects failure messages. */
  final class Failures {
    private val b = Seq.newBuilder[String]
    def expect(cond: Boolean, msg: => String): Unit = if (!cond) b += msg
    def result: Seq[String] = b.result()
  }
}

import Oracle._

/** Checks of a `ReferencePipeline.run` lifecycle on a generated TSV. The
  * re-probe of every generated key is a pure function of the artifact, so
  * it is kept per artifact digest: a lifecycle that wrote a byte-identical
  * artifact reuses the first one's count. */
final class ReferenceOracle(tsv: Gen.Tsv, p: Double) {
  private val hitsByArtifact = mutable.Map.empty[String, Array[Long]]

  /** `report` is what `run` returned; the rest is read from `outDir`. */
  def check(report: Seq[String], outDir: String, filters: Seq[Filter]): Verdict = {
    val f = new Failures
    val header = report.headOption.getOrElse("")
    val fields = header.split(" ").flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap
    f.expect(fields.get("ingested").contains(tsv.dataLines.toString),
      s"ingested: report '$header', generator wrote ${tsv.dataLines} data lines")
    f.expect(fields.get("corrupt_dropped").contains(tsv.corrupt.toString),
      s"corrupt_dropped: report '$header', generator planted ${tsv.corrupt}")

    def table(lines: Seq[String]): Map[Int, (Long, Long)] =
      lines.map(_.split("\t")).map(a => a(0).toInt -> (a(1).toLong, a(2).toLong)).toMap
    val printed = table(report.drop(2))
    val written = table(textLines(s"$outDir/results"))
    f.expect(printed.nonEmpty && printed == written,
      s"printed FP table $printed differs from the written one $written")
    val counts = textLines(s"$outDir/linecount").map(_.split("\t")).map(a => a(0).toInt -> a(1).toLong).toMap
    for (r <- 1 to 10) {
      val n = counts.getOrElse(r, 0L)
      val total = printed.get(r).map(_._2).getOrElse(0L)
      f.expect(n + total == tsv.perRating(r),
        s"rating $r: linecount $n + probed $total != generated ${tsv.perRating(r)}")
    }

    f.expect(filters.map(_.rating).distinct.size == filters.size,
      s"artifact repeats a rating: ${filters.map(_.rating)}")
    f.expect(filters.forall(x => x.rating >= 1 && x.rating <= 10), "artifact holds a rating outside 1..10")
    for (x <- filters) {
      f.expect(counts.get(x.rating).contains(x.n), s"rating ${x.rating}: artifact n=${x.n}, linecount ${counts.get(x.rating)}")
      f.expect(x.k == numHashes(p), s"rating ${x.rating}: k=${x.k}, expected ${numHashes(p)}")
      f.expect(x.m == numBits(x.n, p), s"rating ${x.rating}: m=${x.m}, expected ${numBits(x.n, p)}")
      f.expect(x.wellFormed, s"rating ${x.rating}: ${x.bits.length} bytes for m=${x.m}")
    }

    // Every well-formed generated key re-probed against its rating's
    // filter: the train keys must all hit (n_r) and the test keys hit
    // exactly the reported false positives, so one count proves both.
    val hits = hitsByArtifact.getOrElseUpdate(digest(filters), reprobe(filters))
    var maxZ = 0.0
    for (x <- filters if x.rating >= 1 && x.rating <= 10 && x.wellFormed) {
      val (fp, total) = printed.getOrElse(x.rating, (0L, 0L))
      f.expect(hits(x.rating) == x.n + fp,
        s"rating ${x.rating}: re-probe hits ${hits(x.rating)} != n ${x.n} + falsePositives $fp")
      val q = expectedFpp(x.n, x.m, x.k)
      maxZ = math.max(maxZ, zScore(fp, total, q))
      f.expect(pValue(fp, total, q) >= minFppPValue,
        f"rating ${x.rating}: $fp false positives in $total probes, analytic FPP $q%.5f")
    }
    Verdict(f.result, filters, fields.get("corrupt_dropped").flatMap(_.toLongOption).getOrElse(-1L),
      bitsPerKeyOf(filters), fillOf(filters), maxZ)
  }

  private def reprobe(filters: Seq[Filter]): Array[Long] = {
    val byRating = new Array[Filter](11)
    filters.foreach(x => if (x.rating >= 1 && x.rating <= 10 && x.wellFormed) byRating(x.rating) = x)
    val hits = new Array[Long](11)
    var i = 0
    while (i < tsv.rows) {
      val x = byRating(tsv.rating(i))
      if (x != null && probe(x.bits, x.m, x.k, tsv.key(i))) hits(x.rating) += 1
      i += 1
    }
    hits
  }
}

/** Checks of a sharded lifecycle: slab geometry, zero false negatives
  * over every train key, the FP recount and the per-rating totals. The
  * recount is kept per artifact digest, as in [[ReferenceOracle]]. */
final class ShardedOracle(keys: Gen.Keys, p: Double, maxSlabBits: Long) {

  /** Per (rating, shard): train keys that missed, test keys that hit, and
    * the train and test keys routed there. */
  private final class Recount(val misses: Array[Array[Long]], val fps: Array[Array[Long]],
      val trainKeys: Array[Array[Long]], val testKeys: Array[Array[Long]])
  private val recounts = mutable.Map.empty[String, Recount]

  def check(fpRows: Seq[(Int, Long, Long)], slabs: Seq[Filter]): Verdict = {
    val f = new Failures
    val table = new Array[Array[Filter]](11)
    for (r <- 1 to 10 if keys.trainPerRating(r) > 0) {
      val (s, m) = Oracle.slabs(keys.trainPerRating(r), p, maxSlabBits)
      val mine = slabs.filter(_.rating == r).sortBy(_.shard)
      f.expect(mine.map(_.shard) == (0 until s), s"rating $r: slabs ${mine.map(_.shard)}, expected 0 until $s")
      for (x <- mine) {
        f.expect(x.s == s && x.m == m && x.k == numHashes(p),
          s"rating $r shard ${x.shard}: (s, m, k) = (${x.s}, ${x.m}, ${x.k}), expected ($s, $m, ${numHashes(p)})")
        f.expect(x.wellFormed, s"rating $r shard ${x.shard}: ${x.bits.length} bytes for m=${x.m}")
      }
      if (mine.map(_.shard) == (0 until s) && mine.forall(_.wellFormed)) table(r) = mine.toArray
    }
    f.expect(slabs.forall(x => x.rating >= 1 && x.rating <= 10), "artifact holds a rating outside 1..10")

    val rc = recounts.getOrElseUpdate(digest(slabs), recount(table))
    val misses = rc.misses.map(a => if (a == null) 0L else a.sum)
    f.expect(misses.sum == 0L, s"false negatives per rating 1..10: ${misses.toSeq.drop(1)}")

    val reported = fpRows.map(t => t._1 -> (t._2, t._3)).toMap
    f.expect(reported.size == fpRows.size, s"FP table repeats a rating: ${fpRows.map(_._1)}")
    var maxZ = 0.0
    for (r <- 1 to 10 if keys.testPerRating(r) > 0) {
      val (fp, total) = reported.getOrElse(r, (-1L, -1L))
      val recounted = if (rc.fps(r) == null) -1L else rc.fps(r).sum
      f.expect(fp == recounted, s"rating $r: falsePositives $fp, oracle recount $recounted")
      f.expect(total == keys.testPerRating(r), s"rating $r: total $total, generated ${keys.testPerRating(r)}")
      if (table(r) != null) {
        // expected hits and their variance, summed over the rating's slabs
        var mean = 0.0
        var variance = 0.0
        table(r).foreach { x =>
          val q = expectedFpp(rc.trainKeys(r)(x.shard), x.m, x.k)
          val t = rc.testKeys(r)(x.shard)
          mean += t * q
          variance += t * q * (1 - q)
        }
        maxZ = math.max(maxZ, math.abs(recounted - mean) / math.sqrt(math.max(variance, 1e-12)))
      }
    }
    Verdict(f.result, slabs, 0L, bitsPerKeyOf(slabs), fillOf(slabs), maxZ)
  }

  private def recount(table: Array[Array[Filter]]): Recount = {
    def counters = table.map(t => if (t == null) null else new Array[Long](t.length))
    val rc = new Recount(counters, counters, counters, counters)
    var i = 0
    while (i < keys.train + keys.test) {
      val r = keys.rating(i)
      val t = table(r)
      if (t != null) {
        val key = keys.key(i)
        val x = t(shard(key, t.length))
        val hit = probe(x.bits, x.m, x.k, key)
        if (i < keys.train) {
          rc.trainKeys(r)(x.shard) += 1
          if (!hit) rc.misses(r)(x.shard) += 1
        } else {
          rc.testKeys(r)(x.shard) += 1
          if (hit) rc.fps(r)(x.shard) += 1
        }
      }
      i += 1
    }
    rc
  }
}
