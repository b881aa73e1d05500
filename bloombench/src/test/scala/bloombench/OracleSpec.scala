package bloombench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The oracle must be right on its own: published murmur3_x86_32 vectors,
  * agreement with a second implementation, and checks that pass on a
  * correct artifact but fail on one flipped bit or one shifted count. */
class OracleSpec extends AnyFunSuite {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  test("murmur3_x86_32 matches published vectors") {
    val vectors = Seq(
      (bytes(), 0, 0),
      (bytes(), 1, 0x514e28b7),
      (bytes(), 0xffffffff, 0x81f16f39),
      (bytes(0xff, 0xff, 0xff, 0xff), 0, 0x76293b50),
      (bytes(0x21, 0x43, 0x65, 0x87), 0, 0xf55b516b),
      (bytes(0x21, 0x43, 0x65, 0x87), 0x5082edee, 0x2362f9de),
      (bytes(0x21, 0x43, 0x65), 0, 0x7e4a8634),
      (bytes(0x21, 0x43), 0, 0xa0f7b07a),
      (bytes(0x21), 0, 0x72661cf4),
      (bytes(0, 0, 0, 0), 0, 0x2362f9de),
      (bytes(0, 0, 0), 0, 0x85f0b427),
      (bytes(0, 0), 0, 0x30f4c306),
      (bytes(0), 0, 0x514e28b7),
      (ascii("aaaa"), 0x9747b28c, 0x5a97808a),
      (ascii("abc"), 0, 0xb3dd93fa),
      (ascii("Hello, world!"), 0x9747b28c, 0x24884cba),
      (ascii("The quick brown fox jumps over the lazy dog"), 0x9747b28c, 0x2fa826cd))
    for ((key, seed, expected) <- vectors)
      assert(Oracle.hash(key, seed) == expected, f"key ${key.toSeq} seed $seed%08x")
  }

  test("murmur3_x86_32 agrees with Guava's murmur3_32_fixed on generated keys") {
    for (i <- 0 until 2000; seed <- Seq(0, 6, Oracle.routeSeed)) {
      val key = Gen.idBytes("tt", Gen.Perm(17L, 40000000L)(i.toLong), 7).take(1 + i % 10)
      val guava = com.google.common.hash.Hashing.murmur3_32_fixed(seed).hashBytes(key).asInt()
      assert(Oracle.hash(key, seed) == guava)
    }
  }

  /** A correct lifecycle's outputs on a tiny generated TSV, built with the
    * oracle's own arithmetic: even rows are the train split. */
  private final class Fixture(p: Double) {
    val dir: Path = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "oracle-spec")
    val tsv: Gen.Tsv = Gen.writeTsv(dir.resolve("input").toString, 5L, rows = 3000, corrupt = 3)
    val train: Map[Int, Seq[Int]] = (0 until tsv.rows by 2).groupBy(tsv.rating)
    val filters: Seq[Oracle.Filter] = train.toSeq.sortBy(_._1).map { case (r, rows) =>
      val m = Oracle.numBits(rows.size, p)
      val k = Oracle.numHashes(p)
      val bits = new Array[Byte]((m + 7) / 8)
      for (i <- rows; s <- 0 until k) {
        val b = java.lang.Math.floorMod(Oracle.hash(tsv.key(i), s), m)
        bits(b >>> 3) = (bits(b >>> 3) | (1 << (b & 7))).toByte
      }
      Oracle.Filter(r, 0, rows.size.toLong, 1, m, k, bits)
    }
    val fpTable: Seq[(Int, Long, Long)] = filters.map { f =>
      val test = (1 until tsv.rows by 2).filter(tsv.rating(_) == f.rating)
      (f.rating, test.count(i => Oracle.probe(f.bits, f.m, f.k, tsv.key(i))).toLong, test.size.toLong)
    }

    def write(table: Seq[(Int, Long, Long)]): (Seq[String], String) = {
      val out = dir.resolve(s"out-${System.nanoTime()}")
      def part(sub: String, lines: Seq[String]): Unit = {
        Files.createDirectories(out.resolve(sub))
        Files.write(out.resolve(sub).resolve("part-00000.txt"), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      }
      val rows = table.map { case (r, fp, t) => f"$r\t$fp\t$t\t${fp.toDouble / t}%.8f" }
      part("linecount", filters.map(f => s"${f.rating}\t${f.n}"))
      part("results", rows)
      (Seq(s"ingested=${tsv.dataLines} corrupt_dropped=${tsv.corrupt} p=$p",
        "rating\tfalsePositives\ttotal\tfpRate") ++ rows, out.toString)
    }
  }

  test("a correct reference lifecycle passes; a flipped bit or a shifted count fails") {
    val fx = new Fixture(0.2)
    val oracle = new ReferenceOracle(fx.tsv, 0.2)
    val (report, out) = fx.write(fx.fpTable)
    val good = oracle.check(report, out, fx.filters)
    assert(good.failures.isEmpty, good.failures)
    assert(good.corruptDropped == 3)

    // clear one of the bits the first train key of the largest rating set
    val f = fx.filters.maxBy(_.n)
    val key = fx.tsv.key(fx.train(f.rating).head)
    val b = java.lang.Math.floorMod(Oracle.hash(key, 0), f.m)
    val flipped = f.copy(bits = f.bits.clone())
    flipped.bits(b >>> 3) = (flipped.bits(b >>> 3) & ~(1 << (b & 7))).toByte
    val bad = oracle.check(report, out, fx.filters.map(x => if (x eq f) flipped else x))
    assert(bad.failures.exists(_.contains("re-probe")), bad.failures)

    val shifted = fx.fpTable.map { case (r, fp, t) => if (r == f.rating) (r, fp + 1, t) else (r, fp, t) }
    val (report2, out2) = fx.write(shifted)
    val off = oracle.check(report2, out2, fx.filters)
    assert(off.failures.exists(_.contains("re-probe")), off.failures)
  }

  test("a correct sharded lifecycle passes; a flipped bit fails as a false negative") {
    val p = 0.05
    val maxSlab = 1024L
    val n = 6000
    val train = n * 4 / 5
    val seed = 9L
    val trainPer = new Array[Long](11)
    val testPer = new Array[Long](11)
    for (i <- 0 until n) if (i < train) trainPer(Gen.shardRating(seed, i)) += 1 else testPer(Gen.shardRating(seed, i)) += 1
    val keys = Gen.Keys("unused", "unused", seed, train, n - train, trainPer, testPer)
    val slabs = (1 to 10).flatMap { r =>
      val (s, m) = Oracle.slabs(trainPer(r), p, maxSlab)
      val k = Oracle.numHashes(p)
      (0 until s).map(sh => Oracle.Filter(r, sh, trainPer(r), s, m, k, new Array[Byte]((m + 7) / 8)))
    }
    val byKey = slabs.map(x => (x.rating, x.shard) -> x).toMap
    def slabOf(i: Int) = {
      val r = keys.rating(i)
      byKey((r, Oracle.shard(keys.key(i), slabs.count(_.rating == r))))
    }
    for (i <- 0 until train; s <- 0 until Oracle.numHashes(p)) {
      val x = slabOf(i)
      val b = java.lang.Math.floorMod(Oracle.hash(keys.key(i), s), x.m)
      x.bits(b >>> 3) = (x.bits(b >>> 3) | (1 << (b & 7))).toByte
    }
    val fp = (1 to 10).map { r =>
      val test = (train until n).filter(keys.rating(_) == r)
      (r, test.count(i => { val x = slabOf(i); Oracle.probe(x.bits, x.m, x.k, keys.key(i)) }).toLong, test.size.toLong)
    }
    assert(slabs.map(_.s).max > 1, "the fixture should split ratings into several slabs")
    val good = new ShardedOracle(keys, p, maxSlab).check(fp, slabs)
    assert(good.failures.isEmpty, good.failures)

    val x = slabOf(0)
    val b = java.lang.Math.floorMod(Oracle.hash(keys.key(0), 0), x.m)
    val flipped = x.copy(bits = x.bits.clone())
    flipped.bits(b >>> 3) = (flipped.bits(b >>> 3) & ~(1 << (b & 7))).toByte
    val bad = new ShardedOracle(keys, p, maxSlab).check(fp, slabs.map(y => if (y eq x) flipped else y))
    assert(bad.failures.exists(_.contains("false negatives")), bad.failures)
  }
}
