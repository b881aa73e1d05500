package bloombench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/** Seeded input generators. Every row is a pure function of `(seed, row
  * index)`, so the oracle regenerates any key on the driver instead of
  * keeping the inputs in memory, and the program receives only the files
  * written here. */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit value from any input. */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The `stream`-th uniform draw in [0, 1) for row `i`. */
  def uniform(seed: Long, i: Long, stream: Int): Double =
    (mix64(mix64(seed * 0x9e3779b97f4a7c15L + stream) + i) >>> 11) * (1.0 / (1L << 53))

  /** Writes `prefix` followed by `value` in decimal, zero-padded to at
    * least `width` digits. */
  def idBytes(prefix: String, value: Long, width: Int): Array[Byte] = {
    val digits = math.max(width, value.toString.length)
    val out = new Array[Byte](prefix.length + digits)
    var j = 0
    while (j < prefix.length) { out(j) = prefix.charAt(j).toByte; j += 1 }
    var v = value
    var d = out.length - 1
    while (d >= prefix.length) { out(d) = ('0' + (v % 10)).toByte; v /= 10; d -= 1 }
    out
  }

  /** A bijection of [0, modulus) keyed by the seed: unique ids without a
    * set. `mult` is odd and not a multiple of 5, so it is a unit modulo
    * any 2^a 5^b modulus. */
  final case class Perm(seed: Long, modulus: Long) {
    private val mult: Long = {
      var a = (mix64(seed ^ 0x5bd1e995L) & 0x3fffffffL) | 1L
      while (a % 5 == 0) a += 2
      a
    }
    private val offset: Long = java.lang.Math.floorMod(mix64(seed ^ 0x27d4eb2fL), modulus)
    def apply(i: Long): Long = java.lang.Math.floorMod(mult * i + offset, modulus)
  }

  // ------------------------------------------------------------------
  // IMDb-shaped ratings TSV (`tconst  averageRating  numVotes`)
  // ------------------------------------------------------------------

  /** What the generator wrote, as the oracle needs it. `perRating(r)` is
    * the number of well-formed rows whose rating rounds to `r` (1..10). */
  final case class Tsv(
      dir: String, seed: Long, rows: Int, dataLines: Long, corrupt: Long,
      perRating: Array[Long], bytes: Long) {

    private val ids = Perm(seed, imdbIds)
    /** Key bytes and rounded rating of well-formed row `i`. */
    def key(i: Int): Array[Byte] = idBytes("tt", ids(i) + 1, 7)
    def rating(i: Int): Int = (Gen.imdbTenths(seed, i) + 5) / 10
  }

  private val imdbIds = 40000000L // 2^9 * 5^7; tt0000001 .. tt40000000

  /** Rating in tenths, 10..100. Mostly a left-skewed bell around 6.9 (so
    * 6–8 dominate), plus a 4% uniform tail that keeps 1 and 10 rare but
    * present, as in the IMDb ratings file. */
  def imdbTenths(seed: Long, i: Int): Int = {
    val x =
      if (uniform(seed, i, 1) < 0.04) 1.0 + 9.0 * uniform(seed, i, 2)
      else {
        // Box-Muller on two draws; wider on the low side
        val g = math.sqrt(-2.0 * math.log(1.0 - uniform(seed, i, 3))) *
          math.cos(2 * math.Pi * uniform(seed, i, 4))
        6.9 + g * (if (g < 0) 1.35 else 0.95)
      }
    math.min(100, math.max(10, math.round(x * 10).toInt))
  }

  /** Heavy-tailed vote count (Pareto, alpha ~0.9). */
  def imdbVotes(seed: Long, i: Int): Long =
    math.min(3000000L, (5.0 / math.pow(1.0 - uniform(seed, i, 5), 1.1)).toLong)

  /** The malformed line kinds planted in the file. Each leaves the id or
    * the rating unparseable, so the program's permissive parse drops it. */
  private def malformed(kind: Int, seed: Long, j: Int): String = {
    val id = new String(idBytes("tt", imdbIds + 1 + j, 7), StandardCharsets.US_ASCII)
    kind % 4 match {
      case 0 => s"$id\tN/A\t17"
      case 1 => s"$id\t\t230"
      case 2 => s"\t7.3\t41"
      case _ => id
    }
  }

  /** Writes `rows` well-formed lines plus `corrupt` malformed ones,
    * spread through the file, under `dir/ratings.tsv`. */
  def writeTsv(dir: String, seed: Long, rows: Int, corrupt: Int): Tsv = {
    new java.io.File(dir).mkdirs()
    val file = new java.io.File(dir, "ratings.tsv")
    val out = new BufferedOutputStream(new FileOutputStream(file), 1 << 20)
    val perRating = new Array[Long](11)
    val ids = Perm(seed, imdbIds)
    // malformed line j goes before well-formed row plantAt(j)
    val plantAt = Array.tabulate(corrupt)(j =>
      ((j + uniform(seed, j, 6)) * rows / corrupt).toInt)
    var nextBad = 0
    try {
      out.write("tconst\taverageRating\tnumVotes\n".getBytes(StandardCharsets.US_ASCII))
      var i = 0
      while (i < rows) {
        while (nextBad < corrupt && plantAt(nextBad) == i) {
          out.write((malformed(nextBad, seed, nextBad) + "\n").getBytes(StandardCharsets.US_ASCII))
          nextBad += 1
        }
        val t = imdbTenths(seed, i)
        perRating((t + 5) / 10) += 1
        out.write(idBytes("tt", ids(i) + 1, 7))
        out.write(s"\t${t / 10}.${t % 10}\t${imdbVotes(seed, i)}\n".getBytes(StandardCharsets.US_ASCII))
        i += 1
      }
      while (nextBad < corrupt) {
        out.write((malformed(nextBad, seed, nextBad) + "\n").getBytes(StandardCharsets.US_ASCII))
        nextBad += 1
      }
    } finally out.close()
    Tsv(dir, seed, rows, rows.toLong + corrupt, corrupt, perRating, file.length())
  }

  // ------------------------------------------------------------------
  // Disjoint train/test parquet key sets for the sharded build
  // ------------------------------------------------------------------

  /** Keys `0 until train` are the train set, `train until train + test`
    * the test set; ratings are uniform over 1..10. */
  final case class Keys(
      trainDir: String, testDir: String, seed: Long, train: Int, test: Int,
      trainPerRating: Array[Long], testPerRating: Array[Long]) {
    private val ids = Perm(seed, shardIds)
    def key(i: Int): Array[Byte] = idBytes("sk", ids(i), 9)
    def rating(i: Int): Int = Gen.shardRating(seed, i)
  }

  private val shardIds = 1000000000L // 2^9 * 5^9

  def shardRating(seed: Long, i: Int): Int = 1 + (uniform(seed, i, 7) * 10).toInt

  def writeKeys(spark: SparkSession, dir: String, seed: Long, train: Int, test: Int,
      partitions: Int): Keys = {
    import spark.implicits._
    val ids = Perm(seed, shardIds)
    def write(from: Int, until: Int, path: String): Unit =
      spark.range(from.toLong, until.toLong, 1L, partitions).as[Long]
        .map { i =>
          (new String(idBytes("sk", ids(i), 9), StandardCharsets.US_ASCII), shardRating(seed, i.toInt))
        }
        .toDF("movieId", "rating")
        .write.mode("overwrite").parquet(path)
    write(0, train, s"$dir/train")
    write(train, train + test, s"$dir/test")
    val trainPer = new Array[Long](11)
    val testPer = new Array[Long](11)
    var i = 0
    while (i < train + test) {
      val r = shardRating(seed, i)
      if (i < train) trainPer(r) += 1 else testPer(r) += 1
      i += 1
    }
    Keys(s"$dir/train", s"$dir/test", seed, train, test, trainPer, testPer)
  }
}
