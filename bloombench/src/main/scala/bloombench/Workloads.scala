package bloombench

import org.apache.spark.sql.SparkSession

import graft.ReferencePipeline
import graft.operators.{BloomPipeline, FilterStore}

/** One benchmark workload: how its inputs are generated and what one
  * complete lifecycle calls in the program. */
sealed trait Workload {
  def name: String
  def p: Double
  /** Slab bound passed to the sharded build (also in the traced probe forms). */
  def maxSlabBits: Long
  def prepare(spark: SparkSession, dir: String, seed: Long, cores: Int): Prepared
  /** The same workload on `1/div` of the rows (the warm-up's inputs). */
  def scaled(div: Int): Workload
}

/** A workload with its inputs on disk. */
trait Prepared {
  /** Input rows one lifecycle ingests (train + test). */
  def inputRows: Long
  /** Runs one lifecycle, writing everything under `out`; returns what the
    * check needs from the program's return value. */
  def lifecycle(spark: SparkSession, out: String): Any
  /** Checks a lifecycle's outputs against the generator and the oracle. */
  def check(spark: SparkSession, result: Any, out: String): Oracle.Verdict
  /** Train and test key relations as the program sees them, for the
    * traced per-function measurements. */
  def splits(spark: SparkSession): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)
  /** Every generated key with its rating, for the single-threaded kernels. */
  def keyCount: Int
  def key(i: Int): Array[Byte]
  def rating(i: Int): Int
  /** The workload's phase name for an SQL execution that writes nothing. */
  def probePhase: String
  /** Size of the ratings TSV the lifecycle ingests; 0 without one. */
  def tsvBytes: Long
  /** The generated inputs' make-up, for the run log and the trace record. */
  def describe: String
}

object Workload {
  val all: Seq[Workload] = Seq(
    Reference("imdb_p01", p = 0.01, rows = 300000, corrupt = 37),
    Reference("imdb_small_p02", p = 0.2, rows = 100000, corrupt = 11),
    Sharded("sharded_build_heavy", p = 0.05, train = 3000000, test = 750000,
      maxSlabBits = 1L << 19))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name'; one of ${all.map(_.name).mkString(", ")}"))

  /** Reads an artifact directory as oracle filters. */
  private[bloombench] def readFilters(spark: SparkSession, dir: String,
      nOf: org.apache.spark.sql.Row => Long): Seq[Oracle.Filter] = {
    val df = spark.read.parquet(dir)
    val cols = df.columns.toSet
    df.collect().toSeq.map { r =>
      Oracle.Filter(
        rating = r.getAs[Int]("rating"),
        shard = if (cols("shard")) r.getAs[Int]("shard") else 0,
        n = nOf(r),
        s = if (cols("s")) r.getAs[Int]("s") else 1,
        m = r.getAs[Int]("m"), k = r.getAs[Int]("k"),
        bits = r.getAs[Array[Byte]]("bits"))
    }
  }
}

/** `graft.ReferencePipeline.run` on a seeded IMDb-shaped ratings TSV. */
final case class Reference(name: String, p: Double, rows: Int, corrupt: Int) extends Workload {
  val maxSlabBits: Long = 1L << 26 // the program's default: one slab per rating here
  def scaled(div: Int): Workload = copy(rows = rows / div)

  def prepare(spark: SparkSession, dir: String, seed: Long, cores: Int): Prepared = {
    val tsv = Gen.writeTsv(dir, seed, rows, corrupt)
    val oracle = new ReferenceOracle(tsv, p)
    new Prepared {
      val inputRows: Long = tsv.dataLines
      def lifecycle(spark: SparkSession, out: String): Any =
        ReferencePipeline.run(spark, tsv.dir, p, out)
      def check(spark: SparkSession, result: Any, out: String): Oracle.Verdict =
        oracle.check(result.asInstanceOf[Seq[String]], out,
          Workload.readFilters(spark, s"$out/filters", _.getAs[Long]("n")))
      def splits(spark: SparkSession) = {
        val Array(train, test) = graft.operators.Ratings.randomSplit(
          graft.operators.Ingest.readRatingsTsv(spark, tsv.dir), seed = 42L)
        (train, test)
      }
      val keyCount: Int = rows
      def key(i: Int): Array[Byte] = tsv.key(i)
      def rating(i: Int): Int = tsv.rating(i)
      val probePhase = "probe_collect"
      val tsvBytes: Long = tsv.bytes
      def describe: String =
        s"${tsv.dataLines} data lines (${tsv.corrupt} malformed), ${tsv.bytes} bytes; " +
          s"well-formed rows per rating 1..10: ${tsv.perRating.drop(1).mkString(" ")}"
    }
  }
}

/** The 100 TB shape: sharded build, parquet save, reload, cogroup probe. */
final case class Sharded(name: String, p: Double, train: Int, test: Int, maxSlabBits: Long)
    extends Workload {
  def scaled(div: Int): Workload = copy(train = train / div, test = test / div)

  def prepare(spark: SparkSession, dir: String, seed: Long, cores: Int): Prepared = {
    val keys = Gen.writeKeys(spark, dir, seed, train, test, cores)
    val oracle = new ShardedOracle(keys, p, maxSlabBits)
    new Prepared {
      val inputRows: Long = train.toLong + test
      def lifecycle(spark: SparkSession, out: String): Any = {
        FilterStore.save(
          BloomPipeline.buildShardedFilters(spark.read.parquet(keys.trainDir), p, maxSlabBits),
          s"$out/filters")
        BloomPipeline
          .fpStatsShardedCogroup(spark.read.parquet(keys.testDir), FilterStore.load(spark, s"$out/filters"))
          .collect().toSeq
          .map(r => (r.getAs[Int]("rating"), r.getAs[Long]("falsePositives"), r.getAs[Long]("total")))
      }
      def check(spark: SparkSession, result: Any, out: String): Oracle.Verdict =
        oracle.check(result.asInstanceOf[Seq[(Int, Long, Long)]],
          Workload.readFilters(spark, s"$out/filters",
            r => keys.trainPerRating(r.getAs[Int]("rating"))))
      def splits(spark: SparkSession) =
        (spark.read.parquet(keys.trainDir), spark.read.parquet(keys.testDir))
      val keyCount: Int = train + test
      def key(i: Int): Array[Byte] = keys.key(i)
      def rating(i: Int): Int = keys.rating(i)
      val probePhase = "reload_probe"
      val tsvBytes = 0L
      def describe: String =
        s"$train train + $test test keys; train per rating 1..10: ${keys.trainPerRating.drop(1).mkString(" ")}; " +
          s"test per rating: ${keys.testPerRating.drop(1).mkString(" ")}"
    }
  }
}
