package bloombench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.storage.StorageLevel

import graft.core.{BloomFilter, Murmur3}
import graft.functions.bloom_build_native
import graft.operators.{BloomPipeline, FilterStore}

/** The traced run's timed calls into single layers: the probe and build
  * forms of `graft.functions`/`graft.operators` on all cores, the
  * `graft.core` kernels on one thread, and the filter store. Each figure
  * uses the workload's own keys and geometry. */
object Micro {

  private def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median wall of `f` over up to `reps` calls, stopping early once
    * `budgetS` seconds were spent. */
  private def medianWall(reps: Int, budgetS: Double)(f: => Unit): Double = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (walls.size < reps && (walls.isEmpty || walls.sum < budgetS)) walls += seconds(f)._2
    Stats.median(walls.toSeq)
  }

  /** `fn.*` and `store.*` on all cores. */
  def functions(spark: SparkSession, w: Workload, prep: Prepared, dir: String): Map[String, Double] = {
    val (trainRaw, testRaw) = prep.splits(spark)
    val train = trainRaw.persist(StorageLevel.MEMORY_AND_DISK)
    val test = testRaw.persist(StorageLevel.MEMORY_AND_DISK)
    val nTrain = train.count().toDouble
    val nTest = test.count().toDouble
    val geometry = BloomPipeline.sized(BloomPipeline.linecount(train), w.p).cache()
    geometry.count()

    val build = medianWall(3, 4.0) {
      train.join(broadcast(geometry), "rating")
        .groupBy("rating", "n", "m", "k")
        .agg(bloom_build_native(col("movieId"), col("m"), col("k")).as("bits"))
        .write.format("noop").mode("overwrite").save()
    }
    val filters = BloomPipeline.buildFilters(train, w.p).persist(StorageLevel.MEMORY_AND_DISK)
    filters.count()
    val slabs = BloomPipeline.buildShardedFilters(train, w.p, w.maxSlabBits)
      .persist(StorageLevel.MEMORY_AND_DISK)
    slabs.count()
    val collected = spark.sparkContext.broadcast(BloomPipeline.collectFilters(filters))

    val join = medianWall(3, 4.0)(BloomPipeline.fpStats(test, filters).collect())
    val viaBroadcast = medianWall(3, 4.0)(BloomPipeline.fpStatsCollected(test, collected).collect())
    val cogroup = medianWall(3, 4.0)(BloomPipeline.fpStatsShardedCogroup(test, slabs).collect())

    val store = s"$dir/store"
    val save = medianWall(3, 4.0)(FilterStore.save(filters, store))
    val load = medianWall(3, 4.0)(FilterStore.load(spark, store).collect())

    collected.destroy()
    spark.catalog.clearCache()
    Map(
      "fn.build_ns_per_key" -> build * 1e9 / nTrain,
      "fn.probe_join_ns_per_key" -> join * 1e9 / nTest,
      "fn.probe_collected_ns_per_key" -> viaBroadcast * 1e9 / nTest,
      "fn.probe_cogroup_ns_per_key" -> cogroup * 1e9 / nTest,
      "store.save_s" -> save,
      "store.load_s" -> load)
  }

  /** `core.*` on one thread: a sample of the workload's key bytes, each
    * routed to the artifact filter (or slab) it belongs to. */
  def kernels(prep: Prepared, filters: Seq[Oracle.Filter]): Map[String, Double] = {
    val byRating = filters.groupBy(_.rating).map { case (r, fs) => r -> fs.sortBy(_.shard).toArray }
    val sample = math.min(prep.keyCount, 400000)
    val step = prep.keyCount / sample
    val keys = new Array[Array[Byte]](sample)
    val target = new Array[Oracle.Filter](sample)
    var n = 0
    var i = 0
    while (i < sample) {
      val idx = i * step
      byRating.get(prep.rating(idx)).foreach { slabs =>
        keys(n) = prep.key(idx)
        target(n) = slabs(Oracle.shard(keys(n), slabs.length))
        n += 1
      }
      i += 1
    }
    var sink = 0L
    def perKey(f: Int => Unit): Double =
      Stats.median(Seq.fill(5)(seconds { var j = 0; while (j < n) { f(j); j += 1 } }._2)) * 1e9 / n

    val murmur = perKey(j => sink += Murmur3.hashBytes(keys(j), 0))
    val scratch = filters.map(f => f -> new Array[Byte](f.bits.length)).toMap
    val put = perKey { j =>
      val f = target(j)
      BloomFilter.putBytesInto(scratch(f), f.m, f.k, keys(j))
    }
    val probe = perKey { j =>
      val f = target(j)
      if (BloomFilter.mightContainBytes(f.bits, f.m, f.k, keys(j))) sink += 1
    }
    // OR every artifact filter into a copy, repeated to at least 64 MB per pass
    val bytes = filters.map(_.bits.length.toLong).sum
    val rounds = math.max(1L, (64L << 20) / math.max(1L, bytes)).toInt
    val dst = filters.map(f => new Array[Byte](f.bits.length))
    val merge = Stats.median(Seq.fill(5)(seconds {
      var r = 0
      while (r < rounds) {
        filters.indices.foreach(x => BloomFilter.orInto(dst(x), filters(x).bits))
        r += 1
      }
    }._2)) * 1e9 / (bytes * rounds / 1024.0)
    if (sink == 42) println("") // keeps the loops observable to the JIT
    Map(
      "core.murmur3_ns_per_key" -> murmur,
      "core.put_ns_per_key" -> put,
      "core.probe_ns_per_key" -> probe,
      "core.merge_ns_per_kb" -> merge)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
