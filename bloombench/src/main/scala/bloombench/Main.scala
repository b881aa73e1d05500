package bloombench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.BenchAccess
import org.apache.spark.sql.SparkSession

/** The lifecycle benchmark's JVM side. `run.py` builds it and starts it as
  *
  * {{{
  * bloombench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --cores <n> --work <dir> --out <dir>
  * }}}
  *
  * It generates the workload's inputs from the seed and warms up with one
  * lifecycle on a copy one eighth their size. With `--trace 0` it then times
  * at least three complete lifecycles, and more until their walls add up to
  * `--seconds`; with `--trace 1` it runs a traced lifecycle between two
  * untraced ones, then the per-layer measurements. Every lifecycle is checked by
  * [[Oracle]]; one that fails a check, throws or times out is a failed
  * operation. The last stdout line is the result. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, out: String)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"), need("out"))
  }

  /** A lifecycle that has not returned after this long has failed. */
  private val lifecycleTimeout = 60.seconds
  /** No timed lifecycle but the first starts later than this after JVM
    * start, so a run ends inside its 180 s limit even when one times out. */
  private val lastStartS = 90.0
  private val drainMs = 30000L
  /** The warm-up runs one lifecycle on the workload's inputs scaled down by
    * this much: it pays class loading, code generation and the first JIT
    * compiles, which cost about the same at any input size. */
  private val warmDivisor = 8
  /** Timed lifecycles per run, at least: the first full-size lifecycle
    * still runs slower, and the median of three sets it aside. */
  private val minTimed = 3

  private val pool = ExecutionContext.fromExecutorService(Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = { val t = new Thread(r, "lifecycle"); t.setDaemon(true); t }
  }))

  /** One lifecycle's outcome. `startMs`/`endMs` are wall-clock bounds for
    * lining it up with listener event times. */
  final case class Lifecycle(ok: Boolean, wallS: Double, counters: Counters.Snap,
      artifactBytes: Long, artifactFiles: Int, cachedLeft: Int,
      verdict: Option[Oracle.Verdict], startMs: Long, endMs: Long)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val w = Workload(opts.workload)
    new File(opts.work).mkdirs()
    new File(opts.out).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName(s"bloombench-${w.name}")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)

    val exit = try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val sample = w.scaled(warmDivisor).prepare(spark, s"${opts.work}/warm-input", opts.seed, opts.cores)
      val warm = runLifecycle(spark, sample, counters, s"${opts.work}/out/warmup")
      val prep = w.prepare(spark, s"${opts.work}/input", opts.seed, opts.cores)
      System.err.println(s"inputs of ${w.name}, seed ${opts.seed}: ${prep.describe}")
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      System.err.println(f"setup: session $sessionS%.3f s, warm-up lifecycle ${warm.wallS}%.3f s, total $setupS%.3f s")
      val (lifecycles, metrics) =
        if (opts.trace) traced(spark, w, prep, counters, opts)
        else timed(spark, prep, counters, opts, setupS)
      // the warm-up is checked like every lifecycle but not counted
      val correct = warm.ok && lifecycles.forall(_.verdict.forall(_.failures.isEmpty))
      println(Json.result(correct, lifecycles.size, lifecycles.count(!_.ok), metrics))
      0
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        1
    }
    // a lifecycle thread stuck past its timeout must not keep the JVM up
    Try(spark.stop())
    pool.shutdownNow()
    pool.awaitTermination(5, TimeUnit.SECONDS)
    System.exit(exit)
  }

  private def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Runs one lifecycle in its own job group, bounded by [[lifecycleTimeout]],
    * then checks it and removes what it left behind, outside its wall. */
  private def runLifecycle(spark: SparkSession, prep: Prepared, counters: Counters, out: String,
      afterDrain: () => Unit = () => ()): Lifecycle = {
    val sc = spark.sparkContext
    deleteTree(new File(out))
    val group = s"lifecycle-${out.hashCode}"
    BenchAccess.drain(sc, drainMs)
    val before = counters.snapshot
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val fut = Future {
      sc.setJobGroup(group, out, interruptOnCancel = true)
      try prep.lifecycle(spark, out) finally sc.clearJobGroup()
    }(pool)
    val outcome = Try(Await.result(fut, lifecycleTimeout))
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    if (outcome.isFailure) sc.cancelJobGroup(group)
    Try(BenchAccess.drain(sc, drainMs))
    val delta = counters.snapshot - before
    afterDrain()
    val cachedLeft = sc.getPersistentRDDs.size
    val artifact = Option(new File(s"$out/filters").listFiles()).toSeq.flatten.filter(_.isFile)
    val artifactBytes = artifact.map(_.length).sum
    val verdict = outcome.flatMap(result => Try(prep.check(spark, result, out)))
    val error = verdict match {
      case Success(v) => v.failures.mkString("; ")
      case Failure(_: TimeoutException) => s"no result after $lifecycleTimeout"
      case Failure(e) => e.toString
    }
    if (error.nonEmpty) System.err.println(s"lifecycle $out FAILED: $error")
    spark.catalog.clearCache()
    deleteTree(new File(out))
    Lifecycle(error.isEmpty, wallS, delta, artifactBytes,
      artifact.count(_.getName.startsWith("part-")), cachedLeft, verdict.toOption, startMs, endMs)
  }

  /** End-to-end metrics: medians over the lifecycles of this run. */
  private def timed(spark: SparkSession, prep: Prepared, counters: Counters, opts: Opts,
      setupS: Double): (Seq[Lifecycle], Seq[(String, Double, String)]) = {
    val heap = new HeapAfterGc
    val runs = mutable.ArrayBuffer.empty[Lifecycle]
    while (runs.isEmpty || ((runs.size < minTimed || runs.map(_.wallS).sum < opts.seconds) &&
        (System.currentTimeMillis() - jvmStartMs) / 1000.0 < lastStartS)) {
      runs += runLifecycle(spark, prep, counters, s"${opts.work}/out/lc-${runs.size}")
    }
    val heapPeak = heap.stop()
    val good = if (runs.exists(_.ok)) runs.filter(_.ok) else runs
    def med(f: Lifecycle => Double) = Stats.median(good.map(f).toSeq)
    val lifecycleS = med(_.wallS)
    System.err.println(f"lifecycles: ${runs.map(r => f"${r.wallS}%.3f").mkString(" ")} s")
    (runs.toSeq, Seq(
      ("setup_s", setupS, "s"),
      ("lifecycle_s", lifecycleS, "s"),
      ("rows_per_s", prep.inputRows / lifecycleS, "rows/s"),
      ("cpu_s", med(_.counters.cpuNs / 1e9), "s"),
      ("shuffle_mb", med(_.counters.shuffleWritten / 1e6), "MB"),
      ("jobs", med(_.counters.jobs.toDouble), "count"),
      ("artifact_mb", med(_.artifactBytes / 1e6), "MB"),
      ("heap_peak_mb", heapPeak / 1e6, "MB")))
  }

  /** Per-layer metrics from one traced lifecycle plus the timed calls into
    * single layers; writes the full record to `<out>/<workload>.trace.json`. */
  private def traced(spark: SparkSession, w: Workload, prep: Prepared, counters: Counters,
      opts: Opts): (Seq[Lifecycle], Seq[(String, Double, String)]) = {
    val sc = spark.sparkContext
    // untraced lifecycles on both sides of the traced one, so the
    // warm-up trend cancels out of the tracing overhead
    val before = runLifecycle(spark, prep, counters, s"${opts.work}/out/untraced-before")
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    // detached once the lifecycle's events are delivered, before its check
    val lc = runLifecycle(spark, prep, counters, s"${opts.work}/out/traced", () => {
      spark.listenerManager.unregister(tracer)
      sc.removeSparkListener(tracer)
    })
    val after = runLifecycle(spark, prep, counters, s"${opts.work}/out/untraced-after")
    val untracedS = (before.wallS + after.wallS) / 2

    val layers = mutable.LinkedHashMap.empty[String, Double]
    // Lifecycle phases: root SQL executions that ran inside the lifecycle,
    // attributed by what they write (or the workload's probe otherwise).
    val execs = tracer.executions.values.toSeq
      .filter(e => e.start >= lc.startMs && e.end > 0 && e.end <= lc.endMs)
    val rootPlan = execs.map(e => e.id -> e).toMap
    val phaseOf = execs.map(e => e.id ->
      Tracer.phaseOf(rootPlan.getOrElse(e.root, e).plan, prep.probePhase)).toMap
    val roots = execs.filter(e => e.id == e.root || !rootPlan.contains(e.root))
    val named = Seq("linecount", "build_persist", "probe_collect", "probe_write", "reload_probe")
    def spanS(es: Seq[Tracer#Execution]) = Tracer.covered(es.map(e => (e.start, e.end))) / 1000.0
    for (ph <- named) layers(s"phase.${ph}_s") = spanS(roots.filter(e => phaseOf(e.id) == ph))
    layers("phase.other_s") = spanS(roots.filterNot(e => named.contains(phaseOf(e.id))))
    layers("phase.driver_s") = (lc.endMs - lc.startMs) / 1000.0 - spanS(roots)

    layers("plan.analysis_ms") = tracer.analysisMs.toDouble
    layers("plan.optimization_ms") = tracer.optimizationMs.toDouble
    layers("plan.planning_ms") = tracer.planningMs.toDouble
    layers("plan.executions") = tracer.executed.toDouble

    val st = tracer.stages.values.toSeq
    layers("exec.stages") = st.size.toDouble
    layers("exec.tasks") = st.map(_.tasks).sum.toDouble
    layers("exec.run_s") = st.map(_.runMs).sum / 1000.0
    layers("exec.gc_s") = st.map(_.gcMs).sum / 1000.0
    layers("exec.shuffle_read_mb") = st.map(_.shuffleRead).sum / 1e6
    layers("exec.spill_mb") = st.map(_.spill).sum / 1e6
    layers("exec.input_mb") = st.map(_.input).sum / 1e6
    layers("exec.output_mb") = st.map(_.output).sum / 1e6
    layers("exec.cpu_util") = st.map(_.cpuNs).sum / 1e9 / (lc.wallS * opts.cores)
    layers("exec.task_skew") = st.sortBy(s => s.completed - s.submitted).lastOption.map { s =>
      val median = Stats.median(s.durations.map(_.toDouble).toSeq)
      if (median > 0) s.durations.max / median else 1.0
    }.getOrElse(0.0)
    layers("exec.cached_left") = lc.cachedLeft.toDouble

    layers("ingest.input_passes") =
      if (prep.tsvBytes == 0) 0.0 else Tracer.scannedBytes(st, "csv").toDouble / prep.tsvBytes
    layers("ingest.corrupt_rows") = lc.verdict.map(_.corruptDropped.toDouble).getOrElse(0.0)

    layers ++= Micro.functions(spark, w, prep, s"${opts.work}/micro")
    layers("store.files") = lc.artifactFiles.toDouble
    val filters = lc.verdict.map(_.filters).getOrElse(Nil)
    if (filters.nonEmpty) layers ++= Micro.kernels(prep, filters)
    layers("filter.groups") = filters.size.toDouble
    layers("filter.bits_per_key") = lc.verdict.map(_.bitsPerKey).getOrElse(0.0)
    layers("filter.fill_ratio") = lc.verdict.map(_.fillRatio).getOrElse(0.0)
    layers("filter.fpp_max_z") = lc.verdict.map(_.fppMaxZ).getOrElse(0.0)
    layers("trace.overhead_s") = lc.wallS - untracedS

    val executions = execs.sortBy(_.id).map { e =>
      val jobs = tracer.jobExecution.collect { case (j, x) if x == e.id => j }.toSet
      val mine = st.filter(s => tracer.stageJob.get(s.id).exists(jobs))
      Json.obj(
        "id" -> Json.num(e.id), "root" -> Json.num(e.root),
        "phase" -> Json.str(phaseOf(e.id)),
        "call_site" -> Json.str(Tracer.callSite(e.details)),
        "start_s" -> Json.num((e.start - lc.startMs) / 1000.0),
        "wall_s" -> Json.num((e.end - e.start) / 1000.0),
        "jobs" -> Json.num(jobs.size), "stages" -> Json.num(mine.size),
        "tasks" -> Json.num(mine.map(_.tasks).sum),
        "cpu_s" -> Json.num(mine.map(_.cpuNs).sum / 1e9))
    }
    val otherJobs = tracer.jobSites.toSeq.sortBy(_._1).collect {
      case (j, site) if !tracer.jobExecution.contains(j) =>
        Json.obj("job" -> Json.num(j.toLong), "call_site" -> Json.str(site))
    }
    val record = Json.obj(
      "workload" -> Json.str(w.name), "seed" -> Json.num(opts.seed), "cores" -> Json.num(opts.cores),
      "inputs" -> Json.str(prep.describe),
      "lifecycle_s" -> Json.num(lc.wallS), "untraced_lifecycle_s" -> Json.num(untracedS),
      "jobs" -> Json.num(lc.counters.jobs),
      "layers" -> Json.obj(layers.toSeq.map { case (k, x) => k -> Json.num(x) }: _*),
      "executions" -> Json.arr(executions),
      "jobs_outside_sql" -> Json.arr(otherJobs))
    val file = new File(opts.out, s"${w.name}.trace.json")
    java.nio.file.Files.write(file.toPath, (record + "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"per-layer record: $file")
    (Seq(before, lc, after), layers.toSeq.map { case (k, x) => (k, x, Units.of(k)) })
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Peak heap in use right after a collection, from the JVM's GC
  * notifications: the memory the lifecycles retain, not how far the young
  * generation happened to fill before a collection. [[stop]] collects once
  * more so the figure includes what is still held at the end. */
final class HeapAfterGc {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        synchronized { peak = math.max(peak, used) }
      }
  }
  beans.foreach(_.addNotificationListener(listener, null, null))

  /** Bytes; stops listening. */
  def stop(): Long = {
    System.gc()
    Thread.sleep(200) // notifications are delivered on their own thread
    beans.foreach(b => scala.util.Try(b.removeNotificationListener(listener)))
    peak
  }
}

/** Units of the per-layer metrics, from their name. */
object Units {
  def of(name: String): String = name match {
    case n if n.endsWith("_ns_per_key") => "ns/key"
    case n if n.endsWith("_ns_per_kb") => "ns/KB"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("bits_per_key") => "bits/key"
    case "exec.cpu_util" | "exec.task_skew" | "filter.fill_ratio" | "ingest.input_passes" => "ratio"
    case "filter.fpp_max_z" => "sigma"
    case _ => "count"
  }
}

/** Just enough JSON writing for the result line and the trace record. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def num(x: Long): String = x.toString
  def obj(fields: (String, String)*): String = fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    obj("correct" -> correct.toString, "attempted" -> num(attempted.toLong), "failed" -> num(failed.toLong),
      "metrics" -> obj(metrics.map { case (n, v, u) => n -> obj("value" -> num(v), "unit" -> str(u)) }: _*))
}
