package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark runner: one JVM, one `local[nproc]` session, one
  * driver thread issuing calls.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --out DIR --digests FILE
  *
  * `DIR` under `--data` holds the sf0.1 tables the registry entries
  * read. Set-up (session start, the workload's artifacts and warm-up)
  * runs once; `setup_s` is counted from the start of `main` to the
  * first timed call. The timed loop then runs units until `S` seconds
  * have passed. `--trace 0` prints the end-to-end metrics; `--trace 1`
  * runs the same loop traced and prints the per-layer metrics plus the
  * tracing overhead. The last stdout line is one JSON object. */
object Main {

  /** Hard stop for the timed loop, whatever the unit length. */
  val MaxLoopSeconds = 100.0

  val Modules: Seq[String] = Seq("ops.Finance", "ops.TimeSeries", "ops.Risk", "ops.Relational",
    "ops.Events", "ops.Text", "ops.Dedup", "ops.Similarity", "io.Writers", "pipelines.Datamart",
    "pipelines.Curation", "pipelines.AnnIndex")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workloads.byName(opt("workload")).getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")
    val expected = scala.io.Source.fromFile(opt("digests")).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap

    val spark = Session.start(work)
    val prep = new Ctx(spark, new Tracer(spark, enabled = false), work, seed, expected)
    prep.baseDir = opt("data")
    w.prepare(prep)
    val setup = (System.nanoTime() - t0) / 1e9

    val env = Session.environment(spark)
    println(jsonObj(Seq("record" -> "\"environment\"") ++ env.map { case (k, v) => k -> s"\"$v\"" }))
    println(jsonObj(Seq("record" -> "\"noise_pre_s\"", "values" -> noise(spark).map(fmt).mkString("[", ",", "]"))))

    val heap = new HeapPeak
    val artBefore = artifacts(work)
    val tracer = new Tracer(spark, enabled = trace)
    val ctx = new Ctx(spark, tracer, work, seed, expected)
    ctx.baseDir = prep.baseDir
    val walls = mutable.ArrayBuffer.empty[Double]
    val works = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    // at least one unit, then units until the budget is spent
    while ((i == 0 || elapsed < seconds) && elapsed < MaxLoopSeconds) {
      w.before(ctx, i)
      ctx.beginUnit()
      val u0 = System.nanoTime()
      val done = tracer.span("workload", w.name)(w.unit(ctx, i))
      val wall = (System.nanoTime() - u0) / 1e9
      ctx.runDeferred()
      if (ctx.unitPassed) { walls += wall; works += done }
      i += 1
    }
    tracer.settle()
    val artAfter = artifacts(work)
    heap.stop()
    val overhead = if (trace) Some(traceOverheadPct(spark)) else None

    println(jsonObj(Seq("record" -> "\"noise_post_s\"", "values" -> noise(spark).map(fmt).mkString("[", ",", "]"))))

    val attempted = ctx.attempted
    val failed = ctx.failed
    val samples = walls.size
    val own = w.metrics(walls.toSeq, works.toSeq)
    println(jsonObj(Seq("record" -> "\"run\"", "workload" -> s"\"${w.name}\"", "seed" -> seed.toString,
      "traced" -> trace.toString, "samples" -> samples.toString,
      "failed_frac" -> fmt(failed.toDouble / math.max(attempted, 1)),
      "failing_calls" -> ctx.failures.map { case (k, n) => s"${quote(k)}:$n" }.mkString("{", ",", "}"),
      "setup_s" -> fmt(setup), "peak_heap_mb" -> fmt(heap.peakMb)) ++
      own.map { case (k, v, u) => k -> metric(v, u) }))

    val metrics: Seq[(String, Double, String)] = overhead match {
      case None =>
        Seq(("setup_s", setup, "s"),
          ("unit_p50_s", Workloads.median(walls.toSeq), "s"),
          ("work_per_s", own.find(_._1 == w.throughput).get._2, "1/s"))
      case Some(pct) =>
        writeSpans(tracer, s"$out/spans-${w.name}-seed$seed.jsonl")
        layerMetrics(tracer, artBefore, artAfter) :+ (("trace.overhead_pct", pct, "%"))
    }
    val correct = failed == 0 && samples > 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    spark.stop()
    println(jsonObj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> jsonObj(metrics.map { case (k, v, u) => k -> metric(v, u) }))))
  }

  /** Tracing overhead on its worst case, a run of tiny jobs: batches of
    * 25 one-job spans, traced and untraced in alternation, compared by
    * their median batch time. */
  private def traceOverheadPct(spark: SparkSession): Double = {
    def batch(enabled: Boolean): Double = {
      val t = new Tracer(spark, enabled)
      val t0 = System.nanoTime()
      (1 to 25).foreach(_ => t.span("probe", "count")(spark.range(10000L).count()))
      val s = (System.nanoTime() - t0) / 1e9
      t.settle()
      s
    }
    batch(true); batch(false) // warm both paths
    val (on, off) = (1 to 4).map(_ => (batch(true), batch(false))).unzip
    (Workloads.median(on) / Workloads.median(off) - 1.0) * 100.0
  }

  /** The constant machine-noise probe: three timed `range(1e6).count()`. */
  private def noise(spark: SparkSession): Seq[Double] = (1 to 3).map { _ =>
    val t = System.nanoTime()
    spark.range(1000000L).count()
    (System.nanoTime() - t) / 1e9
  }

  /** Largest heap occupancy right after a collection, from the
    * collectors' notifications while the timed loop runs. */
  final class HeapPeak {
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak = math.max(peak, used)
        }
    }
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
    beans.foreach(_.addNotificationListener(listener, null, null))
    def stop(): Unit = beans.foreach(_.removeNotificationListener(listener))
    def peakMb: Double = peak / 1048576.0
  }

  /** (count, bytes) of ArtifactCache outputs under the iteration root. */
  private def artifacts(work: String): (Int, Long) = {
    val root = Paths.get(s"$work/iter")
    if (!Files.isDirectory(root)) (0, 0L)
    else {
      val dirs = Files.list(root).iterator().asScala.filter(_.getFileName.toString.startsWith("art_")).toSeq
      val bytes = dirs.map { d =>
        val s = Files.walk(d)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
      }.sum
      (dirs.size, bytes)
    }
  }

  private def layerMetrics(t: Tracer, artBefore: (Int, Long), artAfter: (Int, Long)): Seq[(String, Double, String)] = {
    val self = t.selfTimes
    val cores = Session.cores
    Modules.flatMap { m =>
      val ss = t.spans.filter(_.layer == m)
      val cs = ss.flatMap(s => t.counters.get(s.id))
      def sumC(f: Counters => Long) = cs.map(f).sum.toDouble
      val busy = ss.map(s => self(s.id)).sum
      val base = Seq(
        (s"$m.calls", ss.size.toDouble, "count"),
        (s"$m.failed", ss.count(_.failed).toDouble, "count"),
        (s"$m.busy_s", busy, "s"),
        (s"$m.plan_s", sumC(_.planMs) / 1e3, "s"),
        (s"$m.tasks", sumC(_.tasks), "count"),
        (s"$m.task_cpu_s", sumC(_.cpuNs) / 1e9, "s"),
        (s"$m.gc_s", sumC(_.gcMs) / 1e3, "s"),
        (s"$m.slot_util", if (busy > 0) sumC(_.runMs) / 1e3 / (busy * cores) else 0.0, "ratio"),
        (s"$m.shuffle_mb", sumC(_.shuffleBytes) / 1048576.0, "MB"),
        (s"$m.spill_mb", sumC(_.spillBytes) / 1048576.0, "MB"))
      if (m == "io.Writers")
        base ++ Seq((s"$m.output_mb", sumC(_.outputBytes) / 1048576.0, "MB"), (s"$m.files", sumC(_.files), "count"))
      else base
    } ++ Seq(
      ("ArtifactCache.builds", (artAfter._1 - artBefore._1).toDouble, "count"),
      ("ArtifactCache.build_s", t.artifactBuildSeconds, "s"),
      ("ArtifactCache.disk_mb", artAfter._2 / 1048576.0, "MB"))
  }

  private def writeSpans(t: Tracer, path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val self = t.selfTimes
    Files.write(Paths.get(path), t.jsonLines(self).toSeq.asJava)
  }

  def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def metric(v: Double, unit: String): String = s"""{"value":${fmt(v)},"unit":"$unit"}"""

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  private def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
}
