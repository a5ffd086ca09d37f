package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.io.Writers
import graft.ops.{Finance, Risk}
import graft.pipelines.{AnnIndex, Curation, Datamart}

/** State one run shares between set-up and its timed units. Calls into
  * the program go through `call`, which opens a span for the module
  * the call enters and counts attempts and failures. A failed or
  * wrong-output call marks its unit failed; only units whose calls all
  * passed give latency samples. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String, val seed: Long,
    val expected: Map[String, String]) {
  var baseDir: String = ""
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap.empty[String, Int]
  private var unitOk = true
  private val deferred = mutable.ArrayBuffer.empty[() => Unit]

  def beginUnit(): Unit = { unitOk = true; tracer.nextUnit() }
  def unitPassed: Boolean = unitOk

  /** Defer `f` (an output check, a clean-up) until the unit's timed
    * part has ended. */
  def later(f: => Unit): Unit = deferred += (() => f)

  def runDeferred(): Unit = {
    val fs = deferred.toList
    deferred.clear()
    untraced(fs.foreach { f =>
      try f() catch { case NonFatal(e) => fail("check", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    })
  }

  def fail(name: String, why: String): Unit = {
    failed += 1
    unitOk = false
    val key = s"$name: ${why.take(160)}"
    failures(key) = failures.getOrElse(key, 0) + 1
  }

  /** Run `f` as a call into `layer`; Some(result) unless it threw. */
  def call[A](layer: String, name: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(tracer.span(layer, name)(f))
    catch { case NonFatal(e) => fail(name, String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")); None }
  }

  /** Check a call's output; a false check counts the call as failed. */
  def check(name: String, ok: => Boolean, what: => String): Boolean = {
    val good = try ok catch { case NonFatal(e) => false }
    if (!good) fail(name, s"wrong output: $what")
    good
  }

  /** A registry entry on the base tables, timed through its digest and
    * checked against the digest recorded from an oracle-checked run. */
  def entry(name: String, layer: String): Boolean = {
    spark.catalog.clearCache()
    call(layer, name)(Digest.of(SparkEntry.queries(name)(spark, baseDir))) match {
      case Some(d) => check(name, expected.get(name).contains(d.toString), s"digest $d, expected ${expected.getOrElse(name, "none")}")
      case None => false
    }
  }

  /** Run `f` with no span attributed: set-up work and output checks. */
  def untraced[A](f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, null)
    try f finally sc.setLocalProperty(Tracer.Key, prev)
  }
}

/** A named, seeded closed-loop workload with one client. */
trait Workload {
  def name: String
  /** Set-up: build what the timed loop reads and warm the session. */
  def prepare(ctx: Ctx): Unit
  /** Untimed staging ahead of unit `i`. */
  def before(ctx: Ctx, i: Int): Unit = ()
  /** One timed unit (a cycle or a query); returns its work count. */
  def unit(ctx: Ctx, i: Int): Double
  /** The workload's own metrics from the wall times and work counts of
    * passed units; the one named `throughput` is its work rate. */
  def metrics(walls: Seq[Double], work: Seq[Double]): Seq[(String, Double, String)]
  def throughput: String
}

object Workloads {
  lazy val all: Seq[Workload] = Seq(DefiDaily, CorpusRelease)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** The paper's daily DeFi ETL as repeated daily cycles. Cycle i
  * processes the D-day window ending i days after the first, for S
  * seeded strategies: extract (per strategy) → fill/interpolate → load
  * the raw zone → risk per strategy over the loaded series → the
  * sf0.1 time-series/risk/datamart registry entries → datamart fact
  * load and keyed summary merge. */
object DefiDaily extends Workload {
  val name = "defi_daily"
  val Strategies = 2
  val Days = 400
  val MissingShare = 0.08
  val Entries: Seq[(String, String)] = Seq(
    "ts_tvl" -> "ops.TimeSeries", "ts_gotk" -> "ops.TimeSeries", "ts_trailing_return" -> "ops.TimeSeries",
    "risk" -> "ops.Risk", "datamart_summary" -> "pipelines.Datamart")
  /** Dashboard reads that follow the load (the datamart's consumers). */
  val Dashboard: Seq[(String, String)] = Seq(
    "rel_top_customers" -> "ops.Relational", "ev_hourly" -> "ops.Events")

  private var fixture: Gen.ChainFixture = _
  private val rawSchema = StructType(Seq(StructField("date", DateType), StructField("name", StringType)) ++
    Seq("stake_apy", "aave_apy", "total_apy", "liquidity_index", "atoken_supply", "asset_price", "aave_price")
      .map(StructField(_, DoubleType)))

  def prepare(ctx: Ctx): Unit = {
    fixture = new Gen.ChainFixture(ctx.seed, Strategies, Days + 400, MissingShare)
    // building the entries' plans lands the time-series artifacts they read
    Entries.foreach { case (n, _) => SparkEntry.queries(n)(ctx.spark, ctx.baseDir) }
    ctx.spark.catalog.clearCache()
  }

  def unit(ctx: Ctx, i: Int): Double = { cycle(ctx, i); Strategies.toDouble * Days }

  private def toRaw(r: Row): Reference.Raw = {
    def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
    Reference.Raw(r.getDate(0).toLocalDate, r.getString(1), d(2), d(3), d(4), d(5), d(6), d(7), d(8))
  }

  private def rowsMatch(got: Seq[Reference.Raw], want: Seq[Reference.Raw]): Boolean =
    got.size == want.size && got.zip(want).forall { case (a, b) =>
      a.date == b.date && a.name == b.name &&
        Seq((a.stakeApy, b.stakeApy), (a.aaveApy, b.aaveApy), (a.totalApy, b.totalApy),
          (a.liquidityIndex, b.liquidityIndex), (a.atokenSupply, b.atokenSupply),
          (a.assetPrice, b.assetPrice), (a.aavePrice, b.aavePrice))
          .forall { case (x, y) => Reference.close(x, y) }
    }

  private def cycle(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val f = fixture
    val from = i % 200
    val until = from + Days
    val incStart = f.date(from + 30)
    val incEnd = f.date(from + 300)
    val dir = s"${ctx.work}/defi/c$i"
    val sorted = (rs: Seq[Reference.Raw]) => rs.sortBy(r => (r.name, r.date.toEpochDay))

    // extract, one call per strategy, each consumed whole by a collect
    val raw = (0 until Strategies).flatMap { k =>
      ctx.call("ops.Finance", "extractRawSupply") {
        Finance.extractRawSupply(spark, f.strats(k).name, f.source(k, from, until),
          f.prices(spark, from, until, f.assetPrice(k, _)), f.prices(spark, from, until, f.aavePrice),
          f.date(from).toString, f.date(until - 1).toString, incStart.toString, incEnd.toString)
          .collect().toSeq.map(toRaw)
      }.map { got =>
        ctx.later(ctx.check("extractRawSupply",
          rowsMatch(got, Reference.extract(f, k, from, until, incStart, incEnd)), s"strategy $k"))
        got
      }.getOrElse(Nil)
    }
    def frame(rs: Seq[Reference.Raw]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rs.map(r => Row(java.sql.Date.valueOf(r.date), r.name, r.stakeApy.orNull,
        r.aaveApy.orNull, r.totalApy.orNull, r.liquidityIndex.orNull, r.atokenSupply.orNull,
        r.assetPrice.orNull, r.aavePrice.orNull)): _*), rawSchema)

    val filled = ctx.call("ops.Finance", "fillAndInterpolate") {
      sorted(Finance.fillAndInterpolate(frame(raw)).collect().toSeq.map(toRaw))
    }.getOrElse(Nil)
    ctx.later(ctx.check("fillAndInterpolate",
      rowsMatch(filled, raw.groupBy(_.name).toSeq.sortBy(_._1).flatMap(g => Reference.fill(g._2.sortBy(_.date.toEpochDay)))),
      "filled rows"))

    // load the raw zone, one partition per strategy
    ctx.call("io.Writers", "rangedOverwrite")(Writers.rangedOverwrite(frame(filled), s"$dir/raw_supply", "name"))

    // transform: risk per strategy over the loaded series vs the benchmark
    val benchRows = (from until until).map(d => (f.date(d), f.benchPrice(d)))
    val bench = f.prices(spark, from, until, f.benchPrice).select(col("date"), col("price").as("bench"))
    val loaded = spark.read.parquet(s"$dir/raw_supply")
    val risks = (0 until Strategies).flatMap { k =>
      val nm = f.strats(k).name
      ctx.call("ops.Risk", "riskFromSeries") {
        Risk.riskFromSeries(loaded.where(col("name") === nm)
          .select(col("date"), (col("atoken_supply") * col("asset_price")).as("tvl")), bench).collect().head
      }.map { r =>
        ctx.later {
          val tvl = filled.filter(_.name == nm).map(x => x.date -> (for (a <- x.atokenSupply; p <- x.assetPrice) yield a * p))
          val w = Reference.risk(tvl, benchRows)
          ctx.check("riskFromSeries", r.getDate(0).toLocalDate == w.date &&
            Seq(1 -> w.sd, 2 -> w.return1y, 3 -> w.sharpe, 4 -> w.alpha, 5 -> w.beta, 6 -> w.rSquare,
              7 -> w.maxDrawdown).forall { case (c, v) => Reference.close(Some(r.getDouble(c)), Some(v), 1e-5) } &&
            r.getDate(8).toLocalDate == w.peak && r.getDate(9).toLocalDate == w.valley &&
            r.getLong(10) == w.duration, s"strategy $k")
        }
        nm -> r
      }
    }

    Entries.foreach { case (n, layer) => ctx.entry(n, layer) }

    // datamart: land dim + facts the way the transform hands them over,
    // then the fact load and the keyed summary merge
    val dm = s"$dir/mart_in"
    val ids = (0 until Strategies).map(k => f.strats(k).name -> k.toLong).toMap
    val dim = spark.createDataFrame(java.util.Arrays.asList(ids.toSeq.map { case (n, k) => Row(k, n) }: _*),
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType))))
    ctx.call("io.Writers", "truncateLoad")(Writers.truncateLoad(dim, s"$dm/customer.parquet"))
    ctx.call("io.Writers", "truncateLoad")(Writers.truncateLoad(
      loaded.select(xxhash64(col("name"), col("date")).bitwiseAND(0x7fffffffffffL).as("o_orderkey"),
        element_at(typedLit(ids), col("name")).as("o_custkey"), lit("F").as("o_orderstatus"),
        (col("atoken_supply") * col("asset_price")).as("o_totalprice"),
        col("date").cast(TimestampType).as("o_orderdate"), lit("3-MEDIUM").as("o_orderpriority")),
      s"$dm/orders.parquet"))
    ctx.call("pipelines.Datamart", "loadFacts")(Datamart.loadFacts(spark, dm, s"$dir/strategy_growth"))
    val summary = spark.createDataFrame(java.util.Arrays.asList(risks.map { case (n, r) =>
      Row(ids(n), n, r.getDouble(1), r.getDouble(3), r.getDouble(7)) }: _*),
      StructType(Seq(StructField("strategy_id", LongType), StructField("slug", StringType),
        StructField("sd", DoubleType), StructField("sharpe", DoubleType), StructField("max_drawdown", DoubleType))))
    ctx.call("io.Writers", "mergeKeyed")(Writers.mergeKeyed(spark, summary, s"${ctx.work}/defi/mart_strategy", Seq("strategy_id")))
    Dashboard.foreach { case (n, layer) => ctx.entry(n, layer) }
    ctx.later {
      val facts = spark.read.parquet(s"$dir/strategy_growth").count()
      ctx.check("loadFacts", facts == filled.size, s"$facts fact rows, expected ${filled.size}")
      val merged = Writers.readKeyed(spark, s"${ctx.work}/defi/mart_strategy")
        .select("strategy_id", "sd").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      ctx.check("mergeKeyed", merged == risks.map { case (n, r) => ids(n) -> r.getDouble(1) }.toMap,
        s"${merged.size} summary rows")
      Gen.deleteTree(Paths.get(dir))
    }
  }

  val throughput = "defi_strategy_days_per_s"
  def metrics(walls: Seq[Double], work: Seq[Double]): Seq[(String, Double, String)] = {
    val m = Workloads.median(walls)
    Seq(("defi_cycle_s", m, "s"), (throughput, Strategies * Days / m, "1/s"))
  }
}

/** The LLM-data release path: each cycle lands a fresh seeded corpus
  * version and runs curation, release, the ANN index build and the
  * dedup/text/similarity entries on it. The version's injected
  * duplicates are the ground truth the outputs are checked against. */
object CorpusRelease extends Workload {
  val name = "corpus_release"
  val Entries: Seq[(String, String)] = Seq(
    "dedup_exact" -> "ops.Dedup",
    "text_quality" -> "ops.Text", "sim_neardup" -> "ops.Similarity")
  private val Off = Gen.CopyIdOffset

  /** Base documents and vectors each version samples (15% of sf0.1). */
  val VersionDocs = 750
  val VersionVecs = 300

  /** Warm-up: scan the base corpus the versions are sampled from. */
  def prepare(ctx: Ctx): Unit = {
    graft.Tables.documents(ctx.spark, ctx.baseDir).agg(sum(length(col("text")))).head()
    graft.Tables.embeddings(ctx.spark, ctx.baseDir).agg(sum(size(col("embedding")))).head()
  }

  private def ver(ctx: Ctx, i: Int) = s"${ctx.work}/corpus/v$i"
  private var docIds = Set.empty[Long]
  private var vecIds = Set.empty[Long]

  /** Land corpus version `i` (the upstream's job, so untimed). */
  override def before(ctx: Ctx, i: Int): Unit = ctx.untraced {
    val spark = ctx.spark
    Gen.corpusVersion(spark, ctx.baseDir, ver(ctx, i), ctx.seed, i, VersionDocs, VersionVecs)
    docIds = spark.read.parquet(s"${ver(ctx, i)}/documents.parquet").select("doc_id").collect().map(_.getLong(0)).toSet
    vecIds = spark.read.parquet(s"${ver(ctx, i)}/embeddings.parquet").select("vec_id").collect().map(_.getLong(0)).toSet
  }

  def unit(ctx: Ctx, i: Int): Double = {
    val spark = ctx.spark
    val ver = this.ver(ctx, i)
    val root = s"${ctx.work}/corpus/state$i"
    val docIds = this.docIds
    val vecIds = this.vecIds
    val exactDocs = docIds.filter(d => d >= Off && d < 2 * Off)
    val exactVecs = vecIds.filter(d => d >= Off && d < 2 * Off)

    ctx.call("pipelines.Curation", "run")(Curation.run(spark, ver, root))
    ctx.call("pipelines.Curation", "release")(Curation.release(spark, ver, root))
    ctx.call("pipelines.AnnIndex", "buildState")(AnnIndex.buildState(spark, graft.Tables.embeddings(spark, ver), s"$root/ann"))
    val outs = Entries.flatMap { case (n, layer) =>
      spark.catalog.clearCache()
      ctx.call(layer, n)(SparkEntry.queries(n)(spark, ver).collect()).map(n -> _)
    }.toMap

    ctx.later {
      val released = spark.read.parquet(s"$root/corpus_release").select("doc_id").collect().map(_.getLong(0)).toSet
      val kept = spark.read.parquet(s"$root/curation_decision").where(col("kept")).count()
      val manifest = spark.read.parquet(s"$root/release_manifest").agg(sum("n_docs")).head().getLong(0)
      ctx.check("Curation.release", released.nonEmpty && released.subsetOf(docIds) && manifest == released.size &&
        kept == released.size && exactDocs.forall(c => !(released(c) && released(c - Off))),
        s"${released.size} released, $kept kept, manifest $manifest")
      val cells = AnnIndex.cells(spark, s"$root/ann").count()
      ctx.check("AnnIndex.buildState", cells == vecIds.size, s"$cells cells for ${vecIds.size} vectors")
      outs.get("dedup_exact").foreach { rows =>
        val byId = rows.map(r => r.getLong(0) -> r).toMap
        ctx.check("dedup_exact", rows.length == docIds.size && exactDocs.forall(c =>
          !byId(c).getBoolean(2) && byId(c).get(1) == byId(c - Off).get(1)), s"${rows.length} rows")
      }
      outs.get("text_quality").foreach { rows =>
        val byId = rows.map(r => r.getLong(0) -> r.toSeq.tail).toMap
        ctx.check("text_quality", rows.length == docIds.size && exactDocs.forall(c => byId(c) == byId(c - Off)),
          s"${rows.length} rows")
      }
      outs.get("sim_neardup").foreach { rows =>
        val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        ctx.check("sim_neardup", exactVecs.forall(c => pairs((c - Off, c)) || pairs((c, c - Off))),
          s"${pairs.size} pairs miss an injected exact copy")
      }
    }
    ctx.later {
      Gen.deleteTree(Paths.get(ver))
      Gen.deleteTree(Paths.get(root))
    }
    docIds.size.toDouble
  }

  val throughput = "release_docs_per_s"
  def metrics(walls: Seq[Double], work: Seq[Double]): Seq[(String, Double, String)] = {
    val m = Workloads.median(walls)
    Seq(("release_s", m, "s"), (throughput, Workloads.median(work) / m, "1/s"))
  }
}
