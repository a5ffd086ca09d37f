package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ChainSource

/** Seeded input generators; the same seed gives the same inputs. The
  * registry entries read the sf0.1 tables shipped in `data/sf0.1`,
  * which no seed changes.
  *
  *  - `ChainFixture`: the seeded on-chain observations of S strategies
  *    over D days, with a seeded share of missing days.
  *  - `corpusVersion`: a seeded sample of the sf0.1 documents and
  *    embeddings with injected exact and near duplicates.
  */
object Gen {

  /** Uniform [0, 1) from a hash of `id` and `salt`. */
  def u(id: Column, salt: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(1000003L)).cast(DoubleType) / 1000003.0

  /** Write `df` as ONE parquet file `dir/name.parquet` (the layout the
    * program's table loaders and a DuckDB oracle both read), timestamps
    * as zone-less TIMESTAMP(MICROS) like the sf-scale test tables. */
  def writeTable(spark: SparkSession, df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_tmp_$name"
    val ntz = df.select(df.schema.fields.toSeq.map(f =>
      if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name) else col(f.name)): _*)
    ntz.coalesce(1).write.option("compression", "snappy").mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.delete(Paths.get(tmp, "_SUCCESS"))
    Files.list(Paths.get(tmp)).forEach(p => Files.delete(p))
    Files.delete(Paths.get(tmp))
  }

  // ---------------------------------------------------------------- corpus

  /** Share of a version's sampled documents (and vectors) copied
    * verbatim, and copied nearly. */
  val ExactDupShare = 0.05
  val NearDupShare = 0.05
  val CopyIdOffset = 10000000L

  /** Corpus version `version` of run `seed`: a seeded sample of exactly
    * `docs` base documents and `vecs` base vectors, plus exact copies
    * (`ExactDupShare` of the sample, same text under a new id) and near
    * copies (`NearDupShare`, one extra token; vectors with 1e-3 jitter).
    * Fixed sizes keep the work per version the same for every seed. */
  def corpusVersion(spark: SparkSession, baseDir: String, outDir: String,
      seed: Long, version: Int, docs: Int, vecs: Int): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val rnd = new scala.util.Random(seed * 7919 + version * 104729L)
    val salt = rnd.nextLong()
    /** (sample, exact, near) id sets drawn from the ids of `df`.`key`. */
    def draw(df: DataFrame, key: String, n: Int) = {
      val ids = rnd.shuffle(df.select(key).collect().map(_.getLong(0)).sorted.toSeq).take(n)
      val nExact = math.round(n * ExactDupShare).toInt
      val nNear = math.round(n * NearDupShare).toInt
      (ids, ids.take(nExact), ids.slice(nExact, nExact + nNear))
    }
    val baseDocs = spark.read.parquet(s"$baseDir/documents.parquet")
    val (dIds, dExact, dNear) = draw(baseDocs, "doc_id", docs)
    val sample = baseDocs.where(col("doc_id").isin(dIds: _*))
    val exact = sample.where(col("doc_id").isin(dExact: _*))
      .withColumn("doc_id", col("doc_id") + CopyIdOffset)
    val near = sample.where(col("doc_id").isin(dNear: _*))
      .withColumn("doc_id", col("doc_id") + 2 * CopyIdOffset)
      .withColumn("text", concat(col("text"), lit(" dup")))
      .withColumn("n_chars", length(col("text")).cast(LongType))
    writeTable(spark, sample.unionByName(exact).unionByName(near), outDir, "documents")

    val baseEmb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val (eIds, eExact, eNear) = draw(baseEmb, "vec_id", vecs)
    val emb = baseEmb.where(col("vec_id").isin(eIds: _*))
    val eCopies = emb.where(col("vec_id").isin(eExact: _*)).withColumn("vec_id", col("vec_id") + CopyIdOffset)
    val eJitter = emb.where(col("vec_id").isin(eNear: _*))
      .withColumn("embedding", transform(col("embedding"), (x: Column, d: Column) =>
        (x + (u(col("vec_id") * 64 + d, salt) - 0.5) * 1e-3).cast(FloatType)))
      .withColumn("vec_id", col("vec_id") + 2 * CopyIdOffset)
    writeTable(spark, emb.unionByName(eCopies).unionByName(eJitter), outDir, "embeddings")
  }

  // ----------------------------------------------------------------- chain

  /** One strategy's seeded chain: closed forms of the day index with
    * seeded per-strategy parameters and per-day noise. Days whose hash
    * falls under `missingShare` are absent, as RPC gaps are. */
  final case class Strategy(name: String, rateBase: Double, rateAmp: Double, period: Double,
      indexGrowth: Double, emission: Double, supply0: Double, supplyGrowth: Double,
      price0: Double, priceDrift: Double)

  final class ChainFixture(val seed: Long, val strategies: Int, val days: Int,
      val missingShare: Double) {
    private val rnd = new scala.util.Random(seed)
    val start: java.time.LocalDate = java.time.LocalDate.parse("2022-01-01")
    val strats: IndexedSeq[Strategy] = (0 until strategies).map { k =>
      Strategy(f"strat_$k%02d", 0.01 + 0.04 * rnd.nextDouble(), 0.005 * rnd.nextDouble(),
        20.0 + 60.0 * rnd.nextDouble(), 1e-4 * rnd.nextDouble(), 1e15 * (0.5 + rnd.nextDouble()),
        1e6 * (1 + 9 * rnd.nextDouble()), 1e-3 * (rnd.nextDouble() - 0.3),
        1.0 + 100.0 * rnd.nextDouble(), 2e-3 * (rnd.nextDouble() - 0.5))
    }
    private def h(k: Int, i: Int, salt: Int): Double = {
      val x = scala.util.hashing.MurmurHash3.orderedHash(Seq(seed, k.toLong, i.toLong, salt.toLong))
      (x.toLong & 0xffffffffL).toDouble / 4294967296.0
    }
    def missing(k: Int, i: Int): Boolean = h(k, i, 1) < missingShare
    def liquidityRate(k: Int, i: Int): Double = {
      val st = strats(k)
      (st.rateBase + st.rateAmp * math.sin(i / st.period) + 1e-3 * (h(k, i, 2) - 0.5)) * 1e27
    }
    def liquidityIndex(k: Int, i: Int): Double = 1.0 + strats(k).indexGrowth * i
    def emission(k: Int, i: Int): Double = strats(k).emission
    def supply(k: Int, i: Int): Double =
      strats(k).supply0 * (1.0 + strats(k).supplyGrowth * i + 0.01 * (h(k, i, 3) - 0.5))
    def assetPrice(k: Int, i: Int): Double =
      strats(k).price0 * math.exp(strats(k).priceDrift * i + 0.02 * (h(k, i, 4) - 0.5))
    def aavePrice(i: Int): Double = 80.0 * math.exp(1e-3 * i + 0.05 * (h(-1, i, 5) - 0.5))
    def benchPrice(i: Int): Double = 30000.0 * math.exp(5e-4 * i + 0.04 * (h(-2, i, 6) - 0.5))
    def date(i: Int): java.time.LocalDate = start.plusDays(i.toLong)

    def source(k: Int, from: Int, until: Int): ChainSource = new ChainSource {
      def observations(spark: SparkSession): DataFrame = {
        import spark.implicits._
        (from until until).filterNot(missing(k, _)).map { i =>
          (java.sql.Date.valueOf(date(i)), 10000000L + i * 7000L, liquidityRate(k, i),
            liquidityIndex(k, i), emission(k, i), supply(k, i))
        }.toDF("date", "block", "liquidity_rate", "liquidity_index", "emission_per_second",
          "atoken_supply")
      }
    }

    def prices(spark: SparkSession, from: Int, until: Int, f: Int => Double): DataFrame = {
      import spark.implicits._
      (from until until).map(i => (java.sql.Date.valueOf(date(i)), f(i))).toDF("date", "price")
    }
  }

  /** Remove a directory tree (best effort). */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }
}
