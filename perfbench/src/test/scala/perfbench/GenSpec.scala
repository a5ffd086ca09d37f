package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory(Files.createDirectories(java.nio.file.Paths.get("target")), "gen").toString
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteTree(java.nio.file.Paths.get(work))
  }

  private def rows(dir: String, t: String) =
    spark.read.parquet(s"$dir/$t.parquet").collect().map(_.toString).sorted.toSeq

  test("the chain fixture repeats for a seed and changes with it") {
    def obs(seed: Long) = {
      val f = new Gen.ChainFixture(seed, 2, 120, 0.1)
      (f.source(1, 0, 120).observations(spark).collect().map(_.toString).toSeq,
        (0 until 120).count(f.missing(1, _)))
    }
    val (a, missA) = obs(3)
    val (b, missB) = obs(3)
    assert(a == b && missA == missB)
    assert(missA > 0 && a.size == 120 - missA)
    assert(obs(4)._1 != a)
  }

  test("corpus versions repeat for (seed, version) and carry the injected copies") {
    val base = "data/sf0.1"
    Gen.corpusVersion(spark, base, s"$work/v1", seed = 5, version = 0, docs = 400, vecs = 200)
    Gen.corpusVersion(spark, base, s"$work/v2", seed = 5, version = 0, docs = 400, vecs = 200)
    Gen.corpusVersion(spark, base, s"$work/v3", seed = 6, version = 0, docs = 400, vecs = 200)
    for (t <- Seq("documents", "embeddings")) {
      assert(rows(s"$work/v1", t) == rows(s"$work/v2", t), t)
      assert(rows(s"$work/v1", t) != rows(s"$work/v3", t), t)
    }
    val docs = spark.read.parquet(s"$work/v1/documents.parquet").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val copies = docs.keys.filter(id => id >= Gen.CopyIdOffset && id < 2 * Gen.CopyIdOffset)
    assert(docs.size == 400 + 20 + 20 && copies.size == 20)
    assert(copies.forall(c => docs(c) == docs(c - Gen.CopyIdOffset)))
  }
}
