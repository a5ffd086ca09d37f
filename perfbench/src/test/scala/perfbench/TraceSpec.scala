package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("span self times never exceed their parent's wall time") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val t = new Tracer(spark, enabled = true)
      t.nextUnit()
      t.span("workload", "cycle") {
        t.span("ops.Finance", "a")(spark.range(1000).selectExpr("sum(id)").collect())
        t.span("io.Writers", "b") {
          t.span("ops.Risk", "c")(Thread.sleep(5))
          spark.range(10).count()
        }
        Thread.sleep(5)
      }
      t.settle()
      val self = t.selfTimes
      val byId = t.spans.map(s => s.id -> s).toMap
      assert(t.spans.size == 4)
      for (s <- t.spans) {
        assert(self(s.id) >= 0.0 && self(s.id) <= s.wall, s.name)
        if (s.parent != 0) assert(self(s.id) <= byId(s.parent).wall, s.name)
      }
      val kids = t.spans.filter(_.parent == 1).map(_.wall).sum
      assert(math.abs(self(1) - (t.spans.head.wall - kids)) < 1e-9)
      // the jobs ran under the leaf spans, so their tasks land there
      assert(t.counters.get(2).exists(_.tasks > 0))
      assert(t.counters.get(3).exists(_.tasks > 0))
    } finally spark.stop()
  }

  test("files counts the files a span wrote, not the files it read") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target")), "trace")
    try {
      val t = new Tracer(spark, enabled = true)
      t.nextUnit()
      t.span("io.Writers", "write")(spark.range(0, 300, 1, 3).write.parquet(s"$dir/a"))
      t.span("io.Writers", "copy")(spark.read.parquet(s"$dir/a").coalesce(1).write.parquet(s"$dir/b"))
      t.settle()
      assert(t.counters(1).files == 3)
      assert(t.counters(2).files == 1)
    } finally {
      spark.stop()
      Gen.deleteTree(dir)
    }
  }

  test("a disabled tracer only runs the body") {
    val spark = SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val t = new Tracer(spark, enabled = false)
      assert(t.span("ops.Text", "x")(41 + 1) == 42)
      assert(t.spans.isEmpty)
    } finally spark.stop()
  }
}
