package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Records the expected digests of the registry entries the workloads
  * time on the sf0.1 tables, and dumps each entry's output with its
  * oracle SQL so the DuckDB oracle can check the same outputs:
  *
  *   perfbench.Record DATA DIR
  *
  * reads the tables in DATA, writes DIR/verify/<entry> (outputs) and
  * DIR/verify/oracle_sql.json, and prints one "<entry> <digest>" line
  * per entry — the format of `digests.txt`. */
object Record {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val base = args(0)
    val dir = args(1)
    val spark = Session.start(s"$dir/work")
    val names = (DefiDaily.Entries ++ DefiDaily.Dashboard).map(_._1).distinct.sorted
    val verify = s"$dir/verify"
    Files.createDirectories(Paths.get(verify))
    val lines = names.map { n =>
      spark.catalog.clearCache()
      val d = Digest.of(SparkEntry.queries(n)(spark, base))
      spark.catalog.clearCache()
      SparkEntry.queries(n)(spark, base).coalesce(1).write.mode("overwrite").parquet(s"$verify/$n")
      s"$n $d"
    }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"), sql.map { case (k, v) =>
      "\"" + k + "\": \"" + v.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c => c.toString
      } + "\"" }.mkString("{", ",", "}"))
    spark.stop()
    lines.foreach(println)
  }
}
