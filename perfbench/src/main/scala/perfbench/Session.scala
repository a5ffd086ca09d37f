package perfbench

import org.apache.spark.sql.SparkSession

/** The session every run measures under: the deployment and tuning
  * confs `graft.Bench` sets, sized to the cores the run was given.
  * `Confs` is the one list of them; BENCHMARK.json repeats it so a
  * performance change can see its posture. */
object Session {

  val Confs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "33554432",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.constraintPropagation.enabled" -> "false",
  )

  /** The cores this process may run on (affinity mask and cgroup
    * limits applied by the JVM). */
  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** A fresh session whose scratch space (shuffle files, warehouse,
    * artifact and iteration roots) all live under `work`. */
  def start(work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.cluster.iterDir", s"$work/iter")
      .config("graft.bpe.deepMergesExportDir", s"$work/bpe_export")
    Confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Environment record printed with every run. */
  def environment(spark: SparkSession): Seq[(String, String)] = Seq(
    "nproc" -> cores.toString,
    "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version,
  )
}
