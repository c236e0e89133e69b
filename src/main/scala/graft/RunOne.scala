package graft
import org.apache.spark.sql.SparkSession

/** Dev utility: time one named query and optionally dump its plan.
  * Usage: runMain graft.RunOne <queryId> [sfDir] [explain] [x3] [noop]
  * `noop` times the fully materialized result (`write.format("noop")`)
  * instead of a `count()`, which Catalyst may prune down to a scan.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val reps = if (args.contains("x3")) 3 else 1
    // comma-separated ids share one JVM/session — isolating each
    // query's warm cost without paying sbt+Spark startup per id
    name.split(",").foreach { id =>
      val df = SparkEntry.queries(id)(spark, sfDir)
      if (args.contains("explain")) df.explain("formatted")
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        val q = SparkEntry.queries(id)(spark, sfDir)
        val rows =
          if (args.contains("noop")) {
            q.write.format("noop").mode("overwrite").save(); "noop"
          } else q.count().toString
        println(f"[runone] $id ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$rows")
      }
    }
    spark.stop()
  }
}
