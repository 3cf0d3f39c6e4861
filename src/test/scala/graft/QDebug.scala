package graft

import org.apache.spark.sql.SparkSession

/** Scratch main for timing/plan inspection of one or more queries.
  *
  * `Test/runMain graft.QDebug <name>[,<name>...] [sfDir]` — for each named
  * query: the formatted physical plan, then 3 timed `count()` runs
  * (the bench's consume action). A comma-separated list amortizes the
  * 40-90 s sbt+JVM spin-up across queries AND keeps A/B comparisons
  * inside one JVM — the only believable protocol under the host's
  * CPU-throttle bursts (SCALE.md). `all` runs every query once.
  * `SPARK_GRAFT_PLAN_DIR`: also write each plan to `<dir>/<name>.txt`
  * (the round's plans/ evidence files).
  */
object QDebug {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    planDir.foreach(d => new java.io.File(d).mkdirs())
    if (name == "all") {
      SparkEntry.queries.foreach { case (n, fn) =>
        val t0 = System.nanoTime()
        val c = fn(spark, sfDir).count()
        println(f"$n%-28s $c%6d rows ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    } else {
      name.split(',').foreach { n =>
        println(s"===== $n =====")
        val df = SparkEntry.queries(n)(spark, sfDir)
        planDir match {
          case Some(d) =>
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$d/$n.txt"),
              plan.getBytes("UTF-8"))
            println(s"[plan -> $d/$n.txt]")
          case None => df.explain("formatted")
        }
        for (i <- 1 to 3) {
          val t0 = System.nanoTime()
          val n2 = SparkEntry.queries(n)(spark, sfDir).count()
          println(f"run$i: $n2 rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      }
    }
    spark.stop()
  }
}
