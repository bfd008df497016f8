package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for a set of declared queries to files —
  * the optimization rounds' plan-evidence artifact (plans/rNN/<q>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  * (no list = every declared query). Building a query's DataFrame executes
  * any in-body eager stages (topic writes, Materialize pins) exactly
  * like Verify does; the dumped plan is the plan of the RETURNED frame —
  * for kernels that end in an eager localCheckpoint the interesting
  * upstream plan is captured by the ops' own explain blocks committed
  * alongside (see OPTIMIZATION notes), the contract file stays the
  * returned frame's plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_PLAN_LINEAGE=1: route the library's lineage pins through
    // `persist` instead of `localCheckpoint` so the dumped plan keeps the
    // FULL operator pipeline visible (localCheckpoint truncates explain to
    // an ExistingRDD scan). Timing runs never set this — it exists only so
    // the committed plan artifacts show the pipeline being claimed about.
    if (sys.env.get("SPARK_GRAFT_PLAN_LINEAGE").contains("1"))
      spark.conf.set(graft.ops.Materialize.ModeKey, "persist")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"[plandump] $name -> ${name}_$tag.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
