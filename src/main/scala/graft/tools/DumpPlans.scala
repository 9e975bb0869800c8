package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` for a named list of registry queries into
  * per-query text files — the optimization round's before/after plan
  * artifacts (`plans/r14/<query>_{before,after}.txt`).
  *
  *   sbt "runMain graft.tools.DumpPlans /root/testdata/sf0.1 plans/r14 before q1,q2"
  *
  * Session config matches Verify exactly (same master, shuffle
  * partitions, TopKPerKey rule) so the dumped plan is the benched plan.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2) // "before" | "after"
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.RowNumberTopK.install(spark)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val planRaw = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      // elide giant binary literals (bloom sketches) as PlanAudit does
      val plan = "0[xX]([0-9A-Fa-f]{64})[0-9A-Fa-f]+".r.replaceAllIn(planRaw,
        m => s"0x${m.group(1)}…<${(m.matched.length - 2) / 2} bytes elided>")
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plans] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
