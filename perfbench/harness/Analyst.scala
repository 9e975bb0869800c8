package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** One analyst in a closed loop: runs a fixed, seeded sequence of short
  * registry queries (`plan` file: one "query module" pair per line) over
  * the generated tables in `dataDir`, each to fully collected rows. Every
  * query is split into the registry's three layers: building the
  * DataFrame, planning it, and executing it.
  */
final class Analyst(dataDir: String, plan: String) extends Workload {
  private val sequence: Seq[(String, String)] = {
    val src = scala.io.Source.fromFile(plan, "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).map { l =>
      val Array(q, m) = l.split("\\s+"); (q, m)
    }.toList
    finally src.close()
  }
  private val queries = graft.SparkEntry.queries
  // first result of each query: its hash, rows and schema (exported once)
  private val first = scala.collection.mutable.LinkedHashMap[String, (Int, Array[Row], StructType)]()

  private def hash(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.map(_.toString).sorted)

  override def setup(ctx: Ctx): Unit =
    // JIT warm pass: every query of the mix once
    sequence.map(_._1).distinct.foreach { q =>
      try queries(q)(ctx.spark, dataDir).collect()
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up of $q failed: $e") }
    }

  override def round(ctx: Ctx): Unit = {
    sequence.zipWithIndex.foreach { case ((q, module), i) =>
      val attrs = Map("query" -> q)
      val res = try {
        Some(ctx.opParts(q, module) {
          val df: DataFrame = ctx.part("registry.build", attrs)(queries(q)(ctx.spark, dataDir))
          ctx.part("registry.plan", attrs)(df.queryExecution.executedPlan)
          val rows = ctx.part("registry.exec", attrs)(df.collect())
          (rows, df.schema)
        })
      } catch { case NonFatal(_) => None }
      ctx.probe {
        res.foreach { case (rows, schema) =>
          val h = hash(rows)
          first.get(q) match {
            case None => first(q) = (h, rows, schema)
            case Some((h0, _, _)) =>
              if (h != h0) ctx.check(s"repeat.$q", ok = false, s"op $i returned a different result")
          }
        }
      }
    }
    ctx.probe {
      if (ctx.round == 0) first.foreach { case (q, (_, rows, schema)) =>
        ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .write.mode("overwrite").parquet(s"${ctx.outDir}/results/$q")
      }
    }
  }
}
