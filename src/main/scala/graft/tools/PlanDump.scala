package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for registered queries and,
  * optionally, execute each via the noop sink while counting jobs/stages
  * and recording the AQE final plan — the guide §1 "measure first"
  * instrumentation (plan shape + per-query job/stage cost in one pass).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <query>... | ALL
  * Env:   SPARK_GRAFT_PLAN_RUN=1 also runs each query (final plan + job/
  *        stage counts + wall seconds appended to the dump).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val names =
      if (args.length == 2 && args(1) == "ALL") SparkEntry.allDefs.map(_.name)
      else args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val run = sys.env.get("SPARK_GRAFT_PLAN_RUN").contains("1")
    val spark = GraftSession.tunedBuilder(cpus.toInt, "graft-plandump")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    resolveTables(spark, sfDir)
    names.foreach { name =>
      val sb = new StringBuilder
      // count jobs/stages from CONSTRUCTION on: iterative queries run
      // eager work (localCheckpoint rounds, convergence counts) inside
      // fn() itself, before any sink — the bench pays for those too
      val ((df, dtBuild), built) = JobCounter.count(spark.sparkContext)(
        timed(SparkEntry.queries(name)(spark, sfDir)))
      val ((_, dtRun), ran) = JobCounter.count(spark.sparkContext)(
        timed(if (run) df.write.format("noop").mode("overwrite").save()))
      val dt = dtBuild + dtRun
      sb ++= df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      if (run) {
        sb ++= f"%n== Executed (noop sink) ==%njobs=${built.jobs + ran.jobs} stages=${built.stages + ran.stages} wall=$dt%.3f s buildjobs=${built.jobs} buildwall=$dtBuild%.3f s%n"
        sb ++= df.queryExecution.executedPlan.toString
      }
      Files.write(outDir.resolve(s"$name.txt"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] $name -> ${outDir.resolve(s"$name.txt")}")
    }
    spark.stop()
  }

  /** Resolve every table loader for `sfDir` before the first count, so
    * the schema jobs of a table's first resolution are charged to no
    * query and a query's job count does not depend on the queries run
    * before it. A table `sfDir` lacks fails in the query that reads it. */
  private def resolveTables(spark: SparkSession, sfDir: String): Unit =
    Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders,
      Tables.lineitem, Tables.documents, Tables.embeddings, Tables.events)
      .foreach(t => scala.util.Try(t(spark, sfDir)))

  /** `f`'s result and its wall seconds. */
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
