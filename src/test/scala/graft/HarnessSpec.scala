package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Bench and Verify report a query that throws as failed, never as a
  * timing or an output, and still run every other query. */
class HarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private val boom = udf((x: Long) => if (x >= 0) throw new IllegalStateException("forced") else true)

  /** One good query, one that throws while planning and one that throws
    * in a task. */
  private def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ok" -> ((s, _) => s.range(5).toDF()),
    "throws_on_plan" -> ((_, _) => throw new IllegalStateException("forced")),
    "throws_in_task" -> ((s, _) => s.range(5).filter(boom(col("id"))).toDF()))

  test("Bench: a forced throw is listed as failed, not timed") {
    val (timed, failed) = Bench.timeQueries(spark, "", queries)
    assert(timed.keySet === Set("ok"))
    assert(timed("ok") >= 0.0)
    assert(failed === Seq("throws_in_task", "throws_on_plan"))
  }

  test("Verify: a forced throw is listed as failed and writes no output") {
    val out = Files.createTempDirectory("graft_verify").toString
    val failed = Verify.writeQueries(spark, "", out, queries)
    assert(failed === Seq("throws_in_task", "throws_on_plan"))
    assert(spark.read.parquet(s"$out/ok.parquet").count() === 5)
    assert(!Files.exists(Paths.get(out, "throws_on_plan.parquet")))
    // a task failure can leave a partial directory, but never a committed one
    assert(!Files.exists(Paths.get(out, "throws_in_task.parquet", "_SUCCESS")))
  }
}
