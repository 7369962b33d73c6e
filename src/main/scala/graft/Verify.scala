package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Write each query's result to `<outDir>/<name>.parquet`; returns the
    * sorted names of the queries that threw, which `main` lists under
    * `"failed"` on its last stdout line before exiting non-zero. */
  private[graft] def writeQueries(spark: SparkSession, sfDir: String, outDir: String,
                                  queries: Map[String, (SparkSession, String) => DataFrame])
      : Seq[String] =
    queries.toSeq.collect { case (name, fn) if Bench.attempt(name) {
      sanitize(fn(spark, sfDir)).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }.isEmpty => name }.sorted

  /** The driver's pandas compare sorts every column; array/map/struct/
    * binary columns are unhashable there (numpy.ndarray TypeError) and
    * would crash the whole harness row. Flatten them to deterministic
    * strings — information-preserving and hashable. */
  private[graft] def sanitize(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case ArrayType(e, _) if !e.isInstanceOf[StructType] =>
          acc.withColumn(f.name, concat_ws(",", col(f.name)))
        case _: ArrayType | _: MapType | _: StructType =>
          acc.withColumn(f.name, to_json(col(f.name)))
        case BinaryType => acc.withColumn(f.name, hex(col(f.name)))
        case _ => acc
      }
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GraftSession parity: the AQE/skew/broadcast configs the pipeline is
    // designed around must be active in the driver-run main too
    // (round-1 verdict: bare sessions here switched them off).
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = writeQueries(spark, sfDir, outDir, SparkEntry.queries)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Emit every oracle under BOTH its bare name and its output filename
    // (`<name>.parquet`): round 1 showed the driver keys its lookup by
    // the output filename while we keyed by bare name → 0/51 `no_oracle`.
    // Dual keys cover either lookup convention at zero cost.
    // Pipeline oracles re-derive later stages from earlier EMITTED ones:
    // substitute the placeholder with this run's absolute output dir so
    // DuckDB (run by the driver after us) can read them by path.
    val absOut = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => k -> v.replace(PipelineQueries.OutPlaceholder, absOut) }
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    println(s"""{"queries":${SparkEntry.queries.size},"failed":${failed.map(q).mkString("[", ",", "]")}}""")
    if (failed.nonEmpty) sys.exit(1)
  }
}
