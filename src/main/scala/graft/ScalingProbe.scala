package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.Annotate
import graft.sources.SyntheticCorpus

/** Phase-level timing probe for the scaling investigation: where does
  * the non-scaling (serial) time go? Prints seconds per pipeline phase
  * at one parallelism level. */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val cpus = args.lift(0).map(_.toInt).getOrElse(8)
    val nDocs = args.lift(1).map(_.toLong).getOrElse(6000L)
    val broadcastMb = args.lift(2).map(_.toInt).getOrElse(64)
    val aqe = args.lift(3).map(_.toBoolean).getOrElse(true)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", (broadcastMb * 1024L * 1024).toString)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"""{"probe_config":{"cpus":$cpus,"docs":$nDocs,"broadcastMb":$broadcastMb,"aqe":$aqe}}""")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"""{"phase":"$name","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"cpus":$cpus}""")
      r
    }
    import spark.implicits._
    val pages = SyntheticCorpus.webPages(spark, nDocs)
    t("corpus_gen")(pages.count())

    val m = t("model_build_lazy")(Annotate.syntheticModel(spark, nDocs))
    t("paragraphs")(m.paragraphs.count())
    t("occurrences")(m.occurrences.count())
    t("closure")(m.closure.count())
    t("surface_forms")(m.surfaceForms.count())
    t("resources")(m.resources.count())
    t("candidates")(m.candidates.count())
    t("token_types")(m.tokenTypes.count())
    t("entity_contexts")(m.entityContexts.count())

    val scored = t("scored_plan+exec")(
      { val s = Annotate.scoredOn(spark, m, m.paragraphs).cache(); s.count(); s })
    t("annotations")(Annotate.annotationsFrom(spark, scored).toDF().cache().count())
    t("triples")(Annotate.triplesFrom(spark, m, scored).count())
    spark.stop()
  }
}
