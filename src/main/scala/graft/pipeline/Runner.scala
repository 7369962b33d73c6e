package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model._
import graft.triples.Triples

/**
 * The checkpointed end-to-end DAG (SURVEY.md §3.2 restatement): each
 * stage materializes to `<root>/<stage>/` parquet with a commit marker +
 * per-partition lineage counters via [[Pipeline.stage]]; a re-run skips
 * every committed stage and recomputes only downstream of the first
 * missing commit — the north rule's idempotent resume. Stage outputs are
 * deterministic (stable IDs, seeded corpus, pure extract), so a resumed
 * run is row-identical to an uninterrupted one (`RunnerSpec`).
 *
 * The model stages are [[Annotate.modelDag]] — the same DAG
 * [[Annotate.buildModel]] caches in memory — held by [[staged]]; the
 * Runner adds the annotate stages after them:
 *
 *   paragraphs .. entity_contexts  the model-build DAG (stage graph there)
 *   sim_thresholds                 <- scored model paragraphs, resolved_occurrences
 *   annotations                    <- scored model paragraphs, sim_thresholds
 *   triples                        <- annotations, resources, redirect_closure
 */
object Runner {

  final case class Result(model: Model, triples: DataFrame, root: String)

  /** The model tables additionally written sorted + bucketed, with their key. */
  private val BucketKeys = Map("candidates" -> "sf_id", "entity_contexts" -> "res_id")

  /**
   * Hold each model table as the committed stage `<root>/<stage>`, read
   * back and cached. SURVEY §4(2): candidates and entity_contexts are
   * also written sorted+bucketed so every annotate run joins them
   * without re-shuffling the model side; the bucketed read replaces the
   * stage table. The bucketed table is rewritten only when its stage was
   * recomputed or the catalog lacks it (a resume in a fresh process), so
   * resume stays idempotent; in the second case its old warehouse
   * directory is stale and is cleared first (else LOCATION_ALREADY_EXISTS).
   */
  private[graft] def staged(spark: SparkSession, root: String, buckets: Int): Annotate.Hold =
    (name, _) => compute => {
      val dir = s"$root/$name"
      val wasCommitted = Pipeline.isCommitted(dir)
      val df = Pipeline.stage(spark, dir)(compute)
      BucketKeys.get(name).fold(df) { key =>
        val table = Pipeline.bucketedTableName(root, name)
        val inCatalog = spark.catalog.tableExists(table)
        if (!wasCommitted || !inCatalog) {
          if (!inCatalog) {
            val db = spark.catalog.getDatabase(spark.catalog.currentDatabase)
            val loc = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(db.locationUri), table)
            loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
          }
          Pipeline.writeBucketed(df, table, key, buckets)
        }
        spark.table(table)
      }.cache()
    }

  def run(spark: SparkSession,
          pages: org.apache.spark.sql.Dataset[WebPage],
          redirectsNt: Seq[String],
          disambiguationsNt: Seq[String],
          instanceTypesNt: Seq[String],
          root: String,
          buckets: Int = 32): Result = {
    import spark.implicits._
    def st(name: String)(f: => DataFrame): DataFrame =
      Pipeline.stage(spark, s"$root/$name")(f)

    // Reliable checkpoints (denseIds' lineage cuts) live under the root
    // THIS run owns, set per run, so they survive executor loss and share
    // the run's lifetime. Every stage re-reads its own parquet, so once
    // the last stage commits nothing references them and the dir is
    // deleted below (Spark cleans checkpoint files only with
    // cleanCheckpoints on). No restore of a prior dir afterwards:
    // setCheckpointDir eagerly mkdirs its argument, so restoring would
    // recreate the dir just deleted; the session's dir stays under the
    // LAST run's root.
    spark.sparkContext.setCheckpointDir(s"$root/_checkpoints")

    val (model, resolved) = Annotate.modelDag(spark, pages, redirectsNt, disambiguationsNt,
      instanceTypesNt, withTotalCounts = true, graft.util.TextUtil.IdentityStemmer,
      staged(spark, root, buckets))

    // F1 training as a model stage: simThresholds = ascending quantiles
    // of gold-correct similarity scores over the model's own corpus (the
    // artifact the reference ships as config.getSimilarityThresholds).
    // Persisted like any other model table, so a resumed run loads it
    // instead of re-running the scored DAG.
    val scoredDf = Annotate.scoredOn(spark, model, model.paragraphs).cache()
    val simThresholds = st("sim_thresholds") {
      val ts = graft.filter.AnnotationFilters.trainSimThresholds(
        graft.disambig.Disambiguator.best(scoredDf), resolved)
      ts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("quantile_idx", "threshold")
    }
    val thresholdsSeq = simThresholds.orderBy("quantile_idx")
      .select("threshold").as[Double].collect().toSeq

    val annotations = st("annotations") {
      Annotate.annotationsFrom(spark, scoredDf, simThresholds = thresholdsSeq).toDF()
    }.as[AnnotationRow]
    // annotations is committed: nothing reads the scored table or the
    // training gold again, so only the model's own tables stay cached
    scoredDf.unpersist()
    resolved.unpersist()

    val triples = st("triples") {
      Triples.all(annotations, model.resources, model.closure).toDF()
    }

    // Every stage is committed and parquet-backed: the run's reliable
    // checkpoints are now unreferenced. Best-effort delete (a failed
    // cleanup must not fail a successful run); debris from a previous
    // interrupted run under the same root goes with it.
    try deleteLocalDir(s"$root/_checkpoints")
    catch { case _: Throwable => () }

    Result(model, triples, root)
  }

  /** Recursive local-fs delete for run-scoped checkpoint dirs. */
  private def deleteLocalDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path.stripPrefix("file:"))
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    }
  }

  /** Final graph sink: triples partitioned by predicate (Iceberg-style
   *  dir layout), with a counters JSON next to the commit marker. */
  def writeTriples(triples: DataFrame, dir: String): Unit = {
    triples.write.mode("overwrite").partitionBy("pred").parquet(dir)
    val counts = triples.groupBy("pred").count().collect()
      .map(r => s""""${r.getString(0)}": ${r.getLong(1)}""").mkString(",")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_counters.json"), s"{$counts}")
  }
}
