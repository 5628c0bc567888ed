package graft.tools

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.GraftSession
import graft.functions.TripFeatures
import graft.ml.{FareConfig, FareMetrics, FarePipeline}

/** Batch serving entry point — the engine-side equivalent of the
  * reference's prediction service (deployment/main.py:17-76 and the
  * 2_Predictions.py upload page): read an uploaded CSV, impute numeric
  * nulls to 0, score it with a saved PipelineModel, and write the scored
  * frame. Batch-first on purpose: the per-request HTTP wrapper is an
  * app-server concern; everything it computes is this job.
  *
  * The model is loaded once per saved version, as the reference's
  * service loads it once at start-up (deployment/main.py:19) and scores
  * every upload with it: [[savedModel]] keeps the last loaded model,
  * keyed on its directory and a fingerprint of every file under it, so a
  * re-save into the same directory is picked up by the next request and
  * a deleted directory fails the request instead of scoring with a stale
  * model.
  *
  *   sbt "runMain graft.tools.Serve <modelDir> <csvPath> <outDir>"
  *
  * Output: `<outDir>/scored` parquet — every input column plus
  * `prediction`. When the labeled column `fare_amount` is present (the
  * reference's upload page shows actuals next to predictions), a
  * metrics JSON line (RMSE/MAE/R² of the served batch) is appended to
  * `<outDir>/metrics.jsonl` via [[FarePipeline.appendMetrics]]. */
object Serve {

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: Serve <modelDir> <csvPath> <outDir>")
    val Array(modelDir, csvPath, outDir) = args
    val spark = GraftSession.local()
    val n = serve(spark, modelDir, csvPath, outDir)
    println(s"SERVE scored $n rows -> $outDir/scored")
    spark.stop()
  }

  /** The last loaded model with the directory and file fingerprint it
    * was loaded under. One entry: a service serves one model. */
  private final case class Loaded(dir: String, files: Seq[(String, Long, Long)],
                                  model: PipelineModel)
  private val last = new AtomicReference[Loaded]()

  /** Every file under `dir` as (path, length, mtime), listed recursively
    * through the Hadoop FileSystem — the same freshness key as
    * [[graft.Tables]]' schema cache. A re-save writes new files (parquet
    * part names carry a fresh UUID) and new mtimes; a missing `dir`
    * throws FileNotFoundException. */
  private def fingerprint(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val path = new Path(dir)
    val it = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(path, true)
    val files = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    files.result().sorted
  }

  /** The saved model in `modelDir`, loaded only when the directory or
    * any file under it changed since the last load. The fingerprint is
    * taken BEFORE the load, so a save that races the load leaves a key
    * that no longer matches and the next request reloads. */
  private[graft] def savedModel(spark: SparkSession, modelDir: String): PipelineModel = {
    val files = fingerprint(spark, modelDir)
    val hit = last.get()
    if (hit != null && hit.dir == modelDir && hit.files == files) hit.model
    else {
      val loaded = PipelineModel.load(modelDir)
      last.set(Loaded(modelDir, files, loaded))
      loaded
    }
  }

  /** The scoring path, callable from tests with an existing session.
    * Returns the scored row count. */
  def serve(spark: SparkSession, modelDir: String, csvPath: String,
            outDir: String): Long = {
    val model = savedModel(spark, modelDir)
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csvPath)
    // impute FEATURES only: imputing the label would turn null-label rows
    // into fare_amount=0 and silently skew the served-batch metrics below
    val numericCols = raw.schema.fields
      .collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }
      .filterNot(_ == "fare_amount")
    val prepped = TripFeatures.imputeZeroCastDouble(raw, numericCols.toSeq)
    val scored = model.transform(prepped)
      .select((raw.columns.map(col) :+ col("prediction")).toSeq: _*)
      .persist()
    try {
      scored.write.mode("overwrite").parquet(s"$outDir/scored")
      if (raw.columns.contains("fare_amount")) {
        // unlabeled uploads still get scored; only labeled rows are judged
        val m = FarePipeline.regressionMetrics(scored, "fare_amount")
        // served-batch metrics fill the test slots; train slots are NaN
        // (no training happened here) — consumers key on "model":"served"
        FarePipeline.appendMetrics(s"$outDir/metrics.jsonl",
          FareConfig("fare_amount", "", Nil, modelKind = "served"),
          FareMetrics(Double.NaN, Double.NaN, Double.NaN, m.rmse, m.mae, m.r2, Nil))
        m.rows
      } else scored.count()
    } finally { scored.unpersist(): Unit }
  }
}
