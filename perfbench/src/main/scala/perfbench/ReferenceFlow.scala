package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.io.{Sinks, Sources}
import graft.ml.{FareConfig, FarePipeline}
import graft.streaming.StreamPipeline
import graft.tools.Serve

/** The paper's pipeline, composed as `graft.tools.E2E` composes it: a
  * seeded raw-trip fixture is encoded as JSON, stream-enriched into Derby
  * in fixed-size micro-batches, read back partitioned, used to train the
  * fare model at the reference hyperparameters, and served to small CSV
  * uploads until the run's time is spent. */
final class ReferenceFlow(o: Main.Opts, work: String, tracer: Tracer) extends Workload {
  import ReferenceFlow._

  private val batchMs = ArrayBuffer.empty[Double]
  private val sinkMs = ArrayBuffer.empty[Double]
  private val landedBatches = scala.collection.mutable.Set.empty[Long]
  private var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private var modelDir = ""
  private val named = scala.collection.mutable.Map.empty[String, Span]

  def stage(spark: SparkSession, dir: String): Unit =
    fixture(spark, Rows, o.seed).write.parquet(s"$dir/fixture")

  /** A call whose span the layer metrics look up by name. */
  private def timed[T](name: String, layer: String, spark: SparkSession)(body: => T): (T, Double) = {
    val r = tracer.call(name, layer, spark.sparkContext)(body)
    tracer.spans.lastOption.filter(_.name == name).foreach(named(name) = _)
    r
  }

  def measure(spark: SparkSession, staged: String): Seq[(String, Any)] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fixtureDir = s"$staged/fixture"
    val out = s"$work/flow"
    Files.createDirectories(Paths.get(out))
    val t0 = System.nanoTime()

    // 1. producer: the fixture rows as the JSON the topic would carry
    val (json, produceMs) = timed("produce", "flow", spark) {
      spark.read.parquet(fixtureDir)
        .select(to_json(struct(col("*"))).as("value")).as[String].collect()
    }

    // 2. stream-enrich into Derby, one micro-batch per fixed-size chunk
    System.setProperty("derby.stream.error.file", s"$out/derby.log")
    val url = s"jdbc:derby:$out/tripsdb;create=true"
    val schema = spark.read.parquet(fixtureDir).schema
    val stream = MemoryStream[String]
    val writer: (DataFrame, Long) => Unit = { (batch, id) =>
      sinkMs += tracer.call(s"sink.$id", "io", spark.sparkContext) {
        Sinks.jdbcAppend(batch, url, Table, "app", "app")
      }._2
      landedBatches += id
    }
    val (_, ingestMs) = timed("ingest", "streaming", spark) {
      val q = StreamPipeline.foreachBatchSink(
        StreamPipeline.consumerTransform(stream.toDF(), schema), s"$out/ckpt", writer)
      try json.grouped(BatchRows).zipWithIndex.foreach { case (chunk, i) =>
        // traced runs trace every other batch: the untraced half is the
        // baseline for trace.overhead_ratio
        val was = tracer.enabled
        if (i % 2 == 1) tracer.enabled = false
        try batchMs += tracer.call(s"batch.$i", "streaming", spark.sparkContext) {
          stream.addData(chunk.toSeq: _*)
          q.processAllAvailable()
        }._2
        finally tracer.enabled = was
      } finally q.stop()
      progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    }
    // foreachBatchSink logs and drops a failed batch, so count what landed
    val landed = Sources.jdbc(spark, url, Table, "app", "app").count()

    // 3. partitioned read-back
    val (trips, readMs) = timed("jdbc_read", "io", spark) {
      val df = Sources.jdbc(spark, url, Table, "app", "app",
        partitionColumn = Some("pickup_hour"), lowerBound = 0L, upperBound = 24L,
        numPartitions = Main.cores)
      df.count()
      df
    }

    // 4. train at the reference hyperparameters, then save
    modelDir = s"$out/model"
    val ((metrics, saveMs), trainMs) = timed("train", "ml", spark) {
      val ((model, m), _) = timed("fit_eval", "ml", spark) {
        FarePipeline.fitEval(trips, FareConfig(labelCol = "fare_amount",
          categoricalCol = "pickup_timeofday", numericCols = NumericCols,
          numTrees = 100, maxDepth = 10))
      }
      val (_, save) = timed("save", "ml", spark) { model.write.overwrite().save(modelDir) }
      (m, save)
    }
    val flowS = (System.nanoTime() - t0) / 1e9

    // 5. serve seed-chosen slices of the landed trips as CSV uploads
    val serveMs = ArrayBuffer.empty[Double]
    val served = ArrayBuffer.empty[(Long, Long)]
    val rnd = new scala.util.Random(o.seed)
    var i = 0
    while (i < MinRequests || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val from = rnd.nextInt(Rows.toInt - UploadRows).toLong
      val csv = s"$out/upload$i"
      val upload = trips.filter(col("trip_id").between(from, from + UploadRows - 1))
      upload.write.option("header", "true").mode("overwrite").csv(csv)
      val sent = spark.read.option("header", "true").csv(csv).count()
      val (n, ms) = timed(s"serve.$i", "serve", spark) {
        Serve.serve(spark, modelDir, csv, s"$out/served$i")
      }
      serveMs += ms
      served += ((sent, n))
      i += 1
    }
    Seq(
      "rows_sent" -> json.length.toLong, "rows_landed" -> landed,
      "batch_ms" -> batchMs.toSeq,
      // one micro-batch per chunk: batch i is stream batch id i
      "batch_landed" -> batchMs.indices.map(i => landedBatches.contains(i.toLong)),
      "sink_ms" -> sinkMs.toSeq, "produce_ms" -> produceMs,
      "ingest_ms" -> ingestMs, "jdbc_read_ms" -> readMs,
      "train_ms" -> trainMs, "save_ms" -> saveMs, "flow_s" -> flowS,
      "test_r2" -> metrics.testR2, "test_rmse" -> metrics.testRmse,
      "serve_ms" -> serveMs.toSeq,
      "served" -> served.map { case (s, n) => Map("uploaded" -> s, "served" -> n) })
  }

  def layers(spark: SparkSession, l: LayerListener): Seq[(String, Double)] = {
    def dur(key: String) = Workload.median(progress.flatMap(p =>
      Option(p.durationMs.get(key)).map(_.doubleValue)))
    val fit = named.get("fit_eval")
    val serves = tracer.spans.filter(_.layer == "serve")
    // a bare model load, the fixed part of every request
    val loads = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); PipelineModel.load(modelDir)
      (System.nanoTime() - t0) / 1e6
    }
    val tracedBatches = tracer.spans.filter(s => s.layer == "streaming" && s.name.startsWith("batch."))
    val untraced = batchMs.zipWithIndex.collect { case (ms, i) if i % 2 == 1 => ms }
    Seq(
      "streaming.batch_ms" -> Workload.median(batchMs.toSeq),
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "io.sink_ms" -> Workload.median(sinkMs.toSeq),
      "io.jdbc_read_ms" -> named.get("jdbc_read").map(_.wallMs).getOrElse(0.0),
      "ml.jobs" -> fit.map(l.forSpan(_).jobs.toDouble).getOrElse(0.0),
      "ml.task_ms" -> fit.map(l.forSpan(_).taskMs.toDouble).getOrElse(0.0),
      "ml.source_scans" -> fit.map(l.forSpan(_).sourceScans.toDouble).getOrElse(0.0),
      "ml.save_ms" -> named.get("save").map(_.wallMs).getOrElse(0.0),
      "serve.model_load_ms" -> Workload.median(loads),
      "serve.jobs_per_request" ->
        (if (serves.isEmpty) 0.0 else serves.map(l.forSpan(_).jobs).sum.toDouble / serves.size),
      "trace.overhead_ratio" -> {
        val t = Workload.median(tracedBatches.map(_.wallMs).toSeq)
        val u = Workload.median(untraced.toSeq)
        if (u > 0) t / u else 0.0
      }) ++ ReferenceFlow.idleQueryLayers
  }
}

object ReferenceFlow {
  /** Fixture rows, sized so one flow fits a run on a few cores. */
  val Rows = 600L
  val BatchRows = 50
  val UploadRows = 100
  /** The first request is the serve path's warm-up; warm_s is the
    * median of the rest. */
  val MinRequests = 6
  val Table = "trips_enriched"

  val NumericCols = Seq("vendorid", "ratecodeid", "pulocationid",
    "dolocationid", "passenger_count", "trip_distance", "tip_amount",
    "improvement_surcharge", "total_amount", "trip_duration",
    "payment_type", "pickup_hour", "fare_per_mile")

  /** Raw trips in the wire shape the producer reads (`graft.tools.E2E`'s
    * fixture, with its random columns drawn from `seed` and a `trip_id`
    * key that upload slices select on). */
  def fixture(spark: SparkSession, rows: Long, seed: Long): DataFrame =
    spark.range(rows)
      .withColumn("pu_ts",
        timestamp_seconds(lit(1714521600L) +
          (col("id") % 30) * 86400 + col("id") % 86400))
      .withColumn("trip_distance", round(rand(seed * 31 + 7) * 12 + 0.2, 2))
      .withColumn("duration_min", round(col("trip_distance") * 4 + rand(seed * 31 + 13) * 10, 2))
      .withColumn("do_ts",
        timestamp_seconds(unix_timestamp(col("pu_ts")) + col("duration_min") * 60.0))
      .withColumn("tpep_pickup_datetime", date_format(col("pu_ts"), "yyyy-MM-dd'T'HH:mm:ss"))
      .withColumn("tpep_dropoff_datetime", date_format(col("do_ts"), "yyyy-MM-dd'T'HH:mm:ss"))
      .withColumn("vendorid", (col("id") % 2 + 1).cast("double"))
      .withColumn("ratecodeid", (col("id") % 6 + 1).cast("double"))
      .withColumn("pulocationid", (pmod(hash(col("id"), lit(seed)), lit(265)) + 1).cast("double"))
      .withColumn("dolocationid", (pmod(hash(col("id") + 7, lit(seed)), lit(265)) + 1).cast("double"))
      .withColumn("passenger_count", (col("id") % 4 + 1).cast("double"))
      .withColumn("payment_type", (col("id") % 4 + 1).cast("double"))
      .withColumn("fare_amount",
        round(lit(3.0) + col("trip_distance") * 2.5 + col("duration_min") * 0.12 +
          when(hour(col("pu_ts")).between(17, 20), 2.0).otherwise(0.0) +
          randn(seed * 31 + 11) * 1.5, 2))
      .withColumn("tip_amount", round(col("fare_amount") * 0.15 + randn(seed * 31 + 17) * 0.5, 2))
      .withColumn("improvement_surcharge", lit(1.0))
      .withColumn("total_amount", round(col("fare_amount") + col("tip_amount") + lit(1.0), 2))
      .withColumnRenamed("id", "trip_id")
      .drop("pu_ts", "do_ts", "duration_min")

  /** The flow's layer metrics on workloads that never reach those layers. */
  val idleLayers: Seq[(String, Double)] = Seq(
    "streaming.batch_ms", "streaming.planning_ms", "streaming.wal_commit_ms",
    "streaming.add_batch_ms", "io.sink_ms", "io.jdbc_read_ms", "ml.jobs",
    "ml.task_ms", "ml.source_scans", "ml.save_ms", "serve.model_load_ms",
    "serve.jobs_per_request").map(_ -> 0.0)

  val idleQueryLayers: Seq[(String, Double)] = (Seq(
    "queries.jobs", "queries.stages", "queries.tasks", "queries.construct_ms",
    "queries.action_ms", "operators.task_ms", "operators.core_util",
    "operators.outside_stage_ms", "operators.shuffle_write_bytes",
    "operators.shuffle_read_bytes", "operators.spill_bytes", "operators.gc_ms",
    "tables.input_bytes") ++
    Stores.names.flatMap(s => Seq(s"stores.build_ms.$s", s"stores.bytes.$s"))).map(_ -> 0.0)
}
