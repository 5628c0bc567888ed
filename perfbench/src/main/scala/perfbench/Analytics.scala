package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.queries.Registry

/** The query side of the system, run in passes by one client: dashboard
  * queries collected to the driver the way the dashboard renders them, and
  * the iterative graph and dedup engines written through the noop sink.
  * The first pass is the first after process start and runs over freshly
  * staged tables, so engine warm-up and the sketch-store builds fall in it;
  * warm passes read the stores until the run's time is spent. The first
  * pass's results are kept for the oracle check. */
final class Analytics(o: Main.Opts, work: String, tracer: Tracer) extends Workload {
  import Analytics._

  final case class Sample(name: String, pass: Int, wallMs: Double,
                          threw: Boolean, digestOk: Boolean, span: Option[Span])

  val order: Seq[String] = new scala.util.Random(o.seed).shuffle(Dashboard ++ Iterative)
  private val samples = ArrayBuffer.empty[Sample]
  private val firstDigest = scala.collection.mutable.Map.empty[String, String]
  private val firstResults = ArrayBuffer.empty[(String, StructType, Array[Row])]
  private val storeSpans = ArrayBuffer.empty[(String, String, Span)]
  private def resultsDir = s"$work/results"

  def stage(spark: SparkSession, dir: String): Unit = Main.stage(o.data, s"$dir/tables")

  /** Every query once over the small warm-up tables, unrecorded. Their
    * path is fresh too, so the store builders are compiled as well. */
  override def warmUp(spark: SparkSession, dir: String): Unit = {
    Main.stage(o.warmupData, s"$dir/tables")
    order.foreach { name =>
      try action(name, Registry.queries(name)(spark, s"$dir/tables"), first = false)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $name warm-up failed: ${e.getMessage}")
      }
    }
  }

  /** Dashboard queries are collected; iterative ones run through the noop
    * sink, except on the first pass, which writes them for the check. */
  private def action(name: String, df: DataFrame, first: Boolean): Option[Array[Row]] =
    if (Dashboard.contains(name)) Some(df.collect())
    else {
      if (first) df.write.mode("overwrite").parquet(s"$resultsDir/$name")
      else df.write.format("noop").mode("overwrite").save()
      None
    }

  private def runOne(spark: SparkSession, dir: String, name: String, pass: Int): Unit = {
    val sc = spark.sparkContext
    var rows: Option[Array[Row]] = None
    var schema: StructType = null
    val t0 = System.nanoTime()
    val (wallMs, threw) = try {
      val (_, w) = tracer.call(name, "query", sc) {
        val (df, _) = tracer.call(s"$name.construct", "construct", sc) {
          Registry.queries(name)(spark, dir)
        }
        schema = df.schema
        rows = tracer.call(s"$name.action", "action", sc)(action(name, df, pass == 0))._1
      }
      (w, false)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $name pass $pass failed: ${e.getMessage}")
      ((System.nanoTime() - t0) / 1e6, true)
    }
    if (pass == 0) rows.foreach(r => firstResults += ((name, schema, r)))
    // every execution must return what the first one returned
    val ok = rows.map(digest).forall(d => firstDigest.getOrElseUpdate(name, d) == d)
    val span = if (threw) None else tracer.spans.lastOption.filter(_.name == name)
    samples += Sample(name, pass, wallMs, threw, ok, span)
  }

  def measure(spark: SparkSession, staged: String): Seq[(String, Any)] = {
    val dir = s"$staged/tables"
    Files.createDirectories(Paths.get(resultsDir))
    // traced runs time each store builder on the fresh input first; the
    // first pass then reads the stores
    if (o.trace) Stores.builders.foreach { case (store, build) =>
      val (path, _) = tracer.call(s"store.$store", "store", spark.sparkContext)(build(spark, dir))
      tracer.spans.lastOption.foreach(s => storeSpans += ((store, path, s)))
    }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    order.foreach(runOne(spark, dir, _, 0))
    var pass = 1
    // traced runs trace every other warm pass: the untraced passes are the
    // baseline for trace.overhead_ratio
    while (pass == 1 || (o.trace && pass == 2) || elapsed < o.seconds) {
      tracer.enabled = o.trace && pass % 2 == 1
      order.foreach(runOne(spark, dir, _, pass))
      pass += 1
    }
    tracer.enabled = o.trace
    val measureS = elapsed
    // collected results are written after the timed loop, so the oracle
    // dump costs no measured time
    firstResults.foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$name")
    }
    Seq(
      "measure_s" -> measureS,
      "order" -> order,
      "results_dir" -> resultsDir,
      "samples" -> samples.map { s =>
        Map("name" -> s.name, "dashboard" -> Dashboard.contains(s.name),
          "pass" -> s.pass, "ms" -> s.wallMs, "threw" -> s.threw,
          "digest_ok" -> s.digestOk)
      })
  }

  def layers(spark: SparkSession, l: LayerListener): Seq[(String, Double)] = {
    val traced = samples.flatMap(_.span)
    val n = math.max(traced.size, 1).toDouble
    def child(s: Span, suffix: String) =
      tracer.spans.find(c => c.parent == s.id && c.name == s.name + suffix)
    def parts(s: Span) = Seq(".construct", ".action").flatMap(child(s, _))
    // a query's jobs run under its construct and action spans
    def sum(f: LayerAcc => Long) =
      traced.map(s => (parts(s) :+ s).map(x => f(l.forSpan(x))).sum).sum.toDouble
    val wall = traced.map(_.wallMs).sum
    val taskMs = sum(_.taskMs)
    val passes = samples.filter(_.pass > 0).groupBy(_.pass).map { case (p, ss) => p -> ss.map(_.wallMs).sum }
    val tracedPass = passes.collect { case (p, t) if p % 2 == 1 => t }.toSeq
    val untracedPass = passes.collect { case (p, t) if p % 2 == 0 => t }.toSeq
    Seq(
      "queries.jobs" -> sum(_.jobs) / n,
      "queries.stages" -> sum(_.stages) / n,
      "queries.tasks" -> sum(_.tasks) / n,
      "queries.construct_ms" -> traced.flatMap(child(_, ".construct")).map(_.wallMs).sum / n,
      "queries.action_ms" -> traced.flatMap(child(_, ".action")).map(_.wallMs).sum / n,
      "operators.task_ms" -> taskMs / n,
      "operators.core_util" -> (if (wall > 0) taskMs / (wall * Main.cores) else 0.0),
      "operators.outside_stage_ms" -> traced.map(s => parts(s).map(l.outsideStageMs).sum).sum / n,
      "operators.shuffle_write_bytes" -> sum(_.shuffleWrite) / n,
      "operators.shuffle_read_bytes" -> sum(_.shuffleRead) / n,
      "operators.spill_bytes" -> sum(_.spill) / n,
      "operators.gc_ms" -> sum(_.gcMs) / n,
      "tables.input_bytes" -> sum(_.inputBytes) / n) ++
    Stores.names.flatMap { s =>
      val hit = storeSpans.find(_._1 == s)
      Seq(s"stores.build_ms.$s" -> hit.map(_._3.wallMs).getOrElse(0.0),
        s"stores.bytes.$s" -> hit.map(h => Workload.dirBytes(h._2).toDouble).getOrElse(0.0))
    } ++ ReferenceFlow.idleLayers :+
    ("trace.overhead_ratio" ->
      (if (untracedPass.isEmpty) 0.0 else Workload.median(tracedPass) / Workload.median(untracedPass)))
  }
}

object Analytics {
  /** Short queries behind the reference dashboard and the OLAP views. */
  val Dashboard: Seq[String] = Seq(
    "q01_pricing_summary", "q03_join_brand_revenue", "q13_ratio_of_sums",
    "q19_time_of_day", "q21_route_topk", "q55_cube", "q58_window_family")

  /** Engines over sketch stores: BFS levels over the trade-edge store
    * (six rounds of frontier expansion) and query-by-image Hamming top-k
    * over the dHash sketch store. */
  val Iterative: Seq[String] = Seq("q142_bfs_levels", "q262_hamming_knn")

  /** Stable digest of a collected result, in row order. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The sketch stores the iterative queries read, with their builders.
  * Each builder returns the store's directory. */
object Stores {
  import graft.queries.{LayoutKey, MediaSketch, TradeGraph}

  val builders: Seq[(String, (SparkSession, String) => String)] = Seq(
    "trade_edges" -> { (s, d) =>
      TradeGraph.edges(s, d).count()
      LayoutKey.dir(d, Seq("lineitem", "orders", "customer"), "trade_edges_n78") },
    "dhash_sketch" -> { (s, d) =>
      MediaSketch.dhash(s, d).count()
      LayoutKey.dir(d, "documents", "dhash_sketch") })

  val names: Seq[String] = builders.map(_._1)
}
