package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one local Spark session, one client, one
  * workload per run. It times calls into the engine's public functions
  * and writes a raw run record (`<work>/run.json`); `perfbench/run.py`
  * checks the outputs and turns the record into metrics.
  *
  *   Main --workload <analytics|reference_flow> --seed <n>
  *        --seconds <s> --trace <0|1> --data <dir> --warmup-data <dir>
  *        --work <dir>
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, warmupData: String, work: String)

  /** Set-up repetitions; setup_s reports their median, plus the warm-up. */
  val SetupReps = 5

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("warmup-data"), need("work"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The one session set-up every workload shares: the Bench settings
    * (`local[cores]`, shuffle partitions = cores, AQE, nanosAsLong, the
    * engine's extensions), with every scratch path inside the run's work
    * directory. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Copies the generated tables to a fresh directory. A fresh path gets
    * fresh sketch-store keys, so the engine builds its stores again. */
  def stage(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Files.list(Paths.get(from)).filter(_.toString.endsWith(".parquet")).forEach { p =>
      Files.copy(p, Paths.get(to).resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The DuckDB oracle SQL of every query the analytics workload runs,
    * for the output check. */
  def writeOracleSql(path: String): Unit = {
    val sql = (Analytics.Dashboard ++ Analytics.Iterative).map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    Files.writeString(Paths.get(path), Json.render(sql) + "\n")
  }

  /** Peak resident set of this process, from /proc (0 where absent). */
  def peakRssMb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    if (args.headOption.contains("--oracle-sql")) return writeOracleSql(args(1))
    val o = parse(args)
    val work = Paths.get(o.work).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    val tracer = new Tracer(o.trace, s"${o.workload}-${o.seed}")
    val workload: Workload = o.workload match {
      case "analytics" => new Analytics(o, work, tracer)
      case "reference_flow" => new ReferenceFlow(o, work, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up, several times: session start and input staging. Every
    // repetition but the last stops its session; the last one's session
    // and staged input are the ones measured.
    var spark: SparkSession = null
    val setupReps = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work)
      workload.stage(spark, s"$work/stage$i")
      (System.nanoTime() - t0) / 1e9
    }
    val staged = s"$work/stage$SetupReps"
    System.err.println(s"[perfbench] setup ${setupReps.mkString(" ")}")

    // the engine warm-up, once: it compiles the code paths the workload
    // runs, so the first measured pass pays for store builds, not for that
    val warmupS = {
      val t0 = System.nanoTime()
      workload.warmUp(spark, s"$work/warmup")
      (System.nanoTime() - t0) / 1e9
    }

    val listener = new LayerListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "trace" -> o.trace, "main_entry_ms" -> mainEntryMs,
      "setup_reps_s" -> setupReps, "warmup_s" -> warmupS)
    record ++= workload.measure(spark, staged)
    System.err.println(s"[perfbench] measured, ${(System.currentTimeMillis() - mainEntryMs) / 1e3}s after start")

    if (o.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      record("layers") = mutable.LinkedHashMap(workload.layers(spark, listener): _*)
      tracer.write(s"$work/spans.jsonl")
    }
    record("peak_rss_mb") = peakRssMb
    spark.stop()
    Files.writeString(Paths.get(s"$work/run.json"), Json.render(record) + "\n")
  }
}

/** One workload: what it stages and what it measures. */
trait Workload {
  def stage(spark: SparkSession, dir: String): Unit
  /** Runs the workload's engine calls once on inputs other than the
    * measured ones, staged under `dir`. */
  def warmUp(spark: SparkSession, dir: String): Unit = ()
  def measure(spark: SparkSession, staged: String): Seq[(String, Any)]
  def layers(spark: SparkSession, l: LayerListener): Seq[(String, Double)]
}

object Workload {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).filter(Files.isRegularFile(_))
      .mapToLong((f: Path) => Files.size(f)).sum()
  }
}
