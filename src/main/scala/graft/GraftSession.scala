package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine session is built. Every main and the test
  * session go through [[local]], so the profiled, verified and
  * benchmarked numbers all come from the same engine setup:
  *
  *   - `local[cpus]` with shuffle partitions = cpus;
  *   - UTC session time zone;
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`, which [[Tables]]
  *     needs to read events.ts (parquet TIMESTAMP(NANOS));
  *   - [[graft.expressions.GraftExtensions]] (`cosine_similarity`, the
  *     `size(array_intersect)` rewrite);
  *   - AQE on, UI off, log level WARN.
  *
  * A caller that needs a different value passes it as an override, which
  * wins over the settings above. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, otherwise the machine's core count. */
  def cpusFrom(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  lazy val cpus: Int = cpusFrom(sys.env)

  /** The testdata directory the mains read: `SPARK_GRAFT_SF_DIR`,
    * otherwise sf0.1. */
  lazy val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def local(cpus: Int = GraftSession.cpus,
            overrides: Map[String, String] = Map.empty): SparkSession = {
    val settings = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.expressions.GraftExtensions",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false") ++ overrides
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config(settings)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
