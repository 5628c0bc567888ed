package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Every query takes the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench) — and,
  * by extension, on a partitioned cluster path at any scale: `spark.read
  * .parquet` splits by row-group, so scans parallelize for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet SCHEMAS by (nanosAsLong, path) — plan-time memoization only
    * (r18, guide §6/§7.3 driver-side work): every query call re-inferred
    * the table schema by opening the parquet footer on the driver,
    * ~10-30 ms of per-query plan latency × hundreds of query
    * constructions per Bench/Verify run. The DATA path is untouched —
    * the scan still reads the parquet files on every execution (no
    * result or block caching) — this is the catalog-table shape: in
    * production the schema comes from the metastore, not a per-query
    * footer read. Keyed on the session's nanosAsLong flag because that
    * flag changes the inferred type of TIMESTAMP(NANOS) columns. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      org.apache.spark.sql.types.StructType]()

  /** Sessions must set `spark.sql.legacy.parquet.nanosAsLong=true`
    * ([[GraftSession.local]] does): events.ts is parquet TIMESTAMP(NANOS), which Spark has no native type
    * for. With the flag the column arrives as nanos-since-epoch LongType
    * and is truncated here to a microsecond TimestampType — the same
    * truncation Spark applies everywhere else, and what DuckDB's µs
    * comparisons see after date_trunc. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val flag = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .getOrElse("false")
    // mtime+size in the key (r18 ADVICE): a testdata rebuild with a new
    // schema inside one JVM lifetime must re-infer, not serve the stale
    // schema — same freshness discipline as LayoutKey. The stat is one
    // local syscall; the footer read it avoids is 10-30 ms.
    val f = new java.io.File(path)
    val schema = schemaCache.computeIfAbsent(
      (flag, s"$path@${f.lastModified}:${f.length}"),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
}
