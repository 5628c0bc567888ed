package graft

import org.apache.spark.sql.functions._

/** Driver benchmark main: one JSON metrics line for BENCH_r{N}.json.
  *
  * Methodology: a small untimed warmup absorbs one-time session costs
  * (Hadoop FS init, Janino/JIT of the codegen framework) so per-query
  * numbers measure the queries; queries then run once each in name
  * order, materialized via the noop sink (full computation, no driver
  * collect and no output I/O in the timing). */
object Bench {
  /** Where a run may write its detail record: only an UNFILTERED run
    * (the full registered suite) earns `bench_detail.json`; any
    * name-filtered spot-check goes to the scratch path. Pure so the
    * guard is spec-pinned (BenchGuardSpec) without running a session. */
  def detailPathFor(only: Set[String]): String =
    if (only.isEmpty) "bench_detail.json" else "bench_detail_partial.json"

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local()

    // Untimed warmup: touch the scan path, a shuffle, a broadcast join and
    // a window so the first timed query isn't charged for framework init.
    {
      val li = Tables(spark, sfDir, "lineitem").limit(10000)
      val p = Tables(spark, sfDir, "part").limit(1000)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("l_returnflag")).count()
        .write.format("noop").mode("overwrite").save()
      Tables(spark, sfDir, "events").limit(1000)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("ts"))))
        .write.format("noop").mode("overwrite").save()
    }

    // Four passes by default: pass 1 absorbs Janino/JIT compilation of
    // 50+ distinct codegen'd plans (~75 s of one-time cost that would
    // land on random queries); reported numbers are the per-query MINIMUM
    // across the 3 warm passes (standard best-of-N timing) — single warm
    // passes on this box show ±30% per-query scheduler/GC noise, and the
    // minimum is the steady-state throughput a resident engine delivers.
    // 3 warm passes (vs r09's 2) make the reported p50 a true 3-sample
    // median, so one late-JIT warm pass can no longer skew it (r09 detail:
    // q146-q149 p50 sat 1.9-3.9x above best because p50-of-2 is a mean).
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "4").toInt
    // optional args: bench only the named queries (dev loop for timing a
    // query under optimization); the driver always calls with no args
    val only = args.toSet
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val allPasses = (1 to passes).map { pass =>
      val r = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.isEmpty || only(name) }
        .map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
      System.err.println(s"[bench] pass $pass total ${r.map(_._2).sum}")
      r
    }
    val warm = if (allPasses.length > 1) allPasses.tail else allPasses
    // failed queries report their MAX duration (not the min of fast-fail
    // times) so a throwing query can't deflate the total while hiding in
    // the failed[] array
    val byName = warm.flatten.groupBy(_._1).toSeq.sortBy(_._1)
    val results = byName.map { case (name, times) =>
      val ts = times.map(_._2)
      name -> (if (failed.contains(name)) ts.max else ts.min)
    }
    // p50 across the warm passes, alongside the min: jitter shows up as
    // p50 ≫ min, so a future regression in min can be separated from
    // scheduler noise without re-running the round
    val p50s = byName.map { case (name, times) =>
      val ts = times.map(_._2).sorted
      name -> (if (ts.size % 2 == 1) ts(ts.size / 2)
               else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2)
    }
    val total = results.map(_._2).sum
    // failed queries are flagged in the JSON so a fast failure can't
    // masquerade as a fast query in the round's benchmark record
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def fmt(v: Double): String = "%.3f".format(v)
    // Full-precision, full-name record for humans and the judge:
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // per-pass times let a p50/min divergence be diagnosed from the
    // committed artifact without re-running the round
    val passJson = byName.map { case (name, times) =>
      "\"" + name + "\":[" + times.map(_._2).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val detailLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(results)},""" +
        s""""queries_p50":${obj(p50s)},"queries_passes":$passJson,""" +
        s""""failed":$failedJson,"sf":"$sfDir"}"""
    // A name-filtered run is a dev spot-check, never the round's record:
    // it writes to a scratch path so it cannot clobber the committed
    // full-suite detail (the r09 snapshot did exactly that — a 3-query
    // partial overwrote the 198-query artifact at HEAD).
    val detailPath = detailPathFor(only)
    try {
      val w = new java.io.PrintWriter(detailPath)
      try w.println(detailLine) finally w.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // The driver captures only the LAST ~2000 chars of output and parses
    // the JSON line out of it — with 86+ full query names the line blew
    // past that window both prior rounds (BENCH_r{1,2}.json parsed:null).
    // Emit a compact line: qNN keys (names truncated at the first '_' —
    // unique by construction) and 3-decimal seconds.
    val qs = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
