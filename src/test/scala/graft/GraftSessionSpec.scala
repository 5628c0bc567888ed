package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Pins the one engine session factory: the shared test session carries
  * every engine setting, the core-count rule, and a source guard that
  * keeps [[GraftSession]] the only place a session is built. */
class GraftSessionSpec extends SparkSpec {
  test("the shared session carries every engine setting") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("the engine's extensions are installed") {
    val r = spark.sql("select cosine_similarity(array(1d,0d), array(1d,0d))").head()
    assert(r.getDouble(0) == 1.0)
  }

  test("cpus: SPARK_GRAFT_CPUS, otherwise the machine's core count") {
    assert(GraftSession.cpusFrom(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cpusFrom(Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
  }

  test("GraftSession holds the only session builder in the sources") {
    // split so this file does not match itself
    val builder = scala.util.matching.Regex.quote("SparkSession" + ".builder").r
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val hits = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .flatMap { p =>
        val n = builder.findAllMatchIn(Files.readString(p)).size
        Seq.fill(n)(p.getFileName.toString)
      }
    assert(hits == Seq("GraftSession.scala"))
  }
}
