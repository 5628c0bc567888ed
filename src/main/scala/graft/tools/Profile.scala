package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{GraftSession, SparkEntry}

/** Stage-level profile of named queries (optimization-round tooling,
  * "measure first"): per query, two warm passes (the first pays Janino
  * codegen, the second settles JIT), then a profiled pass with a listener
  * recording every stage's wall span, task count and summed executor task
  * time. Output per query: total wall, job count, and the stages sorted
  * by wall span — the direct read for "single-task stage" (numTasks=1
  * where cores=32) and "job-count bound" (many jobs, each stage cheap)
  * diagnoses. Every argument is a query name; the testdata directory
  * comes from `SPARK_GRAFT_SF_DIR`:
  * `SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.tools.Profile <q>..."`.
  * Dev tool only: never in a query path, never in the bench methodology. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local()

    case class St(id: Int, name: String, tasks: Int, wallMs: Long,
                  taskMs: Long, site: String)
    val stages = ArrayBuffer[St]()
    var jobs = 0
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(0L)
        stages.synchronized {
          stages += St(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
            wall, si.taskMetrics.executorRunTime,
            si.details.linesIterator.toSeq.headOption.getOrElse(""))
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stages.synchronized { jobs += 1 }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ()
    }

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // two warm passes: pass 1 pays Janino, pass 2 stabilizes JIT
      (1 to 2).foreach { _ =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      stages.synchronized { stages.clear(); jobs = 0 }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // stage events are posted async; give the listener bus a beat
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val snap = stages.synchronized { (stages.toSeq, jobs) }
      println(f"== $name wall=$wall%.3f s  jobs=${snap._2}  stages=${snap._1.size}")
      val span = snap._1.map(_.wallMs).sum
      snap._1.sortBy(-_.wallMs).take(14).foreach { s =>
        println(f"   ${s.wallMs}%6d ms wall  ${s.taskMs}%7d ms task  " +
          f"${s.tasks}%4d tasks  [${s.id}%3d] ${s.name}%-22s ${s.site.take(90)}")
      }
      println(f"   (sum of stage walls: $span%d ms; wall not in any stage = driver/scheduling)")
    }
    spark.stop()
  }
}
