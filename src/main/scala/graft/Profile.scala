package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Developer tool (guide §1): per-stage breakdown of one or more queries —
  * stage wall time, task count, input / shuffle-read / shuffle-write bytes,
  * and max-vs-mean task time (skew / single-task-stage detector).
  *
  * `runMain graft.Profile <query...>` — each query runs REPS times
  * (default 2) and the LAST (warm) run is profiled; the cold run absorbs
  * codegen/JIT so stage times reflect steady state.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default:
  * the available processors), SPARK_GRAFT_REPS (default 2).
  */
object Profile {

  private case class St(id: Int, name: String, ms: Long, tasks: Int,
    input: Long, srBytes: Long, swBytes: Long, maxTaskMs: Long, sumTaskMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val names = args.toSeq
    require(names.nonEmpty, "usage: runMain graft.Profile <query...>")
    val spark = GraftSession.bench()

    val stages = mutable.ArrayBuffer[St]()
    val taskMax = mutable.Map[Int, Long]().withDefaultValue(0L)
    val taskSum = mutable.Map[Int, Long]().withDefaultValue(0L)
    var collect = false
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
        if (collect) {
          val d = te.taskInfo.duration
          taskMax(te.stageId) = math.max(taskMax(te.stageId), d)
          taskSum(te.stageId) += d
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          if (collect) {
            val si = sc.stageInfo
            val m = si.taskMetrics
            stages += St(si.stageId, si.name.linesIterator.next(),
              si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
              si.numTasks, m.inputMetrics.bytesRead,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten,
              taskMax(si.stageId), taskSum(si.stageId))
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def once(name: String): Double = Bench.timeQuery(spark, sfDir, name)

    once("q1_agg") // warm session
    names.foreach { name =>
      val warmups = (1 until reps).map(_ => once(name))
      listener.synchronized { stages.clear(); taskMax.clear(); taskSum.clear() }
      collect = true
      val t = once(name)
      Thread.sleep(600) // let the listener bus drain
      collect = false
      val snap = listener.synchronized { stages.toVector.sortBy(_.id) }
      println(f"\n===== $name  warm=${t}%.3f s (cold reps: ${warmups.map(w => f"$w%.2f").mkString(",")}) =====")
      println(f"${"stage"}%-7s ${"ms"}%7s ${"tasks"}%5s ${"inMB"}%8s ${"srMB"}%8s ${"swMB"}%8s ${"maxT"}%6s ${"meanT"}%6s  name")
      snap.foreach { s =>
        val mean = if (s.tasks == 0) 0L else s.sumTaskMs / s.tasks
        println(f"${s.id}%-7d ${s.ms}%7d ${s.tasks}%5d ${s.input / 1e6}%8.2f ${s.srBytes / 1e6}%8.2f ${s.swBytes / 1e6}%8.2f ${s.maxTaskMs}%6d ${mean}%6d  ${s.name.take(60)}")
      }
      val stageSum = snap.map(_.ms).sum
      println(f"stage-ms sum=$stageSum  (wall ${t * 1000}%.0f ms — gap = driver/planning/scheduling)")
    }
    spark.stop()
  }
}
