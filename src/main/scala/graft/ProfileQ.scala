package graft

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev-only per-stage profiler (round-10 optimization tooling; not part
  * of the driver surface). Runs named queries like Bench does and prints
  * one line per STAGE: wall time, task time, input/shuffle bytes and the
  * first line of the stage's name/callsite — enough to attribute a
  * query's seconds to scans vs exchanges vs aggregates without the UI.
  *
  * Env, as for [[Bench]]: SPARK_GRAFT_ONLY (comma list of queries,
  * default q_calibration), SPARK_GRAFT_SF_DIR (data dir, default sf0.1),
  * SPARK_GRAFT_CPUS (via [[Sessions.local]]), SPARK_GRAFT_REPS (default
  * 2; stages of the LAST rep only are printed — warm numbers, like
  * Bench's min).
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "q_calibration")
      .split(",").toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Sessions.local()

    case class StageRow(id: Int, name: String, wallMs: Long,
      taskMs: Long, tasks: Int, inputMB: Double, shReadMB: Double,
      shWriteMB: Double, spillMB: Double)
    val rows = mutable.ArrayBuffer.empty[StageRow]
    var collecting = false
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        if (!collecting) return
        val si = s.stageInfo
        // the scheduler's own timestamps, not the (later) delivery time
        val wall = (for (t1 <- si.completionTime; t0 <- si.submissionTime)
          yield t1 - t0).getOrElse(-1L)
        val m = si.taskMetrics
        rows += StageRow(si.stageId, si.name.linesIterator.next(),
          wall, m.executorRunTime, si.numTasks,
          m.inputMetrics.bytesRead / 1048576.0,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      var total = 0.0
      (1 to reps).foreach { r =>
        // the previous rep's events land before the reset
        GraftListenerBus.drain(spark.sparkContext)
        rows.clear()
        collecting = r == reps
        val t0 = System.nanoTime()
        val cnt = fn(spark, dir).count()
        total = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        if (r == reps) {
          GraftListenerBus.drain(spark.sparkContext)
          println(f"%n===== $n rep=$r rows=$cnt total=$total%.3f s =====")
          println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s " +
            f"${"tasks"}%5s ${"in_MB"}%8s ${"shR_MB"}%7s ${"shW_MB"}%7s " +
            f"${"spill"}%6s  name")
          rows.sortBy(-_.wallMs).foreach { s =>
            println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d " +
              f"${s.tasks}%5d ${s.inputMB}%8.1f ${s.shReadMB}%7.1f " +
              f"${s.shWriteMB}%7.1f ${s.spillMB}%6.1f  ${s.name.take(70)}")
          }
          val sumWall = rows.map(_.wallMs).sum / 1000.0
          println(f"[profile] $n stages=${rows.size} " +
            f"stage_wall_sum=$sumWall%.3f s of $total%.3f s total " +
            f"(gap = driver/planning/codegen)")
        }
      }
    }
    spark.stop()
  }
}
