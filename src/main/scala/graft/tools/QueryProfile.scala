package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Dev measurement harness (guide §1): runs one named SparkEntry query
  * and attributes its wall-clock to Spark stages — per-stage task time,
  * input bytes, shuffle read/write bytes, spill — so an optimization
  * targets the stage that actually costs, not the one that looks
  * expensive in the plan. Not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.QueryProfile <query> [runs]"
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class St(var name: String = "", var tasks: Int = 0, var taskMs: Long = 0,
        var input: Long = 0, var sr: Long = 0, var sw: Long = 0,
        var spill: Long = 0, var wallMs: Long = 0, var submitted: Long = 0,
        var gcMs: Long = 0, var deserMs: Long = 0, var cpuNs: Long = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          // SQL operator scopes of the stage's RDD chain are the useful
          // identity; the callsite short form is a generic async frame
          val scopes = e.stageInfo.rddInfos.flatMap(_.scope)
            .map(_.name).distinct.mkString(">")
          s.name = if (scopes.nonEmpty) scopes else e.stageInfo.name
          s.submitted = System.currentTimeMillis()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          // keep the operator-scope name set at submit; the callsite
          // only names a stage whose submit event carried no scope
          if (s.name.isEmpty) s.name = e.stageInfo.name
          if (s.submitted > 0) s.wallMs = System.currentTimeMillis() - s.submitted
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
        val s = stages.getOrElseUpdate(e.stageId, St())
        s.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.taskMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.deserMs += m.executorDeserializeTime
          s.cpuNs += m.executorCpuTime
          s.input += m.inputMetrics.bytesRead
          s.sr += m.shuffleReadMetrics.totalBytesRead
          s.sw += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled
        }
      }
    }

    // warm run (fixtures + JIT), unprofiled
    graft.SparkEntry.queries(name)(spark, sfDir).count()
    spark.sparkContext.addSparkListener(listener)
    (0 until runs).foreach { i =>
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // let the listener bus drain before reading
      Thread.sleep(300)
      println(f"\n[qprofile] $name run$i wall=$wall%.3f s")
      val snap = stages.synchronized(stages.toSeq.sortBy(-_._2.wallMs))
      def mb(b: Long) = f"${b / 1048576.0}%.1f"
      snap.filter(_._2.wallMs >= 20).foreach { case (id, s) =>
        println(f"  stage $id%4d wall=${s.wallMs / 1000.0}%7.2fs taskSum=${s.taskMs / 1000.0}%7.2fs " +
          f"cpu=${s.cpuNs / 1e9}%6.2fs gc=${s.gcMs / 1000.0}%5.2fs deser=${s.deserMs / 1000.0}%5.2fs " +
          f"tasks=${s.tasks}%4d in=${mb(s.input)}%7sMB sr=${mb(s.sr)}%7sMB sw=${mb(s.sw)}%7sMB " +
          f"spill=${mb(s.spill)}%5sMB  ${s.name.take(60)}")
      }
      val totWall = snap.map(_._2.wallMs).sum / 1000.0
      println(f"  [sum of stage walls=$totWall%.2f s over ${snap.size} stages; " +
        "gaps vs run wall = driver/planning time]")
    }
    spark.stop()
  }
}
