package graft.tools

import org.apache.spark.scheduler._
import graft.SparkEntry

/** Dev tool: run one named query and break its wall time into Spark jobs —
  * how many jobs the entry point fires (driver-side probe actions, eager
  * materializations, broadcasts submitted as jobs), each job's wall span,
  * stage count, task count, and summed executor task time. Separates
  * "the cluster was computing" from "the driver was scheduling/planning".
  * Usage: runMain graft.tools.JobProfile <name[,name...]> [n] [sfDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val n = if (args.length > 1) args(1).toInt else 2
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.Session.local()

    case class Job(id: Int, desc: String, start: Long, var end: Long = 0L,
        var stages: Int = 0, var tasks: Int = 0, var taskTimeMs: Long = 0L)
    case class Stg(id: Int, name: String, tasks: Int, taskTimeMs: Long,
        spanMs: Long)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = scala.collection.mutable.Map.empty[Int, Int]
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stg]
    val stageTaskMs = scala.collection.mutable.Map.empty[Int, Long]
      .withDefaultValue(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, d, e.time)
          e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += e.stageInfo.numTasks
          }
          val si = e.stageInfo
          val span = (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(0L)
          stages += Stg(si.stageId, si.name, si.numTasks,
            stageTaskMs(si.stageId), span)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
            if (e.taskInfo != null)
              j.taskTimeMs += (e.taskInfo.finishTime - e.taskInfo.launchTime)
          }
          if (e.taskInfo != null)
            stageTaskMs(e.stageId) = stageTaskMs(e.stageId) +
              (e.taskInfo.finishTime - e.taskInfo.launchTime)
        }
    }

    names.foreach { name =>
    // warm codegen/classloading at the smallest SF so run 1 is comparable
    try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    (1 to n).foreach { i =>
      jobs.clear(); stageToJob.clear(); stages.clear(); stageTaskMs.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"[profile] $name run $i: wall $wall%.3f s, ${jobs.size} jobs")
      val snap = jobs.synchronized(jobs.values.toVector)
      val covered = snap.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      var prevEnd = 0L
      snap.sortBy(_.start).foreach { j =>
        val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.end)
        println(f"  job ${j.id}%3d  span ${(j.end - j.start) / 1e3}%7.3f s" +
          f"  gapBefore $gap%7.3f s  stages ${j.stages}%3d  tasks ${j.tasks}%5d" +
          f"  taskTime ${j.taskTimeMs / 1e3}%8.3f s  ${j.desc.take(60)}")
      }
      println(f"  sum(job spans) $covered%.3f s  (wall − spans = driver/planning gaps)")
      // per-stage attribution: the stage NAME carries the callsite the
      // job row cannot — surfaced for the stages worth reading (serial
      // or dense), sorted hottest-first by summed task time
      val hot = jobs.synchronized(stages.toVector)
        .filter(st => st.taskTimeMs >= 200 || st.spanMs >= 200)
        .sortBy(-_.taskTimeMs)
      hot.take(20).foreach { st =>
        println(f"  stage ${st.id}%4d  tasks ${st.tasks}%5d" +
          f"  taskTime ${st.taskTimeMs / 1e3}%8.3f s" +
          f"  span ${st.spanMs / 1e3}%7.3f s  ${st.name.take(90)}")
      }
    }
    }
    spark.stop()
  }
}
