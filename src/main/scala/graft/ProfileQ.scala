package graft

import org.apache.spark.scheduler._

/** Measurement tooling (optimization rounds): run one gate query under a
  * SparkListener and print a per-job / per-stage wall+metric breakdown, so
  * the expensive segment of a multi-job chain (streaming gates, store
  * writers) is identified by measurement instead of guesswork.
  *
  * Usage: runMain graft.ProfileQ <sfDir> <queryName> [reps]
  * Warm pass first (untimed), then `reps` (default 1) profiled passes.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQ <sfDir> <query> [reps]")
    val sfDir = args(0)
    val qname = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    // measurement-only conf overrides (semicolon-separated k=v), so §9
    // session-config candidates can be A/B'd per gate WITHOUT touching the
    // bench harness: SPARK_GRAFT_EXTRA_CONF="spark.sql.join.preferSortMergeJoin=false"
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val spark = Sessions.build("graft-profileq", extra = extraConf)

    case class JobRec(id: Int, var desc: String, start: Long,
        var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
        var taskTimeMs: Long = 0L, var shuffleReadB: Long = 0L,
        var shuffleWriteB: Long = 0L, var inputB: Long = 0L,
        var execId: Long = -1L)
    val jobs = new scala.collection.concurrent.TrieMap[Int, JobRec]()
    val stageToJob = new scala.collection.concurrent.TrieMap[Int, Int]()
    // heavy stages keep their name/callsite so a multi-stage job's cost can
    // be attributed to the operator that built the stage, not just the job
    case class StageRec(jobId: Int, stageId: Int, name: String,
        tasks: Int, taskTimeMs: Long, inputB: Long)
    val heavyStages = new scala.collection.concurrent.TrieMap[Int, StageRec]()
    // SQL-execution physical plans (captured from the listener bus — the
    // UI-free way to map a heavy job back to the exact plan it ran)
    val execPlans = new scala.collection.concurrent.TrieMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        val rec = JobRec(e.jobId, desc, e.time)
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => rec.execId = id.toLong)
        jobs.put(e.jobId, rec)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && m.executorRunTime > 150 &&
            sys.env.contains("PROFILEQ_TASKS"))
          println(f"    task stage=${e.stageId} run=${m.executorRunTime}ms " +
            f"deser=${m.executorDeserializeTime}ms gc=${m.jvmGCTime}ms " +
            f"cpu=${m.executorCpuTime / 1000000}ms " +
            f"input=${m.inputMetrics.bytesRead / 1024}K " +
            f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1024}K")
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execPlans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          val m = si.taskMetrics
          if (m != null) {
            j.taskTimeMs += m.executorRunTime
            j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            j.inputB += m.inputMetrics.bytesRead
            if (m.executorRunTime > 1000) {
              // the stage's RDD scopes name the physical operators it
              // executes — far more attributable than the action callsite
              val ops = si.rddInfos.flatMap(r => r.scope.map(_.name))
                .distinct.mkString(">")
              heavyStages.put(si.stageId, StageRec(j.id, si.stageId,
                ops, si.numTasks, m.executorRunTime,
                m.inputMetrics.bytesRead))
            }
          }
        }
      }
    }

    val fn = SparkEntry.queries(qname)
    // warm
    try fn(spark, sfDir).count() catch { case e: Throwable =>
      System.err.println(s"warm failed: $e") }
    Sessions.resetStorage(spark)

    (1 to reps).foreach { r =>
      jobs.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val cg = org.apache.spark.metrics.source.CodegenMetrics
      val (cgN0, cgT0) = (cg.METRIC_COMPILATION_TIME.getCount,
        cg.METRIC_COMPILATION_TIME.getSnapshot.getMean *
          cg.METRIC_COMPILATION_TIME.getCount)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cgN1 = cg.METRIC_COMPILATION_TIME.getCount
      val cgT1 = cg.METRIC_COMPILATION_TIME.getSnapshot.getMean * cgN1
      println(f"codegen compiles this rep: ${cgN1 - cgN0} " +
        f"(~${(cgT1 - cgT0) / 1e3}%.1f s compile time)")
      // the listener bus is asynchronous: drain briefly so the last job's
      // onJobEnd/onStageCompleted land before the listener detaches
      // (otherwise the final rows print end=0 / negative jobWall)
      val drainDeadline = System.nanoTime() + 2L * 1000 * 1000 * 1000
      while (jobs.values.exists(_.end == 0L) && System.nanoTime() < drainDeadline)
        Thread.sleep(50)
      spark.sparkContext.removeSparkListener(listener)
      Sessions.resetStorage(spark)
      println(f"%n=== $qname rep $r wall $wall%.3f s, ${jobs.size} jobs ===")
      println(f"${"jobWall"}%8s ${"gap"}%7s ${"stg"}%4s ${"tasks"}%6s " +
        f"${"taskTime"}%9s ${"shufR"}%8s ${"shufW"}%8s ${"input"}%9s  desc")
      var prevEnd = 0L
      jobs.values.toSeq.sortBy(_.start).foreach { j =>
        // a job whose end event never arrived (bus drain timed out) must
        // not print a negative wall — label it instead
        val w = if (j.end == 0L) Double.NaN else (j.end - j.start) / 1e3
        val gap = if (prevEnd == 0 || j.end == 0L) 0.0 else (j.start - prevEnd) / 1e3
        if (j.end != 0L) prevEnd = j.end
        def mb(b: Long) = f"${b / 1e6}%.1fM"
        println(f"$w%8.3f $gap%7.3f ${j.stages}%4d ${j.tasks}%6d " +
          f"${j.taskTimeMs / 1e3}%9.3f ${mb(j.shuffleReadB)}%8s " +
          f"${mb(j.shuffleWriteB)}%8s ${mb(j.inputB)}%9s  ${j.desc.take(70)}")
      }
      val jobSum = jobs.values.filter(_.end != 0L)
        .map(j => (j.end - j.start) / 1e3).sum
      println(f"job wall sum $jobSum%.3f s (driver gaps = ${wall - jobSum}%.3f s)")
      if (heavyStages.nonEmpty) {
        println("heavy stages (>1s task time):")
        heavyStages.values.toSeq.sortBy(-_.taskTimeMs).foreach { st =>
          val jdesc = jobs.get(st.jobId).map(_.desc).getOrElse("")
          println(f"  stage ${st.stageId}%5d job ${st.jobId}%4d " +
            f"${st.taskTimeMs / 1e3}%8.3f s ${st.tasks}%5d tasks " +
            f"${st.inputB / 1e6}%7.1fM  [$jdesc] ${st.name.take(90)}")
        }
        // the heaviest job's full SQL plan (PROFILEQ_PLAN=1 to enable):
        // the decisive artifact when stage scopes alone can't name the
        // expensive subtree
        if (sys.env.contains("PROFILEQ_PLAN")) {
          val heaviest = heavyStages.values.toSeq.sortBy(-_.taskTimeMs)
            .flatMap(st => jobs.get(st.jobId)).filter(_.execId >= 0)
            .take(3).distinctBy(_.execId)
          heaviest.foreach { j =>
            execPlans.get(j.execId).foreach { plan =>
              println(s"--- plan of exec ${j.execId} (job ${j.id}, " +
                s"desc '${j.desc.take(60)}') ---")
              println(plan.linesIterator.take(120).mkString("\n"))
            }
          }
        }
      }
      heavyStages.clear()
      execPlans.clear()
    }
    spark.stop()
  }
}
