package graft.tools
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One-off diagnosis harness for streaming rows: runs a named SparkEntry
  * streaming query once with a progress listener and prints per-batch
  * durations, so micro-batch overhead is attributable (trigger waits vs
  * state-store commit vs exec). */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[probe] started ${e.name} at ${System.nanoTime()/1000000}ms")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs} stateOps=${p.stateOperators.length}")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[probe] terminated at ${System.nanoTime()/1000000}ms")
    })
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          println(s"[job] id=${e.jobId} stages=${e.stageIds.mkString(",")} " +
            s"site=${Option(e.properties)
              .map(_.getProperty("callSite.short", "?")).getOrElse("?")}")
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val s = e.stageInfo
          val wall = for {
            a <- s.completionTime; b <- s.submissionTime
          } yield a - b
          println(s"[stage] id=${s.stageId} tasks=${s.numTasks} " +
            s"wall=${wall.getOrElse(-1L)}ms " +
            s"exeRun=${s.taskMetrics.executorRunTime}ms " +
            s"exeCpu=${s.taskMetrics.executorCpuTime / 1000000}ms " +
            s"deser=${s.taskMetrics.executorDeserializeTime}ms " +
            s"gc=${s.taskMetrics.jvmGCTime}ms " +
            s"name=${s.name.take(60)}")
        }
      })
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = sys.env.getOrElse("PROBE_QUERY", "q_stream_join")
    // in-process stack sampler: local mode means executor threads live in
    // THIS JVM, so sample "Executor task launch worker" stacks directly
    val sampler = new Thread(() => {
      while (true) {
        Thread.sleep(700)
        val stacks = Thread.getAllStackTraces()
        val it = stacks.entrySet().iterator()
        val counts = scala.collection.mutable.Map.empty[String, Int]
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey.getName.startsWith("Executor task launch")) {
            val st = e.getValue
            val top = st.take(6).map(f =>
              s"${f.getClassName.split('.').last}.${f.getMethodName}")
              .mkString("<-")
            counts(s"[${e.getKey.getState}] $top") =
              counts.getOrElse(s"[${e.getKey.getState}] $top", 0) + 1
          }
        }
        if (counts.nonEmpty) {
          println("[sample] ----")
          counts.toSeq.sortBy(-_._2).take(5).foreach { case (k, n) =>
            println(s"[sample] x$n $k") }
        }
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnly
    // PROBE_RUNS > 1 repeats each query so the warm-run stage profile is
    // separable from first-run JIT/codegen/state-store-init cost
    val probeRuns = sys.env.get("PROBE_RUNS").map(_.toInt).getOrElse(1)
    for (name <- q.split(",").map(_.trim).filter(_.nonEmpty)) {
      all.get(name) match {
        case None => println(s"[probe] $name UNKNOWN")
        case Some(fn) =>
          for (r <- 1 to probeRuns) {
            println(s"[probe] ===== $name (run $r/$probeRuns) =====")
            val t0 = System.nanoTime()
            val qe = fn(spark, dir).queryExecution
            val n = qe.toRdd.count()
            println(f"[probe] $name rows=$n " +
              f"wall=${(System.nanoTime()-t0)/1e9}%.2f s")
            if (sys.env.contains("PROBE_FINAL_PLAN"))
              println(qe.executedPlan.toString.linesIterator
                .map("[finalplan] " + _).mkString("\n"))
            graft.core.Intermediates.release()
            spark.sqlContext.clearCache()
          }
      }
    }
    spark.stop()
  }
}
