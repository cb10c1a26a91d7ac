package graft

/** Optimization-round measurement harness (NOT part of the bench contract):
  * times selected queries with the noop sink (guide §1.4), reports
  * first/min-of-N, and dumps `.explain("formatted")` per query so plan
  * claims are checkable offline. Usage:
  *   runMain graft.Timeit <sfDir> <outPlanDir> [reps] [q1,q2,...]
  * Empty/absent query list = full catalog.
  */
object Timeit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val planDir = if (args.length > 1) args(1) else "/tmp/graft_plans"
    val reps = if (args.length > 2) args(2).toInt else 3
    val only: Option[Set[String]] =
      if (args.length > 3 && args(3).nonEmpty) Some(args(3).split(",").toSet)
      else None
    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    // optional runtime SQL-conf overrides for A/B experiments:
    // SPARK_GRAFT_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    // optional per-job trace: SPARK_GRAFT_TRACE_JOBS=1 prints every job's
    // wall time, task count and max single-task time (straggler signal)
    if (sys.env.get("SPARK_GRAFT_TRACE_JOBS").contains("1")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          private val nt = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
          private val j2s = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            t0.put(js.jobId, System.nanoTime())
            j2s.put(js.jobId, js.stageIds)
          }
          override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val d = te.taskInfo.duration
            nt.merge(te.stageId, (1, d), (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
          }
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val dt = (System.nanoTime() - t0.getOrDefault(je.jobId, 0L)) / 1e9
            if (dt > 0.05) {
              val st = j2s.getOrDefault(je.jobId, Seq.empty)
                .map(s => nt.getOrDefault(s, (0, 0L)))
              val tasks = st.map(_._1).sum
              val maxT = if (st.isEmpty) 0L else st.map(_._2).max
              println(f"  JOB ${je.jobId}%4d ${dt}%7.3fs tasks=$tasks%4d maxTask=${maxT / 1e3}%7.3fs")
            }
          }
        })
    }
    new java.io.File(planDir).mkdirs()
    val sel = Queries.all.filter { case (n, _) => only.forall(_.contains(n)) }
    // one unmeasured warmup on the first selected query (JVM/codegen)
    sel.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
    }
    val rows = sel.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      // plan dump (pre-execution; AQE initial plan)
      try {
        val df = fn(spark, sfDir)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(planDir, s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } catch { case e: Throwable =>
        System.err.println(s"[plan] $name failed: ${e.getMessage}")
      }
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[time] $name failed: ${e.getMessage}")
          -1.0
        }
      }
      // SPARK_GRAFT_FINAL_PLAN=1: execute the query's OWN QueryExecution
      // (not the noop command's) and dump the post-execution plan — with
      // AQE this is the final re-optimised plan (isFinalPlan=true,
      // ReusedExchange/AQEShuffleRead nodes visible), the evidence a
      // static pre-execution dump cannot show (guide §7.2)
      if (sys.env.get("SPARK_GRAFT_FINAL_PLAN").contains("1")) {
        try {
          spark.sparkContext.setJobDescription(s"finalplan:$name")
          val df = fn(spark, sfDir)
          df.queryExecution.executedPlan.execute().count()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(planDir, s"${name}_final.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        } catch { case e: Throwable =>
          System.err.println(s"[finalplan] $name failed: ${e.getMessage}")
        }
      }
      spark.sparkContext.setJobDescription(null)
      val ok = ts.filter(_ >= 0)
      val mn = if (ok.isEmpty) -1.0 else ok.min
      println(f"TIMEIT $name%-34s first=${ts.head}%8.3f min=$mn%8.3f")
      name -> (ts.head, mn)
    }
    val total = rows.map(_._2._2).filter(_ >= 0).sum
    println(f"TIMEIT TOTAL min-sum=$total%.3f over ${rows.size} queries")
    spark.stop()
  }
}
