package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val session: SparkSession = {
    val s = GraftSession.get("local[4]")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started while `body` runs, counted with a listener. Events
    * reach listeners in order, so once a later marker job has been seen,
    * every job `body` started has been seen too.
    */
  def jobsStartedBy(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = session.sparkContext
    val group = "jobs-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000
      while (!seen.contains(group + "-marker") &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.contains(group + "-marker"), "marker job never reached the listener")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
