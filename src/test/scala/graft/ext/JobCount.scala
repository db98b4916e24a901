package graft.ext

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts — the `QueryJobProbe` listener
  * pattern as a test helper. Jobs are attributed by job group (set on the
  * calling thread and inherited by the threads it spawns); a marker job
  * in its own group then flushes the listener queue, which delivers
  * events in order, so the count is complete when it returns. */
object JobCount {
  def of(spark: SparkSession, tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-$tag-${System.nanoTime()}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val markerJobs =
        java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet(); ()
          case Some(`marker`) => markerJobs.add(e.jobId); ()
          case _ => ()
        }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "job count marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener queue did not flush within 60 s")
      started.get()
    } finally sc.removeSparkListener(listener)
  }
}
