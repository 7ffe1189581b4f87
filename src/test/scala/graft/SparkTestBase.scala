package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.Files

object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.lake.BareLocalFileSystem].getName)
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One transcripts insert whose `sid` fails to evaluate. On a target
    * without a sid only the batch's stats job reads that column, so the
    * fold runs and the stats side alone fails. */
  def statsFailingBatch(spark: SparkSession): org.apache.spark.sql.Dataset[graft.model.ChangeEvent] = {
    import org.apache.spark.sql.functions.{col, udf}
    import spark.implicits._
    val boom = udf { (s: String) =>
      if (s != null) throw new IllegalStateException("stats boom")
      s
    }
    spark.createDataset(Seq(graft.model.ChangeEvent(1, 0, "I", "transcripts",
      "s0", "none", Map.empty, Map("conv_id" -> "c1", "turn_idx" -> "0",
        "role" -> "user", "text" -> "hi", "tool" -> null,
        "ts" -> "2024-01-01 00:00:00"))))
      .repartition(1).withColumn("sid", boom(col("sid")))
      .as[graft.model.ChangeEvent]
  }

  /** The stats job's failure reaches the caller as the Spark job failure
    * the sequential path reports, not wrapped by the overlapping future. */
  def assertStatsFailure(e: Throwable): Unit = {
    assert(e.isInstanceOf[org.apache.spark.SparkException], s"got $e")
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("stats boom")), s"got $e")
  }

  /** Descriptions of the Spark jobs started while `body` ran whose
    * description starts with `prefix`. A marker job run afterwards flushes
    * the listener: a listener receives events in the order they were
    * posted. */
  def jobsDuring(spark: SparkSession, prefix: String)(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val marker = s"jobsDuring-marker-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach { d =>
            if (d == marker) flushed.countDown()
            else if (d.startsWith(prefix)) seen.add(d)
          }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    seen.toArray(Array.empty[String]).toSeq
  }
}
