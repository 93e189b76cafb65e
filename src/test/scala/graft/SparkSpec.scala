package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs (SURVEY.md §5.1). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the Spark jobs it submitted, counted by job group
    * (a job another thread submits meanwhile is not counted). */
  def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = "job-count-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** Override with GRAFT_TEST_SHUFFLE_PARTITIONS to re-run the whole suite
    * under a different partition count — catches results that silently
    * depend on partitioning (row order, partition-id arithmetic, salting).
    */
  private val shufflePartitions =
    sys.env.getOrElse("GRAFT_TEST_SHUFFLE_PARTITIONS", "4")

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", shufflePartitions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
