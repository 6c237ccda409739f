package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for Column-level specs. One session per suite
  * (getOrCreate reuses the underlying context across suites in the same JVM,
  * so the whole test run pays a single Spark startup).
  */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = Engine.builder(cpus = "2").getOrCreate()

  /** Spark jobs started while `f` runs, counted by job group. */
  def jobsOf[T](f: => T): Int = {
    val sc    = spark.sparkContext
    val group = s"spark-test-${java.util.UUID.randomUUID()}"
    val n     = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try f
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  override def afterAll(): Unit = {
    // Session is shared across suites; don't stop it here.
    super.afterAll()
  }
}
