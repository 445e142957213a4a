package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * getOrCreate returns the same one; suites must not stop() it). A
  * suite leaves the session as later suites expect to find it: its
  * cached data and its session temp views are dropped when it ends, so a
  * stale persist cannot stand in for a later query's plan and a stale
  * view cannot shadow a later suite's table of the same name. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf = "/root/testdata/sf0.001"

  override protected def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach { s =>
      s.catalog.clearCache()
      s.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => s.catalog.dropTempView(t.name))
    } finally super.afterAll()

  /** Runs `body` and counts the Spark jobs it launched. Jobs are told
    * apart by a job group set on this thread (Spark carries it to the
    * threads a query starts jobs from). Listener events arrive
    * asynchronously but in order, so the count is read once a marker job
    * run after `body` has been seen. */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"count-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(g) if g == s"$group-marker" => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "marker job event never arrived")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // The production wire-up, via the reflective STATIC-conf path (it
      // must be on the conf that creates the SparkContext — a later
      // builder can't add it): every suite runs on an extensions-
      // injected session, exactly like a configured cluster. The rules
      // are internally gated no-ops until an operator enables them.
      .config("spark.sql.extensions", "graft.GraftSessionExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxMetadataStringLength", "2000") // full PushedFilters in plans
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
