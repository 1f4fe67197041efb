package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for e2e suites. local[4] is deliberately
  * multi-threaded so shuffle nondeterminism (the thing the order-restore
  * invariant defends against) actually occurs in tests.
  *
  * SELF-HEALING: the session is fetched through [[SparkTestBase.session]],
  * which rebuilds it whenever the underlying SparkContext has been stopped
  * (a suite that deliberately stops it — e.g. to run with a constrained
  * memory config — or an external teardown). Round 3's checked-in test
  * report had 3 cascade failures from exactly this: one killed context made
  * every later test in the running suite fail with "SparkContext was shut
  * down". Suites therefore use `import testImplicits._` (bound to the LIVE
  * session at each use) instead of importing the implicits of a captured
  * session value (which would pin the session seen at first access).
  */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>

  /** Always the live session — never cache this in a val across a point
    * where the context could be stopped. */
  def spark: SparkSession = SparkTestBase.session()

  /** Implicits resolving the session lazily per use (the public Spark test
    * harness pattern), so a suite keeps working after a session rebuild. */
  protected object testImplicits extends org.apache.spark.sql.classic.SQLImplicits {
    override def session: org.apache.spark.sql.classic.SparkSession =
      SparkTestBase.session().asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  }

  private val ownedDirs = scala.collection.mutable.Buffer.empty[java.io.File]

  /** A fresh temp dir, removed with everything in it after the suite. */
  protected def suiteTempDir(prefix: String): String = ownedDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    ownedDirs += d
    d.getPath
  }

  override def afterAll(): Unit = {
    // keep the session for other suites in the same JVM (fork := true)
    try ownedDirs.synchronized(ownedDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly))
    finally super.afterAll()
  }
}

object SparkTestBase {
  @volatile private var cached: SparkSession = _

  def session(): SparkSession = {
    val c = cached
    if (c != null && !c.sparkContext.isStopped) c
    else synchronized {
      if (cached == null || cached.sparkContext.isStopped) {
        cached = SparkSession.builder()
          .master("local[4]")
          .appName("graft-test")
          .config("spark.sql.shuffle.partitions", "8")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.adaptive.enabled", "true")
          .getOrCreate()
      }
      cached
    }
  }
}
