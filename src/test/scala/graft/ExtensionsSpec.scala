package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftExtensions

/** The `spark.sql.extensions=graft.plans.GraftExtensions` switch must wire
  * the WHOLE Catalyst surface into a session built without any Scala-side
  * `register()` call — the pure-SQL deployment face (spark-sql CLI, Thrift
  * server, notebooks): every native expression resolves as a permanent SQL
  * function, and the levenshtein pruning rule is active in the optimizer.
  *
  * The extension session is built on the SAME SparkContext as the shared
  * test session (clear default → builder applies extensions → restore), so
  * the suite does not pay a second context. */
class ExtensionsSpec extends AnyFunSuite with SparkTestBase {

  private def withExtSession[A](f: SparkSession => A): A = {
    val base = spark // materializes the shared context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      f(ext)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("native expressions are permanent SQL functions in an extension-built " +
    "session — no register() call anywhere") {
    withExtSession { ext =>
      GraftExtensions.functions.foreach { case (name, _) =>
        assert(ext.sessionState.functionRegistry
          .functionExists(FunctionIdentifier(name)), s"missing: $name")
      }
      val row = ext.sql(
        """SELECT html_main_text('<html><body><p>graft main text body here
          | with enough words to be kept as content</p></body></html>') AS t,
          |  text_fingerprint('abc') AS fp,
          |  simhash_sig(split('one two three four five six seven eight', ' ')) AS sh
          |""".stripMargin).head()
      assert(row.getString(0).contains("graft main text body"), row.getString(0))
      assert(row.getLong(1) == graft.functions.TextFingerprint.compute("abc"))
      // signature is deterministic: same input → same value in the shared
      // session's registered face
      graft.functions.ShingleFunctions.register(spark)
      val twin = spark.sql(
        "SELECT simhash_sig(split('one two three four five six seven eight', ' ')) AS sh")
        .head().getLong(0)
      assert(row.getLong(2) == twin)
    }
  }

  test("registerAll registers the same surface on an already-built session " +
    "(the ad-hoc twin, driven by the same list)") {
    GraftExtensions.registerAll(spark)
    GraftExtensions.functions.foreach { case (name, _) =>
      assert(spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(name)), s"missing: $name")
    }
    val fp = spark.sql("SELECT text_fingerprint('abc') AS fp").head().getLong(0)
    assert(fp == graft.functions.TextFingerprint.compute("abc"))
  }

  test("a second registerAll on one session replaces nothing: no " +
    "'replaced a previously registered function' WARN, same builders") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    GraftExtensions.registerAll(spark)
    val registry = spark.sessionState.functionRegistry
    def builders = GraftExtensions.functions.map { case (name, _) =>
      registry.lookupFunctionBuilder(FunctionIdentifier(name)).get }
    val before = builders
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-registry-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    def replacedWarns = logged.asScala.count(_.contains("replaced a previously registered function"))
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    capture.start()
    root.addAppender(capture)
    try {
      // the capture sees the WARN a real replacement logs …
      val (name, builder) = GraftExtensions.functions.head
      registry.createOrReplaceTempFunction(name, builder, "built-in")
      assert(replacedWarns == 1, logged.asScala.mkString("\n"))
      logged.clear()
      // … and a repeated registerAll logs none
      GraftExtensions.registerAll(spark)
      GraftExtensions.registerAll(spark)
      assert(replacedWarns == 0, logged.asScala.mkString("\n"))
    } finally { root.removeAppender(capture); capture.stop() }
    assert(builders.zip(before).forall { case (a, b) => a eq b })
  }

  test("the kernel step's planner strategy rides in through the same switch") {
    withExtSession { ext =>
      assert(ext.sessionState.planner.strategies.contains(graft.pipe.ExtractKernelStrategy))
      assert(!ext.experimental.extraStrategies.contains(graft.pipe.ExtractKernelStrategy))
      val out = graft.pipe.ExtractPipeline.run(ext,
        graft.gen.TranscriptGen.dataset(ext, 42L, nConvs = 3, hotBase = 5))
      assert(out.queryExecution.executedPlan.toString.contains("ExtractKernel"))
      assert(out.count() == graft.gen.TranscriptGen.totalTurns(3, 5))
    }
  }

  test("the optimizer rule rides in through the same extensions switch") {
    withExtSession { ext =>
      // a real scan, not VALUES — literal inputs would be constant-folded
      // away before the plan can be inspected
      val plan = ext.sql(
        """SELECT p_name FROM parquet.`/root/testdata/sf0.001/part.parquet`
          |WHERE levenshtein(p_name, 'xy') < 3""".stripMargin)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("abs((length("), plan)
      assert(plan.contains("<= 2"), plan)
    }
  }
}
