package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** THE one name→builder list for every native Catalyst expression the
  * engine ships. Every registration path drives off this list — the
  * per-module `register()` helpers delegate here, and
  * [[graft.plans.GraftExtensions]] injects the same entries as permanent
  * SQL functions at session build — so the Scala and SQL surfaces cannot
  * drift: adding an expression means adding exactly one entry. */
object NativeFunctions {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "html_main_text" -> (es => HtmlMainText(es.head)),
    "text_fingerprint" -> (es => TextFingerprint(es.head)),
    "sorted_pairs" -> (es => SortedPairsL(es.head)),
    "shingles_f" -> (es => ShinglesF(es.head)),
    "minhash_sig" -> (es => MinHashSigF(es.head)),
    "simhash_sig" -> (es => SimHashSigF(es.head)),
    "bloom_maybe" -> (es => BloomMaybe(es(0), es(1))),
    "spans_slim" -> (es => SlimSpans(es.head)),
    "spans_fatten" -> (es => FattenSpans(es(0), es(1))),
    "sqdist_l" -> (es => SqDistL(es(0), es(1))),
    "dot_f" -> (es => DotProductF(es(0), es(1))),
    "plane_sig" -> (es => PlaneSigF(es.head)),
    "winnow_fp" -> (es => WinnowF(es.head)))

  /** Register the whole surface on an already-built session (the ad-hoc
    * twin of the `spark.sql.extensions` path). Idempotent: names already
    * registered keep their builder, so the per-call `register()` helpers
    * (every `ExtractPipeline.extract`/`run` goes through one) cost a
    * lookup and replace nothing. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
