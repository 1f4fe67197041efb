package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every driver-contract query must at least plan + execute on the smallest
  * scale factor (the driver's rows-only check is stricter for `x_` queries;
  * the DuckDB oracle is the real gate for the rest — this spec catches
  * wiring breakage early and locally). */
class SparkEntrySmokeSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique, every query has a non-empty oracle, and every name " +
    "tools/PlanDump and perfbench's QuerySample.Families ask for is registered and timed") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size, s"declared twice: ${names.diff(names.distinct)}")
    assert(SparkEntry.registry.forall(_.oracleSql.trim.nonEmpty))
    // perfbench is its own build: read its sample's names from the source
    val sample = java.nio.file.Files.readString(
      java.nio.file.Paths.get("perfbench/src/main/scala/perfbench/QuerySample.scala"))
    val families = "\"\\w+\" -> \"(\\w+)\"".r.findAllMatchIn(sample).map(_.group(1)).toSeq
    assert(families.nonEmpty)
    val timed = SparkEntry.registry.filter(_.timed).map(_.name).toSet
    val missing = (graft.tools.PlanDump.Names ++ families).filterNot(timed)
    assert(missing.isEmpty, s"asked for but not a timed registry query: $missing")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name executes on sf0.001") {
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0)
      // queries that should always produce rows at any SF
      if (!Set("q_dedup_embed_cosine", "q_dedup_jaccard", "q_dedup_minhash_pairs").contains(name))
        assert(n > 0, s"$name returned 0 rows")
    }
  }
}
