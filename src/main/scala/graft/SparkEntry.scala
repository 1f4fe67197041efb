package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gen.TranscriptGen
import graft.pipe.ExtractPipeline
import graft.queries._

/** Driver contract (see SURVEY §7.2 step 5).
  *
  * The registry demonstrates every SQL-expressible operator family of
  * SURVEY §2 over the driver's parquet tables: one [[Query]] per name,
  * declared beside its exact DuckDB oracle in one object per family under
  * `graft/queries/`. `queries`, `oracleSql` and `UntimedTwins` are views of
  * it. Extraction-kernel queries (prefix `x_`) have no SQL RE-DERIVATION,
  * but since round 4 they are hash-oracled anyway — against spec-derived
  * golden parquet under [[GoldenDir]] (flagship/spans/sql_extract/fields/
  * media_features) or a symbolic score re-derivation (x_lang_id) — every
  * driver query now carries a full rows+schema+hash oracle.
  *
  * Float policy: derived doubles are `round`-ed in BOTH engines. SUMs over
  * parquet DOUBLE columns are cast to DECIMAL before aggregating — exact and
  * order-independent on both engines (a double SUM accumulates in
  * partition-dependent order in Spark vs sequential order in DuckDB, so a
  * round(x,2) could flip at a .005 boundary). Scalar folds (dot products,
  * fingerprints) are strictly sequential with identical op order on both
  * sides; `percentile` interpolates over sorted values (order-independent)
  * and keeps the round-only treatment.
  */
object SparkEntry {

  /** Flagship: full extraction pipeline over the deterministic transcript
    * corpus (gates → kernel step → repartition(conv_id) → sort →
    * `spans_fatten`; see [[ExtractPipeline]]). */
  def entry(spark: SparkSession): DataFrame =
    ExtractPipeline.run(spark,
      TranscriptGen.dataset(spark, seed = 42L, nConvs = 100, hotBase = 400))
      .drop("spans")

  /** Golden-parquet oracle fixtures for the extraction queries (written by
    * [[graft.tools.GoldenDump]] from the SPEC-derived generator goldens —
    * TranscriptGen authors expected text/spans while assembling payloads,
    * never by running the kernels — and locked in git; GoldenParquetSpec
    * re-derives them on every `sbt test` so the committed artifact cannot
    * go stale). The driver's DuckDB reads them via `read_parquet`, turning
    * the former rows-only `x_*` checks into full rows+schema+hash oracles
    * of the north rule's per-turn text equality. */
  val GoldenDir: String = sys.env.getOrElse(
    "SPARK_GRAFT_GOLDEN_DIR", "/root/repo/src/test/resources/golden")

  /** Every driver query, family by family. */
  lazy val registry: Seq[Query] =
    Relational.queries ++ Dedup.queries ++ Sketches.queries ++
      SimilaritySearch.queries ++ TextAnalysis.queries ++ Curation.queries ++
      Extraction.queries

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  /** The correctness-only twins Bench leaves out of its timed suite
    * (see [[Query]]`.timed`). */
  lazy val UntimedTwins: Set[String] =
    registry.filterNot(_.timed).map(_.name).toSet
}
