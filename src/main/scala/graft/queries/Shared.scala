package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Helpers shared by more than one query family: the table reader, the
  * small-input fan-out guard, the oracle fold and text builders, fixture
  * directories and the per-session memo. */
private[queries] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Small-input fan-out guard for CPU-heavy per-row stages (tokenize →
    * shingle → explode): those stages inherit the SCAN's split count, and
    * an input smaller than one parquet row group yields fewer splits than
    * cores — the whole tokenize stage runs as ONE hot task (measured:
    * q_dedup_jaccard's posting build, 4.3 s single-task at sf0.1). When,
    * and only when, the scan under-splits relative to the cluster, pay one
    * tiny round-robin exchange — its bytes are the small input itself — to
    * use every core; at real scale (thousands of splits) the condition is
    * false and the plan is untouched. Used ONLY by queries whose plan
    * already exchanges; the strictly-narrow queries (q_simhash,
    * q_repetition_quality, q_chunk_overlap, q_split_assign, q_pii_scrub)
    * stay exchange-free — that property IS their scale story and PlanSpec
    * asserts it. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

  /** The sequential rolling-hash fold of a SQL string expression, shared by
    * several oracles (the twin of the engine's `TextFingerprint`). */
  private val oFpBody =
    "list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, length(%s)), i -> ord(substr(%s, i, 1))::BIGINT)), (h, cp) -> (h*31 + cp) %% 1000000007)"
  def oFp(c: String): String = oFpBody.format(c, c)

  def oDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)"
  def oNorm(a: String): String = s"sqrt(${oDot(a, a)})"

  val oShingles =
    "list_distinct(CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [array_to_string(w, ' ')] END)"

  val oStop = "['the','a','an','and','or','of','to','in','is','it']"

  /** The q_text_stats quality score (round 4 digits), over a scope binding
    * `text` and `w` = string_split_regex(trim(text), ' +') — the SQL twin of
    * TF.qualityScore; shared by the q_text_stats and q_dedup_survivor
    * oracles. */
  def oQualityExpr: String =
    s"""round(
          least(1.0, 4.0 * (len(list_filter(w, x -> list_contains($oStop, x)))::DOUBLE / len(w))) *
          least(1.0, (length(regexp_replace(trim(text), ' +', '', 'g'))::DOUBLE / len(w)) / 4) *
          (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)), 4)"""

  /** A fixture temp dir, removed with its contents when the JVM exits. */
  def fixtureDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.getPath
  }

  /** Per-(session, dir) memo of work a query body must not repeat on every
    * (timed) call: a fixture write, a persisted fixpoint. One slot per live
    * session, holding the value built for the dir that session last asked
    * for; a call with another dir rebuilds (the bucketed fixture registers
    * fixed catalog names, so it must follow the dir). Slots of stopped
    * sessions are dropped on every call, so a long-lived JVM (sbt test's
    * self-healing shared session) keeps no dead session reachable. */
  final class SessionMemo[A] {
    private val slots =
      new java.util.concurrent.ConcurrentHashMap[SparkSession, (String, A)]()

    def apply(s: SparkSession, dir: String)(build: => A): A = {
      slots.keySet.removeIf(_.sparkContext.isStopped)
      val hit = slots.get(s)
      if (hit != null && hit._1 == dir) hit._2
      else synchronized {
        val again = slots.get(s)
        if (again != null && again._1 == dir) again._2
        else {
          val v = build
          slots.put(s, (dir, v))
          v
        }
      }
    }
  }
}
