package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The SPARK_GRAFT_* environment variables the program reads are the
  * deployment and sizing settings below (README "Environment"). Settled
  * A/B switches are constants at their use site, so a new knob is an
  * explicit edit of this list. */
class KnobInventorySpec extends AnyFunSuite {

  private val Knobs = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_GOLDEN_DIR",
    "SPARK_GRAFT_LOCAL_CLUSTER", "SPARK_GRAFT_CLUSTER_SHAPE", "SPARK_GRAFT_EXEC_MEM",
    "SPARK_GRAFT_WORKER_MEM_MB", "SPARK_GRAFT_GC_THREADS", "SPARK_GRAFT_JVM_OPTS",
    "SPARK_GRAFT_PROBE_ONLY", "SPARK_GRAFT_SCALE_N", "SPARK_GRAFT_BENCH_CONVS",
    "SPARK_GRAFT_BENCH_HOT", "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_WARM_DIR", "SPARK_GRAFT_VERIFY_ONLY", "SPARK_GRAFT_SPJ_CONVS")

  test("src/main/scala and build.sbt read exactly the listed SPARK_GRAFT_* knobs") {
    val sources: Seq[Path] =
      Files.walk(Paths.get("src/main/scala")).iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq :+ Paths.get("build.sbt")
    val found = sources.flatMap(f =>
      "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(Files.readString(f))).toSet
    assert(Knobs.size == 18)
    assert(found == Knobs)
  }
}
