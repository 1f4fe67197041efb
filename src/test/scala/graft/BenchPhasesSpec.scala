package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** graft.Bench's phase runner with stub phases: the one JSON line prints
  * whatever fails, a failed phase's fields are absent, a run yields to a
  * live cluster-campaign sample, and the line keeps
  * every key of the last parsed driver artifact (BENCH_r04.json). */
class BenchPhasesSpec extends AnyFunSuite {

  private val Json = new ObjectMapper()

  /** Phases that succeed with fixed numbers; recording the sample the
    * history phase was handed. */
  private class Stub extends Bench.Phases {
    var recorded: Option[Option[Bench.Sample]] = None
    def idle() = ()
    def corpus() = "/corpus"
    def scaling(corpus: String) = (40.0, 12.5)
    def queries() = Seq("q_a" -> Some(1.25), "q_b" -> None, "q_c" -> Some(0.5))
    def probes() = (0.98, 0.5)
    def history(sample: Option[Bench.Sample]) = {
      recorded = Some(sample)
      val n = Json.createObjectNode()
      n.putObject("cluster")
      n
    }
  }

  private def report(p: Bench.Phases): String = Bench.report(p, "/sf", 1000L, 4, 16, None)

  private def run(p: Bench.Phases): JsonNode = Json.readTree(report(p))

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  private def names(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  test("a throwing scaling phase is named in failed_phases and the line still prints") {
    val stub = new Stub {
      override def scaling(corpus: String) = throw new RuntimeException("executor lost")
    }
    val line = run(stub)
    assert(names(line.get("failed_phases")) == Seq("scaling"))
    val x = line.get("extract")
    assert(keys(x) == Set("turns", "cores_n", "cores_4n",
      "host_percore_retention_4n_vs_n", "mem_bandwidth_retention_4n_vs_n"))
    assert(x.get("host_percore_retention_4n_vs_n").asDouble == 0.98)
    // the other phases' fields are all there
    assert(line.get("value").asDouble == 1.75)
    assert(line.get("queries").get("q_b").asInt == -1)
    assert(names(line.get("failed")) == Seq("q_b"))
    assert(line.has("headline"))
    // no complete sample, so nothing to append to the history
    assert(stub.recorded == Some(None))
  }

  test("a failed corpus phase fails the scaling phase with it") {
    var scaled = false
    val stub = new Stub {
      override def corpus() = throw new java.io.IOException("disk full")
      override def scaling(corpus: String) = { scaled = true; super.scaling(corpus) }
    }
    assert(names(run(stub).get("failed_phases")) == Seq("corpus", "scaling"))
    assert(!scaled)
  }

  test("failed query, host-probe and history phases drop only their own fields") {
    val stub = new Stub {
      override def queries() = throw new IllegalStateException("no session")
      override def probes() = throw new IllegalStateException("probe")
      override def history(sample: Option[Bench.Sample]) = {
        super.history(sample); throw new java.io.IOException("read-only")
      }
    }
    val line = run(stub)
    assert(names(line.get("failed_phases")) == Seq("queries", "host_probes", "history"))
    assert(Seq("metric", "value", "unit", "queries", "failed", "headline").forall(!line.has(_)))
    assert(keys(line.get("extract")) == Set("turns", "cores_n", "cores_4n", "sec_n", "tps_n",
      "sec_4n", "tps_4n", "scaling_efficiency"))
    assert(stub.recorded == Some(None))
  }

  test("a clean run keeps every key of BENCH_r04.json and hands history the sample") {
    val stub = new Stub
    val printed = report(stub)
    val line = Json.readTree(printed)
    assert(names(line.get("failed_phases")).isEmpty)
    val r04 = Json.readTree(Paths.get("BENCH_r04.json").toFile).get("parsed")
    assert(keys(r04).subsetOf(keys(line)))
    assert(keys(r04.get("extract")).subsetOf(keys(line.get("extract"))))
    assert(keys(line) -- keys(r04) == Set("headline", "failed_phases"))
    assert(line.get("extract").get("scaling_efficiency").asDouble == 0.8)
    assert(printed.contains(""""scaling_efficiency":0.800,"""))
    assert(line.get("extract").get("efficiency_vs_mem_ceiling").asDouble == 1.6)
    val sample = stub.recorded.flatten.get
    assert(sample.efficiency == 0.8 && sample.tpsN == 25.0 && sample.tps4n == 80.0)
    assert(sample.hostCeiling == 0.98 && sample.memCeiling == 0.5 && sample.shape.isEmpty)
    assert(line.get("headline").isInstanceOf[ObjectNode])
  }

  test("a cluster sample outlasting the wait fails the campaign phase and nothing loads the host") {
    val lock = Files.createTempFile("graft_sample_running", "")
    // a live process whose command line names the campaign script
    val sample = new ProcessBuilder("bash", "-c", "sleep 30; true", "cluster_campaign.sh").start()
    try {
      Files.writeString(lock, s"${sample.pid}\n")
      var loaded = List.empty[String]
      val stub = new Stub {
        override def idle() = Bench.awaitCampaign(lock, timeoutMs = 200, pollMs = 20)
        override def corpus() = { loaded ::= "corpus"; super.corpus() }
        override def scaling(corpus: String) = { loaded ::= "scaling"; super.scaling(corpus) }
        override def queries() = { loaded ::= "queries"; super.queries() }
        override def probes() = { loaded ::= "probes"; super.probes() }
      }
      val line = run(stub)
      assert(names(line.get("failed_phases")) ==
        Seq("campaign", "corpus", "scaling", "queries", "host_probes"))
      assert(loaded.isEmpty)
      assert(!line.get("extract").has("sec_n") && !line.has("queries"))
      assert(stub.recorded == Some(None))
    } finally {
      sample.descendants().forEach(_.destroy()); sample.destroy(); Files.deleteIfExists(lock)
    }
  }

  test("the campaign wait ends when the sample does, and ignores stale, reused and own locks") {
    val lock = Files.createTempFile("graft_sample_running", "")
    try {
      // an empty lock (a campaign that wrote no pid) is a sample: the wait
      // lasts until it is removed
      val remover = new Thread(() => { Thread.sleep(300); Files.deleteIfExists(lock); () })
      remover.start()
      val t0 = System.nanoTime()
      Bench.awaitCampaign(lock, timeoutMs = 30000, pollMs = 20)
      assert((System.nanoTime() - t0) / 1e6 >= 250)
      remover.join()
      assert(names(run(new Stub {
        override def idle() = Bench.awaitCampaign(lock, timeoutMs = 200, pollMs = 20)
      }).get("failed_phases")).isEmpty)

      // a dead campaign's lock is stale
      val dead = new ProcessBuilder("true").start()
      dead.waitFor()
      Files.writeString(lock, dead.pid.toString)
      Bench.awaitCampaign(lock, timeoutMs = 0, pollMs = 20)
      // a dead campaign's pid reused by another live process is stale too
      val reused = new ProcessBuilder("sleep", "30").start()
      try {
        Files.writeString(lock, reused.pid.toString)
        Bench.awaitCampaign(lock, timeoutMs = 0, pollMs = 20)
      } finally reused.destroy()
      // the campaign that launched this process is not waited on
      Files.writeString(lock, ProcessHandle.current().parent().get.pid.toString)
      Bench.awaitCampaign(lock, timeoutMs = 0, pollMs = 20)
      Files.writeString(lock, "")
      intercept[IllegalStateException](Bench.awaitCampaign(lock, timeoutMs = 0, pollMs = 20))
    } finally Files.deleteIfExists(lock)
  }
}
