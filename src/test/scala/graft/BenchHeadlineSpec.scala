package graft

import graft.Bench.Sample
import org.scalatest.funsuite.AnyFunSuite

/** The two-gate headline policy over hand-written history lines: every
  * line shape the history files hold (early lines without `hostCeiling`,
  * `memCeiling` or `shape`) and the cases each gate exists for. */
class BenchHeadlineSpec extends AnyFunSuite {

  /** A history line as graft.Bench writes it; `None` omits the field. */
  private def line(tpsN: Double, eff: Double, host: Option[Double] = Some(1.0),
      mem: Option[Double] = Some(0.5), shape: Option[String] = None): String = {
    val tps4n = tpsN * 4 * eff
    s"""{"cores_n":4,"sec_n":${8317875 / tpsN},"tps_n":$tpsN,"cores_4n":16,""" +
      s""""sec_4n":${8317875 / tps4n},"tps_4n":$tps4n,"efficiency":$eff""" +
      host.map(h => s""","hostCeiling":$h""").getOrElse("") +
      mem.map(m => s""","memCeiling":$m""").getOrElse("") +
      s""","turns":8317875""" +
      shape.map(s => s""","shape":"$s"""").getOrElse("") + "}"
  }

  private def parse(lines: String*): Seq[Sample] = lines.map(Sample.parse)

  test("missing hostCeiling / memCeiling read as -1 and missing shape as None") {
    val s = Sample.parse(line(200000, 0.9, host = None, mem = None))
    assert(s.hostCeiling == -1.0 && s.memCeiling == -1.0 && s.shape.isEmpty)
    assert(s.coresN == 4 && s.cores4n == 16 && s.turns == 8317875L && s.efficiency == 0.9)
    val withMem = Sample.parse(line(200000, 0.9, mem = None))
    assert(withMem.hostCeiling == 1.0 && withMem.memCeiling == -1.0)
  }

  test("a sample without a host probe fails the host gate") {
    val hist = parse(
      line(200000, 0.95, host = None, mem = None), // best, but never probed
      line(210000, 0.70),
      line(205000, 0.75, mem = None))
    assert(Bench.gated(hist) == Some(hist(2)))
    assert(Bench.threadHeadline(hist) == Some(hist(2)))
  }

  test("with no gated sample, thread mode falls back to the best ungated one") {
    val hist = parse(line(200000, 0.60, host = None), line(200000, 0.90, host = None))
    assert(Bench.gated(hist).isEmpty)
    assert(Bench.threadHeadline(hist) == Some(hist(1)))
  }

  test("a flat host with a throttled narrow level fails the narrow-level gate") {
    val hist = parse(
      line(200000, 0.70),
      line(210000, 0.72),
      line(220000, 0.74),
      line(130000, 0.95, host = Some(1.0))) // tps_n < 0.9 × median 210k
    assert(Bench.gated(hist) == Some(hist(2)))
  }

  test("host ceilings outside [0.9, 1.05] fail the host gate") {
    val hist = parse(
      line(200000, 0.91, host = Some(0.89)),
      line(200000, 0.93, host = Some(1.06)),
      line(200000, 0.70, host = Some(0.90)),
      line(200000, 0.71, host = Some(1.05)))
    assert(Bench.gated(hist) == Some(hist(3)))
  }

  test("an efficiency tie goes to the earlier sample") {
    val hist = parse(line(200000, 0.80, mem = Some(0.4)), line(200000, 0.80, mem = Some(0.6)))
    assert(Bench.gated(hist).map(_.memCeiling) == Some(0.4))
    assert(Bench.threadHeadline(hist).map(_.memCeiling) == Some(0.4))
  }

  test("cluster mode gates each shape against its own narrow-level median") {
    val hist = parse(
      line(300000, 0.60, shape = Some("workers")),
      line(300000, 0.62), // no shape: a workers sample
      line(310000, 0.61, shape = Some("workers")),
      line(100000, 0.70, shape = Some("cores")),
      line(92000, 0.82, shape = Some("cores")), // passes 0.9 × its own 100k
      line(105000, 0.75, shape = Some("cores")),
      line(100000, 0.90, host = Some(0.5), shape = Some("cores")))
    val h = Bench.clusterHeadline(hist)
    assert(h.keySet == Set("cores", "workers"))
    assert(h("cores") == hist(4))
    assert(h("workers") == hist(1))
    // pooled, the 92k cores sample fails 0.9 × the mixed median (105k)
    assert(Bench.gated(hist) == Some(hist(5)))
  }

  test("a shape with no gated sample has no cluster headline") {
    val hist = parse(line(200000, 0.8, host = Some(0.7), shape = Some("cores")))
    assert(Bench.clusterHeadline(hist).isEmpty)
  }

  test("a sample round-trips through its history line") {
    val s = Sample(4, 36.749, 226342.171, 16, 11.21, 742034.664, 0.82, 0.982, 0.581,
      8317875L, None)
    val json = s.toJson.toString
    assert(json == """{"cores_n":4,"sec_n":36.749,"tps_n":226342.171,"cores_4n":16,""" +
      """"sec_4n":11.210,"tps_4n":742034.664,"efficiency":0.820,"hostCeiling":0.982,""" +
      """"memCeiling":0.581,"turns":8317875}""")
    assert(Sample.parse(json) == s)
    val c = s.copy(shape = Some("cores"))
    assert(Sample.parse(c.toJson.toString) == c)
  }
}
