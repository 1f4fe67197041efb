package graft

import graft.connector.{PublishRule, SnapshotWriterUtil}
import graft.model.{ExtractedTurn, Span}
import graft.table.SnapshotTable
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

/** Ref movers racing on one table: appends, merge-on-read deletes,
  * compaction, fast-forward and write-audit-publish. Every move of CURRENT
  * is a compare-and-swap under the ref lock, so whatever the interleaving:
  *
  *  - the CURRENT chain is linear (each snapshot's parent is the previous
  *    one, down to -1);
  *  - every committed manifest is on the chain, reachable from a branch
  *    head, or staged;
  *  - every main-line call that returned a snapshot id finds it on the
  *    chain; every other call failed with a `CommitConflictException`.
  *
  * The deterministic cases hold one mover between its check and its
  * rename (the `beforeMove` seam) while a second mover runs: a commit
  * racing a fast-forward, a fast-forward racing a WAP publish, and a
  * discard racing a WAP publish.
  */
class RefRaceSpec extends AnyFunSuite with SparkTestBase {

  private implicit val ec: ExecutionContext = ExecutionContext.global
  private val base = 1767225600000L

  private def mk(conv: String, idx: Int, tag: String): ExtractedTurn = {
    val text = s"$tag $conv#$idx"
    ExtractedTurn(conv, idx, "user", "html", new Timestamp(base + idx * 1000L),
      text, Seq(Span(0, 0, text.length, "p", text)), 1, 0, text.length, 1.0)
  }

  private def rows(tag: String, n: Int) = {
    import testImplicits._
    (0 until n).map(i => mk(s"$tag$i", 0, tag)).toDS().toDF()
  }

  private def freshTable(): SnapshotTable = {
    val table = new SnapshotTable(suiteTempDir("refrace"), 4)
    assert(table.commit(spark, rows("base", 8), "base").contains(0L))
    table
  }

  private def isConflict(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[SnapshotTable.CommitConflictException])

  /** The three invariants of the suite header, over the main-line calls'
    * outcomes (`Success(id)` = the call put `id` on CURRENT). */
  private def assertLinear(table: SnapshotTable, mainLine: Seq[Try[Long]]): Unit = {
    val chain = Iterator.iterate(table.currentSnapshotId)(_.flatMap(table.parentOf))
      .takeWhile(_.exists(_ >= 0)).flatten.toSeq
    assert(chain.nonEmpty && chain.zip(chain.tail).forall { case (a, b) => a > b },
      s"CURRENT chain is not linear: $chain")
    assert(table.parentOf(chain.last).contains(-1L), s"chain $chain does not end at -1")
    val branchLive = table.branches.values.flatMap(h =>
      Iterator.iterate(Option(h))(_.flatMap(table.parentOf))
        .takeWhile(_.exists(_ >= 0)).flatten).toSet
    val stray = table.snapshotIds.filterNot(id =>
      chain.contains(id) || branchLive(id) || table.stagedIds.contains(id))
    assert(stray.isEmpty, s"manifests $stray are off the chain $chain")
    mainLine.foreach { r =>
      r.fold(e => assert(isConflict(e), s"a failed call did not conflict: $e"),
        id => assert(chain.contains(id), s"returned snapshot $id is not on the chain $chain"))
    }
  }

  /** Runs `first` until it reaches the seam, then `second`; releases
    * `first` once `second` has finished or has waited 3 s (on the ref
    * lock: `first` holds it). */
  private def holdWhile(seamOf: SnapshotTable, first: => Long,
      second: => Long): (Try[Long], Try[Long]) = {
    val atSeam = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    seamOf.refs.beforeMove = () => { atSeam.countDown(); release.await(60, TimeUnit.SECONDS) }
    val f1 = Future(first)
    assert(atSeam.await(60, TimeUnit.SECONDS), "first mover never reached the seam")
    val f2 = Future(second)
    Try(Await.ready(f2, 3.seconds))
    release.countDown()
    (Try(Await.result(f1, 60.seconds)), Try(Await.result(f2, 60.seconds)))
  }

  test("a commit landing while fastForward holds its checked CURRENT is not rewound") {
    val table = freshTable()
    table.createBranch("b")
    val head = table.commit(spark, rows("br", 4), "br-1", replaceBuckets = false,
      toBranch = Some("b")).get
    val ffSide = SnapshotTable.open(table.dir)
    val (ff, commit) = holdWhile(ffSide, ffSide.fastForward("b"),
      table.commit(spark, rows("main", 4), "main-1", replaceBuckets = false).get)
    assert(ff.toOption.contains(head), s"fastForward: $ff")
    assertLinear(table, Seq(ff, commit))
  }

  test("a fast-forward racing a WAP publish conflicts instead of being rewound") {
    val table = freshTable()
    table.createBranch("b")
    table.commit(spark, rows("br", 4), "br-1", replaceBuckets = false,
      toBranch = Some("b")).get
    val staged = SnapshotWriterUtil.write(rows("wap", 4), table.dir, 4, "wap-1",
      PublishRule(stageOnly = true)).get
    assert(table.stagedIds == Seq(staged))
    val pubSide = SnapshotTable.open(table.dir)
    val (pub, ff) = holdWhile(pubSide, { pubSide.publishStaged(staged); staged },
      table.fastForward("b"))
    assert(pub.toOption.contains(staged), s"publishStaged: $pub")
    assertLinear(table, Seq(pub, ff))
  }

  test("a discard racing a WAP publish cannot leave CURRENT naming a deleted manifest") {
    val table = freshTable()
    val staged = SnapshotWriterUtil.write(rows("wap", 4), table.dir, 4, "wap-1",
      PublishRule(stageOnly = true)).get
    val pubSide = SnapshotTable.open(table.dir)
    val (pub, discard) = holdWhile(pubSide, { pubSide.publishStaged(staged); staged },
      { table.discardStaged(spark, staged); staged })
    assert(pub.isSuccess != discard.isSuccess, s"publish $pub, discard $discard")
    assertLinear(table, Seq(pub))
    assert(table.read(spark).count() == (if (pub.isSuccess) 12L else 8L))
  }

  test("property: appends, MOR deletes, compact, fastForward and WAP publish " +
    "racing on one table keep the chain linear and lose no returned snapshot") {
    val table = freshTable()
    val dir = table.dir
    def appends = (1 to 3).map(i => Try(table.commit(spark, rows(s"a$i-", 3),
      s"append-$i", replaceBuckets = false).get))
    def deletes = (1 to 2).map { i =>
      import testImplicits._
      Try(table.deleteRowsMor(spark, Seq((s"base$i", 0)).toDF("conv_id", "turn_idx"),
        s"mor-$i").get)
    }
    def compacts = (1 to 2).map(i => Try(table.compact(spark, s"compact-$i")))
    def fastForwards = (1 to 2).map { i =>
      Try {
        table.createBranch(s"ff$i")
        table.commit(spark, rows(s"f$i-", 3), s"ff-$i", replaceBuckets = false,
          toBranch = Some(s"ff$i")).get
        table.fastForward(s"ff$i")
      }
    }
    def publishes = (1 to 2).map { i =>
      Try(SnapshotWriterUtil.write(rows(s"w$i-", 3), dir, 4, s"wap-$i",
        PublishRule(stageOnly = true)).get).flatMap { id =>
        val published = Try { table.publishStaged(id); id }
        if (published.isFailure) table.discardStaged(spark, id)
        published
      }
    }
    val results = Await.result(Future.sequence(Seq(Future(appends),
      Future(deletes), Future(compacts), Future(fastForwards), Future(publishes))),
      10.minutes).flatten
    assert(results.exists(_.isSuccess), s"no call succeeded: $results")
    assertLinear(table, results)
    // the table stays readable and writable after the race
    assert(table.read(spark).count() > 0)
    val next = table.commit(spark, rows("after", 2), "after", replaceBuckets = false)
    assert(next.exists(id => table.currentSnapshotId.contains(id)))
  }
}
