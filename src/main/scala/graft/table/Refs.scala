package graft.table

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** The refs of one snapshot table: where they live, how they are read,
  * and the one way they move.
  *
  *  - `CURRENT` names the main line's live snapshot, `branches/<name>` a
  *    branch head and `tags/<name>` a pinned snapshot; each file holds one
  *    snapshot id as decimal text. Names ending in `.tmp` are a writer's
  *    scratch (a crashed writer may leave one behind) and are never read
  *    as refs.
  *  - [[swing]] is the commit point of every ref mover — the main-line and
  *    branch commits, WAP publish, fast-forward, tag and branch creation.
  *    It takes the table's ref lock (an exclusive-create `REFS.lock`),
  *    checks the ref against what the writer built on, and writes the new
  *    value with [[Refs.atomicWrite]]. Check and rename happen under the
  *    lock, so the check is a compare-and-swap: a writer whose base moved
  *    fails with [[SnapshotTable.CommitConflictException]] instead of
  *    rewinding the ref.
  */
final class Refs(dir: String) {
  import Refs._

  def path(ref: Ref): Path = ref match {
    case Main         => Paths.get(dir, "CURRENT")
    case Branch(name) => Paths.get(dir, BranchKind, name)
    case Tag(name)    => Paths.get(dir, TagKind, name)
  }

  /** The snapshot id a ref names; None when the ref does not exist. */
  def read(ref: Ref): Option[Long] = readId(path(ref))

  /** All refs of one kind ([[BranchKind]] or [[TagKind]]): name → id. A
    * ref dropped between the listing and its read is left out. */
  def list(kind: String): Map[String, Long] = {
    val d = Paths.get(dir, kind)
    if (!Files.isDirectory(d)) return Map.empty
    val s = Files.list(d)
    try s.iterator.asScala.filterNot(_.toString.endsWith(".tmp"))
      .flatMap(p => readId(p).map(p.getFileName.toString -> _)).toMap
    finally s.close()
  }

  private def readId(p: Path): Option[Long] =
    try Some(Files.readString(p).trim.toLong)
    catch { case _: NoSuchFileException => None }

  /** Move `ref` to `next` if, under the ref lock, its value passes
    * `expected`; otherwise throw [[SnapshotTable.CommitConflictException]]
    * and leave the ref as it was. */
  def swing(ref: Ref, expected: Expect, next: Long): Unit = locked {
    val seen = read(ref)
    if (!expected.ok(seen))
      throw new SnapshotTable.CommitConflictException(
        s"${ref.label} of $dir ${expected.conflict(seen)}")
    beforeMove()
    atomicWrite(path(ref), next.toString)
  }

  /** Delete `ref` under the ref lock, so a swing's check never sees a ref
    * that is gone by its rename. @return whether it existed. */
  def drop(ref: Ref): Boolean = locked(Files.deleteIfExists(path(ref)))

  /** Test seam: runs inside [[swing]] between the check and the write. */
  @volatile private[graft] var beforeMove: () => Unit = () => ()

  /** Run `body` holding the table's ref lock. */
  private[table] def locked[A](body: => A): A = {
    val lock = Paths.get(dir, "REFS.lock")
    Files.createDirectories(lock.getParent)
    val deadline = System.currentTimeMillis() + LockWaitMs
    while (!claim(lock)) {
      if (System.currentTimeMillis() > deadline)
        throw new SnapshotTable.CommitConflictException(
          s"the ref lock $lock has been held for over $LockWaitMs ms; a " +
            "crashed holder's lock is reclaimed once it is older than " +
            s"${SnapshotTable.ClaimGraceMs} ms")
      Thread.sleep(1)
    }
    try body finally Files.deleteIfExists(lock)
  }
}

object Refs {
  sealed abstract class Ref(val label: String)
  case object Main extends Ref("CURRENT")
  final case class Branch(name: String) extends Ref(s"branch '$name'")
  final case class Tag(name: String) extends Ref(s"tag '$name'")

  /** Directory names of the named ref kinds (also the names of their
    * metadata tables, `t$branches` and `t$tags`). */
  final val BranchKind = "branches"
  final val TagKind = "tags"

  private def show(v: Option[Long]): String = v.fold("absent")(_.toString)

  /** What a [[Refs.swing]] accepts as the ref's value when it holds the
    * lock; `conflict` words the refusal for the value it saw. */
  final case class Expect(ok: Option[Long] => Boolean, conflict: Option[Long] => String)

  object Expect {
    val AnyValue: Expect = Expect(_ => true, _ => "")
    val Absent: Expect = Expect(_.isEmpty, seen => s"already exists (snapshot ${show(seen)})")
    /** Compare-and-swap: the ref still holds `v` (None = absent). */
    def is(v: Option[Long]): Expect = Expect(_ == v, seen =>
      s"is ${show(seen)} (this write read ${show(v)}): a concurrent writer " +
        "got there first — re-read and retry")
  }

  /** How long [[Refs.swing]] waits for a live holder of the ref lock. A
    * holder keeps it for one check and one rename. */
  private val LockWaitMs = 30000L

  /** Replace `path`'s content atomically: the text goes to a tmp name
    * unique to this writer and is renamed over `path`, so a reader sees
    * the old or the new content, never a torn file. */
  def atomicWrite(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s"${path.getFileName}.${UUID.randomUUID()}.tmp")
    try Files.move(Files.writeString(tmp, text), path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    finally Files.deleteIfExists(tmp)
    ()
  }

  /** Exclusive-create `p` (a snapshot-id claim or the ref lock). A
    * ZERO-LENGTH `p` older than [[SnapshotTable.ClaimGraceMs]] belongs to
    * a holder that died: it is deleted and the create retried once.
    * @return whether this caller now holds `p`. */
  private[table] def claim(p: Path): Boolean = {
    def attempt(retry: Boolean): Boolean =
      try { Files.createFile(p); true }
      catch {
        case _: FileAlreadyExistsException =>
          val stale =
            try retry && Files.size(p) == 0 &&
              Files.getLastModifiedTime(p).toMillis <
                System.currentTimeMillis() - SnapshotTable.ClaimGraceMs
            catch { case _: NoSuchFileException => retry }
          stale && { Files.deleteIfExists(p); attempt(retry = false) }
      }
    attempt(retry = true)
  }
}
