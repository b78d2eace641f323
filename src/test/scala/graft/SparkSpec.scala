package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (FIXTURES.md §2 fixtures live in the
  * individual specs). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.operators.Sessions.local(4)

  private val tmpDirs = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]

  /** `Files.createTempDirectory` that the suite deletes recursively in
    * afterAll — fixtures must not accumulate across test runs (r13 ADVICE).
    * `Files.walk` does not follow symlinks, so a spec that symlinks real
    * testdata into its temp dir (StreamingSpec) removes only the link. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.synchronized { tmpDirs += p }
    p
  }

  override def afterAll(): Unit = {
    // session is shared across suites (stopped by JVM exit); temp dirs are
    // not. Best-effort: close the walk stream, and never let a cleanup
    // IOException (e.g. a straggler .crc racing the walk snapshot) abort
    // a suite whose tests all passed.
    import java.nio.file.{Files, Path}
    tmpDirs.synchronized(tmpDirs.toList).foreach { p =>
      try if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(q => Files.deleteIfExists(q))
        finally walk.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}

/** FIXTURES.md §2 — F1 events/particles nested fixture. */
object Fixtures {
  case class Muon(pt: Double, eta: Double, phi: Double, q: Int)
  case class Jet(pt: Double, eta: Double, btag: Option[Double])
  case class Event(eventId: Long, met: Double, muons: Seq[Muon], jets: Seq[Jet])

  val events: Seq[Event] = Seq(
    Event(1L, 27.5, Seq(Muon(54.2, -1.1, 0.2, -1), Muon(23.6, 0.7, -2.8, 1)),
      Seq(Jet(120.0, 0.1, Some(0.9)), Jet(45.5, -2.0, None))),
    Event(2L, 10.1, Seq.empty, Seq(Jet(33.3, 1.5, Some(0.2)))),
    Event(3L, 88.8, Seq(Muon(150.0, 2.2, 1.0, 1)), Seq.empty),
    Event(4L, 5.5, Seq(Muon(7.0, 0.0, 0.0, -1), Muon(8.0, 0.1, 0.1, 1), Muon(9.0, 0.2, 0.2, -1)),
      Seq(Jet(60.0, 0.5, Some(0.55)), Jet(61.0, 0.6, Some(0.65)), Jet(62.0, 0.7, None))))
}
