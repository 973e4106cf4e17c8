package graft

import graft.model.MetadataEntry
import graft.store.{Commit, MetadataStore, PairCommit}
import graft.util.FsUtil
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer

/** Crashes each store and pair commit protocol before every step it takes.
  * Each protocol runs once to record the [[Commit]] steps it takes; then, for
  * each step k, it re-runs on a fresh copy of a small fixture with the step
  * hook snapshotting the whole root just before step k — the state a crash
  * there would leave on disk. On each snapshot: readers see the old or the
  * new state, a new store (or [[PairCommit.heal]]) recovers, a follow-up
  * write commits above every segment on disk and is visible, and no
  * committed entry is lost. Stream-log compaction is not covered: it has a
  * known window between deleting the folded batches and promoting its
  * staged fold.
  */
class CommitCrashSweepSpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  private val clock: () => Timestamp = () => Timestamp.valueOf("2020-01-01 00:00:00")
  private val e = Fixtures.corpus
  private val probe = e(9).copy(id = "sweep-probe")

  private def store(dir: Path): MetadataStore = new MetadataStore(spark, dir.toString, clock)

  private def freshCopy(fixture: Path): Path = {
    val dir = Files.createTempDirectory("graft-sweep").resolve("root")
    FsUtil.copyRecursively(fixture, dir)
    dir
  }

  /** Record `op`'s steps on one copy of `fixture` and take its `outcome`
    * there; then crash a fresh copy before each step and hand the outcome and
    * the snapshot to `check`.
    */
  private def sweep[A](fixture: Path)(op: Path => Unit)(outcome: Path => A)(
      check: (A, Path) => Unit): Unit = {
    val steps = ArrayBuffer.empty[String]
    val done = freshCopy(fixture)
    Commit.stepHook.withValue(steps += _)(op(done))
    steps should not be empty
    val after = outcome(done)
    steps.indices.foreach { k =>
      val dir = freshCopy(fixture)
      val crashed = dir.resolveSibling(s"crashed-$k")
      val seen = ArrayBuffer.empty[String]
      Commit.stepHook.withValue { step =>
        if (seen.size == k) FsUtil.copyRecursively(dir, crashed)
        seen += step
      }(op(dir))
      seen shouldBe steps // the re-run takes the recorded path
      withClue(s"crash before step $k (${steps(k)}) of ${steps.mkString(", ")}: ") {
        check(after, crashed)
      }
    }
  }

  // ------------------------------------------------------------ the store

  /** v1 three entries, v2 a fourth, base-3 a compaction, v4 a title patch,
    * v5 a fifth entry.
    */
  private lazy val storeFixture: Path = {
    val dir = Files.createTempDirectory("graft-sweep-fixture").resolve("root")
    val st = store(dir)
    st.upsertAll(e.take(3))
    st.upsert(e(3))
    st.compact()
    st.partialUpdate(e(1).id, Map("title" -> "patched"))
    st.upsert(e(4))
    dir
  }

  /** What readers see: the current table, and the table at each version up
    * to `upTo` (None when time travel there throws).
    */
  private final case class View(current: Set[MetadataEntry],
                                at: Map[Long, Option[Set[MetadataEntry]]])

  private def view(st: MetadataStore, upTo: Long): View =
    View(st.current.collect().toSet, (1L to upTo).map { v =>
      v -> (try Some(st.currentAt(v).collect().toSet)
        catch { case _: IllegalArgumentException => None })
    }.toMap)

  private def segmentVersions(dir: Path): Seq[Long] =
    FsUtil.listDir(dir)(_.map(_.getFileName.toString)
      .filter(n => n.startsWith("base-") || n.startsWith("delta-"))
      .map(_.dropWhile(_ != '-').tail.toLong).toSeq)

  private def storeSweep(op: MetadataStore => Unit): Unit = {
    val fixture = store(storeFixture)
    val upTo = fixture.committedVersion
    val before = view(fixture, upTo)
    sweep(storeFixture)(dir => op(store(dir)))(done => view(store(done), upTo)) {
        (after, crashed) =>
      val st = store(crashed) // a new instance on the crashed root
      val seen = view(st, upTo)
      seen.current should (equal(before.current) or equal(after.current))
      (1L to upTo).foreach { v =>
        withClue(s"currentAt($v): ") {
          val ok = seen.at(v) == before.at(v) || seen.at(v) == after.at(v) ||
            (seen.at(v).isEmpty && v < st.retentionFloor)
          ok shouldBe true
        }
      }
      val onDisk = segmentVersions(crashed).max
      st.upsert(probe) shouldBe true
      st.committedVersion should be > onDisk
      st.get(probe.id) shouldBe Some(probe)
      st.current.collect().toSet.filterNot(_.id == probe.id) should
        (equal(before.current) or equal(after.current))
    }
  }

  test("upsert") { storeSweep(_.upsert(e(5))) }

  test("partialUpdate") { storeSweep(_.partialUpdate(e(0).id, Map("title" -> "swept"))) }

  test("delete") { storeSweep(_.delete(e(2).id)) }

  test("upsertIf") {
    storeSweep(st => st.upsertIf(e(3).copy(title = "cas"), st.versionOf(e(3).id)) shouldBe true)
  }

  test("bulkLoad") {
    storeSweep(_.bulkLoad(spark.createDataset(e.slice(5, 8) :+ e(8).copy(title = "")))
      .count() shouldBe 1L)
  }

  test("upsertAll(Dataset)") { storeSweep(_.upsertAll(spark.createDataset(e.slice(5, 8)))) }

  test("merge") {
    storeSweep { st =>
      val src = spark.createDataset(Seq(e(0).copy(title = "merged"), e(2), e(6))).toDF()
        .withColumn("_delete", col("id") === e(2).id)
      st.merge(src) shouldBe MetadataStore.MergeStats(1L, 1L, 1L)
    }
  }

  test("drop") { storeSweep(_.drop()) }

  test("compact") { storeSweep(_.compact()) }

  test("vacuum") { storeSweep(_.vacuum(keepVersions = 2) shouldBe Seq(1L, 2L)) }

  // ------------------------------------------------------------- the pair

  /** store/ at v3 (five entries, a patch, a delete) and pair/ holding gen-1
    * (init at v1) and gen-2 (advance to v2); the delete is not yet absorbed.
    */
  private lazy val pairFixture: Path = {
    val dir = Files.createTempDirectory("graft-sweep-pair").resolve("root")
    val st = store(dir.resolve("store"))
    st.upsertAll(e.take(5))
    val pair = dir.resolve("pair")
    Files.createDirectories(pair)
    PairCommit.init(spark, pair.toString, st, 4)
    st.partialUpdate(e(1).id, Map("title" -> "patched"))
    PairCommit.advance(spark, pair.toString, st, 4)
    st.delete(e(2).id)
    dir
  }

  private final case class PairView(manifest: PairCommit.Manifest, history: Set[Row])

  private def pairView(pair: String): PairView =
    PairView(PairCommit.manifest(pair), PairCommit.readHistory(spark, pair)
      .select("id", "title", "valid_from", "valid_to").collect().toSet)

  private def pairSweep(op: (Path, String) => Unit): Unit = {
    val before = pairView(pairFixture.resolve("pair").toString)
    sweep(pairFixture)(dir => op(dir.resolve("store"), dir.resolve("pair").toString))(
        done => pairView(done.resolve("pair").toString)) { (after, crashed) =>
      val pair = crashed.resolve("pair").toString
      val seen = pairView(pair)
      seen should (equal(before) or equal(after))
      PairCommit.heal(pair)
      pairView(pair) shouldBe seen
      PairCommit.heal(pair) shouldBe 0L
      val st = store(crashed.resolve("store"))
      st.upsert(probe) shouldBe true
      PairCommit.advance(spark, pair, st, 4).storeVersion shouldBe st.committedVersion
      val disk = PairCommit.readHistory(spark, pair)
        .select("id", "title", "valid_from", "valid_to")
      val rebuilt = st.history().select("id", "title", "valid_from", "valid_to")
      disk.where(col("id") === probe.id && col("valid_to").isNull).count() shouldBe 1L
      disk.exceptAll(rebuilt).count() shouldBe 0L
      rebuilt.exceptAll(disk).count() shouldBe 0L
    }
  }

  test("pair advance") {
    pairSweep((storeDir, pair) => PairCommit.advance(spark, pair, store(storeDir), 4))
  }

  test("pair rebase") {
    pairSweep((_, pair) => PairCommit.rebase(spark, pair, 4))
  }
}
