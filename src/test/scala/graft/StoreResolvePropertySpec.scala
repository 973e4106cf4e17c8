package graft

import graft.model.{MetadataEntry, MetadataSchema}
import graft.store.{MetadataStore, Validation}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.collection.mutable

/** Property coverage for the resolve path over every store mutation: seeded
  * random sequences of upsert, partialUpdate, delete, both upsertAll forms,
  * merge, compact, drop, redactIds and vacuum. After each step `current`,
  * `get`, `versionOf` and `currentAt(v)` for every retained `v` must equal a
  * driver-side fold of the same sequence, and every committed base must be
  * id-unique — the invariant that lets a window with no delta segment read
  * its base without the latest-wins window. Each sequence passes through
  * both kinds of window: base-only (right after compact or drop) and base
  * plus deltas (after later writes).
  */
class StoreResolvePropertySpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  private val fixedClock: () => Timestamp = () => Timestamp.valueOf("2020-01-01 00:00:00")
  private val ids = (0 until 4).map(i => s"id$i")
  // point writes weigh double: they grow the delta window between folds
  private val ops = Seq("upsert", "upsert", "update", "update", "delete", "delete",
    "upsertAllSeq", "upsertAllDs", "merge", "compact", "drop", "redact", "vacuum")

  private def entry(rnd: scala.util.Random, id: String, tag: String): MetadataEntry =
    MetadataEntry(id, s"cat${rnd.nextInt(3)}", fixedClock(), "sample",
      Seq("csv", "json")(rnd.nextInt(2)), isPublic = rnd.nextBoolean(), s"org${rnd.nextInt(2)}", rnd.nextInt(100).toLong, 1L,
      "http://data.example.com/x", s"hdfs://nameservice1/org1/$id", tag)

  test("property: random mutation sequences resolve like a fold model, bases stay id-unique") {
    val opsSeen = mutable.Set.empty[String]
    for ((seed, buckets) <- Seq(1 -> 0, 2 -> 0, 3 -> 3)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft-resolve-prop-$seed").toString
      val st = new MetadataStore(spark, dir, fixedClock, numBuckets = buckets)
      // model: the table and each id's row version, per committed version
      var live = Map.empty[String, MetadataEntry]
      var ver = Map.empty[String, Long]
      var v = 0L
      val snapshots = mutable.Map(0L -> Map.empty[String, MetadataEntry])
      def committed(): Unit = { v += 1; snapshots(v) = live }
      val windows = mutable.Set.empty[Boolean] // seen: delta-free, with deltas
      val steps = 16
      for (step <- 1 to steps) {
        val id = ids(rnd.nextInt(ids.size))
        val tag = s"t$seed-$step"
        // a mid-sequence compact and a final upsert guarantee both windows
        val op =
          if (step == steps / 2) "compact"
          else if (step == steps) "upsert"
          else ops(rnd.nextInt(ops.size))
        opsSeen += op
        op match {
          case "upsert" =>
            val e = entry(rnd, id, tag)
            st.upsert(e) shouldBe !live.contains(id)
            live += id -> e; committed(); ver += id -> v
          case "update" =>
            val fields = Map[String, Any]("title" -> tag, "isPublic" -> rnd.nextBoolean())
            st.partialUpdate(id, fields) shouldBe live.contains(id)
            live.get(id).foreach { e =>
              live += id -> Validation.merge(e, fields); committed(); ver += id -> v
            }
          case "delete" =>
            st.delete(id) shouldBe live.contains(id)
            if (live.contains(id)) { live -= id; committed(); ver -= id }
          case "upsertAllSeq" =>
            // a repeated id keeps its last occurrence
            val batch = Seq.fill(3)(entry(rnd, ids(rnd.nextInt(ids.size)), tag))
            st.upsertAll(batch)
            live ++= batch.map(e => e.id -> e); committed(); ver ++= batch.map(_.id -> v)
          case "upsertAllDs" =>
            val batch = rnd.shuffle(ids).take(1 + rnd.nextInt(2)).map(entry(rnd, _, tag))
            st.upsertAll(spark.createDataset(batch))
            live ++= batch.map(e => e.id -> e); committed(); ver ++= batch.map(_.id -> v)
          case "merge" =>
            val (dels, ups) = rnd.shuffle(ids).take(3).partition(_ => rnd.nextBoolean())
            val upRows = ups.map(entry(rnd, _, tag))
            val src = spark.createDataset(upRows).toDF().withColumn("_delete", lit(false))
              .unionByName(spark.createDataset(dels.map(entry(rnd, _, tag))).toDF()
                .withColumn("_delete", lit(true)))
            val stats = st.merge(src)
            val gone = dels.filter(live.contains)
            stats shouldBe MetadataStore.MergeStats(
              ups.count(!live.contains(_)).toLong, ups.count(live.contains).toLong, gone.size.toLong)
            live = live -- gone ++ upRows.map(e => e.id -> e)
            if (ups.nonEmpty || gone.nonEmpty) {
              committed(); ver = ver -- gone ++ ups.map(_ -> v)
            }
          case "compact" =>
            st.compact(); committed(); ver = ver.map { case (i, _) => i -> v }
          case "drop" =>
            st.drop(); live = Map.empty; committed(); ver = Map.empty
          case "redact" =>
            // "never existed": the id leaves every version, no new version
            st.redactIds(Seq(id))
            live -= id; ver -= id
            snapshots.keys.toSeq.foreach(w => snapshots(w) -= id)
          case "vacuum" =>
            st.vacuum(1 + rnd.nextInt(3))
        }
        withClue(s"seed $seed step $step ($op): ") {
          st.committedVersion shouldBe v
          val floor = st.retentionFloor
          floor should be <= v
          if (floor > 0) an[IllegalArgumentException] should be thrownBy st.currentAt(floor - 1)
          st.current.collect().sortBy(_.id).toSeq shouldBe live.values.toSeq.sortBy(_.id)
          ids.foreach { i =>
            st.get(i) shouldBe live.get(i)
            st.versionOf(i) shouldBe ver.get(i)
          }
          (floor to v).foreach { w =>
            withClue(s"currentAt($w): ") {
              st.currentAt(w).collect().sortBy(_.id).toSeq shouldBe
                snapshots(w).values.toSeq.sortBy(_.id)
            }
          }
          // every committed base is an id-unique snapshot
          graft.util.FsUtil.listDir(Paths.get(dir))(_.map(_.getFileName.toString).toSeq)
            .filter(n => n.startsWith("base-") && n.stripPrefix("base-").toLong <= v)
            .foreach { b =>
              withClue(s"$b: ") {
                spark.read.schema(MetadataSchema.structType).parquet(s"$dir/$b")
                  .groupBy("id").count().where("count > 1").count() shouldBe 0L
              }
            }
          val deltaFree = st.versionHistory().lastOption.forall(_.kind != "delta")
          windows += deltaFree
          st.current.queryExecution.executedPlan.toString.contains("Window") shouldBe !deltaFree
        }
      }
      withClue(s"seed $seed windows seen: ") { windows shouldBe Set(true, false) }
    }
    opsSeen shouldBe ops.toSet
  }
}
