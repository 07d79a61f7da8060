package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotTable

/** Format-level gates for the from-scratch snapshot table format: CAS
  * commits, txn-key idempotence, copy-on-write MERGE, snapshot-isolated
  * reads. (The pipeline-level protocol over it is gated in
  * PipelineRunnerSpec.) */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): SnapshotTable =
    new SnapshotTable(Files.createTempDirectory("graft-snaptbl").toString, spark)

  test("append advances one version per commit; reads are snapshot-isolated") {
    val t = tmpTable()
    assert(t.state().version == 0 && t.read().isEmpty)
    val r1 = t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), txn = None)
    assert(!r1.alreadyCommitted && t.state().version == 1)
    val r2 = t.append(Seq((3, "c")).toDF("id", "v"), txn = None)
    assert(t.state().version == 2 && r2.snapshotId != r1.snapshotId)
    assert(t.read().get.count() == 3)
    // metadata records real file sizes
    assert(t.state().files.forall(_.size > 0))
    assert(r1.addedBytes > 0 && r2.addedBytes > 0)
  }

  test("txn keys make appends effectively-once") {
    val t = tmpTable()
    val first = t.append(Seq((1, "a")).toDF("id", "v"), txn = Some("batch-1"))
    val retry = t.append(Seq((1, "a")).toDF("id", "v"), txn = Some("batch-1"))
    assert(!first.alreadyCommitted && retry.alreadyCommitted)
    assert(retry.snapshotId == first.snapshotId)
    assert(t.read().get.count() == 1)
    assert(t.state().version == 1, "the rejected retry must not add a version")
  }

  test("MERGE INTO: latest rows win by key, others survive, files replaced") {
    val t = tmpTable()
    t.append(Seq(("c1", 5L), ("c2", 7L)).toDF("partition_key", "hwm"), None)
    t.merge(Seq(("c2", 9L), ("c3", 1L)).toDF("partition_key", "hwm"),
      keys = Seq("partition_key"), txn = None)
    val rows = t.read().get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("c1" -> 5L, "c2" -> 9L, "c3" -> 1L))
    // copy-on-write: current state lists only the merge's own files
    val st = t.state()
    assert(st.snapshots.last.operation == "merge")
    assert(st.files.toSet == st.snapshots.last.added.toSet)
  }

  test("concurrent appenders all land; versions strictly serialize") {
    val t = tmpTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map { i =>
      Future(t.append(Seq((i, s"w$i")).toDF("id", "v"), txn = Some(s"w-$i")))
    }
    val results = fs.map(Await.result(_, 2.minutes))
    assert(results.forall(!_.alreadyCommitted))
    assert(t.state().version == 4)
    assert(t.read().get.count() == 4)
    // every committed snapshot id is distinct and recorded in history
    assert(t.state().snapshots.map(_.id).distinct.size == 4)
  }

  test("concurrent same-txn appenders: exactly one wins, no duplicate rows") {
    val t = tmpTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 3).map { _ =>
      Future(t.append(Seq((42, "x")).toDF("id", "v"), txn = Some("the-batch")))
    }
    val results = racers.map(Await.result(_, 2.minutes))
    assert(results.count(!_.alreadyCommitted) == 1)
    assert(results.map(_.snapshotId).distinct.size == 1)
    assert(t.read().get.count() == 1)
  }

  test("expireSnapshots reclaims files stranded by copy-on-write merges") {
    val t = tmpTable()
    t.append(Seq(("c1", 1L)).toDF("k", "v"), None)
    t.append(Seq(("c2", 2L)).toDF("k", "v"), None)
    t.merge(Seq(("c1", 9L)).toDF("k", "v"), keys = Seq("k"), txn = None)
    assert(t.state().version == 3)
    val deleted = t.expireSnapshots(keepVersions = 1)
    assert(deleted > 0, "the merge stranded the append files — expiry must reclaim them")
    // only the current version's metadata and files remain
    val metaDir = new java.io.File(s"${t.root}/metadata")
    assert(metaDir.listFiles().count(_.getName.matches("v\\d+\\.json")) == 1)
    val dataDir = new java.io.File(s"${t.root}/data")
    // ignore Hadoop LocalFileSystem .crc sidecars (hidden files)
    assert(dataDir.listFiles().filterNot(_.getName.startsWith("."))
      .map(f => s"data/${f.getName}").toSet ==
      t.state().files.map(_.path).toSet)
    // the table still reads the merged truth
    val rows = t.read().get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("c1" -> 9L, "c2" -> 2L))
    // nothing more to expire
    assert(t.expireSnapshots(keepVersions = 1) == 0)
  }

  test("a reader's resolved snapshot is immune to commits that land after it") {
    val t = tmpTable()
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), None)
    val view = t.read().get // resolves version 1's file list NOW
    t.merge(Seq((1, "a2")).toDF("id", "v"), keys = Seq("id"), txn = None)
    // the merge rewrote the table, but the in-flight reader still sees its
    // snapshot (the old files remain on disk until expiry)
    assert(view.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b")))
    assert(t.read().get.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a2"), (2, "b")))
  }

  test("concurrent merge and append serialize without losing either commit") {
    val t = tmpTable()
    t.append(Seq(("k1", 1L)).toDF("k", "v"), None)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fm = Future(t.merge(Seq(("k1", 100L)).toDF("k", "v"), Seq("k"), None))
    val fa = Future(t.append(Seq(("k2", 2L)).toDF("k", "v"), None))
    Await.result(fm, 2.minutes); Await.result(fa, 2.minutes)
    assert(t.state().version == 3)
    val rows = t.read().get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // both effects present regardless of commit order: merge-first → append
    // adds k2 after the rewrite; append-first → the merge CAS-retries
    // against the appended state and carries k2 through its rewrite
    assert(rows == Map("k1" -> 100L, "k2" -> 2L))
  }

  test("historical snapshots stay readable (metadata retained per version)") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"), None)
    t.append(Seq((2, "b")).toDF("id", "v"), None)
    // the v1 metadata file still resolves the v1 file list
    val metaDir = new java.io.File(s"${t.root}/metadata")
    assert(metaDir.listFiles().count(_.getName.matches("v\\d+\\.json")) == 2)
  }

  test("time travel: readVersion/readSnapshot see the table as of a commit") {
    val t = tmpTable()
    val r1 = t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), None)
    t.append(Seq((3, "c")).toDF("id", "v"), None)
    // a COW merge rewrites the live file set; history must not move
    t.merge(Seq((2, "B2")).toDF("id", "v"), keys = Seq("id"), None)
    assert(t.liveVersions() == Seq(1L, 2L, 3L))
    assert(t.readVersion(1).get.count() == 2)
    assert(t.readVersion(2).get.count() == 3)
    assert(t.readVersion(2).get.where(col("id") === 2).select("v")
      .first().getString(0) == "b", "v2 predates the merge")
    assert(t.readVersion(3).get.where(col("id") === 2).select("v")
      .first().getString(0) == "B2")
    assert(t.readSnapshot(r1.snapshotId).get.count() == 2)
    assert(t.readVersion(0).isEmpty && t.readVersion(9).isEmpty &&
      t.readSnapshot("no-such").isEmpty)
  }

  private def metaNames(root: String): Set[String] =
    new java.io.File(s"$root/metadata").listFiles().map(_.getName).toSet

  // The two tests below keep the names they had when the file list could
  // also ride side files in metadata/; their bodies now check what the
  // history-only layout must still guarantee.
  test("manifest splitting: file list spills past the inline limit, appends " +
    "reuse prior manifests, coalesce bounds fan-out, expiry reclaims") {
    val root = Files.createTempDirectory("graft-snaptbl").toString
    val t = new SnapshotTable(root, spark)
    def rows(i: Int) = Seq((2 * i, s"v$i"), (2 * i + 1, s"w$i")).toDF("id", "v")
      .repartition(2)
    val n = 12
    (1 to n).foreach(i => t.append(rows(i), txn = Some(s"b-$i")))
    // every version reads exactly the rows committed up to it
    (1 to n).foreach { v =>
      val st = t.stateAt(v).get
      assert(st.files == st.snapshots.flatMap(_.added), s"v$v file list")
      assert(t.readVersion(v).get.count() == 2L * v, s"v$v rows")
    }
    // a second table object on the same root resolves the same files
    val reader = new SnapshotTable(root, spark)
    assert(reader.state().files == t.state().files)
    assert(reader.read().get.count() == 2L * n)
    // txn idempotence holds after many appends
    assert(t.append(rows(3), txn = Some("b-3")).alreadyCommitted)
    assert(t.state().version == n)
    // the newest doc records each data file once: in its snapshot's `added`
    val docPath = Paths.get(root, "metadata", f"v$n%06d.json")
    val doc = new ObjectMapper().readTree(docPath.toFile)
    assert(!doc.has("files") && !doc.has("manifests"))
    val text = new String(Files.readAllBytes(docPath), "UTF-8")
    t.state().files.foreach { f =>
      assert(text.split(java.util.regex.Pattern.quote(f.path), -1).length - 1 == 1,
        s"${f.path} recorded more than once")
    }
    // expiry leaves only the live version docs in metadata/
    t.expireSnapshots(keepVersions = 2, orphanGraceMs = 0)
    assert(metaNames(root) == Set(f"v${n - 1}%06d.json", f"v$n%06d.json"))
    assert(t.read().get.count() == 2L * n)
  }

  test("manifest mode: COW merge replaces manifests; racing writers leave " +
    "no manifest debris") {
    val root = Files.createTempDirectory("graft-snaptbl").toString
    val t = new SnapshotTable(root, spark)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 4).map { i =>
      Future(t.append(Seq((i, i.toLong)).toDF("k", "v").coalesce(1), None))
    }
    racers.foreach(Await.result(_, 2.minutes))
    t.merge(Seq((1, 100L)).toDF("k", "v").coalesce(1), keys = Seq("k"), None)
    val rows = t.read().get.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == Map(1 -> 100L, 2 -> 2L, 3 -> 3L, 4 -> 4L))
    // the merge's own files replace the list
    val st = t.state()
    assert(st.version == 5 && st.snapshots.last.operation == "merge")
    assert(st.files == st.snapshots.last.added)
    // CAS losers leave nothing in metadata/: only the version docs
    assert(metaNames(root) == t.liveVersions().map(v => f"v$v%06d.json").toSet)
  }

  test("reads a doc that also lists files outside the history") {
    // Docs written before the history became the only record of data files
    // carry a `files` list next to it, and past a size threshold a
    // `manifests` list of side files in metadata/ that hold the entries.
    val root = Files.createTempDirectory("graft-snaptbl").toString
    val t = new SnapshotTable(root, spark)
    (1 to 3).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1), None))
    t.merge(Seq((1, "m")).toDF("id", "v").coalesce(1), keys = Seq("id"), None)
    val snaps = t.state().snapshots
    // what each version listed: appends accumulate, the merge (v4) replaces
    val listed = Map(
      1 -> snaps.take(1).flatMap(_.added), 2 -> snaps.take(2).flatMap(_.added),
      3 -> snaps.take(3).flatMap(_.added), 4 -> snaps(3).added)
    val mapper = new ObjectMapper()
    def entries(fs: Seq[SnapshotTable.FileEntry]) = {
      val a = mapper.createArrayNode()
      fs.foreach(f => a.addObject().put("path", f.path).put("size", f.size))
      a
    }
    (1 to 4).foreach { v =>
      val p = Paths.get(root, "metadata", f"v$v%06d.json")
      val doc = mapper.readTree(p.toFile).asInstanceOf[ObjectNode]
      if (v == 3) { // the side-file shape: empty inline list + one pointer
        val side = mapper.createObjectNode()
        side.set[JsonNode]("entries", entries(listed(3)))
        Files.write(Paths.get(root, "metadata", "m-old-1.json"),
          mapper.writeValueAsBytes(side))
        doc.putArray("manifests").addObject().put("path", "metadata/m-old-1.json")
          .put("count", 3).put("bytes", listed(3).map(_.size).sum)
        doc.set[JsonNode]("files", entries(Nil))
      } else doc.set[JsonNode]("files", entries(listed(v)))
      Files.write(p, mapper.writeValueAsBytes(doc))
    }
    (1 to 4).foreach(v => assert(t.stateAt(v).get.files == listed(v), s"v$v"))
    assert(t.state().files == listed(4))
    assert(t.readVersion(3).get.count() == 3)
    assert(t.read().get.collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "m", 2 -> "v2", 3 -> "v3"))
    // expiry reclaims the aged side file along with the expired docs
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 0)
    assert(metaNames(root) == Set("v000004.json"))
  }

  test("expireSnapshots reclaims crashed writers' temp debris") {
    val root = Files.createTempDirectory("graft-snaptbl").toString
    val t = new SnapshotTable(root, spark)
    t.append(Seq((1, "a")).toDF("id", "v"), None)
    // plant the three crash shapes: a candidate-metadata temp (died before
    // publishAtomic) and append/merge staging dirs (died before cleanup)
    val staleMeta = new java.io.File(s"$root/metadata/.tmp-dead-writer-x")
    java.nio.file.Files.write(staleMeta.toPath, "{}".getBytes)
    val staleAppend = new java.io.File(s"$root/_tmp-append-dead-writer-y")
    val staleMerge = new java.io.File(s"$root/_tmp-merge-dead-writer-z")
    staleAppend.mkdirs(); staleMerge.mkdirs()
    val stalePart = new java.io.File(staleAppend, "part-0.parquet")
    java.nio.file.Files.write(stalePart.toPath, Array[Byte](1, 2, 3))
    val old = System.currentTimeMillis() - 7200000L
    Seq(staleMeta, stalePart, staleAppend, staleMerge).foreach(_.setLastModified(old))
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L)
    assert(!staleMeta.exists() && !staleAppend.exists() && !staleMerge.exists(),
      "aged temp debris must be reclaimed")
    // a LIVE writer's fresh temp survives the grace window
    val fresh = new java.io.File(s"$root/_tmp-append-live-writer")
    fresh.mkdirs()
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L)
    assert(fresh.exists(), "fresh temp state is protected by the grace window")
    assert(t.read().get.count() == 1)
  }

  test("expireSnapshots judges a staging dir's age by its newest file") {
    val root = Files.createTempDirectory("graft-snaptbl").toString
    val t = new SnapshotTable(root, spark)
    t.append(Seq((1, "a")).toDF("id", "v"), None)
    val old = System.currentTimeMillis() - 7200000L
    // Spark writes into a subdirectory of the staging dir, so a long-running
    // live write leaves the dir's own mtime old while its files are fresh
    def staged(name: String): (java.io.File, java.io.File) = {
      val dir = new java.io.File(s"$root/$name")
      val sub = new java.io.File(dir, "_temporary/0")
      sub.mkdirs()
      val part = new java.io.File(sub, "part-0.parquet")
      java.nio.file.Files.write(part.toPath, Array[Byte](1, 2, 3))
      Seq(sub, sub.getParentFile, dir).foreach(_.setLastModified(old))
      (dir, part)
    }
    val (live, _) = staged("_tmp-append-live-writer")
    val (dead, deadPart) = staged("_tmp-append-dead-writer")
    deadPart.setLastModified(old)
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L)
    assert(live.exists(), "a staging dir holding a fresh file is a live write")
    assert(!dead.exists(), "a fully aged staging dir is crash debris")
    assert(t.read().get.count() == 1)
  }

  test("time travel window is bounded by expireSnapshots retention") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"), None)
    t.append(Seq((2, "b")).toDF("id", "v"), None)
    t.append(Seq((3, "c")).toDF("id", "v"), None)
    t.expireSnapshots(keepVersions = 2, orphanGraceMs = 0)
    assert(t.liveVersions() == Seq(2L, 3L))
    assert(t.readVersion(1).isEmpty, "expired versions are gone")
    assert(t.readVersion(2).get.count() == 2)
    assert(t.readVersion(3).get.count() == 3)
    assert(t.read().get.count() == 3)
  }
}
