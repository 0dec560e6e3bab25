package graft.sinks

import java.nio.file.Files

import graft.SparkSpec

class ManifestSinkSpec extends SparkSpec {
  import spark.implicits._

  test("append commits are snapshot-isolated and versioned") {
    val dir = Files.createTempDirectory("msink").toString + "/t"
    assert(ManifestSink.version(spark, dir) === -1L)
    val v0 = ManifestSink.append(Seq(1L, 2L).toDF("v"), dir)
    assert(v0 === 0L)
    // a reader holding the v0 snapshot is unaffected by the next commit
    val snapshotV0 = ManifestSink.read(spark, dir)
    val v1 = ManifestSink.append(Seq(3L).toDF("v"), dir)
    assert(v1 === 1L)
    assert(ManifestSink.read(spark, dir).count() === 3)
    assert(snapshotV0.count() === 2) // file list resolved at read time
  }

  test("replace swaps content atomically; vacuum reclaims orphans") {
    val dir = Files.createTempDirectory("msinkr").toString + "/t"
    ManifestSink.append(spark.range(0, 100).toDF("v"), dir)
    ManifestSink.append(spark.range(100, 120).toDF("v"), dir)
    // compaction: keep only v >= 110 (retention-style rewrite)
    val retained = ManifestSink.read(spark, dir).filter($"v" >= 110)
    ManifestSink.replace(retained, dir)
    assert(ManifestSink.read(spark, dir).count() === 10)
    // two orphaned batch dirs (the replaced appends) + old manifests
    val deleted = ManifestSink.vacuum(spark, dir)
    assert(deleted.size === 2)
    // current snapshot unaffected by vacuum
    assert(ManifestSink.read(spark, dir).count() === 10)
    // idempotent
    assert(ManifestSink.vacuum(spark, dir).isEmpty)
  }

  test("vacuum sweeps crash-orphaned publish temps AND link-probe files") {
    val dir = Files.createTempDirectory("msinkp").toString + "/t"
    ManifestSink.append(spark.range(0, 5).toDF("v"), dir)
    // crash leftovers: a publish temp (writer died before link) and a
    // capability-probe file (crash between canHardLink's createFile and
    // its finally) — both live in _manifests and neither is a manifest
    val mdir = java.nio.file.Paths.get(dir, "_manifests")
    java.nio.file.Files.write(mdir.resolve("7.manifest.dead-uuid.tmp"),
      "orphan".getBytes("UTF-8"))
    java.nio.file.Files.createFile(mdir.resolve(".linkprobe.dead-uuid.a"))
    ManifestSink.vacuum(spark, dir)
    val left = java.nio.file.Files.list(mdir)
    val names = try {
      import scala.jdk.CollectionConverters._
      left.iterator().asScala.map(_.getFileName.toString).toSet
    } finally left.close()
    assert(!names.exists(_.endsWith(".tmp")), s"publish temp survived: $names")
    assert(!names.exists(_.startsWith(".linkprobe.")),
      s"link-probe orphan survived: $names")
    // the table itself is untouched
    assert(ManifestSink.read(spark, dir).count() === 5)
  }

  test("fresh publish temps and probe files survive an aged vacuum") {
    // the _manifests sweep honors minAgeMs: an IN-FLIGHT publish temp or
    // a LIVE canHardLink probe file (both seconds old) must not be
    // deleted mid-use by a racing vacuum — only genuinely abandoned
    // files older than the cutoff are reclaimed
    val dir = Files.createTempDirectory("msinkf").toString + "/t"
    ManifestSink.append(spark.range(0, 5).toDF("v"), dir)
    val mdir = java.nio.file.Paths.get(dir, "_manifests")
    java.nio.file.Files.write(mdir.resolve("9.manifest.live-uuid.tmp"),
      "in-flight".getBytes("UTF-8"))
    java.nio.file.Files.createFile(mdir.resolve(".linkprobe.live-uuid.a"))
    ManifestSink.vacuum(spark, dir, minAgeMs = 3600_000L)
    val left = java.nio.file.Files.list(mdir)
    val names = try {
      import scala.jdk.CollectionConverters._
      left.iterator().asScala.map(_.getFileName.toString).toSet
    } finally left.close()
    assert(names.contains("9.manifest.live-uuid.tmp"),
      s"live publish temp was swept: $names")
    assert(names.contains(".linkprobe.live-uuid.a"),
      s"live probe file was swept: $names")
    // and once aged below the cutoff, the same files ARE reclaimed
    ManifestSink.vacuum(spark, dir)
    val after = java.nio.file.Files.list(mdir)
    val names2 = try {
      import scala.jdk.CollectionConverters._
      after.iterator().asScala.map(_.getFileName.toString).toSet
    } finally after.close()
    assert(!names2.exists(_.endsWith(".tmp")) &&
      !names2.exists(_.startsWith(".linkprobe.")),
      s"aged orphans survived: $names2")
  }

  test("_latest is never observed missing across concurrent refreshes") {
    // the hint is a marker: each refresh CREATES `_latest.d/<v>` and only
    // then prunes lower names, so a reader polling while a refresher
    // thread hammers writeHint must never read "no hint" (-1) and never
    // see the value go down. A refresh that deleted before creating, or
    // pruned its own or a higher name, fails here within a few thousand
    // polls.
    val dir = Files.createTempDirectory("msinkh").toString + "/t"
    ManifestSink.append(Seq(1L).toDF("v"), dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ManifestSink.readHint(f, dir) === 0L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val refresher = new Thread(() => {
      var i = 1L
      while (!stop.get()) { ManifestSink.writeHint(f, dir, i); i += 1 }
    })
    refresher.setDaemon(true)
    refresher.start()
    var last = 0L
    var bad = Vector.empty[(Long, Long)] // (previous read, this read)
    val deadline = System.nanoTime() + 3_000_000_000L // 3 s of polling
    try {
      while (System.nanoTime() < deadline && bad.isEmpty) {
        val h = ManifestSink.readHint(f, dir)
        if (h < last) bad :+= (last -> h)
        last = math.max(last, h)
      }
    } finally { stop.set(true); refresher.join(5000) }
    assert(bad.isEmpty, s"hint went missing or backwards: $bad")
    assert(last > 0L, "the refresher never advanced the hint")
    // pruning keeps the marker directory at one or two names
    assert(ManifestSinkSpec.hintNames(dir).size <= 2)
  }

  test("a commit or vacuum never replaces a file: every path keeps its " +
      "inode") {
    // refreshing the hint (or any metadata) by renaming over an existing
    // file costs ~50 ms per rename on ext4; every table file is created
    // under a fresh name instead. Snapshot path -> inode around each
    // operation: a path present on both sides must be the same file.
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("msinki").toString + "/t"
    def inodes(): Map[String, AnyRef] = {
      val s = Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getAttribute(p, "unix:ino")).toMap
      finally s.close()
    }
    ManifestSink.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    val ops = Seq[(String, () => Any)](
      "append" -> (() =>
        ManifestSink.append(Seq((3L, "c")).toDF("k", "v"), dir)),
      "replace" -> (() => ManifestSink.replace(
        ManifestSink.read(spark, dir).filter($"k" >= 2L), dir)),
      "merge" -> (() => ManifestSink.merge(
        Seq((3L, "C"), (4L, "d")).toDF("k", "v"), dir, Seq("k"))),
      "vacuum" -> (() => ManifestSink.vacuum(spark, dir)))
    ops.foreach { case (name, op) =>
      val before = inodes()
      op()
      val after = inodes()
      val replaced = before.keySet.intersect(after.keySet)
        .filter(p => before(p) != after(p))
      assert(replaced.isEmpty, s"$name replaced ${replaced.toSeq.sorted}")
    }
    assert(ManifestSink.read(spark, dir).count() === 3)
  }

  test("crash between manifest publish and hint write loses nothing") {
    // the manifest rename is the commit point; `_latest` is only a hint.
    // Simulate a crash right after the rename by deleting the hint.
    val dir = Files.createTempDirectory("msinkc").toString + "/t"
    ManifestSink.append(Seq(1L, 2L).toDF("v"), dir)
    ManifestSink.append(Seq(3L).toDF("v"), dir)
    ManifestSinkSpec.dropHint(dir)
    // recovery: version comes from the manifest listing
    assert(ManifestSink.version(spark, dir) === 1L)
    assert(ManifestSink.read(spark, dir).count() === 3)
    // and the NEXT commit chains onto v1 — previously committed batches
    // stay referenced (the pre-fix failure mode orphaned all of them)
    ManifestSink.append(Seq(4L).toDF("v"), dir)
    assert(ManifestSink.version(spark, dir) === 2L)
    assert(ManifestSink.read(spark, dir).count() === 4)
    assert(ManifestSink.vacuum(spark, dir).isEmpty) // nothing orphaned
  }

  test("stale _latest hint is repaired from the listing") {
    val dir = Files.createTempDirectory("msinks").toString + "/t"
    ManifestSink.append(Seq(1L).toDF("v"), dir)
    ManifestSink.append(Seq(2L).toDF("v"), dir)
    // hint rolled back to a lower name: the probe walks forward from it
    ManifestSinkSpec.plantHint(dir, "0")
    assert(ManifestSink.version(spark, dir) === 1L)
    assert(ManifestSink.read(spark, dir).count() === 2)
  }

  test("merge upserts by key: updates replace, inserts append") {
    val dir = Files.createTempDirectory("msinkm").toString + "/t"
    // empty-sink merge = insert
    val v0 = ManifestSink.merge(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"))
    assert(v0 === 0L)
    val v1 = ManifestSink.merge(
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), dir, Seq("k"))
    assert(v1 === 1L)
    val got = ManifestSink.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // previous version remains readable until vacuumed (time travel)
    val prevEntries = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_manifests/0.manifest"))
    assert(prevEntries.trim.nonEmpty)
  }

  test("merge rewrites only the batch dirs containing matched keys") {
    val dir = Files.createTempDirectory("msinkp").toString + "/t"
    ManifestSink.append(Seq((1L, "a")).toDF("k", "v"), dir)       // dir A
    ManifestSink.append(Seq((2L, "b")).toDF("k", "v"), dir)       // dir B
    ManifestSink.append(Seq((3L, "c")).toDF("k", "v"), dir)       // dir C
    ManifestSink.merge(Seq((2L, "B2")).toDF("k", "v"), dir, Seq("k"))
    // copy-on-write pruning: dirs A and C must be carried by REFERENCE —
    // the merged manifest keeps 2 of the 3 original entries verbatim
    // RESOLVED snapshots (appends write delta manifests; the carried-by-
    // reference claim is about the resolved entry list)
    def entryLines(m: String): Set[String] =
      ManifestSink.manifestEntries(spark, dir, m.toLong).toSet
    val m2 = entryLines("2")
    val m3 = entryLines("3")
    assert(m3.size === 3)
    assert((m2 & m3).size === 2, s"expected 2 carried entries: $m2 vs $m3")
    val got = ManifestSink.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    // vacuum reclaims exactly the one rewritten batch dir
    assert(ManifestSink.vacuum(spark, dir).size === 1)
    assert(ManifestSink.read(spark, dir).count() === 3)
  }

  test("merge rejects updates with duplicate keys; empty merge is a no-op") {
    val dir = Files.createTempDirectory("msinkd").toString + "/t"
    ManifestSink.append(Seq((1L, "a")).toDF("k", "v"), dir)
    intercept[IllegalArgumentException] {
      ManifestSink.merge(
        Seq((2L, "x"), (2L, "y")).toDF("k", "v"), dir, Seq("k"))
    }
    val v = ManifestSink.merge(
      Seq.empty[(Long, String)].toDF("k", "v"), dir, Seq("k"))
    assert(v === 0L) // no new version published
    assert(ManifestSink.read(spark, dir).count() === 1)
  }

  test("merge commit is crash-safe: hint loss after merge loses nothing") {
    val dir = Files.createTempDirectory("msinkmc").toString + "/t"
    ManifestSink.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    ManifestSink.merge(Seq((2L, "B")).toDF("k", "v"), dir, Seq("k"))
    ManifestSinkSpec.dropHint(dir)
    assert(ManifestSink.version(spark, dir) === 1L)
    val got = ManifestSink.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "B"))
  }

  test("time travel window: keepVersions retains readable history") {
    val dir = Files.createTempDirectory("msinkt").toString + "/t"
    ManifestSink.append(Seq(1L).toDF("v"), dir)
    ManifestSink.append(Seq(2L).toDF("v"), dir)
    ManifestSink.append(Seq(3L).toDF("v"), dir)
    val deleted = ManifestSink.vacuum(spark, dir, keepVersions = 3)
    assert(deleted.isEmpty) // all three appends still referenced
    assert(ManifestSink.read(spark, dir).count() === 3)
  }

  test("readAt reads any retained version byte-identically") {
    val dir = Files.createTempDirectory("msinkra").toString + "/t"
    val v0 = ManifestSink.append(Seq((1L, "a")).toDF("k", "v"), dir)
    val v1 = ManifestSink.append(Seq((2L, "b")).toDF("k", "v"), dir)
    val v2 = ManifestSink.merge(Seq((1L, "A")).toDF("k", "v"), dir, Seq("k"))
    def at(v: Long) = ManifestSink.readAt(spark, dir, v).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(at(v0) === Map(1L -> "a"))
    assert(at(v1) === Map(1L -> "a", 2L -> "b"))
    assert(at(v2) === Map(1L -> "A", 2L -> "b"))
    intercept[IllegalArgumentException](ManifestSink.readAt(spark, dir, -1L))
  }

  test("changes reads exactly the appended batches, never carried files") {
    val dir = Files.createTempDirectory("msinkch").toString + "/t"
    val v0 = ManifestSink.append(spark.range(0, 5).toDF("v"), dir)
    val v1 = ManifestSink.append(spark.range(5, 8).toDF("v"), dir)
    val v2 = ManifestSink.append(spark.range(8, 10).toDF("v"), dir)
    val inc = ManifestSink.changes(spark, dir, v0, v2)
      .collect().map(_.getLong(0)).sorted
    assert(inc.toSeq === (5L until 10L)) // only batches after v0
    // manifest-diff bookkeeping agrees
    val (added, removed) = ManifestSink.changedEntries(spark, dir, v0, v2)
    assert(added.size === 2 && removed.isEmpty)
    // same-version diff is empty but keeps the schema
    val none = ManifestSink.changes(spark, dir, v1, v1)
    assert(none.count() === 0 && none.columns.toSeq === Seq("v"))
  }

  test("changesByKey emits exact insert/update/delete rows") {
    val dir = Files.createTempDirectory("msinkcdc").toString + "/t"
    val v0 = ManifestSink.append(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), dir)
    // update 2, insert 4 (via merge), then delete 3 (via replace)
    ManifestSink.merge(Seq((2L, "B"), (4L, "d")).toDF("k", "v"), dir,
      Seq("k"))
    val v2 = ManifestSink.replace(
      ManifestSink.read(spark, dir).filter($"k" =!= 3L), dir)
    val got = ManifestSink.changesByKey(spark, dir, v0, v2, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("_change_type"))).toSet
    assert(got === Set((4L, "d", "insert"), (2L, "B", "update"),
      (3L, "c", "delete")))
    // from-empty baseline: everything is an insert
    val fromEmpty = ManifestSink.changesByKey(spark, dir, -1L, v2, Seq("k"))
      .collect().map(_.getAs[String]("_change_type")).toSet
    assert(fromEmpty === Set("insert"))
  }

  test("applying changesByKey to the old snapshot reproduces the new one") {
    val dir = Files.createTempDirectory("msinkrt").toString + "/t"
    val v0 = ManifestSink.append(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), dir)
    ManifestSink.merge(Seq((2L, "B"), (5L, "e")).toDF("k", "v"), dir,
      Seq("k"))
    val v2 = ManifestSink.replace(
      ManifestSink.read(spark, dir).filter($"k" =!= 4L), dir)
    val cdc = ManifestSink.changesByKey(spark, dir, v0, v2, Seq("k"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val old = toMap(ManifestSink.readAt(spark, dir, v0))
    val applied = cdc.collect().foldLeft(old) { (acc, r) =>
      val (k, v, t) = (r.getLong(0), r.getString(1), r.getString(2))
      t match {
        case "delete" => acc - k
        case _        => acc + (k -> v) // insert | update
      }
    }
    assert(applied === toMap(ManifestSink.readAt(spark, dir, v2)))
  }

  test("applyChanges maintains a replica that tracks the source exactly") {
    val root = Files.createTempDirectory("msinkcdc").toString
    val (src, rep) = (s"$root/src", s"$root/rep")
    val v0 = ManifestSink.append(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), src)
    // replica bootstraps from the full initial snapshot (fromV = -1)
    ManifestSink.applyChanges(
      ManifestSink.changesByKey(spark, src, -1L, v0, Seq("k")), rep,
      Seq("k"))
    def rows(dir: String) = ManifestSink.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(rep) === rows(src))
    // source mutates through every change kind: upsert-update,
    // upsert-insert, copy-on-write delete, merge-on-read delete
    ManifestSink.merge(Seq((2L, "B"), (5L, "e")).toDF("k", "v"), src,
      Seq("k"))
    ManifestSink.replace(
      ManifestSink.read(spark, src).filter($"k" =!= 4L), src)
    val v1 = ManifestSink.deleteKeysMergeOnRead(
      Seq(Tuple1(1L)).toDF("k"), src, Seq("k"))
    val cdc = ManifestSink.changesByKey(spark, src, v0, v1, Seq("k"))
    ManifestSink.applyChanges(cdc, rep, Seq("k"))
    assert(rows(rep) === rows(src))
    assert(rows(rep) === Set(2L -> "B", 3L -> "c", 5L -> "e"))
    // at-least-once: re-applying the same feed converges (same content)
    ManifestSink.applyChanges(cdc, rep, Seq("k"))
    assert(rows(rep) === rows(src))
  }

  test("manifest stats prune whole batch dirs from a range scan") {
    val dir = Files.createTempDirectory("msinkfs").toString + "/t"
    // three appends with disjoint key ranges — the time-ordered-append
    // layout a 100 TB fact table has
    ManifestSink.appendWithStats(
      spark.range(0, 100).toDF("id"), dir, Seq("id"))
    ManifestSink.appendWithStats(
      spark.range(100, 200).toDF("id"), dir, Seq("id"))
    ManifestSink.appendWithStats(
      spark.range(200, 300).toDF("id"), dir, Seq("id"))
    // point-ish lookup: manifest metadata alone prunes 2 of 3 dirs
    val (kept, skipped) = ManifestSink.prunedEntries(
      spark, dir, "id", Some(150L), Some(160L))
    assert(kept.size === 1 && skipped.size === 2)
    // the pruned scan equals the unpruned filter exactly
    val pruned = ManifestSink.readWhere(
      spark, dir, "id", Some(150L), Some(160L))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned === (150L to 160L))
    // unbounded side: >= 250 keeps only the last dir
    val (k2, s2) = ManifestSink.prunedEntries(
      spark, dir, "id", Some(250L), None)
    assert(k2.size === 1 && s2.size === 2)
    // a range matching nothing prunes everything but stays correct
    val none = ManifestSink.readWhere(
      spark, dir, "id", Some(1000L), Some(2000L))
    assert(none.count() === 0 && none.columns.toSeq === Seq("id"))
  }

  test("entries without stats are never pruned; merge keeps carried stats") {
    val dir = Files.createTempDirectory("msinkns").toString + "/t"
    ManifestSink.appendWithStats(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"))
    // plain append: no stats → always scanned, whatever the predicate
    ManifestSink.append(Seq((500L, "z")).toDF("k", "v"), dir)
    val (kept, _) = ManifestSink.prunedEntries(
      spark, dir, "k", Some(100L), Some(200L))
    assert(kept.size === 1) // the stats-less entry survives any range
    val got = ManifestSink.readWhere(spark, dir, "k", Some(100L), None)
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(500L))
    // merge touching only the stats-less dir carries the stats entry
    // verbatim — it still prunes afterwards
    ManifestSink.merge(Seq((500L, "Z")).toDF("k", "v"), dir, Seq("k"))
    val (k2, s2) = ManifestSink.prunedEntries(
      spark, dir, "k", Some(1000L), None)
    // the carried stats entry [1,2] is skipped; the rewritten batch (no
    // stats, conservative) is kept
    assert(s2.size === 1 && s2.head.stats.contains("k"))
    assert(k2.size === 1 && !k2.head.stats.contains("k"))
    val after = ManifestSink.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === Map(1L -> "a", 2L -> "b", 500L -> "Z"))
  }

  test("string and double stats prune with their own orderings") {
    val dir = Files.createTempDirectory("msinksd").toString + "/t"
    ManifestSink.appendWithStats(
      Seq(("apple", 0.1), ("cherry", 0.2)).toDF("s", "d"), dir,
      Seq("s", "d"))
    ManifestSink.appendWithStats(
      Seq(("melon", 5.5), ("peach", 9.9)).toDF("s", "d"), dir,
      Seq("s", "d"))
    val (ks, ss) = ManifestSink.prunedEntries(
      spark, dir, "s", Some("banana"), Some("grape"))
    assert(ks.size === 1 && ss.size === 1)
    val (kd, sd) = ManifestSink.prunedEntries(
      spark, dir, "d", Some(1.0), None)
    assert(kd.size === 1 && sd.size === 1)
    assert(ManifestSink.readWhere(spark, dir, "s", Some("banana"),
      Some("grape")).collect().map(_.getString(0)).toSeq === Seq("cherry"))
  }

  test("conjunctive ranges prune when ANY column provably excludes") {
    val dir = Files.createTempDirectory("msinkmr").toString + "/t"
    // two batches overlapping on id but disjoint on score
    ManifestSink.appendWithStats(
      Seq((1L, 10.0), (50L, 20.0)).toDF("id", "score"), dir,
      Seq("id", "score"))
    ManifestSink.appendWithStats(
      Seq((40L, 90.0), (99L, 95.0)).toDF("id", "score"), dir,
      Seq("id", "score"))
    // id range alone keeps both; adding the score range prunes one
    val idOnly = ManifestSink.prunedEntries(
      spark, dir, Seq(ManifestSink.Range("id", Some(40L), Some(60L))))
    assert(idOnly._1.size === 2)
    val both = ManifestSink.prunedEntries(spark, dir, Seq(
      ManifestSink.Range("id", Some(40L), Some(60L)),
      ManifestSink.Range("score", Some(80.0), None)))
    assert(both._1.size === 1 && both._2.size === 1)
    val got = ManifestSink.readWhere(spark, dir, Seq(
      ManifestSink.Range("id", Some(40L), Some(60L)),
      ManifestSink.Range("score", Some(80.0), None)))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(40L)) // exact residual filter still applies
  }

  test("schema evolution: a later append adds a column, merged read unions") {
    val dir = Files.createTempDirectory("msinkse").toString + "/t"
    ManifestSink.append(Seq((1L, "a")).toDF("k", "v"), dir)
    ManifestSink.append(Seq((2L, "b", 7L)).toDF("k", "v", "w"), dir)
    val merged = ManifestSink.read(spark, dir, mergeSchema = true)
    assert(merged.columns.sorted.toSeq === Seq("k", "v", "w"))
    val byK = merged.collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[Any]("w"))).toMap
    assert(byK(1L) === None)      // pre-evolution rows: new column null
    assert(byK(2L) === Some(7L))
    // compact over the evolved table carries the UNION schema — a
    // single-schema compaction would silently drop the late column
    val v = ManifestSink.compact(spark, dir)
    val compacted = ManifestSink.readAt(spark, dir, v)
    assert(compacted.columns.sorted.toSeq === Seq("k", "v", "w"))
    assert(compacted.count() === 2)
  }

  test("z-order compaction prunes conjunctive ranges on both dimensions") {
    val dir = Files.createTempDirectory("msinkzo").toString + "/t"
    // two independent uniform dims: y is a bijective odd-multiplier
    // permutation of x, so no linear sort order serves both columns
    val rows = spark.range(0, 4096)
      .selectExpr("id AS x", "(id * 2654435761) % 4096 AS y")
    ManifestSink.appendWithStats(rows, dir, Seq("x", "y"))
    val before = ManifestSink.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val v = ManifestSink.compactZOrder(
      spark, dir, Seq("x", "y"), Seq("x", "y"), buckets = 16)
    // content identical, split into 16 z-range entries with stats
    val after = ManifestSink.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(after === before)
    assert(ManifestSink.entries(spark, dir, v).size === 16)
    // square query on the lowest quarter of BOTH dims: x-top2 = y-top2 = 0
    // → exactly the zb=0 entry survives
    val sq = Seq(ManifestSink.Range("x", Some(0L), Some(1023L)),
      ManifestSink.Range("y", Some(0L), Some(1023L)))
    val (kept, skipped) = ManifestSink.prunedEntries(spark, dir, sq)
    assert(kept.size <= 2 && skipped.size >= 14,
      s"square query kept ${kept.size} of 16")
    val got = ManifestSink.readWhere(spark, dir, sq).count()
    val want = ManifestSink.read(spark, dir)
      .filter($"x" <= 1023L && $"y" <= 1023L).count()
    assert(got === want && want > 0)
    // a single-dimension quarter range still prunes: only the z prefixes
    // whose x-bits are low survive (4 of 16 cells + boundary slack)
    val (k1, s1) = ManifestSink.prunedEntries(
      spark, dir, "x", Some(0L), Some(1023L))
    assert(k1.size <= 6 && s1.size >= 10,
      s"x-only query kept ${k1.size} of 16")
    // vacuum keeps the z-compacted subdirectory entries alive and
    // reclaims exactly the replaced pre-compaction batch dir
    val deleted = ManifestSink.vacuum(spark, dir)
    assert(deleted.size === 1)
    assert(ManifestSink.read(spark, dir).count() === 4096)
    assert(ManifestSink.readWhere(spark, dir, sq).count() === want)
  }

  test("deleteWhere rewrites only the batches that might match") {
    val dir = Files.createTempDirectory("msinkdw").toString + "/t"
    // three range-disjoint appends — the time-ordered retention layout
    ManifestSink.appendWithStats(
      spark.range(0, 100).toDF("id"), dir, Seq("id"))
    ManifestSink.appendWithStats(
      spark.range(100, 200).toDF("id"), dir, Seq("id"))
    ManifestSink.appendWithStats(
      spark.range(200, 300).toDF("id"), dir, Seq("id"))
    val before = ManifestSink.entries(spark, dir,
      ManifestSink.version(spark, dir)).map(_.line).toSet
    // delete the middle sub-range: only the middle dir can match
    val v = ManifestSink.deleteWhere(spark, dir,
      Seq(ManifestSink.Range("id", Some(120L), Some(180L))),
      statsCols = Seq("id"))
    val after = ManifestSink.entries(spark, dir, v)
    // the two unaffected entries are carried VERBATIM (same lines,
    // stats included); exactly one new rewritten entry appears
    assert((before & after.map(_.line).toSet).size === 2)
    assert(after.size === 3)
    val got = ManifestSink.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === ((0L to 119L) ++ (181L to 299L)))
    // rewritten batch got fresh stats → still prunes
    val (k, s) = ManifestSink.prunedEntries(
      spark, dir, "id", Some(119L), Some(119L))
    assert(k.size === 1)
    // a delete that provably matches nothing is a no-op (no new version)
    assert(ManifestSink.deleteWhere(spark, dir,
      Seq(ManifestSink.Range("id", Some(5000L), None))) === v)
    // time travel to the pre-delete version still sees all 300 rows
    assert(ManifestSink.readAt(spark, dir, v - 1).count() === 300)
    // vacuum reclaims exactly the replaced middle dir
    assert(ManifestSink.vacuum(spark, dir).size === 1)
  }

  test("equi-depth z-order balances skewed dims; degrades without hist") {
    val dir = Files.createTempDirectory("msinkzeq").toString + "/t"
    // 90% of the mass in [0,63], 10% at [100000,100063]: linear cells
    // collapse the hot band into one cell per dim
    val rows = spark.range(0, 8000).selectExpr("id AS x",
      "CASE WHEN id % 10 < 9 THEN id % 64 ELSE 100000 + id % 64 END AS y")
    ManifestSink.appendWithStats(rows, dir, Seq("x", "y"),
      histCols = Seq("x", "y"))
    val before = ManifestSink.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    val v = ManifestSink.compactZOrder(spark, dir, Seq("x", "y"),
      Seq("x", "y"), buckets = 16, equiDepth = true)
    val after = ManifestSink.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    assert(after.toSeq === before.toSeq) // content identical
    val counts = ManifestSink.filesReport(spark, dir, Nil)
      .collect().map(_.getLong(1))
    assert(counts.size === 16)
    // equi-depth: every bucket within 2x of perfect balance (linear
    // cells would put ~90% of rows into the hot-cell buckets)
    assert(counts.max <= 2 * counts.min,
      s"unbalanced equi-depth buckets: $counts")
    // a table with NO histograms degrades per-dimension to linear cells
    // (4-bit): same content, still a valid 16-entry layout
    val dir2 = Files.createTempDirectory("msinkzeq2").toString + "/t"
    ManifestSink.appendWithStats(rows, dir2, Seq("x", "y"))
    val v2 = ManifestSink.compactZOrder(spark, dir2, Seq("x", "y"),
      Seq("x", "y"), buckets = 16, equiDepth = true)
    assert(ManifestSink.entries(spark, dir2, v2).nonEmpty)
    assert(ManifestSink.read(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity).toSeq === before.toSeq)
  }

  test("deleteWhere keeps null rows; z-order handles null dims") {
    val dir = Files.createTempDirectory("msinknul").toString + "/t"
    // ids 0..99 plus rows whose x is null (SQL DELETE never matches null)
    val withNulls = spark.range(0, 100)
      .selectExpr("CAST(id AS LONG) AS x", "(id * 7) % 100 AS y")
      .unionByName(spark.sql(
        "SELECT CAST(NULL AS LONG) AS x, CAST(500 AS LONG) AS y " +
        "UNION ALL SELECT CAST(NULL AS LONG), CAST(501 AS LONG)"))
    ManifestSink.appendWithStats(withNulls, dir, Seq("x"))
    ManifestSink.deleteWhere(spark, dir,
      Seq(ManifestSink.Range("x", Some(10L), Some(89L))))
    val kept = ManifestSink.read(spark, dir).collect()
      .map(r => Option(r.getAs[Any]("x"))).toSeq
    assert(kept.count(_.isEmpty) === 2)       // null rows survive
    assert(kept.count(_.nonEmpty) === 20)     // 0..9 and 90..99
    // z-order over a null-bearing dimension: content identical, nulls
    // land in the min cell, pruning still correct vs read+filter
    val v = ManifestSink.compactZOrder(
      spark, dir, Seq("x", "y"), Seq("x", "y"), buckets = 4)
    assert(ManifestSink.read(spark, dir).count() === 22)
    val q = Seq(ManifestSink.Range("x", Some(90L), None))
    assert(ManifestSink.readWhere(spark, dir, q).count() ===
      ManifestSink.read(spark, dir).filter($"x" >= 90L).count())
  }

  test("deleteWhereEq erases one key, rewriting only bloom-hit batches") {
    val dir = Files.createTempDirectory("msinkge").toString + "/t"
    // overlapping id ranges: only blooms can localize a key
    (0 until 3).foreach { k =>
      val b = spark.range(0, 3000).filter($"id" % 3 === k)
        .selectExpr("id", "concat('user-', id) AS key")
      ManifestSink.appendWithStats(b, dir, Seq("id"),
        bloomCols = Seq("key"))
    }
    val before = ManifestSink.entries(spark, dir,
      ManifestSink.version(spark, dir)).map(_.line).toSet
    val v = ManifestSink.deleteWhereEq(spark, dir, "key", "user-1502",
      statsCols = Seq("id"), bloomCols = Seq("key"))
    val after = ManifestSink.entries(spark, dir, v).map(_.line).toSet
    // at least one batch carried verbatim (bloom localized the key)
    assert((before & after).size >= 1)
    assert(ManifestSink.readWhereEq(spark, dir, "key", "user-1502")
      .count() === 0)
    assert(ManifestSink.read(spark, dir).count() === 2999)
    // the rewritten batch's fresh bloom still serves future lookups
    assert(ManifestSink.readWhereEq(spark, dir, "key", "user-1505")
      .count() === 1)
  }

  test("incremental aggregate equals full recompute across appends") {
    import graft.sinks.IncrementalAgg
    val dir = Files.createTempDirectory("msinkia").toString + "/t"
    val keys = Seq("k")
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .selectExpr("id % 3 AS k", "CAST(id AS DOUBLE) / 7 AS v")
    val v0 = ManifestSink.append(batch(0, 400), dir)
    val s0 = IncrementalAgg.aggregate(
      ManifestSink.changes(spark, dir, -1L, v0), keys, "v")
    val v1 = ManifestSink.append(batch(400, 650), dir)
    val s1 = IncrementalAgg.refresh(spark, s0, dir, v0, v1, keys, "v")
    val v2 = ManifestSink.append(batch(650, 1000), dir)
    val s2 = IncrementalAgg.refresh(spark, s1, dir, v1, v2, keys, "v")
    val inc = IncrementalAgg.present(s2, keys)
      .collect().map(_.toString).sorted.toSeq
    val full = IncrementalAgg.present(IncrementalAgg.aggregate(
      ManifestSink.read(spark, dir), keys, "v"), keys)
      .collect().map(_.toString).sorted.toSeq
    assert(inc === full && inc.size === 3)
    // non-append history (a merge rewrote a batch): refresh refuses
    // rather than risking a wrong min/max
    val v3 = ManifestSink.merge(
      Seq((0L, 99.5)).toDF("k", "v"), dir, Seq("k"))
    intercept[IllegalArgumentException] {
      IncrementalAgg.refresh(spark, s2, dir, v2, v3, keys, "v")
    }
    // ...but refreshOrRecompute self-heals: the rewrite window (and a
    // merge-on-read delete window) recomputes from the snapshot, and
    // the NEXT append-only window folds incrementally off that state
    def check(st: org.apache.spark.sql.DataFrame): Unit =
      assert(IncrementalAgg.present(st, keys)
        .collect().map(_.toString).sorted.toSeq ===
        IncrementalAgg.present(IncrementalAgg.aggregate(
          ManifestSink.read(spark, dir), keys, "v"), keys)
          .collect().map(_.toString).sorted.toSeq)
    val (s3, folded3) =
      IncrementalAgg.refreshOrRecompute(spark, s2, dir, v2, v3, keys, "v")
    assert(!folded3); check(s3)
    val v4 = ManifestSink.deleteKeysMergeOnRead(
      Seq(1L).toDF("k"), dir, Seq("k"))
    val (s4, folded4) =
      IncrementalAgg.refreshOrRecompute(spark, s3, dir, v3, v4, keys, "v")
    assert(!folded4); check(s4)
    val v5 = ManifestSink.append(batch(1000, 1100), dir)
    val (s5, folded5) =
      IncrementalAgg.refreshOrRecompute(spark, s4, dir, v4, v5, keys, "v")
    assert(folded5); check(s5)
  }

  test("subtractable state folds merge-on-read deletes as retractions") {
    import graft.sinks.IncrementalAgg
    val dir = Files.createTempDirectory("msinkrf").toString + "/t"
    val keys = Seq("k")
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .selectExpr("id % 3 AS k", "id AS i", "CAST(id AS DOUBLE) / 7 AS v")
    def direct() = IncrementalAgg.presentSums(IncrementalAgg
        .aggregateSums(ManifestSink.read(spark, dir), keys, "v"), keys)
      .collect().map(_.toString).sorted.toSeq
    def check(st: org.apache.spark.sql.DataFrame): Unit =
      assert(IncrementalAgg.presentSums(st, keys)
        .collect().map(_.toString).sorted.toSeq === direct())
    val v0 = ManifestSink.appendWithStats(batch(0, 1000), dir, Seq("i"))
    val s0 = IncrementalAgg.aggregateSums(
      ManifestSink.read(spark, dir), keys, "v")
    // a range MoR delete folds as a negative delta
    val v1 = ManifestSink.deleteRangeMergeOnRead(spark, dir, "i",
      Some(100L), Some(299L))
    val (s1, m1) = IncrementalAgg.refreshSums(spark, s0, dir, v0, v1,
      keys, "v")
    assert(m1 === "retract_fold"); check(s1)
    // mixed window: an append AND a delete spanning old+new rows — the
    // retraction covers only fromV-visible rows, the plus side excludes
    // the new batch's deleted rows (position rule), nothing doubles
    ManifestSink.appendWithStats(batch(1000, 1100), dir, Seq("i"))
    val v2 = ManifestSink.deleteRangeMergeOnRead(spark, dir, "i",
      Some(900L), Some(1049L))
    val (s2, m2) = IncrementalAgg.refreshSums(spark, s1, dir, v1, v2,
      keys, "v")
    assert(m2 === "retract_fold"); check(s2)
    // key MoR delete on the GROUP key: the k=2 group's count reaches
    // zero and the group drops from the state, not kept at n=0
    val v3 = ManifestSink.deleteKeysMergeOnRead(
      Seq(2L).toDF("k"), dir, Seq("k"))
    val (s3, m3) = IncrementalAgg.refreshSums(spark, s2, dir, v2, v3,
      keys, "v")
    assert(m3 === "retract_fold"); check(s3)
    assert(s3.count() === 2)
    // plain append still folds (and revives the dropped group)
    val v4 = ManifestSink.append(batch(1100, 1150), dir)
    val (s4, m4) = IncrementalAgg.refreshSums(spark, s3, dir, v3, v4,
      keys, "v")
    assert(m4 === "fold"); check(s4)
    assert(s4.count() === 3)
    // a rewrite window (merge on a LIVE key) recomputes — retraction is
    // ill-defined across a rewrite. (A merge whose keys are all
    // MoR-deleted touches no directory and correctly folds instead.)
    val v5 = ManifestSink.merge(
      Seq((1L, 7L, 99.5)).toDF("k", "i", "v"), dir, Seq("i"))
    val (s5, m5) = IncrementalAgg.refreshSums(spark, s4, dir, v4, v5,
      keys, "v")
    assert(m5 === "recompute"); check(s5)
    // a merge-on-read UPSERT window folds: the old copies retract, the
    // new rows add — view maintenance straight through upserts
    val v6 = ManifestSink.mergeOnRead(
      Seq((0L, 9L, 50.0), (1L, 9999L, 1.25)).toDF("k", "i", "v"),
      dir, Seq("i"))
    val (s6, m6) = IncrementalAgg.refreshSums(spark, s5, dir, v5, v6,
      keys, "v")
    assert(m6 === "retract_fold"); check(s6)
  }

  test("mergeOnRead: atomic zero-rewrite upsert equals merge's content") {
    val dir = Files.createTempDirectory("msinkmor").toString + "/t"
    val cow = Files.createTempDirectory("msinkmorc").toString + "/t"
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val up1 = Seq((2L, "B"), (4L, "d")).toDF("k", "v") // update + insert
    val up2 = Seq((2L, "B2"), (1L, "A")).toDF("k", "v") // re-update
    Seq(dir, cow).foreach(d => ManifestSink.append(base, d))
    val e0 = ManifestSink.entries(spark, dir,
      ManifestSink.version(spark, dir)).map(_.path).toSet
    ManifestSink.mergeOnRead(up1, dir, Seq("k"))
    ManifestSink.mergeOnRead(up2, dir, Seq("k"))
    ManifestSink.merge(up1, cow, Seq("k"))
    ManifestSink.merge(up2, cow, Seq("k"))
    assert(rows(ManifestSink.read(spark, dir)) ===
      rows(ManifestSink.read(spark, cow)))
    assert(rows(ManifestSink.read(spark, dir)) ===
      Seq((1L, "A"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // zero-rewrite: the original batch directory is still referenced
    val eAfter = ManifestSink.entries(spark, dir,
      ManifestSink.version(spark, dir)).map(_.path).toSet
    assert(e0.subsetOf(eAfter))
    // time travel still serves the pre-upsert snapshot
    assert(rows(ManifestSink.readAt(spark, dir, 0L)) ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // compaction materializes the tombstone debt away, content intact
    ManifestSink.compact(spark, dir)
    assert(ManifestSink.entries(spark, dir,
      ManifestSink.version(spark, dir)).size === 1)
    assert(rows(ManifestSink.read(spark, dir)) ===
      Seq((1L, "A"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // duplicate keys in one batch refuse loudly
    intercept[IllegalArgumentException] {
      ManifestSink.mergeOnRead(
        Seq((9L, "x"), (9L, "y")).toDF("k", "v"), dir, Seq("k"))
    }
  }

  test("racing mergeOnRead upserts: every commit lands, one live copy") {
    val dir = Files.createTempDirectory("msinkmorr").toString + "/t"
    ManifestSink.append(Seq((0L, "base")).toDF("k", "v"), dir)
    // 8 threads upsert the SAME key concurrently: the CAS rebase lands
    // every commit at some position, and the position rule leaves
    // exactly the LAST committer's row live
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = (1 to 8).map { i =>
      scala.concurrent.Future {
        ManifestSink.mergeOnRead(
          Seq((0L, s"w$i")).toDF("k", "v"), dir, Seq("k"))
      }
    }
    val versions = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(fs),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(versions.sorted === (1L to 8L)) // all eight landed, distinct
    val live = ManifestSink.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(live.size === 1 && live.head._1 === 0L)
    // the live value is the winner of version 8 — the manifest order IS
    // the serialization order, so the last committed upsert rules
    val v8new = ManifestSink.changesApplied(spark, dir, 7L, 8L)
      .collect().map(_.getString(1)).toSeq
    assert(live.map(_._2) === v8new)
  }

  test("bloom filters prune point lookups that ranges cannot") {
    val dir = Files.createTempDirectory("msinkbl").toString + "/t"
    // three batches with fully overlapping id ranges (ids interleaved
    // mod 3): a point lookup never prunes on min/max — only the bloom
    // knows which batch actually holds a key
    (0 until 3).foreach { k =>
      val b = spark.range(0, 3000).filter($"id" % 3 === k)
        .selectExpr("id", "concat('user-', id) AS key")
      ManifestSink.appendWithStats(b, dir, Seq("id", "key"),
        bloomCols = Seq("id", "key"))
    }
    // string key present in exactly one batch
    val (kept, skipped) = ManifestSink.prunedEntriesEq(
      spark, dir, "key", "user-1502")
    assert(skipped.size >= 1, "bloom should exclude at least one batch")
    val got = ManifestSink.readWhereEq(spark, dir, "key", "user-1502")
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got === Seq(1502L))
    // long key lookup through its own bloom
    val gotL = ManifestSink.readWhereEq(spark, dir, "id", 2077L)
      .collect().map(_.getAs[String]("key")).toSeq
    assert(gotL === Seq("user-2077"))
    assert(ManifestSink.prunedEntriesEq(spark, dir, "id", 2077L)
      ._2.size >= 1)
    // absent key: result is empty whatever the (fp-prone) pruning said
    assert(ManifestSink.readWhereEq(spark, dir, "key", "user-99999")
      .count() === 0)
    // a batch without blooms is never bloom-pruned
    ManifestSink.append(
      Seq((90000L, "user-90000")).toDF("id", "key"), dir)
    val (k2, _) = ManifestSink.prunedEntriesEq(
      spark, dir, "key", "user-90000")
    assert(k2.exists(e => !e.stats.keys.exists(_.endsWith("\u0000bf"))))
    assert(ManifestSink.readWhereEq(spark, dir, "key", "user-90000")
      .count() === 1)
    // range pruning on the same entries still works beside the blooms
    val (k3, s3) = ManifestSink.prunedEntries(
      spark, dir, "id", Some(100000L), None)
    assert(k3.size === 1 && !k3.head.stats.contains("id") && s3.size === 3)
  }

  test("NaN endpoints never prune: readWhere equals read+filter") {
    val dir = Files.createTempDirectory("msinknan").toString + "/t"
    // NaN sorts greatest in Spark, so this batch records max = "NaN";
    // a naive numeric compare with NaN is always false and would prune
    // the whole dir — dropping the matching 1.0 row
    ManifestSink.appendWithStats(
      Seq(1.0, Double.NaN).toDF("d"), dir, Seq("d"))
    val (kept, _) = ManifestSink.prunedEntries(
      spark, dir, "d", Some(0.5), None)
    assert(kept.size === 1) // NaN endpoint = unbounded, never prunes
    val got = ManifestSink.readWhere(spark, dir, "d", Some(0.5), None)
    assert(got.count() ===
      ManifestSink.read(spark, dir).filter($"d" >= 0.5).count())
    // all-NaN batch: min and max are both NaN — still never pruned
    val dir2 = Files.createTempDirectory("msinknan2").toString + "/t"
    ManifestSink.appendWithStats(
      Seq(Double.NaN, Double.NaN).toDF("d"), dir2, Seq("d"))
    assert(ManifestSink.prunedEntries(
      spark, dir2, "d", None, Some(0.5))._1.size === 1)
  }

  test("float stats roundtrip exactly: boundary rows are not pruned") {
    val dir = Files.createTempDirectory("msinkflt").toString + "/t"
    // 2.2f's nearest double is 2.200000047683716; serializing the float
    // via Float.toString ("2.2") and reparsing as double understates the
    // max by half a float-ulp, so a lo bound of exactly 2.2f would
    // wrongly prune the dir containing its own boundary row
    ManifestSink.appendWithStats(
      Seq(1.1f, 2.2f).toDF("f"), dir, Seq("f"))
    val (kept, _) = ManifestSink.prunedEntries(
      spark, dir, "f", Some(2.2f), None)
    assert(kept.size === 1)
    val got = ManifestSink.readWhere(spark, dir, "f", Some(2.2f), None)
      .collect().map(_.getFloat(0)).toSeq
    assert(got === Seq(2.2f))
  }

  test("string stats use UTF-8 byte order, matching Spark's min/max") {
    val dir = Files.createTempDirectory("msinkutf").toString + "/t"
    // U+10000 (a supplementary code point) vs U+E000: UTF-16 code units
    // order them D800 < E000, but UTF-8 bytes order them F0.. > EE.. —
    // Spark compares UTF-8 bytes, so a Java-String compare would prune
    // the dir whose only row actually matches the range
    val supp = new String(Character.toChars(0x10000))
    val bmp = "\uE000"
    ManifestSink.appendWithStats(Seq(supp).toDF("s"), dir, Seq("s"))
    val (kept, _) = ManifestSink.prunedEntries(
      spark, dir, "s", Some(bmp), None)
    assert(kept.size === 1)
    val got = ManifestSink.readWhere(spark, dir, "s", Some(bmp), None)
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq(supp))
  }

  test("CDC across a schema-evolved history backfills late columns") {
    val dir = Files.createTempDirectory("msinkcdc").toString + "/t"
    ManifestSink.append(Seq((1L, "a")).toDF("k", "v"), dir)         // v0
    ManifestSink.append(Seq((2L, "b", 7L)).toDF("k", "v", "w"), dir) // v1
    // incremental read over the evolved history carries the union schema
    val inc = ManifestSink.changes(spark, dir, 0L, 1L, mergeSchema = true)
    assert(inc.columns.sorted.toSeq === Seq("k", "v", "w"))
    // key CDC: the old snapshot lacks w entirely — it must read as null
    // there, not fail to resolve; k=1 is unchanged, k=2 is an insert
    val ch = ManifestSink.changesByKey(spark, dir, 0L, 1L, Seq("k"))
      .collect().map(r =>
        (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
          Option(r.getAs[Any]("w")))).toSet
    assert(ch === Set((2L, "insert", Some(7L))))
    // an update that only changes the late column is still detected
    ManifestSink.merge(Seq((1L, "a", 9L)).toDF("k", "v", "w"), dir,
      Seq("k")) // v2
    val ch2 = ManifestSink.changesByKey(spark, dir, 1L, 2L, Seq("k"))
      .collect().map(r =>
        (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
          Option(r.getAs[Any]("w")))).toSet
    assert(ch2 === Set((1L, "update", Some(9L))))
  }

  test("compact rewrites to one clustered entry with fresh stats") {
    val dir = Files.createTempDirectory("msinkcp").toString + "/t"
    // interleaved appends: every dir spans the whole key range, so
    // nothing prunes before compaction
    ManifestSink.appendWithStats(
      Seq(1L, 100L, 50L).toDF("id"), dir, Seq("id"))
    ManifestSink.appendWithStats(
      Seq(2L, 99L, 51L).toDF("id"), dir, Seq("id"))
    val (k0, s0) = ManifestSink.prunedEntries(
      spark, dir, "id", Some(50L), Some(51L))
    assert(k0.size === 2 && s0.isEmpty)
    val before = ManifestSink.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    val v = ManifestSink.compact(spark, dir,
      statsCols = Seq("id"), sortCols = Seq("id"))
    // content identical, one entry, stats recomputed over the rewrite
    val after = ManifestSink.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after === before)
    val es = ManifestSink.entries(spark, dir, v)
    assert(es.size === 1)
    assert(es.head.stats("id") ===
      ManifestSink.ColStats('L', "1", "100"))
    // pre-compaction versions still time travel until vacuumed
    assert(ManifestSink.readAt(spark, dir, v - 1).count() === 6)
    assert(ManifestSink.vacuum(spark, dir).size === 2)
  }

  test("merge on a z-compacted table upserts without duplicating keys") {
    val dir = Files.createTempDirectory("msinkmz").toString + "/t"
    val rows = spark.range(0, 256)
      .selectExpr("id AS k", "(id * 37) % 256 AS y", "CAST(id AS STRING) AS v")
    ManifestSink.append(rows, dir)
    // z-compaction nests entries as data/<uuid>/__zb=k — the touched-dir
    // detection must recognize the FULL entry path, not just data/<uuid>
    val vz = ManifestSink.compactZOrder(
      spark, dir, Seq("k", "y"), Seq("k", "y"), buckets = 8)
    assert(ManifestSink.entries(spark, dir, vz).size === 8)
    val vm = ManifestSink.merge(
      Seq((3L, 111L, "UPDATED"), (999L, 0L, "inserted"))
        .toDF("k", "y", "v"), dir, Seq("k"))
    val got = ManifestSink.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // one row per key: the matched key's old z-bucket row is gone
    assert(ManifestSink.read(spark, dir).count() === 257)
    assert(got(3L) === "UPDATED" && got(999L) === "inserted")
    assert(got(4L) === "4") // untouched neighbor intact
    // untouched z-entries carried by reference: the merged manifest keeps
    // most of the 8 z entries verbatim
    val mz = ManifestSink.entries(spark, dir, vz).map(_.line).toSet
    val mm = ManifestSink.entries(spark, dir, vm).map(_.line).toSet
    assert((mz & mm).size >= 6, s"carried ${(mz & mm).size} of 8 z entries")
  }

  test("merge fails fast when updates are missing existing columns") {
    val dir = Files.createTempDirectory("msinkmm").toString + "/t"
    ManifestSink.append(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "w"), dir)
    // an update frame that FORGOT column w would silently null it on
    // every replaced row — must throw instead
    intercept[IllegalArgumentException] {
      ManifestSink.merge(Seq((1L, "A")).toDF("k", "v"), dir, Seq("k"))
    }
    // the additive direction still works: updates may carry NEW columns
    val v = ManifestSink.merge(
      Seq((1L, "A", 11L, "extra")).toDF("k", "v", "w", "z"), dir, Seq("k"))
    val snap = ManifestSink.read(spark, dir, mergeSchema = true)
    assert(snap.count() === 2)
    assert(snap.filter($"k" === 1L).head().getAs[String]("z") === "extra")
    assert(snap.filter($"k" === 2L).head().getAs[String]("z") === null)
  }

  test("deleteWhere with fully-unbounded ranges deletes every row") {
    val dir = Files.createTempDirectory("msinkdu").toString + "/t"
    ManifestSink.append(spark.range(0, 50).toDF("id"), dir)
    // Range(col, None, None) is a legal "delete all" — no bound terms
    val v = ManifestSink.deleteWhere(spark, dir,
      Seq(ManifestSink.Range("id", None, None)))
    assert(ManifestSink.read(spark, dir).count() === 0)
    assert(ManifestSink.readAt(spark, dir, v - 1).count() === 50)
  }

  test("tryPublishNew is an exclusive conditional put under contention") {
    // POSIX rename overwrites, so the old rename-based put let two
    // racers both "win" a manifest name under load (a lost commit, seen
    // as a full-suite flake of the race test below); the hard-link put
    // must admit EXACTLY one winner and preserve the winner's bytes
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val root = Files.createTempDirectory("condput").toString
    (0 until 40).foreach { i =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$i.manifest")
      val wins = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val barrier = new java.util.concurrent.CyclicBarrier(8)
      val ths = (0 until 8).map { t =>
        new Thread(() => {
          barrier.await()
          if (ManifestSink.tryPublishNew(f, p, s"writer-$t")) wins.add(t)
        })
      }
      ths.foreach(_.start()); ths.foreach(_.join())
      assert(wins.size === 1, s"round $i: winners ${wins}")
      val content = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/$i.manifest")))
      assert(content === s"writer-${wins.peek()}") // no silent overwrite
    }
  }

  test("concurrent appends all land exactly once via commit-race rebase") {
    val dir = Files.createTempDirectory("msinkcc").toString + "/t"
    // 8 threads × 4 appends, every batch a distinct value range — the
    // conditional-put rename arbitrates; losers rebase and retry
    val threads = 8
    val perThread = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (0 until threads).flatMap { t =>
      (0 until perThread).map { i =>
        scala.concurrent.Future {
          val base = (t * perThread + i) * 100L
          ManifestSink.append(
            spark.range(base, base + 100).toDF("v"), dir)
        }
      }
    }
    val versions = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(300, "s"))
    pool.shutdown()
    val n = threads * perThread
    // every commit got a distinct contiguous version
    assert(versions.sorted === (0L until n.toLong),
      s"committed versions: ${versions.sorted.mkString(",")}")
    assert(ManifestSink.version(spark, dir) === n - 1L)
    // no batch lost, none duplicated
    val vals = ManifestSink.read(spark, dir).collect().map(_.getLong(0))
    assert(vals.length === n * 100,
      s"got ${vals.length} rows; missing ${
        ((0L until n * 100L).toSet -- vals).take(5)}, dup ${
        vals.groupBy(identity).filter(_._2.length > 1).keys.take(5)}")
    assert(vals.toSet === (0L until n * 100L).toSet)
    // the final manifest references every batch exactly once
    val entries = ManifestSink.entries(spark, dir, n - 1L)
    assert(entries.size === n)
    assert(entries.map(_.path).distinct.size === n)
  }

  test("manifest publish is a conditional put: losers never clobber") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val dir = Files.createTempDirectory("msinklr").toString
    val f = FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(dir, "5.manifest")
    assert(ManifestSink.tryPublishNew(f, p, "winner"))
    // a second publisher of the SAME name loses, the winner's content
    // survives, and the loser's temp file is cleaned up
    assert(!ManifestSink.tryPublishNew(f, p, "loser"))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "5.manifest")) === "winner")
    import scala.jdk.CollectionConverters._
    val stray = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try assert(!stray.iterator().asScala.exists(_.toString.endsWith(".tmp")))
    finally stray.close()
    // a manually pre-created future manifest (another writer landing
    // between two commits) is simply rebased past by the next append
    val t = Files.createTempDirectory("msinklr2").toString + "/t"
    ManifestSink.append(Seq(1L).toDF("v"), t)
    val line = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_manifests/0.manifest"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_manifests/1.manifest"), line)
    val v = ManifestSink.append(Seq(2L).toDF("v"), t)
    assert(v === 2L)
    // manifest 1 (the simulated winner) re-referenced batch 0's dir, so
    // the rebased snapshot is that batch plus the new append
    assert(ManifestSink.read(spark, t).count() === 2)
  }

  test("appendOnce folds each epoch exactly once; marker survives rewrites") {
    val dir = Files.createTempDirectory("msinkao").toString + "/t"
    assert(ManifestSink.lastBatchId(spark, dir) === -1L)
    ManifestSink.appendOnce(Seq(1L, 2L).toDF("v"), dir, batchId = 0)
    val v1 = ManifestSink.appendOnce(Seq(3L).toDF("v"), dir, batchId = 1)
    assert(ManifestSink.lastBatchId(spark, dir) === 1L)
    // a replayed epoch (same batchId, at-least-once delivery) is skipped
    // with no new version and no table read
    assert(ManifestSink.appendOnce(Seq(3L).toDF("v"), dir, batchId = 1) === v1)
    assert(ManifestSink.read(spark, dir).count() === 3)
    // the marker rides the manifest header through a full-table rewrite
    ManifestSink.compact(spark, dir, statsCols = Seq("v"))
    assert(ManifestSink.lastBatchId(spark, dir) === 1L)
    assert(ManifestSink.appendOnce(Seq(99L).toDF("v"), dir, batchId = 1) ===
      ManifestSink.version(spark, dir))
    assert(ManifestSink.read(spark, dir).count() === 3)
    // a genuinely new epoch folds normally
    ManifestSink.appendOnce(Seq(4L).toDF("v"), dir, batchId = 2)
    assert(ManifestSink.read(spark, dir).count() === 4)
    assert(ManifestSink.lastBatchId(spark, dir) === 2L)
    // plain appends interleave without disturbing the marker
    ManifestSink.append(Seq(5L).toDF("v"), dir)
    assert(ManifestSink.lastBatchId(spark, dir) === 2L)
    assert(ManifestSink.read(spark, dir).count() === 5)
  }

  test("rowCount answers count(*) from manifest metadata across mutations") {
    val dir = Files.createTempDirectory("msinkrc").toString + "/t"
    ManifestSink.append(spark.range(0, 100).toDF("v"), dir)
    ManifestSink.appendWithStats(
      spark.range(100, 250).selectExpr("id AS v", "id % 7 AS w"),
      dir, Seq("v"))
    assert(ManifestSink.rowCount(spark, dir) === Some(250L))
    // every mutation path maintains the counts
    ManifestSink.merge(
      Seq((50L, 0L), (999L, 1L)).toDF("v", "w"), dir, Seq("v"))
    assert(ManifestSink.rowCount(spark, dir) === Some(251L))
    ManifestSink.deleteWhere(spark, dir,
      Seq(ManifestSink.Range("v", Some(0L), Some(9L))))
    assert(ManifestSink.rowCount(spark, dir) === Some(241L))
    ManifestSink.compactZOrder(spark, dir, Seq("v", "w"), buckets = 4)
    assert(ManifestSink.rowCount(spark, dir) === Some(241L))
    assert(ManifestSink.rowCount(spark, dir).get ===
      ManifestSink.read(spark, dir).count())
    // an entry written without a count (pre-feature manifest line)
    // degrades to None, never to a wrong number
    val v = ManifestSink.version(spark, dir)
    val mf = java.nio.file.Paths.get(dir, s"_manifests/${v + 1}.manifest")
    val stripped = ManifestSink.entries(spark, dir, v)
      .map(_.path).mkString("\n")
    java.nio.file.Files.writeString(mf, stripped)
    assert(ManifestSink.rowCount(spark, dir) === None)
  }

  test("versionAsOf resolves wall-clock time travel from commit headers") {
    val dir = Files.createTempDirectory("msinktt").toString + "/t"
    ManifestSink.append(Seq(1L).toDF("v"), dir)
    val t0 = System.currentTimeMillis()
    Thread.sleep(15)
    ManifestSink.append(Seq(2L).toDF("v"), dir)
    val t1 = System.currentTimeMillis()
    Thread.sleep(15)
    ManifestSink.replace(Seq(9L).toDF("v"), dir)
    assert(ManifestSink.versionAsOf(spark, dir, t0) === 0L)
    assert(ManifestSink.versionAsOf(spark, dir, t1) === 1L)
    assert(ManifestSink.versionAsOf(spark, dir,
      System.currentTimeMillis()) === 2L)
    assert(ManifestSink.readAsOf(spark, dir, t1)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // a cutoff before the first commit has no version to resolve
    intercept[IllegalArgumentException] {
      ManifestSink.versionAsOf(spark, dir, t0 - 3600000L)
    }
  }

  test("vacuum minAge shields a concurrent appender's fresh data dir") {
    val dir = Files.createTempDirectory("msinkage").toString + "/t"
    ManifestSink.append(Seq(1L).toDF("v"), dir)
    ManifestSink.replace(Seq(2L).toDF("v"), dir)
    // the replaced batch dir is unreferenced but FRESH — with a grace
    // window it must survive (it could be a mid-commit appender's data)
    assert(ManifestSink.vacuum(spark, dir, minAgeMs = 3600000L).isEmpty)
    // without the grace (single-writer pipelines) it is reclaimed
    assert(ManifestSink.vacuum(spark, dir).size === 1)
    assert(ManifestSink.read(spark, dir).count() === 1)
  }

  test("vacuum handles a table whose first commit never published") {
    val dir = Files.createTempDirectory("msinkfc").toString + "/t"
    // simulate a crash during the first-ever data write: data exists,
    // _manifests was never created
    val orphan = java.nio.file.Paths.get(dir, "data/deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-0.parquet"), "x")
    val deleted = ManifestSink.vacuum(spark, dir)
    assert(deleted === Seq("deadbeef"))
    assert(!java.nio.file.Files.exists(orphan))
  }

  test("empty partitioned batches are no-ops, not entry-less manifests") {
    val dir = Files.createTempDirectory("msinkeb").toString + "/t"
    val empty = spark.range(0, 0).selectExpr("id", "CAST(0 AS INT) AS day")
    // empty FIRST batch: no version published (a header-only manifest
    // would make read() throw); table stays uncommitted
    assert(ManifestSink.appendPartitioned(empty, dir, "day") === -1L)
    assert(ManifestSink.version(spark, dir) === -1L)
    // exactly-once variant: marker NOT advanced by an empty epoch
    assert(ManifestSink.appendOncePartitioned(empty, dir, 0L, "day") === -1L)
    val rows = spark.range(0, 10).selectExpr("id", "CAST(id % 2 AS INT) AS day")
    ManifestSink.appendOncePartitioned(rows, dir, 0L, "day")
    assert(ManifestSink.read(spark, dir).count() === 10)
    // empty later epoch: current version returned, nothing published
    val v = ManifestSink.version(spark, dir)
    assert(ManifestSink.appendOncePartitioned(empty, dir, 1L, "day") === v)
    assert(ManifestSink.version(spark, dir) === v)
  }

  test("vacuum sweeps crash-orphaned publish temp files") {
    val dir = Files.createTempDirectory("msinktmp").toString + "/t"
    ManifestSink.append(Seq(1L).toDF("v"), dir)
    val stray = java.nio.file.Paths.get(dir,
      "_manifests/9.manifest.deadbeef.tmp")
    java.nio.file.Files.writeString(stray, "orphaned")
    ManifestSink.vacuum(spark, dir)
    assert(!java.nio.file.Files.exists(stray))
    assert(ManifestSink.read(spark, dir).count() === 1)
  }

  test("readFiltered prunes from an arbitrary predicate, result identical") {
    val dir = Files.createTempDirectory("msinkrf").toString + "/t"
    (0 until 3).foreach { k =>
      ManifestSink.appendWithStats(
        spark.range(k * 100L, (k + 1) * 100L)
          .selectExpr("id", "concat('u-', id) AS key"),
        dir, Seq("id"), bloomCols = Seq("key"))
    }
    def check(pred: org.apache.spark.sql.Column, expectKept: Int): Unit = {
      val (kept, _) = ManifestSink.prunedEntriesForPredicate(
        spark, dir, pred, ManifestSink.read(spark, dir))
      assert(kept.size === expectKept, s"pred $pred kept ${kept.size}")
      val got = ManifestSink.readFiltered(spark, dir, pred)
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = ManifestSink.read(spark, dir).filter(pred)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got === want)
    }
    // conjunctive range + an unprunable arithmetic term: middle dir only
    check($"id" >= 120L && $"id" < 180L && $"id" % 7 === 0, 1)
    // reversed literal order
    check(org.apache.spark.sql.functions.lit(250L) <= $"id", 1)
    // equality on the bloom column localizes the key's directory
    check($"key" === "u-42", 1)
    // OR extracts nothing — all dirs scanned, result still exact
    check($"id" === 5L || $"id" === 250L, 3)
    // a null-matching term never contributes bounds
    check($"id".isNull || $"id" >= 0L, 3)
    // strict bounds prune as their inclusive superset
    check($"id" > 100L && $"id" < 199L, 1)
  }

  test("appendPartitioned creates one stat-carrying entry per partition") {
    val dir = Files.createTempDirectory("msinkap").toString + "/t"
    // a wide batch spanning 4 days: as one entry it would never prune a
    // single-day scan; per-partition entries prune to one dir
    val rows = spark.range(0, 400).selectExpr(
      "id", "CAST(id / 100 AS INT) AS day", "id * 2 AS v")
    val ver = ManifestSink.appendPartitioned(rows, dir, "day", Seq("id"))
    val es = ManifestSink.entries(spark, dir, ver)
    assert(es.size === 4)
    // every entry carries day + id stats and its row count
    assert(ManifestSink.rowCount(spark, dir) === Some(400L))
    val (kept, skipped) = ManifestSink.prunedEntries(
      spark, dir, "day", Some(2), Some(2))
    assert(kept.size === 1 && skipped.size === 3)
    // the partition column survives the entry-path read
    val snap = ManifestSink.read(spark, dir)
    assert(snap.columns.toSet === Set("id", "day", "v"))
    assert(snap.count() === 400)
    assert(ManifestSink.readWhere(spark, dir, "day", Some(2), Some(2))
      .agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) ===
      (200L until 300L).sum)
    // a day-range delete rewrites only the matching partitions
    val before = ManifestSink.entries(spark, dir,
      ManifestSink.version(spark, dir)).map(_.line).toSet
    ManifestSink.deleteWhere(spark, dir,
      Seq(ManifestSink.Range("day", Some(3), Some(3))))
    val after = ManifestSink.entries(spark, dir,
      ManifestSink.version(spark, dir)).map(_.line).toSet
    assert((before & after).size === 3) // days 0-2 carried verbatim
    assert(ManifestSink.read(spark, dir).count() === 300)
  }

  test("exactly-once partitioned epochs fold once; partition compaction") {
    val dir = Files.createTempDirectory("msinkop").toString + "/t"
    def epoch(from: Long, to: Long) = spark.range(from, to)
      .selectExpr("id", "CAST(id % 3 AS INT) AS day")
    // three epochs, each touching all 3 day-partitions → 9 entries
    ManifestSink.appendOncePartitioned(epoch(0, 30), dir, 0L, "day")
    ManifestSink.appendOncePartitioned(epoch(30, 60), dir, 1L, "day")
    // replayed epoch 1: skipped from the header, no new entries
    ManifestSink.appendOncePartitioned(epoch(30, 60), dir, 1L, "day")
    ManifestSink.appendOncePartitioned(epoch(60, 90), dir, 2L, "day")
    val all = ManifestSink.entries(spark, dir,
      ManifestSink.version(spark, dir))
    assert(all.size === 9)
    assert(ManifestSink.rowCount(spark, dir) === Some(90L))
    assert(ManifestSink.lastBatchId(spark, dir) === 2L)
    // fold day=1's three entries into one; others carry verbatim
    val before = all.map(_.line).toSet
    val v = ManifestSink.compactPartition(spark, dir, "day", 1)
    val after = ManifestSink.entries(spark, dir, v)
    assert(after.size === 7)
    assert((before & after.map(_.line).toSet).size === 6)
    // content identical, counts maintained, epoch marker survived
    assert(ManifestSink.read(spark, dir).count() === 90)
    assert(ManifestSink.rowCount(spark, dir) === Some(90L))
    assert(ManifestSink.lastBatchId(spark, dir) === 2L)
    // the compacted entry still prunes single-day scans
    val (kept, _) = ManifestSink.prunedEntries(
      spark, dir, "day", Some(1), Some(1))
    assert(kept.size === 1)
    assert(ManifestSink.readWhere(spark, dir, "day", Some(1), Some(1))
      .count() === 30)
    // compacting an already-single partition is a no-op
    assert(ManifestSink.compactPartition(spark, dir, "day", 1) === v)
    // vacuum reclaims the three replaced day-1 staging dirs' batch? no —
    // the three source BATCH dirs still hold days 0 and 2: nothing is
    // reclaimable until those partitions compact too
    assert(ManifestSink.vacuum(spark, dir).isEmpty)
  }

  test("colBounds answers min/max from manifest metadata") {
    val dir = Files.createTempDirectory("msinkcb").toString + "/t"
    ManifestSink.appendWithStats(
      spark.range(50, 150).selectExpr("id", "concat('k', id) AS s"),
      dir, Seq("id", "s"))
    ManifestSink.appendWithStats(
      spark.range(0, 50).selectExpr("id", "concat('k', id) AS s"),
      dir, Seq("id", "s"))
    assert(ManifestSink.colBounds(spark, dir, "id") ===
      Some(('L', "0", "149")))
    // string bounds: unsigned-UTF-8 order, k0 < k99
    assert(ManifestSink.colBounds(spark, dir, "s") ===
      Some(('S', "k0", "k99")))
    // a stats-less entry degrades to None, never a wrong bound
    ManifestSink.append(spark.range(500, 501)
      .selectExpr("id", "'z' AS s"), dir)
    assert(ManifestSink.colBounds(spark, dir, "id") === None)
  }

  test("readFiltered prunes IN lists by value ranges and blooms") {
    val dir = Files.createTempDirectory("msinkin").toString + "/t"
    (0 until 3).foreach { k =>
      ManifestSink.appendWithStats(
        spark.range(k * 100L, (k + 1) * 100L)
          .selectExpr("id", "concat('u-', id) AS key"),
        dir, Seq("id"), bloomCols = Seq("key"))
    }
    // both IN values live in the first dir: 2 of 3 pruned
    val p1 = $"id".isin(5L, 42L)
    val (k1, s1) = ManifestSink.prunedEntriesForPredicate(
      spark, dir, p1, ManifestSink.read(spark, dir))
    assert(k1.size === 1 && s1.size === 2)
    assert(ManifestSink.readFiltered(spark, dir, p1)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 42L))
    // values spanning two dirs keep both, skip the third
    val p2 = $"id".isin(5L, 250L)
    assert(ManifestSink.prunedEntriesForPredicate(
      spark, dir, p2, ManifestSink.read(spark, dir))._1.size === 2)
    // bloom-column IN localizes by filter probes
    val p3 = $"key".isin("u-42", "u-55")
    assert(ManifestSink.prunedEntriesForPredicate(
      spark, dir, p3, ManifestSink.read(spark, dir))._1.size === 1)
    assert(ManifestSink.readFiltered(spark, dir, p3).count() === 2)
  }

  test("deleteWhere preserves late-added columns across schema evolution") {
    val dir = Files.createTempDirectory("msinkde").toString + "/t"
    ManifestSink.appendWithStats(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"))
    ManifestSink.appendWithStats(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "v", "w"),
      dir, Seq("k"))
    // the delete band spans BOTH batches: the survivor rewrite must read
    // with merged schema or batch2's w column is permanently lost
    ManifestSink.deleteWhere(spark, dir,
      Seq(ManifestSink.Range("k", Some(2L), Some(3L))))
    val snap = ManifestSink.read(spark, dir, mergeSchema = true)
      .collect().map(r => (r.getLong(0), Option(r.getAs[Any]("w")))).toMap
    assert(snap === Map(1L -> None, 4L -> Some(40L)))
  }

  test("versionRowDiff: append is entry-pruned, compaction diffs to " +
      "zero, tombstone change reports removals, evolution null-fills") {
    val dir = Files.createTempDirectory("msinkdiff").toString + "/t"
    ManifestSink.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir) // v0
    ManifestSink.append(Seq((3L, "c")).toDF("k", "s"), dir)            // v1
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[String]("op"), r.getLong(0),
        Option(r.getAs[String]("s")))).toSeq.sorted
    // pure append: exactly the new rows, nothing removed
    assert(rows(ManifestSink.versionRowDiff(spark, dir, 0, 1)) ===
      Seq(("added", 3L, Some("c"))))
    // compaction rewrites everything into new entries — row diff is EMPTY
    ManifestSink.compact(spark, dir)                                   // v2
    assert(ManifestSink.versionRowDiff(spark, dir, 1, 2).count() === 0)
    // merge-on-read delete: the diff reports exactly the deleted row as
    // removed (tombstone-change fallback path)
    ManifestSink.deleteKeysMergeOnRead(
      Seq(2L).toDF("k"), dir, Seq("k"))                                // v3
    assert(rows(ManifestSink.versionRowDiff(spark, dir, 2, 3)) ===
      Seq(("removed", 2L, Some("b"))))
    // schema evolution: a late column null-fills on the old side
    ManifestSink.append(Seq((9L, "z", 7L)).toDF("k", "s", "w"), dir)   // v4
    val d = ManifestSink.versionRowDiff(spark, dir, 3, 4).collect()
      .map(r => (r.getAs[String]("op"), r.getLong(0),
        Option(r.getAs[Any]("w")).map(_.toString))).toSeq.sorted
    assert(d === Seq(("added", 9L, Some("7"))))
    // identity: diffing a version against itself is empty
    assert(ManifestSink.versionRowDiff(spark, dir, 4, 4).count() === 0)
  }

  test("partition evolution: a point read prunes evolved-era entries by " +
      "stats and keeps every stat-less legacy entry") {
    val dir = Files.createTempDirectory("msinkpe").toString + "/t"
    // legacy era: one unpartitioned entry, no stats on 't'
    ManifestSink.append(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "t", "v"), dir)
    // evolved era: one stat-carrying entry per 't' partition
    ManifestSink.appendPartitioned(
      Seq((3L, "a", 3.0), (4L, "b", 4.0), (5L, "c", 5.0))
        .toDF("k", "t", "v"), dir, "t")
    val (kept, skipped) = ManifestSink.prunedEntriesEq(spark, dir, "t", "a")
    assert(skipped.size === 2, "evolved 'b'/'c' partitions must be skipped")
    assert(kept.size === 2, "legacy entry (never-a-filter) + 'a' partition")
    val rows = ManifestSink.readWhereEq(spark, dir, "t", "a")
      .collect().map(_.getLong(0)).toSet
    assert(rows === Set(1L, 3L))
  }

  test("heavy-hitter stats merge across entries as exact lower bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("msinktk").toString + "/t"
    // batch 1: 50×"hot", 10×"warm"; batch 2: 30×"hot", 20×"cold"
    def batch(hot: Int, other: String, n: Int) =
      ((0 until hot).map(_ => "hot") ++ (0 until n).map(_ => other))
        .toDF("k")
    ManifestSink.appendWithStats(batch(50, "warm", 10), dir, Seq("k"),
      topKCols = Seq("k"))
    ManifestSink.appendWithStats(batch(30, "cold", 20), dir, Seq("k"),
      topKCols = Seq("k"))
    // per-value counts SUM where present: hot = 50 + 30
    val merged = ManifestSink.mergedTopK(spark, dir, "k").get.toMap
    assert(merged("hot") === 80L)
    assert(merged("warm") === 10L) // one-batch values survive the merge
    assert(merged("cold") === 20L)
    assert(ManifestSink.maxKeyRows(spark, dir, "k").get === 80L)
    // a batch WITHOUT the stat poisons nothing but disables the answer:
    // absence degrades to None (recompute from data), never a wrong
    // lower bound computed from a partial view
    ManifestSink.append(batch(99, "x", 1), dir)
    assert(ManifestSink.mergedTopK(spark, dir, "k").isEmpty)
    assert(ManifestSink.maxKeyRows(spark, dir, "k").isEmpty)
  }

  test("compactSmall merges only sub-threshold batches, through tombstones") {
    import spark.implicits._
    val dir = Files.createTempDirectory("msinkcs").toString + "/t"
    ManifestSink.append(spark.range(0, 100).toDF("k"), dir) // big: kept
    ManifestSink.append(Seq(100L, 101L).toDF("k"), dir) // small
    ManifestSink.append(Seq(102L).toDF("k"), dir) // small
    // MoR-delete a key that lives in a SMALL batch: the rewrite must
    // read through the tombstone, not resurrect the row
    ManifestSink.deleteKeysMergeOnRead(Seq(101L).toDF("k"), dir, Seq("k"))
    val v = ManifestSink.compactSmall(spark, dir, minRows = 10L,
      statsCols = Seq("k"), sortCols = Seq("k"))
    assert(v === 4L)
    // entries now: big + tombstone + merged smalls (line order: kept
    // lines first, rewrite appended) — 2 data entries, 1 tombstone
    val es = ManifestSink.entries(spark, dir, v)
    assert(es.size === 3)
    val rows = ManifestSink.read(spark, dir).collect().map(_.getLong(0))
    assert(rows.sorted.toSeq === ((0L until 100L) ++ Seq(100L, 102L)))
    // the two small dirs are now unreferenced; big batch untouched
    assert(ManifestSink.vacuum(spark, dir).size === 2)
    assert(ManifestSink.read(spark, dir).count() === 102)
    // idempotent: one merged entry left above threshold? it has 2 rows,
    // still < 10 — but ALONE it cannot merge with anything: no-op
    assert(ManifestSink.compactSmall(spark, dir, minRows = 10L) === v)
  }

  test("history classifies every commit kind with exact row accounting") {
    import spark.implicits._
    val dir = Files.createTempDirectory("msinkh").toString + "/t"
    ManifestSink.append(Seq((1L, "a"), (2L, "b")).toDF("k", "t"), dir) // v0
    ManifestSink.append(Seq((3L, "c")).toDF("k", "t"), dir) // v1
    ManifestSink.merge(Seq((1L, "A")).toDF("k", "t"), dir, Seq("k")) // v2
    ManifestSink.deleteKeysMergeOnRead(
      Seq(3L).toDF("k"), dir, Seq("k")) // v3
    ManifestSink.restore(spark, dir, 2L) // v4: drops only the tombstone
    val h = ManifestSink.history(spark, dir)
      .orderBy($"version").collect()
    assert(h.map(_.getString(2)).toSeq ===
      Seq("create", "append", "rewrite", "delete", "shrink"))
    // v0: one entry, two rows in
    assert(h(0).getLong(3) === 1L && h(0).getAs[Long]("rows_added") === 2L)
    // v2: merge rewrote exactly the touched batch, rows conserved
    assert(h(2).getLong(3) === 1L && h(2).getLong(4) === 1L)
    assert(h(2).getAs[Long]("rows_added") === 2L)
    assert(h(2).getAs[Long]("rows_removed") === 2L)
    // v3: tombstone-only commit — no data rows moved
    assert(h(3).getLong(5) === 1L)
    assert(h(3).getAs[Long]("rows_added") === 0L)
    // v4: restore(2) re-lists v2's entries — the only diff is the
    // dropped tombstone: nothing added, no DATA rows removed
    assert(h(4).getLong(3) === 0L && h(4).getLong(4) === 1L)
    assert(h(4).getAs[Long]("rows_removed") === 0L) // tomb excluded
    // ts header monotone non-decreasing across the chain
    val ts = h.map(_.getAs[Long]("ts_millis"))
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
  }

  test("token blooms prune term lookups to the batches that saw the term") {
    import spark.implicits._
    val dir = Files.createTempDirectory("msinktb").toString + "/t"
    ManifestSink.appendWithStats(
      Seq((1L, "alpha beta shared"), (2L, "beta gamma shared"))
        .toDF("id", "text"), dir, Seq("id"), tokenBloomCols = Seq("text"))
    ManifestSink.appendWithStats(
      Seq((3L, "delta epsilon shared")).toDF("id", "text"),
      dir, Seq("id"), tokenBloomCols = Seq("text"))
    // a term unique to batch 1 prunes batch 2 (and vice versa)
    val (k1, s1) = ManifestSink.prunedEntriesToken(spark, dir, "text", "alpha")
    assert(k1.size === 1 && s1.size === 1)
    val (k2, s2) = ManifestSink.prunedEntriesToken(spark, dir, "text", "delta")
    assert(k2.size === 1 && s2.size === 1)
    // a term both batches saw keeps both; an unseen term keeps none
    assert(ManifestSink.prunedEntriesToken(spark, dir, "text", "shared")
      ._1.size === 2)
    assert(ManifestSink.prunedEntriesToken(spark, dir, "text", "zzmissing")
      ._1.isEmpty)
    // exactness through the pruned read path
    assert(ManifestSink.readContainingToken(spark, dir, "text", "beta")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(ManifestSink.readContainingToken(spark, dir, "text", "zzmissing")
      .count() === 0)
    // partial-token and substring matches must NOT fire: membership is
    // token-exact, not LIKE
    assert(ManifestSink.readContainingToken(spark, dir, "text", "bet")
      .count() === 0)
    // a commit WITHOUT a token bloom is never filtered out
    ManifestSink.append(Seq((4L, "zeta")).toDF("id", "text"), dir)
    val (k3, _) = ManifestSink.prunedEntriesToken(spark, dir, "text", "alpha")
    assert(k3.size === 2, "stat-less entry survives every term lookup")
    assert(ManifestSink.readContainingToken(spark, dir, "text", "zeta")
      .collect().map(_.getLong(0)).toSet === Set(4L))
  }

  test("commitAnomalies flags only dribble APPENDS: maintenance commits " +
      "and the first version never alert") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("ms_anom").toString + "/t"
    def b(n: Int, off: Int) =
      (0 until n).map(i => ((off + i).toLong, s"v$i")).toDF("id", "p")
    ManifestSink.append(b(100, 0), dir)           // v0 create
    ManifestSink.append(b(90, 100), dir)          // v1 healthy
    ManifestSink.append(b(3, 200), dir)           // v2 dribble
    ManifestSink.deleteKeysMergeOnRead(           // v3 maintenance
      Seq(Tuple1(5L)).toDF("id"), dir, Seq("id"))
    ManifestSink.append(b(80, 300), dir)          // v4 healthy again
    val rows = ManifestSink.commitAnomalies(spark, dir)
      .orderBy(col("version")).collect()
      .map(r => (r.getLong(0), r.getBoolean(3)))
    assert(rows.toSeq === Seq((0L, false), (1L, false), (2L, true),
      (4L, false)), s"got ${rows.toSeq}")
    // a stricter factor flags the 90-row batch too
    val strict = ManifestSink.commitAnomalies(spark, dir, factor = 2L)
      .filter(col("anomalous")).select(col("version"))
      .collect().map(_.getLong(0)).toSet
    assert(strict === Set(2L))
    // factor 1 = "smaller than any prior batch": flags every sub-max one
    val stricter = ManifestSink.commitAnomalies(spark, dir, factor = 1L)
      .filter(col("anomalous")).select(col("version"))
      .collect().map(_.getLong(0)).toSet
    assert(stricter === Set(1L, 2L, 4L))
  }

  test("equi-depth histograms: hand-checked estimates, degenerate " +
      "buckets, multi-entry sums, absence degradation") {
    val dir = Files.createTempDirectory("msinkeh").toString + "/t"
    // 1..16 → boundaries at ranks 2,4..16 = even values, 2 rows/bucket
    ManifestSink.appendWithStats((1L to 16L).toDF("v"), dir,
      statsCols = Nil, histCols = Seq("v"))
    def est(lo: Double, hi: Double) =
      ManifestSink.rangeEstimateMicro(spark, dir, "v", lo, hi)
    assert(est(1.0, 16.0) === Some(16000000L)) // full table, exact
    // [3,5]: half of bucket [2,4] + half of bucket [4,6]
    assert(est(3.0, 5.0) === Some(2000000L))
    assert(est(100.0, 200.0) === Some(0L)) // disjoint
    // second entry doubles every estimate (per-entry sums)
    ManifestSink.appendWithStats((1L to 16L).toDF("v"), dir,
      statsCols = Nil, histCols = Seq("v"))
    assert(est(1.0, 16.0) === Some(32000000L))
    // degenerate: a single-value batch is all-or-nothing
    val dir2 = Files.createTempDirectory("msinkeh2").toString + "/t"
    ManifestSink.appendWithStats(
      Seq.fill(10)(7L).toDF("v"), dir2, Nil, histCols = Seq("v"))
    assert(ManifestSink.rangeEstimateMicro(spark, dir2, "v", 0.0, 100.0)
      === Some(10000000L))
    assert(ManifestSink.rangeEstimateMicro(spark, dir2, "v", 8.0, 9.0)
      === Some(0L))
    // double-typed column takes the 'D' codec
    val dir3 = Files.createTempDirectory("msinkeh3").toString + "/t"
    ManifestSink.appendWithStats(
      (1 to 16).map(_ * 0.5).toDF("v"), dir3, Nil, histCols = Seq("v"))
    assert(ManifestSink.rangeEstimateMicro(spark, dir3, "v", 0.5, 8.0)
      === Some(16000000L))
    // any histogram-less entry degrades the whole answer to None
    ManifestSink.append(Seq(99L).toDF("v"), dir)
    assert(est(1.0, 16.0) === None)
  }

  test("compactBalanced: metadata-only cuts balance the layout and " +
      "range scans prune to overlapping shards") {
    val dir = Files.createTempDirectory("msinkbal").toString + "/t"
    // two skewed-SIZE appends of a uniform 0..599 value space
    ManifestSink.appendWithStats(spark.range(0, 500).toDF("v"), dir,
      statsCols = Seq("v"), histCols = Seq("v"))
    ManifestSink.appendWithStats(spark.range(500, 600).toDF("v"), dir,
      statsCols = Seq("v"), histCols = Seq("v"))
    val cuts = ManifestSink.compactBalanced(spark, dir, "v", 6).get
    assert(cuts.size === 5 && cuts === cuts.sorted)
    // content identical through the rewrite
    assert(ManifestSink.read(spark, dir).agg(
      org.apache.spark.sql.functions.sum($"v")).head().getLong(0)
      === (0L until 600L).sum)
    // balanced: every shard within ±20% of the uniform share
    val perShard = ManifestSink.filesReport(spark, dir, Seq("v"))
      .collect().map(_.getLong(1))
    assert(perShard.length === 6)
    assert(perShard.forall(n => n >= 80 && n <= 120),
      s"unbalanced shards: ${perShard.toSeq}")
    // a narrow range now prunes to the shard(s) it overlaps
    val (kept, skipped) = ManifestSink.prunedEntries(spark, dir,
      Seq(ManifestSink.Range("v", Some(10L), Some(20L))))
    assert(kept.size <= 2 && skipped.size >= 4,
      s"kept ${kept.size}, skipped ${skipped.size}")
    // the rewritten entries carry fresh histograms: cuts still answer
    assert(ManifestSink.histogramCuts(spark, dir, "v", 4).isDefined)
    // a histogram-less table refuses (None) instead of sampling
    val dir2 = Files.createTempDirectory("msinkbal2").toString + "/t"
    ManifestSink.append(spark.range(0, 100).toDF("v"), dir2)
    assert(ManifestSink.compactBalanced(spark, dir2, "v", 4) === None)
    assert(ManifestSink.version(spark, dir2) === 0L) // nothing rewritten
  }

  /** Entry lines of one committed manifest file (the planned rewrite's
    * base / its content-identical rewriteLines in the rebase tests). */
  private def manifestLinesOf(dir: String, v: Long): Seq[String] =
    java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(dir, "_manifests",
        s"$v.manifest"))
      .toArray(Array.ofDim[String](0)).toSeq
      .filterNot(_.startsWith("#"))

  test("appendAudited: red audits publish nothing, green ones append") {
    val dir = Files.createTempDirectory("msinkwap").toString + "/t"
    def audit(df: org.apache.spark.sql.DataFrame): Seq[String] =
      if (df.filter($"v" < 0).count() > 0) Seq("negative v") else Nil
    assert(ManifestSink.appendAudited(
      spark.range(0, 10).toDF("v"), dir, audit) === Right(0L))
    // red: no version, no visible rows — only an unreferenced orphan
    assert(ManifestSink.appendAudited(
      spark.range(-5, 0).toDF("v"), dir, audit) === Left(Seq("negative v")))
    assert(ManifestSink.version(spark, dir) === 0L)
    assert(ManifestSink.read(spark, dir).count() === 10L)
    assert(ManifestSink.vacuum(spark, dir).size === 1) // staged orphan
    // the pipeline continues green after a refusal
    assert(ManifestSink.appendAudited(
      spark.range(10, 15).toDF("v"), dir, audit) === Right(1L))
    assert(ManifestSink.read(spark, dir).count() === 15L)
  }

  test("readTopK equals the full sort at every pruning decision") {
    val dir = Files.createTempDirectory("msinktopk").toString + "/t"
    // three stats-carrying range batches + one stats-LESS batch (it can
    // never be pruned, whatever its values)
    ManifestSink.appendWithStats(spark.range(0, 100).toDF("v"), dir,
      statsCols = Seq("v"))
    ManifestSink.appendWithStats(spark.range(100, 200).toDF("v"), dir,
      statsCols = Seq("v"))
    ManifestSink.appendWithStats(spark.range(200, 300).toDF("v"), dir,
      statsCols = Seq("v"))
    ManifestSink.append(spark.range(150, 160).toDF("v"), dir)
    def full(k: Int) = ManifestSink.read(spark, dir)
      .orderBy($"v".desc).limit(k).collect().map(_.getLong(0)).toSeq
    val (top5, kept, skipped) = ManifestSink.readTopK(spark, dir, "v", 5)
    assert(top5.collect().map(_.getLong(0)).toSeq === full(5))
    // the two provably-low stats batches are skipped; the stats-less
    // one is read regardless (never-a-filter)
    assert(skipped.size === 2 && kept.size === 2)
    // a tombstone lowers the threshold but the answer stays exact
    ManifestSink.deleteKeysMergeOnRead(
      spark.range(295, 300).toDF("v"), dir, Seq("v"))
    val (top5t, _, _) = ManifestSink.readTopK(spark, dir, "v", 5)
    assert(top5t.collect().map(_.getLong(0)).toSeq
      === Seq(294L, 293L, 292L, 291L, 290L))
    // k beyond the table degrades to reading everything, still exact
    val (all, keptAll, skippedAll) =
      ManifestSink.readTopK(spark, dir, "v", 1000)
    assert(all.count() === 305L && skippedAll.isEmpty
      && keptAll.size === 4)
  }

  test("maintenance rebase: compaction lands over an interleaved append") {
    // deterministic interleaving through the CAS helper itself: plan a
    // content-identical rewrite of v0, let an append win v1, publish —
    // the rebase carries the interloper's entry after the rewrite
    val dir = Files.createTempDirectory("msinkreb").toString + "/t"
    ManifestSink.append(spark.range(0, 10).toDF("v"), dir) // v0 (planned)
    val rewrite = manifestLinesOf(dir, 0L)
    ManifestSink.append(spark.range(10, 20).toDF("v"), dir) // interloper v1
    val v = ManifestSink.commitRewriteLines(spark, dir, 0L, rewrite,
      Map.empty)
    assert(v === 2L)
    val got = ManifestSink.read(spark, dir)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (0L until 20L)) // nothing lost, nothing doubled
    assert(ManifestSink.readAt(spark, dir, 1L).count() === 20L) // travel
  }

  test("maintenance rebase: a carried MoR tombstone filters the rewrite") {
    // serialization "maintenance first, then the interloper": a delete
    // committed after the rewrite was planned still deletes — the
    // carried tombstone line lands after the rewritten entry, so it
    // filters the rewritten copies of the deleted keys too
    val dir = Files.createTempDirectory("msinkrebt").toString + "/t"
    ManifestSink.append(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), dir) // v0
    val rewrite = manifestLinesOf(dir, 0L)
    ManifestSink.deleteKeysMergeOnRead(Seq(2L).toDF("k"), dir,
      Seq("k")) // interloper v1: tombstone-only commit
    val v = ManifestSink.commitRewriteLines(spark, dir, 0L, rewrite,
      Map.empty)
    assert(v === 2L)
    assert(ManifestSink.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("maintenance rebase aborts loudly on a concurrent rewrite") {
    // a replace invalidates the planned snapshot structurally (its
    // entries are not an append-extension of v0) — no sound automatic
    // serialization exists, so the maintenance commit must fail loudly
    val dir = Files.createTempDirectory("msinkrebc").toString + "/t"
    ManifestSink.append(spark.range(0, 10).toDF("v"), dir) // v0 (planned)
    val rewrite = manifestLinesOf(dir, 0L)
    ManifestSink.replace(spark.range(100, 105).toDF("v"), dir) // v1
    val e = intercept[IllegalArgumentException] {
      ManifestSink.commitRewriteLines(spark, dir, 0L, rewrite, Map.empty)
    }
    assert(e.getMessage.contains("concurrent REWRITE"))
    assert(ManifestSink.version(spark, dir) === 1L) // nothing published
  }

  test("compaction commutes with live appenders end to end") {
    // the OPTIMIZE-under-a-streaming-writer shape: 4 appender threads
    // race 3 mid-stream compactions; every commit lands (the old
    // single-writer contract failed the compaction on ANY lost race)
    // and the final content is exactly the union of all appends
    val dir = Files.createTempDirectory("msinkrace").toString + "/t"
    ManifestSink.append(spark.range(0, 10).toDF("v"), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val appenders = (0 until 4).map { t =>
      scala.concurrent.Future {
        (0 until 4).foreach { i =>
          val k = t * 4 + i
          ManifestSink.append(
            spark.range(10 + k * 10L, 20 + k * 10L).toDF("v"), dir)
        }
      }
    }
    val compactor = scala.concurrent.Future {
      (0 until 3).foreach { _ =>
        Thread.sleep(40)
        ManifestSink.compact(spark, dir, statsCols = Seq("v"))
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(appenders :+ compactor),
      scala.concurrent.duration.Duration(300, "s"))
    pool.shutdown()
    val got = ManifestSink.read(spark, dir)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (0L until 170L)) // 17 disjoint decades, each once
    // and a quiet-table rewrite still lands after the dust settles
    ManifestSink.compact(spark, dir, statsCols = Seq("v"))
    assert(ManifestSink.read(spark, dir).count() === 170L)
  }

  test("maintenancePlan: thresholds, the single-small rule, and " +
      "convergence after executing the flagged actions") {
    val dir = Files.createTempDirectory("msinkplan").toString + "/t"
    def plan(minRows: Long, maxTomb: Int) =
      ManifestSink.maintenancePlan(spark, dir, minRows, maxTomb)
        .map { case (a, f, n, r) => a -> ((f, n, r)) }.toMap
    // one small entry: nothing to merge with — never fired
    ManifestSink.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    assert(plan(10L, 1)("compact_small") === ((false, 1L, 2L)))
    assert(plan(10L, 1)("purge_debt") === ((false, 0L, 0L)))
    // a second small entry fires the merge with the exact rewrite size
    ManifestSink.append(Seq((3L, "c")).toDF("k", "v"), dir)
    assert(plan(10L, 1)("compact_small") === ((true, 2L, 3L)))
    // entries at/above the threshold are not targets
    assert(plan(2L, 1)("compact_small") === ((false, 1L, 1L)))
    // MoR debt counts tombstone entries against the threshold
    ManifestSink.mergeOnRead(Seq((2L, "B")).toDF("k", "v"), dir, Seq("k"))
    assert(plan(10L, 2)("purge_debt") === ((false, 1L, 0L)))
    assert(plan(10L, 1)("purge_debt") === ((true, 1L, 0L)))
    // executing the flagged actions converges the plan
    ManifestSink.compactSmall(spark, dir, 10L)
    ManifestSink.compact(spark, dir)
    assert(plan(2L, 1) ===
      Map("compact_small" -> ((false, 0L, 0L)),
        "purge_debt" -> ((false, 0L, 0L))))
    assert(ManifestSink.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("history after vacuum starts at the vacuum floor with exact " +
      "row accounting") {
    import spark.implicits._
    val dir = Files.createTempDirectory("msinkhv").toString + "/t"
    ManifestSink.append(Seq(1L, 2L).toDF("k"), dir) // v0
    ManifestSink.append(Seq(3L).toDF("k"), dir) // v1
    ManifestSink.append(Seq(4L, 5L, 6L).toDF("k"), dir) // v2
    ManifestSink.vacuum(spark, dir, keepVersions = 1)
    val h = ManifestSink.history(spark, dir).orderBy($"version").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq === Seq(2L))
    assert(h(0).getAs[String]("kind") === "append")
    assert(h(0).getAs[Long]("n_added") === 1L)
    assert(h(0).getAs[Long]("rows_added") === 3L)
  }

  test("history after vacuum has reclaimed the floor's parent manifest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("msinkhv2").toString + "/t"
    val saved = ManifestSink.manifestCheckpointEvery
    ManifestSink.manifestCheckpointEvery = 2 // v0, v2 full; v1, v3 deltas
    try {
      ManifestSink.append(Seq(1L, 2L).toDF("k"), dir) // v0
      ManifestSink.append(Seq(3L).toDF("k"), dir) // v1
      ManifestSink.append(Seq(4L, 5L, 6L).toDF("k"), dir) // v2
      ManifestSink.append(Seq(7L).toDF("k"), dir) // v3
    } finally ManifestSink.manifestCheckpointEvery = saved
    ManifestSink.vacuum(spark, dir, keepVersions = 2)
    val v0 = java.nio.file.Paths.get(s"$dir/_manifests/0.manifest")
    assert(!Files.exists(v0), "vacuum must reclaim v0's manifest")
    val h = ManifestSink.history(spark, dir).orderBy($"version").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq === Seq(2L, 3L))
    // v2 is a full snapshot whose parent is gone: every entry is added
    assert(h(0).getAs[Long]("n_added") === 3L)
    assert(h(0).getAs[Long]("rows_added") === 6L)
    assert(h(1).getAs[String]("kind") === "append")
    assert(h(1).getAs[Long]("rows_added") === 1L)
  }
}

object ManifestSinkSpec {
  import java.nio.file.Paths
  import scala.jdk.CollectionConverters._

  /** The names under a table's `_latest.d` hint directory. */
  def hintNames(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir, "_latest.d"))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** Remove the table's head hint, as a crash before its first refresh
    * would leave it. */
  def dropHint(dir: String): Unit = {
    val hd = Paths.get(dir, "_latest.d")
    if (Files.isDirectory(hd)) {
      hintNames(dir).foreach(n => Files.delete(hd.resolve(n)))
      Files.delete(hd)
    }
  }

  /** Replace the table's head hint with exactly the names `names`. */
  def plantHint(dir: String, names: String*): Unit = {
    dropHint(dir)
    val hd = Files.createDirectories(Paths.get(dir, "_latest.d"))
    names.foreach(n => Files.createFile(hd.resolve(n)))
  }
}
