package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Contract of the delta-manifest commit log ([[ManifestSink
  * .manifestCheckpointEvery]]): appends publish only their own entry
  * lines plus a `delta.base` link; checkpoints and every rewrite publish
  * full snapshots; RESOLUTION is byte-identical to the legacy
  * full-snapshot-per-commit format at every version. */
class DeltaManifestSpec extends SparkSpec {
  import spark.implicits._
  import ManifestSinkSpec.{dropHint, plantHint}

  private def raw(dir: String, v: Long): Seq[String] =
    new String(Files.readAllBytes(
      Paths.get(s"$dir/_manifests/$v.manifest")))
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)

  private def isDelta(dir: String, v: Long): Boolean =
    raw(dir, v).exists(_.startsWith("#delta.base="))

  private def withEvery[A](n: Int)(body: => A): A = {
    val saved = ManifestSink.manifestCheckpointEvery
    ManifestSink.manifestCheckpointEvery = n
    try body finally ManifestSink.manifestCheckpointEvery = saved
  }

  private def batch(i: Int): DataFrame =
    Seq((i.toLong, s"b$i")).toDF("k", "v")

  test("resolution is byte-identical to the legacy format at every " +
      "version; deltas carry only their own lines") {
    val root = Files.createTempDirectory("dman").toString
    val legacy = root + "/legacy"
    val delta = root + "/delta"
    withEvery(1)((0 until 10).foreach(i =>
      ManifestSink.append(batch(i), legacy)))
    withEvery(4)((0 until 10).foreach(i =>
      ManifestSink.append(batch(i), delta)))
    (0L to 9L).foreach { v =>
      // resolved entry lists agree line for line (modulo the data-dir
      // UUIDs: compare counts + stats shape via suffix after the path)
      val l = ManifestSink.manifestEntries(spark, legacy, v)
      val d = ManifestSink.manifestEntries(spark, delta, v)
      assert(l.size === d.size, s"v$v")
      assert(ManifestSink.readAt(spark, delta, v).collect().map(
          r => (r.getLong(0), r.getString(1))).toSet ===
        ManifestSink.readAt(spark, legacy, v).collect().map(
          r => (r.getLong(0), r.getString(1))).toSet, s"v$v")
    }
    // shape: v0 full (no base), v1-v3 deltas of ONE entry line each,
    // v4 full checkpoint, v5 delta again
    assert(!isDelta(delta, 0))
    (1L to 3L).foreach { v =>
      assert(isDelta(delta, v), s"v$v should be a delta")
      assert(raw(delta, v).count(!_.startsWith("#")) === 1, s"v$v")
    }
    assert(!isDelta(delta, 4))
    assert(raw(delta, 4).count(!_.startsWith("#")) === 5)
    assert(isDelta(delta, 5))
  }

  test("a rewrite is always a full snapshot and deltas chain onto it") {
    withEvery(8) {
      val dir = Files.createTempDirectory("dmanrw").toString + "/t"
      (0 until 4).foreach(i => ManifestSink.append(batch(i), dir))
      assert(isDelta(dir, 3))
      val vc = ManifestSink.compact(spark, dir) // rewrite => checkpoint
      assert(!isDelta(dir, vc))
      val va = ManifestSink.append(batch(99), dir)
      assert(isDelta(dir, va))
      assert(ManifestSink.read(spark, dir).count() === 5)
      // resolution of the post-compact delta walks one hop, not to v0
      assert(ManifestSink.manifestEntries(spark, dir, va).nonEmpty)
    }
  }

  test("vacuum keeps the delta-chain bases of retained versions and " +
      "still fails loudly past the reclaimed horizon") {
    withEvery(4) {
      val dir = Files.createTempDirectory("dmanvac").toString + "/t"
      (0 until 6).foreach(i => ManifestSink.append(batch(i), dir))
      // v4 is the checkpoint, v5 the head delta; keepVersions=1 keeps
      // v5 => its chain {4,5} must survive, v0-v3 manifests reclaimed
      ManifestSink.vacuum(spark, dir, keepVersions = 1)
      assert(ManifestSink.read(spark, dir).count() === 6)
      assert(ManifestSink.readAt(spark, dir, 5L).count() === 6)
      // the chain base stays readable (benign over-delivery: its data
      // is a prefix of the head's, nothing extra held on disk)
      assert(ManifestSink.readAt(spark, dir, 4L).count() === 5)
      // a version whose manifest was reclaimed says why
      val e = intercept[IllegalStateException] {
        ManifestSink.readAt(spark, dir, 2L).collect()
      }
      assert(e.getMessage.contains("retention horizon"))
    }
  }

  test("headers ride every delta fully; delta.base never leaks into a " +
      "carried-forward header") {
    withEvery(4) {
      val dir = Files.createTempDirectory("dmanhdr").toString + "/t"
      ManifestSink.appendWithHeader(batch(0), dir,
        header = Map("model" -> "m1"))
      val v1 = ManifestSink.appendWithHeader(batch(1), dir,
        header = Map("model" -> "m2"))
      assert(isDelta(dir, v1))
      // the delta's own header is complete (merged), readable directly
      assert(ManifestSink.manifestHeader(spark, dir, v1)("model") === "m2")
      (2 until 5).foreach(i => ManifestSink.append(batch(i), dir))
      // v4 is a full checkpoint: carried header intact, no delta link
      assert(!isDelta(dir, 4L))
      val h4 = ManifestSink.manifestHeader(spark, dir, 4L)
      assert(h4("model") === "m2")
      assert(!h4.contains("delta.base"))
    }
  }

  test("version() forward-probes from the hint; stale, torn, or " +
      "missing hints never roll the head back") {
    withEvery(4) {
      val dir = Files.createTempDirectory("dmanver").toString + "/t"
      (0 until 6).foreach(i => ManifestSink.append(batch(i), dir))
      assert(ManifestSink.version(spark, dir) === 5L)
      // stale name: probe walks forward to the true head
      plantHint(dir, "2")
      assert(ManifestSink.version(spark, dir) === 5L)
      // a non-numeric name (what a torn single-file hint would read as)
      // is ignored: no hint, listing fallback
      plantHint(dir, "garbage")
      assert(ManifestSink.version(spark, dir) === 5L)
      // missing hint: listing fallback
      dropHint(dir)
      assert(ManifestSink.version(spark, dir) === 5L)
      // hint pointing past the head (never written by the engine):
      // nonexistent manifest => listing fallback
      plantHint(dir, "3", "99")
      assert(ManifestSink.version(spark, dir) === 5L)
      // and a vacuum refreshes the hint before reclaiming, so the
      // post-vacuum probe anchors on the live region
      ManifestSink.append(batch(6), dir)
      ManifestSink.vacuum(spark, dir, keepVersions = 1)
      assert(ManifestSink.version(spark, dir) === 6L)
      assert(ManifestSink.read(spark, dir).count() === 7)
    }
  }

  test("the vacuum floor keeps the forward probe sound across gap " +
      "islands: a hint inside a protected island below the horizon " +
      "falls back to the listing instead of walking into a gap") {
    withEvery(4) {
      val dir = Files.createTempDirectory("dmanisl").toString + "/t"
      (0 until 9).foreach(i => ManifestSink.append(batch(i), dir))
      // keep head v8 (a checkpoint), protect v1 (chain {0,1}) — the
      // vacuum reclaims manifests 2..7, leaving {0,1} as an ISLAND
      // inside the reclaimed range, below the persisted floor
      ManifestSink.vacuum(spark, dir, keepVersions = 1,
        protectVersions = Seq(1L))
      assert(ManifestSink.readAt(spark, dir, 1L).count() === 2)
      intercept[IllegalStateException] {
        ManifestSink.readAt(spark, dir, 3L).collect()
      }
      // force the hint into the island: without the floor the probe
      // would walk 1 -> (2 missing) and report a STALE head 1; a writer
      // anchored there would then publish into the reclaimed slot 2,
      // forking history. The floor routes this to the listing.
      plantHint(dir, "1")
      assert(ManifestSink.version(spark, dir) === 8L)
      // and a commit through the same anchor lands at 9, never 2
      val v = ManifestSink.append(batch(99), dir)
      assert(v === 9L)
      assert(ManifestSink.read(spark, dir).count() === 10)
    }
  }

  test("the vacuum floor is create-only and crash-proof: versioned " +
      "name files, monotonic max, legacy file absorbed, no write step " +
      "that can erase it") {
    withEvery(4) {
      val dir = Files.createTempDirectory("dmanflr").toString + "/t"
      (0 until 6).foreach(i => ManifestSink.append(batch(i), dir))
      ManifestSink.vacuum(spark, dir, keepVersions = 1)
      // floor keepFrom=5 persisted as a NAME (value-in-filename: no
      // torn-content mode, and creation precedes every delete so no
      // crash point leaves the floor missing — the r14 advice hole)
      val fd = Paths.get(dir, "_vacuum_floor.d")
      // numeric names only: readers ignore any other name
      def floors(): Seq[String] = Files.list(fd).toArray
        .map(p => Paths.get(p.toString).getFileName.toString).toSeq
        .filter(_.forall(_.isDigit)).sorted
      assert(floors() === Seq("5"))
      // a later, larger vacuum raises the floor and prunes the old name
      (6 until 9).foreach(i => ManifestSink.append(batch(i), dir))
      ManifestSink.vacuum(spark, dir, keepVersions = 1)
      assert(floors() === Seq("8"))
      // an EMPTY versioned floor file (creation torn mid-write) still
      // carries its value through the name: probes below it refuse the
      // walk, the listing still finds the true head
      Files.createFile(fd.resolve("42"))
      plantHint(dir, "8")
      assert(ManifestSink.version(spark, dir) === 8L)
      Files.delete(fd.resolve("42"))
      // legacy single-file floors from earlier builds are max'd in and
      // absorbed by the next vacuum (monotonic: the higher legacy value
      // wins over this vacuum's smaller keepFrom)
      Files.writeString(Paths.get(dir, "_vacuum_floor"), "11")
      ManifestSink.append(batch(99), dir) // v9
      ManifestSink.vacuum(spark, dir, keepVersions = 1) // keepFrom 9 < 11
      assert(!Files.exists(Paths.get(dir, "_vacuum_floor")))
      assert(floors() === Seq("11"))
      assert(ManifestSink.version(spark, dir) === 9L)
      // a TORN legacy floor aborts the vacuum (value unknowable;
      // writing any new floor could lower it) and reclaims nothing
      Files.writeString(Paths.get(dir, "_vacuum_floor"), "garbage")
      val e = intercept[IllegalStateException] {
        ManifestSink.vacuum(spark, dir, keepVersions = 1)
      }
      assert(e.getMessage.contains("_vacuum_floor"))
      assert(ManifestSink.read(spark, dir).count() === 10)
    }
  }

  test("vacuum refuses to reclaim when the _latest hint cannot be " +
      "persisted, and a completed vacuum always leaves a fresh hint") {
    withEvery(4) {
      val dir = Files.createTempDirectory("dmanhint").toString + "/t"
      (0 until 6).foreach(i => ManifestSink.append(batch(i), dir))
      // positive half: a completed vacuum's hint IS the head (the
      // probe anchors O(1), never the listing)
      ManifestSink.vacuum(spark, dir, keepVersions = 2)
      assert(ManifestSinkSpec.hintNames(dir) === Seq("5"))
      // negative half: make the hint unwritable (a regular file
      // squatting on the marker directory's name) and the vacuum must
      // fail BEFORE reclaiming any manifest: a raised floor with a
      // lagging hint would put every future version() on the O(V)
      // listing path (r14 verdict: the Nth silent hint loss)
      dropHint(dir)
      val hd = Files.createFile(Paths.get(dir, "_latest.d"))
      intercept[java.io.IOException] {
        ManifestSink.vacuum(spark, dir, keepVersions = 1)
      }
      assert(Files.exists(Paths.get(s"$dir/_manifests/4.manifest")),
        "manifests must survive an aborted vacuum")
      Files.delete(hd)
      assert(ManifestSink.version(spark, dir) === 5L)
    }
  }

  test("a legacy single-file _latest hint anchors version() and the " +
      "first commit replaces it with a marker") {
    val dir = Files.createTempDirectory("dmanleg").toString + "/t"
    (0 until 6).foreach(i => ManifestSink.append(batch(i), dir))
    // a table last written by an earlier build: only `_latest` = 4
    dropHint(dir)
    Files.writeString(Paths.get(dir, "_latest"), "4")
    // a manifest beyond a gap is visible to the listing only, so
    // reading 5 (not 9) proves version() probed forward from the
    // legacy hint
    val far = Paths.get(s"$dir/_manifests/9.manifest")
    Files.copy(Paths.get(s"$dir/_manifests/5.manifest"), far)
    assert(ManifestSink.version(spark, dir) === 5L)
    Files.delete(far)
    // the first commit by this build writes the marker and deletes the
    // legacy file
    assert(ManifestSink.append(batch(6), dir) === 6L)
    assert(!Files.exists(Paths.get(dir, "_latest")))
    assert(ManifestSinkSpec.hintNames(dir) === Seq("6"))
    assert(ManifestSink.read(spark, dir).count() === 7)
  }

  test("manifestHeader never exposes the structural delta.base key, " +
      "at delta versions or checkpoints") {
    withEvery(4) {
      val dir = Files.createTempDirectory("dmanpub").toString + "/t"
      ManifestSink.appendWithHeader(batch(0), dir,
        header = Map("model" -> "m1"))
      val v1 = ManifestSink.append(batch(1), dir)
      assert(isDelta(dir, v1)) // the RAW manifest carries the link...
      val h = ManifestSink.manifestHeader(spark, dir, v1)
      assert(h("model") === "m1") // ...the public header carries only
      assert(!h.contains("delta.base")) // commit metadata (r14 advice)
    }
  }

  test("exactly-once epoch markers and row counts survive the delta " +
      "format") {
    withEvery(4) {
      val dir = Files.createTempDirectory("dmaneo").toString + "/t"
      (0 until 3).foreach(i =>
        ManifestSink.appendOnce(batch(i), dir, i.toLong))
      // a replayed epoch is a no-op whatever the manifest shape
      val v = ManifestSink.version(spark, dir)
      ManifestSink.appendOnce(batch(1), dir, 1L)
      assert(ManifestSink.version(spark, dir) === v)
      assert(ManifestSink.rowCount(spark, dir) === Some(3L))
    }
  }
}
