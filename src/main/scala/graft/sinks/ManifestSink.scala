package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Observed.{longOr0, observed, observedLong}

/** Manifest-committed parquet sink: snapshot isolation without renaming
  * data files.
  *
  * Layout:
  * {{{
  *   dir/data/<batch-uuid>/part-*.parquet   — immutable once written
  *   dir/_manifests/<version>.manifest      — newline list of data dirs,
  *     each optionally `\t`-suffixed with per-column min/max stats
  *     (the [[readWhere]] file-skipping metadata; see [[Entry]])
  *   dir/_latest.d/<version>                — head hint: an empty
  *     file whose NAME is the version (largest name wins)
  *   dir/_vacuum_floor.d/<version>          — vacuum floor, same form
  * }}}
  *
  * A commit writes new data files, then publishes the next manifest via
  * write-temp + rename to a NEVER-REUSED name (`<version>.manifest`) —
  * that single rename of a small file is the commit point, and because
  * the target name never pre-exists, no delete precedes it: there is no
  * instant at which the sink has fewer committed versions than before.
  * The current version is the LARGEST numbered manifest present;
  * `_latest.d` is only a one-read fast-path hint, refreshed after
  * commit by creating a name (never by replacing a file; see
  * [[markerNames]]) and cross-checked against the listing (a stale or
  * missing hint — e.g. a crash between the manifest rename and the
  * hint write — is repaired by the listing, never trusted over it).
  * Readers resolve version → manifest → file list, so they always see
  * a complete snapshot: never a half-written batch, never a
  * half-compacted swap (the failure mode directory-rename sinks have
  * on object stores where rename is copy+delete). Unreferenced data
  * from `replace` commits stays on disk until [[vacuum]] — the same
  * write-new/flip-pointer/collect-garbage protocol as log-structured
  * table formats, reduced to the minimum the engine needs.
  *
  * Concurrency: publishing a manifest name is a CONDITIONAL PUT —
  * exactly one of any concurrent publishers of a name succeeds — but
  * the primitive that provides it is per-scheme (see [[tryPublishNew]]):
  * hard-link creation on local FS, rename-without-overwrite on HDFS, and
  * on object stores a registered [[registerConditionalPut]] seam (their
  * rename is a non-atomic copy+delete, NOT a conditional put — the sink
  * refuses to run there rather than lose commits silently). [[append]] /
  * [[appendWithStats]] exploit the exclusivity for full multi-writer
  * safety: appends commute, so a loser rebases its entry onto the
  * winner's snapshot and retries — optimistic concurrency's blind-append
  * fast path. CONTENT-IDENTICAL maintenance commits (the [[compact]]
  * family) also rebase, over a restricted interloper set: commits that
  * only APPENDED lines (data entries and/or tombstones) carry forward
  * after the rewrite, serialized as "maintenance first, then the
  * interleaved commits" (see [[commitRewriteLines]]) — so nightly
  * compaction and a live streaming writer never starve each other, the
  * OPTIMIZE-commutes-with-ingestion property a 100 TB table needs.
  * DATA-CHANGING rewrites (replace / merge / delete) compute their
  * output from what they read, so a concurrent commit genuinely
  * invalidates them: they keep the single-writer contract and fail
  * loudly on a lost race (the reference is single-writer throughout,
  * pipeline.py WAL mode).
  */
object ManifestSink {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Conditional-put implementations for schemes where neither built-in
    * path is safe (object stores). Registered via
    * [[registerConditionalPut]]; e.g. an S3 seam would issue a
    * `PutObject` with `If-None-Match: *` and map 412 → false. */
  private val extraConditionalPuts =
    new java.util.concurrent.ConcurrentHashMap[
      String, (FileSystem, Path, String) => Boolean]()

  /** Plug a conditional-put primitive for a URI scheme: `put(fs, path,
    * content)` must atomically publish `content` at `path` iff the name
    * does not exist, returning whether THIS caller won the name.
    *
    * Prove an implementation with [[ConditionalPutContract.check]] —
    * the same contention harness the built-in hard-link and
    * HDFS-rename paths pass (ConditionalPutContractSpec runs all
    * three); [[MemBlobStore.ifNoneMatchPut]] is the reference
    * If-None-Match:* shape a real S3/GCS/Azure seam maps to. */
  def registerConditionalPut(scheme: String,
      put: (FileSystem, Path, String) => Boolean): Unit =
    extraConditionalPuts.put(scheme, put)

  /** Remove a registered seam (test isolation / reconfiguration). */
  def deregisterConditionalPut(scheme: String): Unit =
    extraConditionalPuts.remove(scheme)

  /** Full-snapshot cadence of the DELTA-MANIFEST commit log (the
    * checkpointed-log pattern of the lakehouse formats — Armbrust et
    * al., "Delta Lake: High-Performance ACID Table Storage over Cloud
    * Object Stores", VLDB 2020 — re-expressed over this sink's
    * conditional-put manifests). Every
    * manifest used to be a full snapshot of the entry list, which makes
    * the APPEND hot path O(table files): at the 100 TB shape (~400 k
    * files behind a 2 s streaming commit) every commit re-reads and
    * re-writes an ~80 MB entry list to add one line — manifest churn of
    * petabytes/day, all metadata. An appending commit now writes ONLY
    * its new entries plus a `delta.base` header naming the previous
    * version; every `manifestCheckpointEvery`-th version (and every
    * rewrite: compact, replace, restore, MoR merge — anything that may
    * REMOVE entries) still writes the full snapshot, so resolving any
    * version walks at most `manifestCheckpointEvery − 1` small files
    * back to a checkpoint. Resolution order is checkpoint entries ++
    * deltas in version order — byte-identical to the legacy full
    * snapshot, so tombstone positions, rewrite rebases
    * ([[commitRewriteLines]]'s append-extension check) and
    * [[changedEntries]] diffs are unchanged. `1` = legacy
    * full-snapshot-per-commit (the A/B baseline in MetaSweep;
    * `SPARK_GRAFT_MANIFEST_CKPT=1` runs any main in legacy mode). */
  @volatile var manifestCheckpointEvery: Int =
    sys.env.get("SPARK_GRAFT_MANIFEST_CKPT").map(_.toInt).getOrElse(16)

  /** Header key linking a delta manifest to its base version. Written
    * only by [[commitAppendLines]]; stripped from caller headers and
    * from the carried-forward merge so it can never leak into a full
    * snapshot ([[mergeHeader]]). */
  private[sinks] val DeltaBaseKey = "delta.base"

  /** Schemes whose Hadoop `rename` is a client-side copy+delete — neither
    * atomic nor exclusive — so rename-as-conditional-put would LOSE
    * COMMITS silently. Publishing there requires a registered seam. */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss",
      "oss", "swift", "cos",
      // the in-memory conformance fake ([[MemObjectStoreFileSystem]]):
      // models exactly this rename behavior, so it takes this branch
      "mos")

  /** Attempt to publish `content` at `p`, and report whether THIS writer
    * won the name. The conditional-put primitive is dispatched PER
    * SCHEME, because no single filesystem operation is exclusive
    * everywhere:
    *
    *   - `file`: POSIX rename(2) REPLACES an existing destination, so
    *     local-FS rename is NOT conditional (the lost-commit race the
    *     8-thread spec caught). Hard-LINK creation is the local
    *     conditional put — atomic and EEXIST-exclusive at the syscall
    *     level.
    *   - HDFS (and other schemes with the HDFS rename contract):
    *     rename-without-overwrite fails when the destination exists and
    *     leaves it intact — a true conditional put.
    *   - Object stores (`s3a`, `gs`, `abfs`, …): rename is a non-atomic
    *     copy+delete with NO exclusivity guarantee. Refused loudly
    *     unless a [[registerConditionalPut]] seam is installed (S3 since
    *     2024 supports `If-None-Match: *` PUT — exactly this seam — but
    *     not through `FileSystem.rename`).
    *
    * The temp name embeds a UUID — two writers racing to the same
    * version must never share a temp file, or the winner could publish
    * the loser's content. A losing temp is deleted before returning. */
  private def hardLinkMsg(dst: java.nio.file.Path, e: Throwable): String =
    s"ManifestSink: hard-link publish (the local-scheme atomic " +
      s"EEXIST-exclusive conditional put) failed under '$dst': $e. " +
      "This filesystem appears to lack hard-link support — use a " +
      "hard-link-capable mount or register a conditional-put seam via " +
      "ManifestSink.registerConditionalPut(\"file\", …)."

  /** Capability probe: can `dir`'s mount create hard links at all?
    * Links two fresh empty temp files and cleans up. Only consulted on
    * a createLink failure path, so the extra I/O never taxes a healthy
    * commit; any probe-side error (full disk, races) reads as
    * "inconclusive" = true so the caller preserves the original
    * failure's accurate type. */
  private def canHardLink(dir: java.nio.file.Path): Boolean = {
    import java.nio.file.Files
    val base = java.util.UUID.randomUUID().toString
    val a = dir.resolve(s".linkprobe.$base.a")
    val b = dir.resolve(s".linkprobe.$base.b")
    try {
      try Files.createFile(a)
      catch { case _: java.io.IOException => return true } // can't even
      // stage the probe file (permissions, full disk) — inconclusive
      try { Files.createLink(b, a); true }
      catch {
        // permissions, a concurrently-vanished probe file, or a
        // pre-existing probe-b name (a probe-side collision — UUID
        // naming makes it nearly unreachable, but it is NOT a
        // capability verdict) say nothing about LINK support —
        // inconclusive, mirroring the createFile branch, so an
        // incidental probe failure can't relabel the original commit
        // error as "mount cannot hard-link" (the r12 mislabeling
        // through a narrower window)
        case _: java.nio.file.AccessDeniedException |
            _: java.nio.file.NoSuchFileException |
            _: java.nio.file.FileAlreadyExistsException => true
        case _: java.nio.file.FileSystemException |
            _: UnsupportedOperationException => false
        case _: java.io.IOException => true // inconclusive, not "cannot"
      }
    } finally {
      try { Files.deleteIfExists(b); Files.deleteIfExists(a); () }
      catch { case _: java.io.IOException => () }
    }
  }

  private[sinks] def tryPublishNew(f: FileSystem, p: Path,
      content: String): Boolean = {
    val scheme = Option(p.toUri.getScheme).getOrElse(f.getScheme)
    val plugged = extraConditionalPuts.get(scheme)
    if (plugged != null) {
      plugged(f, p, content)
    } else if (NonAtomicRenameSchemes.contains(scheme)) {
      throw new UnsupportedOperationException(
        s"ManifestSink: scheme '$scheme' has copy+delete rename with no " +
          "exclusivity guarantee, so commits could be silently lost. " +
          "Register a conditional-put seam for it via " +
          "ManifestSink.registerConditionalPut (e.g. an S3 " +
          "If-None-Match:* PUT) before writing to this scheme.")
    } else if (scheme == "file") {
      // POSIX rename(2) REPLACES an existing destination, so Hadoop's
      // local-FS rename is NOT a conditional put: under heavy contention
      // two racers can both "win" the same manifest name, the second
      // silently overwriting the first — a LOST COMMIT (surfaced by the
      // 8-thread race spec flaking under full-suite load: 32 appends,
      // 31 surviving versions). Hard-LINK creation is the local-FS
      // conditional put — atomic and EEXIST-exclusive at the syscall
      // level: write a writer-unique temp, link it into place, lose
      // cleanly if the name exists.
      import java.nio.file.{FileAlreadyExistsException, Files,
        FileSystemException, Paths}
      val dst = Paths.get(p.toUri.getPath)
      Files.createDirectories(dst.getParent)
      val tmp = dst.resolveSibling(
        p.getName + "." + java.util.UUID.randomUUID() + ".tmp")
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      try { Files.createLink(dst, tmp); true }
      catch {
        case _: FileAlreadyExistsException => false
        case e: UnsupportedOperationException =>
          throw new UnsupportedOperationException(hardLinkMsg(dst, e), e)
        // Classifying by exception subtype alone can't separate "this
        // mount cannot hard-link" (EOPNOTSUPP/EPERM/EXDEV on a
        // FUSE/exFAT/network 'file'-scheme mount) from an incidental
        // failure — NIO surfaces both as FileSystemException, errno is
        // not exposed, and reason strings are JDK- and locale-
        // dependent (r14 advice: the old string match regressed on
        // non-English hosts). So PROBE the capability directly: link
        // two fresh temp files in the same directory. Probe fails →
        // the mount genuinely can't link → the actionable
        // UnsupportedOperationException. Probe succeeds (or is itself
        // inconclusive — e.g. disk full) → keep the ACCURATE original
        // type (r12: never mislabel a full disk as "needs hard-link
        // support") with the registerConditionalPut guidance appended.
        // AccessDeniedException / NoSuchFileException are well-typed
        // non-hardlink failures — those propagate untouched.
        case e: FileSystemException
            if !e.isInstanceOf[java.nio.file.AccessDeniedException] &&
              !e.isInstanceOf[java.nio.file.NoSuchFileException] =>
          if (!canHardLink(dst.getParent))
            throw new UnsupportedOperationException(hardLinkMsg(dst, e), e)
          val wrapped = new FileSystemException(e.getFile, e.getOtherFile,
            Option(e.getReason).getOrElse("link failed") +
              " [if this 'file'-scheme mount cannot hard-link, register" +
              " a conditional-put seam via" +
              " ManifestSink.registerConditionalPut]")
          wrapped.initCause(e)
          throw wrapped
      }
      finally Files.deleteIfExists(tmp)
    } else {
      // HDFS-contract schemes: rename-without-overwrite IS the
      // conditional put (fails when the destination exists)
      val tmp = new Path(p.getParent,
        p.getName + "." + java.util.UUID.randomUUID() + ".tmp")
      val out = f.create(tmp, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val won = f.rename(tmp, p)
      if (!won) f.delete(tmp, false)
      won
    }
  }

  /** Publish `content` at `p`, requiring the conditional put to succeed —
    * the single-writer commit path (replace/merge/delete), where losing
    * the name means another writer violated the contract: fail loudly,
    * never retry a commit whose entry set was computed against a
    * snapshot that is no longer current. */
  private def publishNew(f: FileSystem, p: Path, content: String): Unit =
    require(tryPublishNew(f, p, content),
      s"failed to commit $p: a concurrent writer published this version")

  // ------------------------------------------------------------ markers
  /** A MARKER holds one monotonic version as the NAME of an empty file
    * under `dir/<name>.d/`. There are two: the head hint
    * (`_latest.d/<v>`, see [[writeHint]]) and the vacuum floor
    * (`_vacuum_floor.d/<v>`, see [[writeFloorLoud]]).
    *
    * [[writeMarker]] CREATES the new name, then prunes lower names and
    * the legacy single file `dir/<name>` of earlier builds,
    * best-effort. The value is the name, so no write can tear it; the
    * new name exists before any old one is deleted, so once a marker
    * exists it is never missing; and a racing lower refresh prunes only
    * below itself, so the readable max never decreases. A crash
    * anywhere leaves at worst extra lower names. [[readMarker]] takes
    * the largest numeric name, max'd with the legacy file (a torn one
    * reads as +inf: every consumer then falls back to the listing).
    *
    * Creating a fresh name is a cheap metadata operation, while a
    * rename that replaces a non-empty file costs 47-60 ms on an ext4
    * volume of a 4-core VM; so no marker write replaces a file. On the
    * `file` scheme all three steps go through NIO: no `.crc` sidecar,
    * no forked `chmod`, and the listing is one directory read of names —
    * Hadoop's local listing stats each name and drops the ones deleted
    * meanwhile, so it could read a directory mid-refresh as empty.
    *
    * This returns the numeric names under marker directory `md` (none
    * if it is missing or not a directory; other names are ignored). */
  private def markerNames(f: FileSystem, md: Path): Seq[Long] = {
    val names =
      if (isLocal(f, md))
        Option(new java.io.File(md.toUri.getPath).list()).toSeq.flatten
      else
        try f.listStatus(md).toSeq.map(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Nil }
    names.flatMap(_.toLongOption)
  }

  private def isLocal(f: FileSystem, p: Path): Boolean =
    Option(p.toUri.getScheme).getOrElse(f.getScheme) == "file"

  /** The legacy single-file marker `dir/<name>`: -1 if absent, +inf if
    * torn (its value is unknowable). */
  private def readLegacy(f: FileSystem, dir: String, name: String): Long = {
    val p = new Path(dir, name)
    if (!f.exists(p)) -1L
    else scala.util.Try(readSmall(f, p).trim.toLong).getOrElse(Long.MaxValue)
  }

  private def readMarker(f: FileSystem, dir: String, name: String): Long =
    markerNames(f, new Path(dir, name + ".d"))
      .foldLeft(readLegacy(f, dir, name))(math.max)

  /** Refresh marker `name` to `v`. Returns whether the name `v` exists
    * afterwards; only then is anything pruned. */
  private def writeMarker(f: FileSystem, dir: String, name: String,
      v: Long): Boolean = {
    import java.nio.file.Files
    val md = new Path(dir, name + ".d")
    val p = new Path(md, v.toString)
    val local = isLocal(f, p)
    val nio = java.nio.file.Paths.get(p.toUri.getPath)
    // an IOException means the name is already there or the create
    // failed: the existence check below decides which
    try {
      if (!local) f.create(p, false).close()
      else { Files.createDirectories(nio.getParent); Files.createFile(nio) }
    } catch { case _: java.io.IOException => () }
    val made = if (local) Files.exists(nio) else f.exists(p)
    if (made) try {
      markerNames(f, md).filter(_ < v).foreach { w =>
        if (local) Files.deleteIfExists(nio.resolveSibling(w.toString))
        else f.delete(new Path(md, w.toString), false)
      }
      val legacy = new Path(dir, name)
      if (f.exists(legacy)) f.delete(legacy, false)
    } catch { case _: java.io.IOException => () } // extras are harmless
    made
  }

  private val HintName = "_latest"

  /** Refresh the head hint to `v`, best-effort — NOT load-bearing: a
    * crash or failure here leaves at worst a stale or missing hint,
    * which [[version]] repairs from the manifest listing. Concurrent
    * refreshes need no coordination: the hint is the largest name. */
  private[sinks] def writeHint(f: FileSystem, dir: String, v: Long): Unit = {
    writeMarker(f, dir, HintName, v); ()
  }

  /** The head hint, or -1 if there is none (a legacy `_latest` file
    * from earlier builds is max'd in as a lower bound). */
  private[sinks] def readHint(f: FileSystem, dir: String): Long =
    readMarker(f, dir, HintName)

  /** The vacuum floor: the lowest version whose manifest a vacuum
    * GUARANTEED to keep (its `keepFrom`), persisted BEFORE any manifest
    * is reclaimed. [[version]]'s forward probe is only sound above the
    * floor — below it, vacuum's protect/chain-kept manifests form
    * ISLANDS inside reclaimed ranges, where a probe would stop at a
    * gap, return a stale head, and (worse) let a writer publish into a
    * reclaimed version slot, forking history. Any anchor below the
    * floor falls back to the full listing. Monotonic: a later vacuum
    * with a larger window never lowers it (the gaps the old floor
    * records don't un-exist). Stored as a marker ([[markerNames]]):
    * a missing floor reads as "never vacuumed", the one corruption
    * mode that re-admits the probe below real gaps, and no marker
    * write sequence can produce it. */
  private val FloorName = "_vacuum_floor"

  private def readFloor(f: FileSystem, dir: String): Long =
    readMarker(f, dir, FloorName)

  /** The floor value a vacuum should persist: monotonic max of the old
    * floor and this vacuum's keepFrom. A TORN legacy floor file aborts
    * the vacuum — its true value is unknowable and writing a lower one
    * would re-admit the forward probe below real gaps. */
  private def floorForWrite(f: FileSystem, dir: String,
      keepFrom: Long): Long = {
    if (readLegacy(f, dir, FloorName) == Long.MaxValue)
      throw new IllegalStateException(
        s"vacuum at $dir: existing _vacuum_floor is unreadable — " +
          "refusing to proceed (its true value is unknowable, and a " +
          "lower new floor would unsound version()'s probe). Repair or " +
          "remove the file first.")
    math.max(readFloor(f, dir), keepFrom)
  }

  /** Persist floor `v`, aborting BEFORE the caller reclaims anything if
    * the name cannot be created. */
  private def writeFloorLoud(f: FileSystem, dir: String, v: Long): Unit =
    require(writeMarker(f, dir, FloorName, v),
      s"vacuum at $dir: failed to persist the vacuum floor $v — " +
        "aborting BEFORE reclaiming anything (the floor is " +
        "load-bearing for version()'s forward probe)")

  private val ManifestName = """(\d+)\.manifest""".r

  // ------------------------------------------------- per-entry file stats
  /** Min/max of one column over one data directory — the pruning unit.
    * `tag` is L (integral, stored as long), D (float/double; Float values
    * are widened to their exact double before serializing, so the
    * Double.toString roundtrip is lossless), or S (string; ordered by
    * unsigned UTF-8 byte comparison — the same ordering Spark's
    * UTF8String min/max use, so non-ASCII data prunes correctly). */
  final case class ColStats(tag: Char, min: String, max: String) {
    /** true iff [min,max] might intersect [lo,hi] (None = unbounded).
      * Any NaN endpoint (a batch containing NaN records max="NaN", since
      * Spark orders NaN greatest) makes the comparison undecidable — the
      * entry is kept, never pruned: pruning is an optimization and must
      * stay a superset of the exact filter. */
    def overlaps(lo: Option[String], hi: Option[String]): Boolean = {
      if (tag == 'B') return true // bloom payload: range-undecidable
      // NaN endpoints are undecidable → treated as ordered (true) so the
      // entry is never pruned; everything else delegates to the shared
      // tag comparator
      def le(a: String, b: String): Boolean =
        if (tag == 'D' && (a.toDouble.isNaN || b.toDouble.isNaN)) true
        else leTagged(tag, a, b)
      lo.forall(l => le(l, max)) && hi.forall(h => le(min, h))
    }
  }

  /** Stats-map key holding a column's bloom filter (tag 'B', the
    * serialized filter base64 in `min`) — distinct from the column's own
    * key so range stats and a bloom coexist on one column. */
  private def bloomKey(c: String): String = c + "\u0000bf"

  /** Reserved stats key carrying an entry's EXACT row count (tag 'L',
    * min = max = count). The leading NUL can't collide with a column
    * name. Written by every commit, observed on the write job itself --
    * zero extra jobs -- so [[rowCount]] answers `count(*)` and the
    * retention threshold check from manifest metadata alone. */
  private val RowsKey = "\u0000rows"

  /** Header key recording a commit's wall-clock time (epoch millis) --
    * the `VERSION AS OF <timestamp>` index. [[mergeHeader]]'s numeric
    * max keeps it monotonic under clock skew and rebased races. */
  private val TsKey = "ts"

  /** Reserved stats key marking an entry as a merge-on-read DELETE
    * TOMBSTONE (the equality-delete file of log-structured formats,
    * Iceberg v2 shape): the entry's parquet holds the distinct deleted
    * KEY rows, not data; `min` = comma-joined key column names, `max` =
    * key row count. The leading NUL can't collide with a column name.
    * Ordering semantics ride on MANIFEST LINE POSITION (see
    * [[assembleRead]]): a tombstone deletes matching rows from every
    * data entry that precedes it in the entry list; entries appended
    * later are untouched, so re-inserting a deleted key after the
    * delete survives. Every commit path preserves relative line order
    * (appends add at the end, rewrites carry kept lines in order), so
    * position is a durable sequence number without touching any other
    * commit path's entry format. */
  private val TombKey = "\u0000tomb"

  /** Reserved stats key marking a RANGE tombstone (merge-on-read
    * `DELETE WHERE col BETWEEN lo AND hi` — the zero-rewrite retention
    * shape): no delete file at all, just one manifest line whose stats
    * value carries (column, typed bounds). `tag` is the VALUE type tag
    * ('L'/'D'/'S'), `min` = column name + \u0001 + lo (empty =
    * unbounded), `max` = hi (empty = unbounded). Position semantics
    * identical to [[TombKey]]; readers apply it as a FILTER (cheaper
    * than the key kind — no join), null values survive (SQL DELETE). */
  private val TombRangeKey = "\u0000tombr"

  private[sinks] def isTombEntry(e: Entry): Boolean =
    e.stats.contains(TombKey) || e.stats.contains(TombRangeKey)
  private def tombKeyCols(e: Entry): Seq[String] =
    e.stats(TombKey).min.split(",").toSeq

  /** (column, typed lo, typed hi) of a range tombstone. */
  private def tombRange(e: Entry): (String, Option[Any], Option[Any]) = {
    val st = e.stats(TombRangeKey)
    val i = st.min.indexOf('\u0001')
    val c = st.min.substring(0, i)
    def typed(s: String): Option[Any] =
      if (s.isEmpty) None
      else Some(st.tag match {
        case 'L' => s.toLong
        case 'D' => s.toDouble
        case _   => s
      })
    (c, typed(st.min.substring(i + 1)), typed(st.max))
  }

  /** true iff the current snapshot carries unmaterialized merge-on-read
    * delete tombstones (a [[compact]]/[[compactZOrder]] materializes
    * them away). While true, metadata-only answers that a delete can
    * invalidate degrade on their own: [[rowCount]] and [[colBounds]]
    * return None (the tombstone entry lacks the stats they require) and
    * [[ndvEstimate]] returns None (no sketch on the tombstone entry). */
  def hasTombstones(spark: SparkSession, dir: String): Boolean = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    entries(spark, dir, v).exists(isTombEntry)
  }

  /** Write `df` to `dataDir` and return the exact row count, observed
    * on the write job itself -- no second pass, no extra job (see
    * [[writeWithStats]] for the fallback). */
  private def writeCounted(df: DataFrame, dataDir: String): Long =
    writeWithStats(df, dataDir, Nil, Nil)._1

  /** Write `df` under `dataDir` and return (row count, min/max + NDV
    * stats), ALL computed by observe metrics riding the write job itself
    * — the batch is evaluated and scanned exactly ONCE (r17, guide §1.2):
    * the previous shape wrote, then re-read the written files for each
    * stats family, costing one extra full batch read per commit at scale
    * and 1-2 extra Spark actions locally. Values are identical to the
    * read-back by construction — the metrics see the same rows the files
    * hold, min/max typing is [[FooterStats.statsTag]]'s, and the KMV
    * sketch is partitioning-independent. Families that need a post-hoc
    * shape (blooms sized from the observed count, exact top-k,
    * histograms) still read back — see [[writtenStats]]. Falls back to
    * [[readBackStats]] if the observation does not arrive. */
  private[graft] def writeWithStats(df: DataFrame, dataDir: String,
      statsCols: Seq[String], ndvCols: Seq[String])
      : (Long, Map[String, ColStats]) = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val typed = FooterStats.tagged(df.schema, statsCols)
    val metrics: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("__n") +:
        (typed.flatMap { case (c, _) =>
          Seq(min(df(c)).as(s"__mn_$c"), max(df(c)).as(s"__mx_$c")) } ++
          ndvCols.map(c => graft.functions.KmvSketch.sketchValues(
            graft.functions.PortableHash.tokenHashP(
              df(c).cast("string")), NdvSketchK).as(s"__kmv_$c")))
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, metrics.head, metrics.tail: _*).write.parquet(dataDir)
    observed(obs) { row =>
      val mm = typed.flatMap { case (c, tag) => minMaxStat(c, tag,
        row.getAs[Any](s"__mn_$c"), row.getAs[Any](s"__mx_$c")) }.toMap
      val kmv = ndvCols.map(c => kmvStat(c, row.getSeq[Long](
        row.fieldIndex(s"__kmv_$c")))).toMap
      (row.getAs[Long]("__n"), mm ++ kmv)
    }(readBackStats(df.sparkSession.read.parquet(dataDir), statsCols,
      ndvCols))
  }

  /** [[writeWithStats]]'s fallback: the same (row count, min/max + NDV
    * stats) read back from the written files — count and min/max in ONE
    * aggregate ([[groupedStatsWithCount]] over a constant key), the KMV
    * sketches in one more when requested. */
  private[graft] def readBackStats(written: DataFrame,
      statsCols: Seq[String], ndvCols: Seq[String])
      : (Long, Map[String, ColStats]) = {
    val (n, mm) = groupedStatsWithCount(written,
      org.apache.spark.sql.functions.lit(0), statsCols)
      .getOrElse("0", 0L -> Map.empty[String, ColStats])
    (n, mm ++ batchNdvSketches(written, ndvCols))
  }

  /** Min/max stats entry of column `c`, or None when the batch holds no
    * non-null value (the aggregate's null bounds). */
  private def minMaxStat(c: String, tag: Char, mn: Any,
      mx: Any): Option[(String, ColStats)] =
    if (mn == null || mx == null) None
    else Some(c -> ColStats(tag, boundStr(mn), boundStr(mx)))

  private def rowsStat(n: Long): (String, ColStats) =
    RowsKey -> ColStats('L', n.toString, n.toString)

  /** Serialize a stats/bound value: a Float widens to its EXACT double
    * first (Float→Double conversion is exact) so parsing the string back
    * with `.toDouble` reproduces the value bit-for-bit — Float.toString
    * emits the shortest FLOAT-roundtrip decimal, which parsed as a double
    * can understate max / overstate min by up to half a float-ulp and
    * wrongly prune boundary rows. */
  private def boundStr(v: Any): String = v match {
    case f: Float          => f.toDouble.toString
    case f: java.lang.Float => f.floatValue.toDouble.toString
    case x                 => x.toString
  }

  /** Manifest entry: the immutable data directory plus optional per-column
    * stats. A line is `data/<uuid>` or `data/<uuid>\t<stats>`; lines
    * without stats (pre-stats commits, merge-rewritten batches) are never
    * pruned — absence of stats degrades scan breadth, never correctness. */
  final case class Entry(path: String, stats: Map[String, ColStats]) {
    def line: String =
      if (stats.isEmpty) path
      else path + "\t" + stats.toSeq.sortBy(_._1).map { case (c, st) =>
        Seq(b64(c), st.tag.toString, b64(st.min), b64(st.max)).mkString(":")
      }.mkString(";")
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  private def parseEntry(line: String): Entry = line.indexOf('\t') match {
    case -1 => Entry(line, Map.empty)
    case i =>
      // split with -1: an empty trailing field (e.g. a bloom entry's
      // unused max) must not collapse the 4-field group
      val stats = line.substring(i + 1).split(";").iterator
        .map(_.split(":", -1))
        .collect { case Array(c, t, mn, mx) if t.length == 1 =>
          unb64(c) -> ColStats(t.head, unb64(mn), unb64(mx))
        }.toMap
      Entry(line.substring(0, i), stats)
  }

  /** Directory part of a manifest line (drops any stats suffix). */
  private def entryPath(line: String): String =
    line.indexOf('\t') match { case -1 => line; case i => line.substring(0, i) }

  /** Resolve an entry's data path against the table dir. Entries
    * normally hold table-relative `data/<uuid>` paths; a
    * [[shallowClone]]'s borrowed entries hold ABSOLUTE paths (plain or
    * scheme-qualified) and resolve as-is. */
  private def isAbsoluteEntry(p: String): Boolean =
    p.startsWith("/") || p.contains(":/")
  private def resolvePath(dir: String, p: String): String =
    if (isAbsoluteEntry(p)) p else s"$dir/$p"

  /** Largest committed manifest number, or -1 for an empty sink — the
    * source of truth (crash-safe: a manifest exists iff its commit's
    * rename completed). */
  private def listedVersion(f: FileSystem, dir: String): Long = {
    val mdir = new Path(dir, "_manifests")
    if (!f.exists(mdir)) return -1L
    f.listStatus(mdir).foldLeft(-1L) { (acc, st) =>
      st.getPath.getName match {
        case ManifestName(v) => math.max(acc, v.toLong)
        case _               => acc // .tmp of an in-flight/aborted commit
      }
    }
  }

  /** Current committed version, or -1 for an empty sink.
    *
    * Resolution anchors on the head hint (the largest `_latest.d`
    * name, see [[readHint]]) and PROBES FORWARD by
    * name to the first missing manifest — version numbers are dense
    * above any committed version (commits serialize through the
    * conditional put; [[vacuum]] reclaims only below its horizon and
    * refreshes the hint before deleting), so a fresh hint costs one
    * extra existence check and a hint stale by g commits costs g + 1,
    * never the O(versions) directory listing (MetaSweep measured the
    * listing at ~11 ms per call / 71 ms per commit on a 10 k-version
    * dribble table — the next metadata bottleneck after the delta log).
    * A missing or vacuumed-past hint, or one naming a manifest that
    * does not exist, falls back to the full listing, so a crash between
    * manifest publish and hint refresh never rolls the table back.
    *
    * The probe's density assumption holds only ABOVE the vacuum floor:
    * below it, protect/chain-kept manifests are islands inside
    * reclaimed ranges where a walk would stop at a gap, return a stale
    * head, and let a writer publish into a reclaimed slot (a fork a
    * later vacuum would then treat as the head, deleting real data).
    * So any anchor below [[readFloor]] — and any table whose floor file
    * is unreadable — takes the full-listing path instead. The floor is
    * written LOUDLY before a vacuum reclaims anything. A table vacuumed
    * only by pre-floor builds lacks the file (floor −1, probe allowed)
    * and so retains the gap risk until its next vacuum stamps one —
    * acceptable because floor and probe shipped together; no real table
    * has pre-floor islands. */
  def version(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val hinted = readHint(f, dir)
    if (hinted >= 0 && hinted >= readFloor(f, dir) &&
        f.exists(new Path(dir, s"_manifests/$hinted.manifest"))) {
      var v = hinted
      while (f.exists(new Path(dir, s"_manifests/${v + 1}.manifest")))
        v += 1
      // Concurrent-vacuum guard (r14 advice): a vacuum can raise the
      // floor and reclaim manifests AFTER the floor check above, so
      // the walk may have stopped at a freshly created gap below the
      // NEW floor (a stale island head). Re-read: vacuum persists
      // the floor before deleting anything, so a head at/after the
      // re-read floor sits in the provably-dense range (vacuum never
      // reclaims at/above its keepFrom) and is the true head; below
      // it, fall back to the listing.
      if (v >= readFloor(f, dir)) return v
    }
    listedVersion(f, dir)
  }

  private def manifestLines(spark: SparkSession, dir: String,
      v: Long): Seq[String] = {
    if (v < 0) return Nil
    val f = fs(spark, dir)
    readSmall(f, new Path(dir, s"_manifests/$v.manifest"))
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** The delta base a manifest's lines name, if any. */
  private def deltaBase(lines: Seq[String]): Option[Long] =
    lines.collectFirst {
      case l if l.startsWith(s"#$DeltaBaseKey=") =>
        l.substring(DeltaBaseKey.length + 2).toLong
    }

  /** Version `v`'s ENTRY LIST, resolved across the delta chain: the
    * nearest full snapshot's entries followed by each delta's additions
    * in version order — byte-identical to what a legacy full snapshot
    * at `v` would hold. Bounded walk: ≤ [[manifestCheckpointEvery]] − 1
    * hops to a checkpoint (rewrites are checkpoints too). */
  private[sinks] def manifestEntries(spark: SparkSession, dir: String,
      v: Long): Seq[String] = {
    if (v < 0) return Nil
    var chain = List.empty[Seq[String]]
    var cur = v
    while (cur >= 0) {
      val lines = manifestLines(spark, dir, cur)
      chain = lines.filterNot(_.startsWith("#")) :: chain
      val base = deltaBase(lines)
      base.foreach(b => require(b >= 0 && b < cur,
        s"corrupt delta manifest $cur at $dir: base $b is not older"))
      cur = base.getOrElse(-1L)
    }
    chain.flatten
  }

  /** The root paths [[read]] would scan for the head version — the
    * registration key [[graft.plans.ViewRewrite]] needs to recognize
    * this snapshot's bare scan. Refuses tombstoned snapshots: their
    * assembled read is anti-joined, not a bare multi-path scan, so a
    * path-keyed view registration could never match it. */
  def currentDataPaths(spark: SparkSession, dir: String): Seq[String] = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    dataPathsAt(spark, dir, v)
  }

  /** [[currentDataPaths]] at an explicit version — the registration key
    * for a view that absorbed the sources at past versions (a
    * [[IncrementalJoinView]] header's positions). Same tombstone
    * refusal: only bare-scan snapshots are path-matchable. */
  def dataPathsAt(spark: SparkSession, dir: String, v: Long): Seq[String] = {
    val parsed = manifestEntries(spark, dir, v).map(parseEntry)
    require(parsed.nonEmpty, s"ManifestSink at $dir has no version $v")
    require(!parsed.exists(isTombEntry),
      s"ManifestSink at $dir v$v carries tombstones: its snapshot is " +
        "not a bare scan, so a path-keyed view rewrite cannot serve it")
    parsed.map(e => resolvePath(dir, e.path))
  }

  /** Manifest header: `#key=value` lines alongside the entry list —
    * commit metadata that travels ATOMICALLY with the snapshot (e.g. the
    * exactly-once batch marker of [[appendOnce]]). Every commit carries
    * the previous header forward (see [[mergeHeader]]); manifests
    * predating headers simply have none. */
  def manifestHeader(spark: SparkSession, dir: String,
      v: Long): Map[String, String] =
    manifestLines(spark, dir, v).filter(_.startsWith("#")).flatMap { l =>
      l.drop(1).split("=", 2) match {
        case Array(k, value) => Some(k -> value)
        case _               => None
      }
    }.toMap - DeltaBaseKey
    // the delta link is per-manifest STRUCTURE, not commit metadata
    // (mergeHeader strips it from every internal merge for the same
    // reason): without the filter a caller enumerating header keys at
    // a delta version would see `delta.base` while a checkpoint
    // version shows none — the public header surface must be identical
    // for delta and full manifests (r14 advice)

  private def headerLines(h: Map[String, String]): Seq[String] =
    h.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }

  /** Merge the previous commit's header with this commit's additions.
    * Values that are both numeric advance MONOTONICALLY (max) — every
    * current header key is a progress marker, and a rebased append must
    * never roll a marker back past a winner's; otherwise the new value
    * wins. */
  private def mergeHeader(prev0: Map[String, String],
      next0: Map[String, String]): Map[String, String] = {
    // the delta link is per-manifest STRUCTURE, not commit metadata: it
    // must never carry forward (a full checkpoint inheriting a stale
    // delta.base would corrupt resolution), and callers can't set it
    val prev = prev0 - DeltaBaseKey
    val next = next0 - DeltaBaseKey
    (prev.keySet ++ next.keySet).iterator.map { k =>
      val v = (prev.get(k), next.get(k)) match {
        case (Some(a), Some(b)) =>
          (a.toLongOption, b.toLongOption) match {
            case (Some(x), Some(y)) => math.max(x, y).toString
            case _                  => b
          }
        case (a, b) => b.orElse(a).get
      }
      k -> v
    }.toMap
  }

  /** Rewriting commit. `basedOn` is the version the caller PLANNED
    * `baseEntries` against — the publish targets exactly `basedOn + 1`,
    * so if ANY other commit (e.g. a concurrent rebasing append) landed
    * after planning, the conditional put hits an existing name and
    * fails loudly instead of silently dropping the interloper's entries
    * from the new snapshot. Re-resolving the version here would defeat
    * the staleness check: the name would simply slide past the
    * concurrent commit. CONTENT-IDENTICAL rewrites (the compact family)
    * pass `maintenance = true` and instead rebase over interleaved
    * append-only commits via [[commitRewriteLines]] — losing a race to
    * a streaming epoch costs a manifest re-read, never the rewrite job. */
  private def commit(spark: SparkSession, dir: String, df: DataFrame,
      baseEntries: Seq[String], basedOn: Long, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.01,
      header: Map[String, String] = Map.empty,
      maintenance: Boolean = false): Long = {
    val batch = java.util.UUID.randomUUID().toString
    val dataDir = s"$dir/data/$batch"
    val (rows, writeStats) = writeWithStats(df, dataDir, statsCols, Nil)
    val stats = writeStats +
      rowsStat(rows) ++
      writtenStats(spark, dataDir, bloomCols, bloomFpp,
        knownRows = Some(rows))
    val rewriteLines = baseEntries :+ Entry(s"data/$batch", stats).line
    if (maintenance)
      return commitRewriteLines(spark, dir, basedOn, rewriteLines, header)
    val lines = headerLines(mergeHeader(manifestHeader(spark, dir, basedOn),
      header + (TsKey -> System.currentTimeMillis.toString))) ++
      rewriteLines
    val next = basedOn + 1
    val f = fs(spark, dir)
    // commit point: this rename (new name — nothing is deleted first)
    publishNew(f, new Path(dir, s"_manifests/$next.manifest"),
      lines.mkString("\n"))
    writeHint(f, dir, next)
    next
  }

  /** Stats families that need a post-hoc shape (blooms sized from the
    * observed count, exact top-k, histograms), read back from the
    * WRITTEN files, not from the source frame — re-evaluating an
    * expensive upstream plan just to learn them would double the batch
    * cost. The read-back (file listing + footer inference) only happens
    * when some family was requested: the plain-append hot path pays
    * nothing. */
  private def writtenStats(spark: SparkSession, dataDir: String,
      bloomCols: Seq[String], bloomFpp: Double,
      topKCols: Seq[String] = Nil,
      tokenBloomCols: Seq[String] = Nil,
      histCols: Seq[String] = Nil,
      knownRows: Option[Long] = None): Map[String, ColStats] =
    if (bloomCols.isEmpty && topKCols.isEmpty && tokenBloomCols.isEmpty &&
        histCols.isEmpty)
      Map.empty
    else {
      val written = spark.read.parquet(dataDir)
      batchBlooms(written, bloomCols, bloomFpp, knownRows) ++
        batchTopK(written, topKCols) ++
        batchTokenBlooms(written, tokenBloomCols, bloomFpp) ++
        batchHistograms(written, histCols)
    }

  /** Per-column bloom filters of one written batch (tag 'B' pseudo-stats
    * under [[bloomKey]]): the EQUALITY-pruning complement to min/max
    * ranges — a point lookup on a high-cardinality key (uuid, user id)
    * rarely prunes on ranges, but a per-entry bloom excludes every batch
    * dir that provably never saw the value. Built with Spark's
    * distributed `stat.bloomFilter` aggregate; integral and string
    * columns only (the types its hasher and ours agree on). */
  private def batchBlooms(written: DataFrame, bloomCols: Seq[String],
      fpp: Double, knownRows: Option[Long] = None): Map[String, ColStats] = {
    if (bloomCols.isEmpty) return Map.empty
    // the commit path already observed the batch's exact row count on
    // the write job — sizing the filter from it skips a whole count job
    // per bloom-carrying commit (r18, guide §1.2)
    val n = math.max(1L, knownRows.getOrElse(written.count()))
    FooterStats.tagged(written.schema, bloomCols).filter(_._2 != 'D')
      .map { case (c, _) =>
        val bf = written.stat.bloomFilter(c, n, fpp)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        bloomKey(c) -> ColStats('B',
          java.util.Base64.getEncoder.encodeToString(bos.toByteArray), "")
      }.toMap
  }

  /** Stats-map key holding a TOKEN bloom of a text column (tag 'B', same
    * payload shape as [[bloomKey]] blooms): membership over the column's
    * whitespace TOKENS rather than its values. The full-text complement
    * to value blooms — "which batches contain documents mentioning term
    * X" becomes a manifest-metadata question. */
  private def tokenBloomKey(c: String): String = c + "\u0000tbf"

  /** Per-entry token bloom of one written batch's text column: the batch
    * is exploded into whitespace tokens (the engine-wide tokenization —
    * compose [[graft.functions.TextNorm.normalize]] upstream if the
    * corpus needs folding) and the DISTINCT tokens feed one bloom sized
    * for the batch's observed vocabulary. Cost model: one extra
    * distinct-count + bloom aggregate over the batch being written —
    * write-time, opt-in, amortized over every future term lookup; the
    * bloom itself is vocabulary-sized (a few hundred KB per entry at web
    * batch vocabularies), riding in the manifest the reader already
    * fetches. String columns only. */
  private def batchTokenBlooms(written: DataFrame,
      tokenBloomCols: Seq[String], fpp: Double): Map[String, ColStats] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col, explode, split}
    if (tokenBloomCols.isEmpty) return Map.empty
    tokenBloomCols.flatMap { c =>
      written.schema.find(_.name == c).flatMap(_.dataType match {
        case StringType =>
          // the sizing count and the bloom aggregate both consume the
          // distinct-token frame — cache it (vocabulary-sized) so the
          // batch explode + distinct shuffle run once, not twice (r18,
          // guide §1.2)
          val toks = written
            .select(explode(split(col(c), " ")).as("__tok"))
            .where(col("__tok") =!= "").distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val bf =
            try {
              val n = math.max(1L, toks.count())
              toks.stat.bloomFilter("__tok", n, fpp)
            } finally { toks.unpersist(false); () }
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          Some(tokenBloomKey(c) -> ColStats('B',
            java.util.Base64.getEncoder.encodeToString(bos.toByteArray), ""))
        case _ => None
      })
    }.toMap
  }

  /** Stats-map key holding a column's KMV distinct sketch (tag 'V',
    * base64-packed sorted minima in `min`, k in `max`) — the
    * distinct-count complement to min/max (range) and bloom (point)
    * stats, as per-table NDV sketches in lakehouse stats files. */
  private def kmvKey(c: String): String = c + "\u0000kmv"

  /** Default k for per-entry NDV sketches: 128 longs ≈ 1 KB per
    * (entry, column) — manifest-sized — with ~9% standard error. */
  val NdvSketchK: Int = 128

  /** Per-column KMV distinct sketch of one written batch: the k smallest
    * [[graft.functions.PortableHash]] hashes of the column's string form
    * (deterministic — the same batch always yields the same sketch,
    * whatever the partitioning). One aggregate job over the written
    * files computes every requested column's sketch. */
  private def batchNdvSketches(written: DataFrame,
      ndvCols: Seq[String]): Map[String, ColStats] = {
    import org.apache.spark.sql.functions.col
    if (ndvCols.isEmpty) return Map.empty
    val aggs = ndvCols.map(c => graft.functions.KmvSketch.sketchValues(
      graft.functions.PortableHash.tokenHashP(col(c).cast("string")),
      NdvSketchK).as(c))
    val row = written.agg(aggs.head, aggs.tail: _*).collect().head
    ndvCols.zipWithIndex.map { case (c, i) =>
      kmvStat(c, row.getSeq[Long](i)) }.toMap
  }

  /** Manifest entry of column `c`'s KMV sketch (tag 'V'). */
  private def kmvStat(c: String, arr: Seq[Long]): (String, ColStats) = {
    val bb = java.nio.ByteBuffer.allocate(8 * arr.size)
    arr.foreach(bb.putLong)
    kmvKey(c) -> ColStats('V',
      java.util.Base64.getEncoder.encodeToString(bb.array()),
      NdvSketchK.toString)
  }

  /** Stats-map key holding a column's heavy-hitter list (tag 'T',
    * `min` = comma-joined `b64(value):count` pairs sorted by (count
    * desc, value asc), `max` = the per-entry list length) — the SKEW
    * complement to the NDV sketch: rows/NDV gives the AVERAGE key
    * frequency, but a salted-join decision needs the MAXIMUM. */
  private def topKeyKey(c: String): String = c + "\u0000tk"

  /** Heavy hitters recorded per (entry, column): 8 exact top values of
    * one batch ≈ 200 B — manifest-sized. */
  val TopKStatN: Int = 8

  /** Per-column EXACT top-[[TopKStatN]] (value, count) of one written
    * batch, ordered (count desc, value asc) — one aggregate job per
    * column over the written files. Exact for the batch; the merged
    * table-level view ([[mergedTopK]]) is a LOWER BOUND per value
    * (a value can miss an entry's top list). */
  private def batchTopK(written: DataFrame,
      topKCols: Seq[String]): Map[String, ColStats] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    topKCols.flatMap { c =>
      if (!written.columns.contains(c)) None
      else {
        val top = written.filter(col(c).isNotNull)
          .groupBy(col(c).cast("string").as("__v"))
          .agg(count(lit(1)).as("__c"))
          .orderBy(col("__c").desc, col("__v").asc)
          .limit(TopKStatN)
          .collect()
          .map(r => (r.getString(0), r.getLong(1)))
        if (top.isEmpty) None
        else Some(topKeyKey(c) -> ColStats('T',
          top.map { case (v, n) => s"${b64(v)}:$n" }.mkString(","),
          top.length.toString))
      }
    }.toMap
  }

  /** Stats-map key holding a column's EQUI-DEPTH HISTOGRAM (tag = the
    * column's value tag 'L'/'D', `min` = comma-joined B+1 boundary
    * values — the batch min, then the exact order statistic at rank
    * ⌈i·n/B⌉ for i = 1..B — `max` = comma-joined EXACT per-bucket row
    * counts). The RANGE-SELECTIVITY complement to min/max stats:
    * bounds answer "can this batch match", the histogram answers "how
    * MANY rows will" — the number a filter-aware planner needs before
    * choosing broadcast vs shuffle on a filtered side. */
  private def histKey(c: String): String = c + "\u0000eh"

  /** Equi-depth buckets recorded per (entry, column): 8 exact order
    * statistics + 8 exact counts ≈ 150 B — manifest-sized. */
  val HistBuckets: Int = 8

  /** Per-column equi-depth histogram of one written batch. Boundaries
    * are EXACT order statistics (the value at 1-based rank ⌈i·n/B⌉ in
    * value order), bucket counts are EXACT row counts of each
    * (b_{i-1}, b_i] interval (first bucket [b_0, b_1]) — both
    * engine-portable, so an external oracle reproduces every digit.
    *
    * Scale shape: one two-phase aggregate collapses the batch to its
    * DISTINCT-VALUE frame; the cumulative-count window runs over that
    * frame ordered by value (the bounded-cardinality contract of
    * q26/q183 — value cardinality, not batch rows, bounds the single
    * partition; a genuinely unbounded-NDV double column would lift
    * this with the q177 sharded prefix sum). Boundary extraction and
    * bucket counting are two more DECISION-sized aggregate jobs; only
    * B+1 boundary literals ever reach the driver. */
  private def batchHistograms(written: DataFrame,
      histCols: Seq[String]): Map[String, ColStats] = {
    import org.apache.spark.sql.functions.lit
    histCols.flatMap { c =>
      // single-group use of the grouped builder: two aggregate jobs
      // per column (boundaries, bucket counts); the rank condition
      // ⌈i·n/B⌉ ≤ cum runs integer-exactly as B·cum ≥ i·n
      groupedHistograms(written, lit(1), c).values.headOption
        .map(histKey(c) -> _)
    }.toMap
  }

  /** [[batchHistograms]] for EVERY group of `groupKey` in one pass
    * pair: a distinct-(group, value) frame with per-group cumulative
    * windows, then two grouped aggregate jobs — boundary extraction
    * (the rank condition ⌈i·n/B⌉ ≤ cum rewritten integer-exactly as
    * B·cum ≥ i·n so it aggregates with n as a column) and bucket
    * counting via a broadcast boundary join — so a w-shard rewrite
    * prices w histograms at two jobs, not 3·w. Returns the histogram
    * ColStats keyed by the group's string form; all-null groups are
    * absent. */
  private def groupedHistograms(df: DataFrame,
      groupKey: org.apache.spark.sql.Column,
      c: String): Map[String, ColStats] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, col, count, lit,
      min, sum, when}
    val B = HistBuckets
    // numeric columns only: histogram buckets need arithmetic bounds
    val tag = FooterStats.tagged(df.schema, Seq(c)).map(_._2)
      .filter(_ != 'S')
    if (tag.isEmpty) return Map.empty
    val t = tag.head
    val vals = df.filter(col(c).isNotNull)
      .groupBy(groupKey.cast("string").as("__g"),
        col(c).cast(if (t == 'L') "long" else "double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("__g"))
    val cum = vals
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
    val bAggs = min(col("__v")).as("__b0") +: (1 to B).map(i =>
      min(when(col("__cum") * B >= lit(i.toLong) * col("__n"),
        col("__v"))).as(s"__b$i"))
    val bFrame = cum.groupBy(col("__g")).agg(bAggs.head, bAggs.tail: _*)
    val bC = bFrame.collect() // job 1: boundaries for every group
    if (bC.isEmpty) return Map.empty
    val bounds = bC.map { r =>
      r.getString(0) -> (1 to B + 1).map(i => r.get(i))
    }.toMap
    // the boundary frame is rebuilt LOCALLY for the count join so the
    // aggregate above runs once, not once per downstream action
    val spark = df.sparkSession
    val boundsDf = spark.createDataFrame(
      java.util.Arrays.asList(bC: _*), bFrame.schema)
    val bucket = (1 until B).foldRight(lit(B)) { case (i, acc) =>
      when(col("__v") <= col(s"__b$i"), lit(i)).otherwise(acc)
    }
    val cnts = vals.join(broadcast(boundsDf), Seq("__g"))
      .groupBy(col("__g"), bucket.as("__b"))
      .agg(sum(col("__c")).as("__bn")).collect() // job 2: bucket counts
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    bounds.map { case (g, bs) =>
      val counts = (1 to B).map(i => cnts.getOrElse((g, i), 0L))
      g -> ColStats(t, bs.map(boundStr).mkString(","),
        counts.mkString(","))
    }
  }

  /** Per-entry parsed histogram: (boundaries b_0..b_B as doubles —
    * exact for 'L' values below 2^53 — and exact per-bucket counts). */
  private def entryHistogram(e: Entry,
      c: String): Option[(Array[Double], Array[Long])] =
    e.stats.get(histKey(c)).collect {
      case st if st.tag == 'L' || st.tag == 'D' =>
        (st.min.split(",").map(_.toDouble), st.max.split(",").map(_.toLong))
    }

  /** Estimated rows matching `colName BETWEEN lo AND hi`, in MICRO-ROW
    * units (1e-6 row), from manifest metadata alone — zero data reads
    * at any table size. Per histogram bucket the mass is taken
    * continuous-uniform over its boundary interval: full containment
    * contributes the bucket's EXACT count, partial overlap a linearly
    * interpolated fraction, a degenerate single-value bucket all-or-
    * nothing. The per-bucket value is ROUNDED TO INTEGER MICRO-ROWS
    * before summing so the fold is order-independent and an external
    * engine reproduces the total bit-for-bit (double SUM order would
    * otherwise be engine-defined). None when any live entry lacks the
    * histogram — absence degrades to "recompute from data", never to a
    * wrong number. */
  def rangeEstimateMicro(spark: SparkSession, dir: String,
      colName: String, lo: Double, hi: Double): Option[Long] = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    val hs = entries(spark, dir, v).filterNot(isTombEntry)
      .map(entryHistogram(_, colName))
    if (hs.isEmpty || hs.exists(_.isEmpty)) return None
    Some(hs.flatten.map { case (b, ns) =>
      var s = 0L
      var i = 0
      while (i < ns.length) {
        val loI = b(i); val hiI = b(i + 1); val n = ns(i)
        s += (if (hiI == loI) {
          if (lo <= loI && loI <= hi) n * 1000000L else 0L
        } else {
          val frac = math.max(0.0,
            (math.min(hi, hiI) - math.max(lo, loI)) / (hiI - loI))
          math.floor(frac * n * 1000000.0 + 0.5).toLong
        })
        i += 1
      }
      s
    }.sum)
  }

  /** `w−1` ascending global cut values for range-partitioning the table
    * on `colName`, chosen from manifest metadata alone — the bounds
    * Spark's RangePartitioner would otherwise SAMPLE the data to learn
    * (a full extra pass at 100 TB, and a nondeterministic one: sampled
    * bounds change run to run; these are a pure function of the
    * committed histograms). Per-entry histogram buckets merge into one
    * value-ordered piecewise-uniform mass profile (integer cumulative
    * counts — order-independent), and cut j sits at mass j·N/w by
    * linear interpolation inside its containing piece. None when any
    * live entry lacks the histogram. */
  def histogramCuts(spark: SparkSession, dir: String, colName: String,
      w: Int): Option[Seq[Double]] = {
    require(w > 1, s"need w > 1 shards, got $w")
    massProfile(spark, dir, colName).map { case (pieces, total) =>
      cutsFromProfile(pieces, total, w)
    }
  }

  /** The merged VALUE-ORDERED piecewise-uniform mass profile of
    * `colName` across all live entries' histograms: non-empty pieces
    * (lo, hi, rows) in deterministic (lo, hi, rows) order, plus the
    * exact total. None when any entry lacks the histogram or the table
    * is empty of histogram mass. */
  private def massProfile(spark: SparkSession, dir: String,
      colName: String): Option[(Seq[(Double, Double, Long)], Long)] = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    val hs = entries(spark, dir, v).filterNot(isTombEntry)
      .map(entryHistogram(_, colName))
    if (hs.isEmpty || hs.exists(_.isEmpty)) return None
    val pieces = hs.flatten.flatMap { case (b, ns) =>
      ns.indices.map(i => (b(i), b(i + 1), ns(i)))
    }.filter(_._3 > 0L)
      .sortBy { case (lo, hi, n) => (lo, hi, n) }
    val total = pieces.iterator.map(_._3).sum
    if (total == 0L) None else Some((pieces, total))
  }

  /** `w−1` cut values at mass j·N/w over a [[massProfile]]: integer
    * cumulative counts locate the containing piece (order-independent),
    * a fixed-shape double interpolation places the cut inside it. */
  private def cutsFromProfile(pieces: Seq[(Double, Double, Long)],
      total: Long, w: Int): Seq[Double] =
    (1 until w).map(j => cutAt(pieces, total, j, w))

  /** The value at mass fraction j/w of a [[massProfile]] — the shared
    * interpolation of [[cutsFromProfile]] and [[quantileEstimates]]. */
  private def cutAt(pieces: Seq[(Double, Double, Long)], total: Long,
      j: Long, w: Long): Double = {
    val cumAfter = pieces.scanLeft(0L)(_ + _._3).drop(1)
    val t = (j * total).toDouble / w
    val p = cumAfter.indexWhere(_ >= t)
    val (lo, hi, n) = pieces(p)
    val before = if (p == 0) 0L else cumAfter(p - 1)
    if (hi == lo) lo
    else lo + (hi - lo) * ((t - before) / n)
  }

  /** Metadata-only QUANTILE estimates — the inverse of
    * [[rangeEstimateMicro]]: the value at each mass fraction, read from
    * the committed equi-depth histograms alone (one small-file manifest
    * read, zero data whatever the table size). Fractions arrive as
    * exact integer pairs (num, den) so the rank arithmetic is
    * engine-portable; the only doubles are the fixed-shape piecewise
    * interpolation both engines evaluate identically. None when any
    * live entry lacks the histogram — absence degrades to "compute from
    * data", never to a guess. */
  def quantileEstimates(spark: SparkSession, dir: String,
      colName: String, fracs: Seq[(Int, Int)]): Option[Seq[Double]] = {
    require(fracs.forall { case (n, d) => n > 0 && n < d },
      s"fractions must satisfy 0 < num < den, got $fracs")
    massProfile(spark, dir, colName).map { case (pieces, total) =>
      fracs.map { case (n, d) => cutAt(pieces, total, n.toLong, d.toLong) }
    }
  }

  /** Rewrite the current snapshot RANGE-CLUSTERED on `colName` into one
    * manifest entry per shard, with shard bounds from [[histogramCuts]]
    * — balanced layout WITHOUT the sampling pass `repartitionByRange`
    * performs, and deterministically (the cuts are a function of
    * committed metadata, so the same table always lands in the same
    * layout). Shard of a row = the smallest j with value ≤ cut_j (w−1
    * for values above every cut; nulls ride shard 0 — they sort first,
    * matching the min/max stats codec's null handling). One
    * distributed write job; per-shard min/max stats + exact counts +
    * fresh histograms land on each entry, so range scans prune to the
    * shards they overlap and future cut decisions stay metadata-only.
    * Returns the cuts, or None (no histograms — nothing rewritten:
    * absence degrades to "leave the layout alone", never to a sampled
    * guess). Version PINNED for planning like [[compact]]; a lost
    * publish race rebases over interleaved append-only commits
    * ([[commitRewriteLines]]). */
  def compactBalanced(spark: SparkSession, dir: String, colName: String,
      w: Int): Option[Seq[Double]] = {
    import org.apache.spark.sql.functions.{col, lit, when}
    histogramCuts(spark, dir, colName, w).map { cuts =>
      val prev = version(spark, dir)
      val snap = readAt(spark, dir, prev, mergeSchema = true)
      val shard = cuts.zipWithIndex.foldRight(lit(w - 1)) {
        case ((c, j), acc) => when(col(colName) <= lit(c), j).otherwise(acc)
      }
      val shardCol = when(col(colName).isNull, lit(0)).otherwise(shard)
      val batch = java.util.UUID.randomUUID().toString
      val staging = s"$dir/data/$batch"
      snap.withColumn("__sh", shardCol)
        .write.partitionBy("__sh").parquet(staging)
      val written = spark.read.parquet(staging)
      val perShard =
        groupedStatsWithCount(written, col("__sh"), Seq(colName))
      val perShardHist = groupedHistograms(written, col("__sh"), colName)
      val f = fs(spark, dir)
      val subdirs = f.listStatus(new Path(staging))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("__sh="))
        .sortBy(_.stripPrefix("__sh=").toInt)
      val lines = subdirs.map { sd =>
        val g = sd.stripPrefix("__sh=")
        val hist = perShardHist.get(g)
          .map(histKey(colName) -> _).toMap
        val stats = perShard.get(g)
          .map { case (n, st) => st ++ hist + rowsStat(n) }
          .getOrElse(Map.empty[String, ColStats])
        Entry(s"data/$batch/$sd", stats).line
      }
      commitRewriteLines(spark, dir, prev, lines, Map.empty)
      cuts
    }
  }

  /** Table-level heavy hitters merged across entries: per-value counts
    * SUM where present (each entry's list is exact for that entry), so
    * every reported count is an exact LOWER BOUND on the value's true
    * table frequency — the safe direction for skew detection (a missed
    * hot key degrades to the un-salted plan, never a wrong result).
    * None when any entry lacks the stat (absence degrades to
    * "recompute from data", never to a wrong number). */
  def mergedTopK(spark: SparkSession, dir: String,
      colName: String): Option[Seq[(String, Long)]] = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    val sks = entries(spark, dir, v).filterNot(isTombEntry)
      .map(_.stats.get(topKeyKey(colName)))
    if (sks.isEmpty || sks.exists(s => s.isEmpty || s.get.tag != 'T'))
      return None
    val summed = sks.flatMap(_.get.min.split(",").toSeq.map { p =>
      val i = p.lastIndexOf(':')
      unb64(p.substring(0, i)) -> p.substring(i + 1).toLong
    }).groupBy(_._1).map { case (v0, ps) => v0 -> ps.map(_._2).sum }
    Some(summed.toSeq.sortBy { case (v0, n) => (-n, v0) }.take(TopKStatN))
  }

  /** The hottest key's recorded row count (lower bound; see
    * [[mergedTopK]]) — the single number the salted-join verdict
    * needs. */
  def maxKeyRows(spark: SparkSession, dir: String,
      colName: String): Option[Long] =
    mergedTopK(spark, dir, colName).flatMap(_.headOption).map(_._2)

  /** Distinct-count estimate for `colName` from manifest METADATA alone:
    * per-entry KMV sketches merge losslessly (the k smallest hashes of a
    * union are determined by each entry's k smallest — the mergeable-
    * summaries property), so table-level NDV costs one small-file read,
    * zero data reads — the statistic a join planner wants before
    * choosing broadcast vs shuffle. Exact below k. None when any entry
    * lacks the sketch (pre-sketch commits, compactions — absence
    * degrades to "recompute from data", never to a wrong number). */
  /** The table's merged (k, sorted bottom-k hash set) for `colName`, or
    * None when any entry lacks the sketch. */
  private def mergedNdvSketch(spark: SparkSession, dir: String,
      colName: String): Option[(Int, Seq[Long])] = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    val sks = entries(spark, dir, v).map(_.stats.get(kmvKey(colName)))
    if (sks.isEmpty || sks.exists(s => s.isEmpty || s.get.tag != 'V'))
      return None
    val k = sks.map(_.get.max.toInt).min
    val merged = sks.flatMap { s =>
      val bytes = java.util.Base64.getDecoder.decode(s.get.min)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Seq.fill(bytes.length / 8)(bb.getLong)
    }.distinct.sorted.take(k)
    Some((k, merged))
  }

  private def kmvEstimate(k: Int, sketch: Seq[Long]): Double =
    if (sketch.size >= k)
      (k - 1).toDouble * graft.functions.PortableHash.P / sketch.last
    else sketch.size.toDouble

  def ndvEstimate(spark: SparkSession, dir: String,
      colName: String): Option[Double] =
    mergedNdvSketch(spark, dir, colName)
      .map { case (k, merged) => kmvEstimate(k, merged) }

  /** Join-cardinality planning from metadata alone: estimate the KEY
    * OVERLAP of two tables' columns from their stored NDV sketches —
    * the KMV set-operation estimator (Beyer et al., SIGMOD'07): take
    * the bottom-k of the UNION of both sketches; the fraction of those
    * hashes present in BOTH sketch sets estimates the Jaccard
    * similarity, and |A∩B| ≈ J · |A∪B|. Returns (jaccard,
    * est_intersection, est_union), or None when either side lacks
    * sketches. This is the number a planner wants before choosing a
    * join strategy — a near-zero overlap says the join output is tiny
    * whatever the input sizes (filter first), a high overlap on a
    * low-NDV key warns of multiplicative blowup — and it costs two
    * manifest reads, no data. Exact (not estimated) whenever both
    * columns' distinct counts fit under k. */
  def ndvOverlap(spark: SparkSession, dirA: String, colA: String,
      dirB: String, colB: String): Option[(Double, Double, Double)] = {
    for {
      (ka, sa) <- mergedNdvSketch(spark, dirA, colA)
      (kb, sb) <- mergedNdvSketch(spark, dirB, colB)
    } yield {
      val k = math.min(ka, kb)
      val aSet = sa.toSet
      val bSet = sb.toSet
      val union = (sa ++ sb).distinct.sorted.take(k)
      val j = union.count(h => aSet(h) && bSet(h))
      val jaccard = j.toDouble / math.min(k, union.size)
      val estUnion = kmvEstimate(k, union)
      (jaccard, jaccard * estUnion, estUnion)
    }
  }

  /** The decision [[ndvOverlap]] exists to feed, fully evaluated:
    * (rows, NDV, key overlap) → join cardinality estimate + strategy.
    * See [[joinPlan]]. */
  final case class JoinPlan(rowsA: Long, rowsB: Long, ndvA: Double,
      ndvB: Double, estKeyOverlap: Double, estJoinRows: Double,
      strategy: String, maxKeyRowsA: Long = -1L, maxKeyRowsB: Long = -1L)

  /** Metadata-only JOIN PLANNING — the storage layer answering "how
    * should these two tables join?" before any data is read: row counts
    * come off the manifests' per-entry counts, per-side NDV and the key
    * overlap off the stored KMV sketches (two small-file reads total).
    * The cardinality estimate is the classic uniform-frequency model
    * restricted to the estimated key intersection:
    * `rowsA/ndvA · rowsB/ndvB · |A∩B|`. Strategy, in decision order:
    *
    *   1. `broadcast` — either side's ROW count is at or under
    *      `broadcastRows`: ship the small side to every task, no
    *      shuffle at all (Spark's own broadcast-join rule, decided here
    *      from manifest counts instead of scan-size guesses).
    *   2. `prefilter_semi` — the estimated key intersection is under
    *      1/20 of the LARGER side's key set: most of the big side's
    *      rows die in the join, so a bloom/semi-join prefilter built
    *      from the other side's keys pays for itself before the
    *      shuffle (the low-overlap warning [[ndvOverlap]] documents).
    *   3. `shuffle` — both sides big, overlap material: the plain
    *      hash-partitioned join is the right plan.
    *
    * Every input is deterministic given the manifests (counts are
    * exact, sketch arithmetic is fixed-order double math), so an
    * external engine reproduces the full plan row bit-exactly — q134
    * holds this function's output to a DuckDB oracle. None when either
    * side lacks row counts or sketches on the join column (plan from
    * data when metadata can't answer — never guess). */
  def joinPlan(spark: SparkSession, dirA: String, colA: String,
      dirB: String, colB: String, broadcastRows: Long): Option[JoinPlan] =
    for {
      ra <- rowCount(spark, dirA)
      rb <- rowCount(spark, dirB)
      na <- ndvEstimate(spark, dirA, colA)
      nb <- ndvEstimate(spark, dirB, colB)
      (_, inter, _) <- ndvOverlap(spark, dirA, colA, dirB, colB)
    } yield {
      val est = ra.toDouble / na * (rb.toDouble / nb) * inter
      // optional skew input ([[maxKeyRows]], exact lower bound): absent
      // stats (-1) simply never fire the salted branch — the q139 rule
      // (hottest key > 4x the average key) decides, and only where the
      // plain shuffle would otherwise run: a broadcast has no shuffle
      // to skew, a prefilter kills the rows first
      val mka = maxKeyRows(spark, dirA, colA).getOrElse(-1L)
      val mkb = maxKeyRows(spark, dirB, colB).getOrElse(-1L)
      val skewed =
        mka.toDouble > 4.0 * (ra.toDouble / na) ||
        mkb.toDouble > 4.0 * (rb.toDouble / nb)
      val strategy =
        if (math.min(ra, rb) <= broadcastRows) "broadcast"
        else if (inter * 20.0 < math.max(na, nb)) "prefilter_semi"
        else if (skewed) "salted"
        else "shuffle"
      JoinPlan(ra, rb, na, nb, inter, est, strategy, mka, mkb)
    }

  /** true iff `value` might be present per the entry's bloom for `c`
    * (no bloom recorded → unknown → true). Integral values widen to Long
    * to match how the writer's aggregate hashed them. */
  private def bloomMightContain(e: Entry, c: String, value: Any): Boolean =
    e.stats.get(bloomKey(c)) match {
      case Some(st) if st.tag == 'B' =>
        val bytes = java.util.Base64.getDecoder.decode(st.min)
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
        value match {
          case b: Byte   => bf.mightContainLong(b.toLong)
          case sh: Short => bf.mightContainLong(sh.toLong)
          case i: Int    => bf.mightContainLong(i.toLong)
          case l: Long   => bf.mightContainLong(l)
          case s: String => bf.mightContainString(s)
          case other     => bf.mightContain(other)
        }
      case _ => true
    }

  /** Multi-writer append commit: write the batch's data files once, then
    * loop a CONDITIONAL PUT on the next manifest name, rebasing onto the
    * current snapshot each attempt. Appends commute — the rebased
    * manifest is just this batch's entry appended to whatever the
    * interleaving winners published — so the retry is always correct:
    * this is the blind-append fast path of optimistic concurrency in
    * log-structured table formats. Non-append commits (replace / merge /
    * delete / compact) can NOT rebase: their entry sets are computed
    * against one snapshot, so they go through [[publishNew]] and fail
    * loudly if they lose the name. */
  private def commitAppend(spark: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01,
      header: Map[String, String] = Map.empty,
      ndvCols: Seq[String] = Nil,
      topKCols: Seq[String] = Nil,
      tokenBloomCols: Seq[String] = Nil,
      histCols: Seq[String] = Nil): Long = {
    val batch = java.util.UUID.randomUUID().toString
    val dataDir = s"$dir/data/$batch"
    val (rows, writeStats) =
      writeWithStats(df, dataDir, statsCols, ndvCols)
    val line = Entry(s"data/$batch",
      writeStats ++
        writtenStats(spark, dataDir, bloomCols, bloomFpp, topKCols,
          tokenBloomCols, histCols, knownRows = Some(rows)) +
        rowsStat(rows)).line
    commitAppendLines(spark, dir, Seq(line), header)
  }

  /** The CAS loop shared by every appending commit: publish `newLines`
    * appended to the current snapshot's entries, rebasing and retrying
    * on a lost race (the data these lines reference is already on disk
    * and immutable — only the manifest rebases). Writes a DELTA manifest
    * (its own lines + a `delta.base` link) except at the
    * [[manifestCheckpointEvery]] cadence — the append hot path costs
    * O(batch), not O(table files). */
  private[sinks] def commitAppendLines(spark: SparkSession, dir: String,
      newLines: Seq[String], header: Map[String, String]): Long = {
    val f = fs(spark, dir)
    var committed = -1L
    var attempts = 0
    while (committed < 0) {
      val prev = version(spark, dir)
      val next = prev + 1
      val every = manifestCheckpointEvery
      require(every >= 1, s"manifestCheckpointEvery must be >= 1: $every")
      val delta = prev >= 0 && every > 1 && next % every != 0L
      // header re-merged per attempt: a rebase must carry the WINNER's
      // markers forward, not the snapshot this writer first saw
      val hdr = mergeHeader(manifestHeader(spark, dir, prev),
        header + (TsKey -> System.currentTimeMillis.toString))
      val lines =
        if (delta)
          headerLines(hdr + (DeltaBaseKey -> prev.toString)) ++ newLines
        else
          headerLines(hdr) ++ manifestEntries(spark, dir, prev) ++ newLines
      if (tryPublishNew(f, new Path(dir, s"_manifests/$next.manifest"),
          lines.mkString("\n"))) committed = next
      else {
        // only a COMPETING COMMIT makes the conditional put lose (the
        // winner's manifest occupies the name, so the listing advanced);
        // a failed rename with no version advance is an infrastructure
        // failure (permissions, disk full, store errors) — retrying
        // 1000× would only mask it
        val listed = listedVersion(f, dir)
        require(listed > prev,
          s"failed to publish manifest $next at $dir: rename failed " +
            "but no competing commit advanced the version — " +
            "infrastructure failure, not a commit race")
        // self-heal the hint (the winner may have crashed before its
        // refresh): the retry's [[version]] probe anchors correctly
        writeHint(f, dir, listed)
        attempts += 1
        require(attempts < 1000,
          s"append to $dir starved: lost $attempts consecutive commit races")
      }
    }
    writeHint(f, dir, committed)
    committed
  }

  /** The CAS loop for CONTENT-IDENTICAL maintenance commits (the
    * [[compact]] family): publish `rewriteLines` as the new snapshot's
    * entry list, REBASING over interleaved commits on a lost race when
    * — and only when — every interloper purely APPENDED lines to the
    * snapshot the rewrite was planned against ([[commitAppendLines]]
    * appends, [[appendOnce]] epochs, [[mergeOnRead]] upserts, MoR
    * delete tombstones: all land as `base ++ suffix`). The rebased
    * manifest is `rewriteLines ++ suffix`, which serializes the history
    * as "maintenance first, then the interleaved commits": the rewrite
    * is content-identical to `base`, every suffix line keeps its
    * relative order, and all pre-suffix data still precedes every
    * suffix tombstone — so a suffix tombstone filters the rewritten
    * rows exactly as it filtered the originals, and suffix data lands
    * after it, position-correct. Headers re-merge from the WINNER's
    * ([[mergeHeader]] keeps progress markers monotonic). An interloper
    * that did NOT purely append (another rewrite: compact / merge /
    * delete-rewrite / replace) breaks the prefix property and aborts
    * loudly — its output depended on entries this rewrite replaces, so
    * no automatic serialization is sound. At 100 TB this is the
    * difference between maintenance that lands under a live streaming
    * writer and maintenance that can never win a busy table. */
  private[sinks] def commitRewriteLines(spark: SparkSession, dir: String,
      basedOn: Long, rewriteLines: Seq[String],
      header: Map[String, String]): Long = {
    val f = fs(spark, dir)
    val base = if (basedOn < 0) Seq.empty[String]
               else manifestEntries(spark, dir, basedOn)
    var planned = basedOn
    var committed = -1L
    var attempts = 0
    while (committed < 0) {
      val carried =
        if (planned == basedOn) Seq.empty[String]
        else {
          val cur = manifestEntries(spark, dir, planned)
          require(cur.startsWith(base),
            s"rewrite of $dir planned at v$basedOn conflicts with a " +
              s"concurrent REWRITE commit (v$planned is not an " +
              "append-extension of the planned snapshot) — rerun the " +
              "maintenance against the current version")
          cur.drop(base.size)
        }
      val prevHeader = if (planned < 0) Map.empty[String, String]
                       else manifestHeader(spark, dir, planned)
      val lines = headerLines(mergeHeader(prevHeader,
        header + (TsKey -> System.currentTimeMillis.toString))) ++
        rewriteLines ++ carried
      val next = planned + 1
      if (tryPublishNew(f, new Path(dir, s"_manifests/$next.manifest"),
          lines.mkString("\n"))) committed = next
      else {
        val listed = listedVersion(f, dir)
        require(listed > planned,
          s"failed to publish manifest $next at $dir: rename failed " +
            "but no competing commit advanced the version — " +
            "infrastructure failure, not a commit race")
        planned = listed
        attempts += 1
        require(attempts < 1000,
          s"rewrite of $dir starved: lost $attempts consecutive commit " +
            "races")
      }
    }
    writeHint(f, dir, committed)
    committed
  }

  /** Append a batch as a new commit — safe under CONCURRENT appenders
    * (each rebases and retries on a lost commit race; every batch lands
    * exactly once). Returns the committed version. */
  def append(df: DataFrame, dir: String): Long =
    commitAppend(df.sparkSession, dir, df)

  /** Append with per-entry min/max stats on `statsCols` recorded in the
    * manifest — the file-skipping path: [[readWhere]] then prunes whole
    * batch directories from a range scan using manifest metadata alone
    * (zero data reads to plan). The lakehouse pattern: at 100 TB a table
    * appended in time order prunes a time-range query to the handful of
    * batches that overlap it, and the stats ride in the same tiny
    * manifest the reader already fetches. */
  def appendWithStats(df: DataFrame, dir: String,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01, ndvCols: Seq[String] = Nil,
      topKCols: Seq[String] = Nil,
      tokenBloomCols: Seq[String] = Nil,
      histCols: Seq[String] = Nil): Long =
    commitAppend(df.sparkSession, dir, df, statsCols, bloomCols, bloomFpp,
      ndvCols = ndvCols, topKCols = topKCols,
      tokenBloomCols = tokenBloomCols, histCols = histCols)

  /** [[append]] carrying caller metadata in the same atomic commit — the
    * incremental-derived-artifact pattern (e.g. an ANN index extended by
    * a corpus delta, stamped with the NEW corpus fingerprint): batch and
    * marker publish together, and a rebased append re-merges the header
    * per attempt. Same non-numeric-value caveat as
    * [[replaceWithHeader]]. */
  def appendWithHeader(df: DataFrame, dir: String,
      header: Map[String, String]): Long =
    commitAppend(df.sparkSession, dir, df, header = header)

  /** Append a batch split into ONE MANIFEST ENTRY PER VALUE of
    * `partCol` — the time-partitioned fact-table layout. A wide batch
    * appended as one entry gets one [min,max] per column; per-partition
    * entries keep range scans pruning at PARTITION granularity from the
    * first commit, and a later `deleteWhere`/`merge` rewrites single
    * partitions instead of the whole batch. The partition column is
    * duplicated into the subdir name (Spark's partitionBy drops it from
    * the files, so a `__p` copy carries the naming while the real
    * column stays in the data — entry-path reads lose nothing). Stats
    * on `statsCols` plus `partCol` and the exact row count are recorded
    * per partition: one small stats job per NEW partition — bounded by
    * partitions-per-batch (a daily load has a handful), never by table
    * size. Multi-writer safe like [[append]] (same rebase loop; all of
    * this batch's partition entries publish atomically in one commit). */
  def appendPartitioned(df: DataFrame, dir: String, partCol: String,
      statsCols: Seq[String] = Nil): Long =
    appendPartitionedWithHeader(df, dir, partCol, statsCols, Map.empty)

  /** Stage a partitioned batch under `dir/data/` and return its
    * per-partition manifest entry lines (empty for an empty batch) —
    * shared by the appending and replacing partitioned commits. */
  private def stagePartitioned(df: DataFrame, dir: String,
      partCol: String, statsCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name,
      regexp_extract}
    val spark = df.sparkSession
    require(df.columns.contains(partCol),
      s"partition column $partCol not in ${df.columns.mkString(",")}")
    val batch = java.util.UUID.randomUUID().toString
    val staging = s"$dir/data/$batch"
    df.withColumn("__p", col(partCol))
      .write.partitionBy("__p").parquet(staging)
    val f = fs(spark, dir)
    val subdirs = f.listStatus(new Path(staging))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("__p=")).sorted
    if (subdirs.isEmpty) return Nil
    // stats + counts per partition from the PARQUET FOOTERS of the files
    // just written — driver-side metadata, zero Spark jobs, zero data
    // reads (r18, guide §6 / VERDICT r17 #3: the grouped read-back was
    // the last per-commit extra batch read in the partitioned append
    // path). Falls back to the one-pass grouped read-back whenever
    // footer parity is not provable (float/double stats columns, missing
    // chunk statistics — e.g. >4 KB string bounds the writer drops).
    val wantStats = (statsCols :+ partCol).distinct
    val perPart = footerGroupedStats(spark, staging, subdirs.toSeq,
        FooterStats.tagged(df.schema, wantStats)).getOrElse {
      val written = spark.read.parquet(staging)
        .withColumn("__sd",
          regexp_extract(input_file_name(), "(__p=[^/]+)/[^/]+$", 1))
      groupedStatsWithCount(written, col("__sd"), wantStats)
    }
    subdirs.toSeq.map { sd =>
      val stats = perPart.get(sd)
        .map { case (n, st) => st + rowsStat(n) }
        .getOrElse(Map.empty[String, ColStats])
      Entry(s"data/$batch/$sd", stats).line
    }
  }

  /** Per-subdir (row count, min/max stats) of a just-written partitioned
    * staging dir, derived from the parquet FOOTERS alone: one
    * [[FooterStats.walk]] per subdir, under its exact-parity contract
    * with [[groupedStatsWithCount]] — ANY subdir's bail-out returns None
    * and the caller falls back to the read-back wholesale. A (theoretical)
    * row-less subdir has no group in the read-back's map either, so it
    * gets no key here. FooterStatsSpec pins value-identity against the
    * read-back. */
  private def footerGroupedStats(spark: SparkSession, staging: String,
      subdirs: Seq[String], typed: Seq[(String, Char)])
      : Option[Map[String, (Long, Map[String, ColStats])]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val empty = Map.empty[String, (Long, Map[String, ColStats])]
    subdirs.foldLeft(Option(empty)) { (acc, sd) =>
      acc.flatMap(m =>
        FooterStats.walk(conf, new Path(staging, sd), typed).map(w =>
          if (w._1 > 0L) m + (sd -> w) else m))
    }
  }

  private def appendPartitionedWithHeader(df: DataFrame, dir: String,
      partCol: String, statsCols: Seq[String],
      header: Map[String, String]): Long = {
    val spark = df.sparkSession
    val lines = stagePartitioned(df, dir, partCol, statsCols)
    // an empty batch writes no partition subdirs: committing would
    // publish an entry-less manifest (unreadable as a first version) —
    // a no-op instead, and an exactly-once marker is NOT advanced
    // (replaying an empty epoch is a no-op whatever the marker says)
    if (lines.isEmpty) return version(spark, dir)
    commitAppendLines(spark, dir, lines, header)
  }

  /** Partitioned [[appendPartitioned]] batch carrying caller metadata in
    * the same atomic commit (the partitioned sibling of
    * [[appendWithHeader]] — e.g. a cell-partitioned index delta stamped
    * with the new corpus fingerprint). */
  def appendPartitionedHeader(df: DataFrame, dir: String, partCol: String,
      header: Map[String, String], statsCols: Seq[String] = Nil): Long =
    appendPartitionedWithHeader(df, dir, partCol, statsCols, header)

  /** Rewriting commit in the PARTITIONED layout: the new snapshot holds
    * exactly this batch, one entry per `partCol` value (so equality
    * scans prune from the first commit), header metadata in the same
    * conditional put. The partitioned sibling of [[replaceWithHeader]].
    * Previous data becomes unreferenced ([[vacuum]] reclaims). */
  def replacePartitionedWithHeader(df: DataFrame, dir: String,
      partCol: String, header: Map[String, String],
      statsCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val basedOn = version(spark, dir)
    val lines = stagePartitioned(df, dir, partCol, statsCols)
    require(lines.nonEmpty,
      s"partitioned replace at $dir with an empty batch would publish " +
        "an entry-less manifest")
    val all = headerLines(mergeHeader(manifestHeader(spark, dir, basedOn),
      header + (TsKey -> System.currentTimeMillis.toString))) ++ lines
    val next = basedOn + 1
    val f = fs(spark, dir)
    publishNew(f, new Path(dir, s"_manifests/$next.manifest"),
      all.mkString("\n"))
    writeHint(f, dir, next)
    next
  }

  /** [[appendOnce]] × [[appendPartitioned]]: exactly-once epoch folding
    * into the partitioned layout — the production streaming shape for a
    * date-partitioned table (each epoch lands one stat-carrying entry
    * per partition it touches; a replayed epoch is skipped from the
    * manifest header). Same caveats as both parents. */
  def appendOncePartitioned(df: DataFrame, dir: String, batchId: Long,
      partCol: String, statsCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val cur = version(spark, dir)
    if (cur >= 0 && lastBatchId(spark, dir) >= batchId) return cur
    appendPartitionedWithHeader(df, dir, partCol, statsCols,
      Map(BatchKey -> batchId.toString))
  }

  /** Compact ONE partition of an [[appendPartitioned]] table: every
    * entry whose `partCol` stats pin it to exactly `value` is rewritten
    * into a single fresh entry; everything else carries by reference.
    * The per-partition OPTIMIZE of a streaming date-partitioned table —
    * epochs accumulate one entry per (epoch × partition) and this folds
    * one partition's pile back to one entry without touching the rest.
    * Entries without `partCol` stats are never touched (they may span
    * partitions). No-op when the partition already has ≤ 1 entry.
    * Single-writer like every rewriting commit. */
  def compactPartition(spark: SparkSession, dir: String, partCol: String,
      value: Any, statsCols: Seq[String] = Nil): Long = {
    val prev = version(spark, dir)
    require(prev >= 0, s"ManifestSink at $dir has no committed version")
    val v = boundStr(value)
    val (target, rest) = entries(spark, dir, prev).partition { e =>
      e.stats.get(partCol).exists(st => st.min == v && st.max == v)
    }
    if (target.size <= 1) return prev
    // assembled read: a tombstone after a target entry still filters its
    // rows before the rewrite; tombstone entries themselves carry no
    // partCol stats, so they always land in `rest` and carry forward
    val targetPaths = target.map(_.path).toSet
    val merged = assembleRead(spark, dir, prev, mergeSchema = true,
      keep = e => targetPaths(e.path))
    commit(spark, dir, merged, rest.map(_.line), prev,
      (statsCols :+ partCol).distinct, maintenance = true)
  }

  /** OPTIMIZE for the SMALL-FILE problem: merge only the batch dirs
    * whose recorded row count is below `minRows` into one clustered
    * batch, carrying every other entry by reference — the file-granular
    * compaction a streaming-append table needs. A 2-second-commit
    * stream produces tens of thousands of tiny batch dirs a day; full
    * [[compact]] pays O(table) to fix them, this pays O(small batches)
    * — at 100 TB the difference between a nightly maintenance job that
    * reads gigabytes and one that reads everything. Entries WITHOUT a
    * recorded row count are never treated as small (conservative: an
    * unknown size must not silently turn an O(small) maintenance op
    * into O(table)); tombstones stay in place and stay correct — the
    * merged rows are read THROUGH them (deletions applied before the
    * rewrite) and the rewritten entry lands after them in line order,
    * exactly like any append. No-op (current version returned) unless
    * at least two small entries exist. Optionally sorts by `sortCols`
    * and records fresh `statsCols` so the merged entry prunes well.
    * Same maintenance-commutes-with-appends contract as [[compact]]
    * ([[commitRewriteLines]]) — exactly the table this op serves (a
    * live streaming sink) is the one guaranteed to have appends racing
    * its nightly maintenance. */
  def compactSmall(spark: SparkSession, dir: String, minRows: Long,
      statsCols: Seq[String] = Nil, sortCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    val prev = version(spark, dir)
    require(prev >= 0, s"ManifestSink at $dir has no committed version")
    val (small, rest) = entries(spark, dir, prev).partition { e =>
      !isTombEntry(e) &&
        e.stats.get(RowsKey).flatMap(_.min.toLongOption).exists(_ < minRows)
    }
    if (small.size <= 1) return prev
    val smallPaths = small.map(_.path).toSet
    val merged = assembleRead(spark, dir, prev, mergeSchema = true,
      keep = e => smallPaths(e.path))
    val clustered =
      if (sortCols.isEmpty) merged else merged.sort(sortCols.map(col): _*)
    commit(spark, dir, clustered, rest.map(_.line), prev, statsCols,
      maintenance = true)
  }

  /** Header key holding the last exactly-once-folded batch id. */
  private val BatchKey = "batch"

  /** Last batchId folded by [[appendOnce]], or -1 if none (empty table,
    * or a history written without exactly-once appends). */
  def lastBatchId(spark: SparkSession, dir: String): Long =
    manifestHeader(spark, dir, version(spark, dir))
      .get(BatchKey).flatMap(_.toLongOption).getOrElse(-1L)

  /** Exactly-once streaming append: fold a foreachBatch micro-batch into
    * the table, SKIPPING batches already committed. The folded batchId
    * rides in the manifest header of the same conditional-put commit as
    * the data — marker and batch are atomic, so a replayed epoch
    * (foreachBatch delivery is at-least-once) is detected from manifest
    * metadata alone: O(1) instead of the O(table) anti-join replay
    * absorption the keyed sink uses, which is the difference at 100 TB.
    * The marker survives every other commit (headers are carried forward
    * by compact / merge / delete / replace), and a rebased concurrent
    * append advances it monotonically. Replays are assumed sequential —
    * Structured Streaming re-runs a failed epoch before advancing —
    * matching one stream per table (concurrent DIFFERENT-source appends
    * remain safe; concurrent replays of the SAME epoch are not a shape
    * foreachBatch produces). Returns the committed (or current, when
    * skipped) version.
    *
    * Inside foreachBatch over a STATEFUL stream, materialize the batch
    * (persist + count) before calling this: a skipped replay reads
    * nothing from `df`, and Spark's state-store commit validation
    * requires every partition of a stateful batch to be processed —
    * [[graft.streaming.WikiStream.appendOnceWithRetentionManifest]]'s
    * empty-batch count guard does exactly this. */
  def appendOnce(df: DataFrame, dir: String, batchId: Long,
      statsCols: Seq[String] = Nil): Long =
    appendOnceWithHeader(df, dir, batchId, Map.empty, statsCols)

  /** [[appendOnce]] carrying extra caller metadata in the SAME atomic
    * commit as the batch marker and the data — for streaming folds that
    * maintain their own progress values beside the batch id (e.g. the
    * late-data channel's event-time watermark). Numeric header values
    * merge monotonically (max, [[mergeHeader]]), so a rebased or
    * replayed commit can never regress a progress marker. */
  def appendOnceWithHeader(df: DataFrame, dir: String, batchId: Long,
      header: Map[String, String], statsCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val cur = version(spark, dir)
    if (cur >= 0 && lastBatchId(spark, dir) >= batchId) return cur
    commitAppend(spark, dir, df, statsCols,
      header = header + (BatchKey -> batchId.toString))
  }

  /** Write-audit-publish append (the WAP pattern of log-structured
    * table formats): the batch's files are WRITTEN first — staged and
    * invisible, since no manifest references them — the audit runs over
    * exactly the bytes a reader would see, and only a green audit
    * publishes the entry (the same CAS rebase loop as [[append]], so
    * it stays multi-writer safe). A red audit publishes NOTHING: the
    * staged directory is an unreferenced orphan reclaimed by
    * [[vacuum]], and the violations come back to the caller as
    * `Left`. Auditing the WRITTEN files rather than the input plan
    * matters twice over — the check covers post-serialization reality
    * (encoders, schema coercions), and the expensive upstream plan is
    * never evaluated a second time to re-derive what was audited.
    *
    * Scale: the audit costs one read of the NEW batch, never the
    * table; a failed batch costs its own write plus a vacuum — the
    * alternative (publish, then notice, then delete-rewrite) costs a
    * data-changing commit, breaks incremental consumers ([[changes]]
    * refuses delete windows), and leaves the bad rows visible in the
    * meantime. */
  def appendAudited(df: DataFrame, dir: String,
      audit: DataFrame => Seq[String],
      statsCols: Seq[String] = Nil): Either[Seq[String], Long] = {
    val spark = df.sparkSession
    val batch = java.util.UUID.randomUUID().toString
    val dataDir = s"$dir/data/$batch"
    val (rows, writeStats) = writeWithStats(df, dataDir, statsCols, Nil)
    val staged = spark.read.parquet(dataDir)
    val violations = audit(staged)
    if (violations.nonEmpty) Left(violations)
    else {
      val line = Entry(s"data/$batch", writeStats + rowsStat(rows)).line
      Right(commitAppendLines(spark, dir, Seq(line), Map.empty))
    }
  }

  /** Replace the whole table content (compaction/retention commit):
    * previous data files become unreferenced, reclaim via [[vacuum]]. */
  def replace(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    commit(spark, dir, df, Nil, version(spark, dir))
  }

  /** [[replace]] carrying caller metadata in the manifest header of the
    * SAME atomic commit — the derived-artifact pattern (e.g. an ANN index
    * stamped with the fingerprint of the corpus it was built from): the
    * artifact and its provenance marker can never be observed separately.
    * NOTE: numeric header values merge monotonically (max, see
    * [[mergeHeader]]); provenance values should be non-numeric strings
    * (e.g. `sha:...`) so a rewrite always wins. */
  def replaceWithHeader(df: DataFrame, dir: String,
      header: Map[String, String]): Long = {
    val spark = df.sparkSession
    commit(spark, dir, df, Nil, version(spark, dir), header = header)
  }

  /** Metadata-only ROLLBACK (the RESTORE analog): commit a NEW version
    * whose entry list is exactly version `v`'s. No data is read, copied,
    * or deleted — the cost is one small manifest write whatever the
    * table size — and the rolled-back versions stay time-travel
    * readable until [[vacuum]] (so a mistaken restore is itself
    * restorable). The restore commit carries the CURRENT header
    * lineage, not `v`'s: header keys are progress markers (exactly-once
    * batch ids, commit timestamps) and rolling them back would let a
    * replayed batch double-apply after a data rollback. Fails loudly if
    * a concurrent commit lands first (same conditional-put discipline
    * as every rewrite). */
  def restore(spark: SparkSession, dir: String, v: Long): Long = {
    val cur = version(spark, dir)
    require(cur >= 0, s"ManifestSink at $dir has no committed version")
    require(v >= 0 && v <= cur, s"restore target $v outside [0, $cur]")
    val lines = headerLines(mergeHeader(manifestHeader(spark, dir, cur),
      Map(TsKey -> System.currentTimeMillis.toString))) ++
      manifestEntries(spark, dir, v)
    val f = fs(spark, dir)
    val next = cur + 1
    publishNew(f, new Path(dir, s"_manifests/$next.manifest"),
      lines.mkString("\n"))
    writeHint(f, dir, next)
    next
  }

  /** Zero-copy SHALLOW CLONE: initialize `dstDir` with a manifest whose
    * entries reference the source snapshot's data directories IN PLACE
    * (absolutized paths) — no data is read or copied; the cost is one
    * small manifest write whatever the table size. The clone then
    * evolves independently: its own commits land under its own `data/`
    * root, and a [[merge]]/[[deleteWhere]] that touches a borrowed batch
    * rewrites it copy-on-write into the clone — the source is never
    * mutated. [[vacuum]] on the clone sweeps only the clone's own data
    * root, so borrowed files are never its to delete; vacuum on the
    * SOURCE does not know about borrowers — keep the source's retention
    * covering any live clones (the standard shallow-clone contract).
    * The source header carries over (a fork keeps its lineage markers)
    * plus `clone_src` provenance. Returns the clone's first version. */
  def shallowClone(spark: SparkSession, srcDir: String,
      dstDir: String): Long = {
    val sv = version(spark, srcDir)
    require(sv >= 0, s"clone source $srcDir has no committed version")
    require(version(spark, dstDir) == -1L,
      s"clone target $dstDir already has commits")
    val srcAbs = fs(spark, srcDir)
      .makeQualified(new Path(srcDir)).toUri.getPath
    val borrowed = entries(spark, srcDir, sv).map { e =>
      Entry(resolvePath(srcAbs, e.path), e.stats).line
    }
    val lines = headerLines(mergeHeader(manifestHeader(spark, srcDir, sv),
      Map(TsKey -> System.currentTimeMillis.toString,
        "clone_src" -> s"$srcAbs@v$sv"))) ++ borrowed
    val f = fs(spark, dstDir)
    publishNew(f, new Path(dstDir, "_manifests/0.manifest"),
      lines.mkString("\n"))
    writeHint(f, dstDir, 0L)
    0L
  }

  /** Compact the current snapshot into a single batch directory (the
    * OPTIMIZE analog): content-identical rows, one entry in the new
    * manifest, previous versions still time-travel readable until
    * [[vacuum]]. Optionally sorts by `sortCols` first — clustering the
    * rewrite so the recomputed `statsCols` ranges become tight and
    * disjoint across future range scans (the poor-man's Z-order for one
    * key) — and records fresh stats (and `bloomCols` point-lookup
    * blooms — a maintenance pass is where erasure certificates and
    * key-lookup layouts refresh their filters) for the compacted entry.
    * Returns the committed version. */
  def compact(spark: SparkSession, dir: String,
      statsCols: Seq[String] = Nil, sortCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    // mergeSchema: compacting a schema-evolved table must carry EVERY
    // column — the single-schema read would silently drop late-added ones.
    // The version is PINNED for planning; on a lost publish race the
    // commit REBASES over interleaved append-only commits (streaming
    // epochs, MoR upserts/deletes) and aborts loudly only on a
    // concurrent rewrite — see [[commitRewriteLines]]
    val prev = version(spark, dir)
    require(prev >= 0, s"ManifestSink at $dir has no committed version")
    val snap = readAt(spark, dir, prev, mergeSchema = true)
    val clustered =
      if (sortCols.isEmpty) snap else snap.sort(sortCols.map(col): _*)
    commit(spark, dir, clustered, Nil, prev, statsCols, bloomCols,
      maintenance = true)
  }

  /** Z-order compaction: rewrite the current snapshot clustered on the
    * INTERLEAVED bits of `zCols` (Morton order), split into `buckets`
    * manifest entries each carrying its own column stats — so conjunctive
    * range scans over SEVERAL columns prune, not just the single leading
    * sort key a linear `compact(sortCols)` clustering serves. Each
    * dimension is scaled to a cell over its value range — EQUI-DEPTH
    * when `equiDepth` is set and the dimension has committed histograms
    * (cell boundaries at the 16-quantiles of the table's own
    * [[histogramCuts]] mass profile — metadata-only, deterministic, and
    * skew-proof: a value region holding 90% of the rows still spreads
    * over ~90% of the cells instead of collapsing into one), linear
    * over [min,max] otherwise — cells interleave
    * bit-by-bit into the z-value, and an entry is one contiguous range of
    * the top log2(buckets) z-bits: a hyper-rectangle query overlaps only
    * the entries whose z-prefix region intersects it — O(buckets^(1-1/d))
    * of them instead of all (the multi-dimensional-clustering argument of
    * Delta's OPTIMIZE ZORDER BY). Content-identical to the snapshot;
    * previous versions still time-travel until [[vacuum]]. Everything is
    * one distributed write job: the only driver data are the ≤2·|zCols|
    * min/max scalars (skipped entirely when every dimension resolves
    * equi-depth — the cuts come from metadata alone) and the
    * ≤`buckets`-row stats aggregate. Equi-depth cells use 4 bits (16
    * cells — an 8-bucket committed histogram resolves no finer), linear
    * cells 8; a dimension without histograms degrades to linear
    * per-dimension, never to a sampled guess. Null cell = 0 on both
    * paths (nulls sort first, matching the stats codec). */
  def compactZOrder(spark: SparkSession, dir: String, zCols: Seq[String],
      statsCols: Seq[String] = Nil, buckets: Int = 16,
      equiDepth: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, floor, greatest,
      least, lit, max, min, shiftleft, shiftright, when}
    require(zCols.size >= 2,
      "z-ordering needs >= 2 columns (use compact(sortCols) for one)")
    require(zCols.size <= 7,
      "z-ordering supports at most 7 columns (8 bits each in a long)")
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val bitsPerDim = if (equiDepth) 4 else 8
    val nd = zCols.size
    val totalBits = bitsPerDim * nd
    val kBits = 31 - Integer.numberOfLeadingZeros(buckets)
    require(kBits <= totalBits, s"buckets 2^$kBits exceeds z space")
    // pinned snapshot for planning; a lost publish race rebases over
    // interleaved append-only commits via [[commitRewriteLines]]
    val prev = version(spark, dir)
    require(prev >= 0, s"ManifestSink at $dir has no committed version")
    val snap = readAt(spark, dir, prev, mergeSchema = true)
    val nCells = 1 << bitsPerDim
    // equi-depth boundaries from the committed histograms; a dim whose
    // entries lack them falls back to the linear [min,max] cell below
    val quantCuts: Map[String, Seq[Double]] =
      if (!equiDepth) Map.empty
      else zCols.flatMap(c => massProfile(spark, dir, c)
        .map { case (p, t) => c -> cutsFromProfile(p, t, nCells) }).toMap
    val linearDims = zCols.filterNot(quantCuts.contains)
    val bounds = if (linearDims.isEmpty) null else {
      val boundAggs = linearDims.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"__mn_$c"),
        max(col(c)).cast("double").as(s"__mx_$c")))
      snap.agg(boundAggs.head, boundAggs.tail: _*).head()
    }
    val cells = zCols.map { c =>
      quantCuts.get(c) match {
        case Some(cuts) =>
          // cell = smallest j with v ≤ cut_j, nCells−1 above every cut
          // (compactBalanced's shard convention); nulls ride cell 0
          val cell = cuts.zipWithIndex.foldRight(lit((nCells - 1).toLong)) {
            case ((cut, j), acc) =>
              when(col(c).cast("double") <= lit(cut), j.toLong)
                .otherwise(acc)
          }
          when(col(c).isNull, lit(0L)).otherwise(cell)
        case None =>
          val mn = Option(bounds.getAs[Any](s"__mn_$c"))
            .fold(0.0)(_.asInstanceOf[Double])
          val mx = Option(bounds.getAs[Any](s"__mx_$c"))
            .fold(0.0)(_.asInstanceOf[Double])
          val span = if (mx > mn) mx - mn else 1.0
          // long cells: with >= 4 dims the interleaved bit positions pass
          // 31, and int shifts would overflow into the sign bit (buckets
          // go negative, z order inverts) or wrap the shift amount mod 32
          least(lit((nCells - 1).toLong), greatest(lit(0L),
            floor((coalesce(col(c).cast("double"), lit(mn)) - mn)
              / span * nCells).cast("long")))
      }
    }
    // Morton interleave: z bit (i·nd + pos) = dimension cell's bit i,
    // first zCol in the most significant position of each group
    val z = (0 until bitsPerDim).flatMap { i =>
      cells.zipWithIndex.map { case (cell, d) =>
        shiftleft(shiftright(cell, i).bitwiseAND(lit(1)),
          i * nd + (nd - 1 - d)) }
    }.reduce(_ + _)
    val zb = shiftright(z, totalBits - kBits)
    val batch = java.util.UUID.randomUUID().toString
    val staging = s"$dir/data/$batch"
    snap.withColumn("__zb", zb).write.partitionBy("__zb").parquet(staging)
    // per-bucket stats + exact row counts from the written files — ONE
    // grouped columnar pass; __zb rides along as the inferred partition
    // column, so every z entry stays [[rowCount]]-addressable
    val written = spark.read.parquet(staging)
    val perBucket = groupedStatsWithCount(written, col("__zb"), statsCols)
    val f = fs(spark, dir)
    val subdirs = f.listStatus(new Path(staging))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("__zb=")).sortBy(_.stripPrefix("__zb=").toLong)
    val entries = subdirs.map { sd =>
      val b = sd.stripPrefix("__zb=")
      val stats = perBucket.get(b)
        .map { case (n, st) => st + rowsStat(n) }
        .getOrElse(Map.empty[String, ColStats])
      Entry(s"data/$batch/$sd", stats).line
    }
    commitRewriteLines(spark, dir, prev, entries, Map.empty)
  }

  /** Per-column min/max (typed by [[FooterStats.statsTag]]; all-null
    * columns get no stats) + exact row count per group, keyed by the
    * STRING form of `groupKey` — ONE aggregate over the frame, ≤ #groups
    * driver rows, whatever the key's type (z buckets, Hive partition
    * subdir names, …). */
  private def groupedStatsWithCount(df: DataFrame,
      groupKey: org.apache.spark.sql.Column, statsCols: Seq[String])
      : Map[String, (Long, Map[String, ColStats])] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val typed = FooterStats.tagged(df.schema, statsCols)
    val aggs = count(lit(1)).as("__n") +: typed.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")) }
    df.groupBy(groupKey.cast("string").as("__g"))
      .agg(aggs.head, aggs.drop(1): _*)
      .collect().map { row =>
        val stats = typed.flatMap { case (c, tag) => minMaxStat(c, tag,
          row.getAs[Any](s"__mn_$c"), row.getAs[Any](s"__mx_$c")) }.toMap
        row.getAs[String]("__g") -> (row.getAs[Long]("__n") -> stats)
      }.toMap
  }

  /** Parsed entries (path + stats) of version `v` — the observable the
    * pruning spec and any external planner read. */
  def entries(spark: SparkSession, dir: String, v: Long): Seq[Entry] =
    manifestEntries(spark, dir, v).map(parseEntry)

  /** Exact row count of the current snapshot from manifest METADATA
    * alone — no data read, no Spark job: every commit records its
    * batch's count (observed on the write job) in the entry line, so
    * `count(*)` and the retention-threshold check cost one small-file
    * read whatever the table size. None when some entry predates row
    * counts (fall back to `read(...).count()`). */
  def rowCount(spark: SparkSession, dir: String): Option[Long] = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    val per = entries(spark, dir, v)
      .map(_.stats.get(RowsKey).flatMap(_.min.toLongOption))
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** Recorded row total of the DATA entries added in `(fromV, toV]` —
    * manifest metadata only, the size of an incremental read's delta
    * BEFORE any data is touched (what an incremental consumer needs to
    * decide broadcast-vs-shuffle for its fold join). Tombstone entries
    * excluded (keys, not rows). None when any added entry predates row
    * counting — absence degrades the caller to the conservative plan,
    * never to a guess. */
  def addedRows(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): Option[Long] = {
    val (added, _) = changedEntries(spark, dir, fromV, toV)
    val es = manifestEntries(spark, dir, toV).map(parseEntry)
    val tomb = es.filter(isTombEntry).map(_.path).toSet
    val rowsByPath = es.iterator
      .map(e => e.path -> e.stats.get(RowsKey).flatMap(_.min.toLongOption))
      .toMap
    val per = added.filterNot(tomb).map(p => rowsByPath.getOrElse(p, None))
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** tag-typed `<=` over the stats string encoding ('L' long, 'D'
    * double, 'S' unsigned-UTF-8). An 'L' comparison whose operand
    * isn't a long literal (a caller probing an integral column with a
    * fractional bound, e.g. `v <= 100.5`) falls back to exact double
    * comparison — longs below 2^53 convert exactly, so the answer
    * stays sound and the entry still prunes instead of the probe
    * crashing or degrading to keep-everything. */
  private def leTagged(tag: Char, a: String, b: String): Boolean = tag match {
    case 'L' => (a.toLongOption, b.toLongOption) match {
      case (Some(x), Some(y)) => x <= y
      case _                  => a.toDouble <= b.toDouble
    }
    case 'D' => a.toDouble <= b.toDouble
    case _ =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(StandardCharsets.UTF_8),
        b.getBytes(StandardCharsets.UTF_8)) <= 0
  }

  /** Min/max of `colName` over the current snapshot from manifest
    * METADATA alone — the MIN/MAX aggregate without touching data.
    * None when any entry lacks stats for the column, entries disagree
    * on the stats tag, or a double endpoint is NaN (undecidable order)
    * — callers then aggregate the data instead. Returns the tag and
    * the min/max in the stats string encoding. */
  def colBounds(spark: SparkSession, dir: String,
      colName: String): Option[(Char, String, String)] = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    val sts = entries(spark, dir, v).map(_.stats.get(colName))
    if (sts.isEmpty || sts.exists(_.isEmpty)) return None
    val all = sts.flatten
    val tag = all.head.tag
    if (tag == 'B' || all.exists(_.tag != tag)) return None
    if (tag == 'D' && all.exists(st =>
        st.min.toDouble.isNaN || st.max.toDouble.isNaN)) return None
    val mn = all.map(_.min).reduce((a, b) => if (leTagged(tag, a, b)) a else b)
    val mx = all.map(_.max).reduce((a, b) => if (leTagged(tag, a, b)) b else a)
    Some((tag, mn, mx))
  }

  /** Largest committed version whose commit wall-clock (`#ts` header,
    * recorded by every commit) is at or before `tsMillis` — the
    * `VERSION AS OF <timestamp>` resolver. Headerless versions (a
    * history started before timestamps) order as oldest. Fails if even
    * the oldest retained version is after the cutoff, or if every
    * candidate manifest was vacuumed. */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val cur = version(spark, dir)
    require(cur >= 0, s"ManifestSink at $dir has no committed version")
    var v = cur
    while (v >= 0) {
      val header = scala.util.Try(manifestHeader(spark, dir, v)).toOption
      header match {
        case None => v = -1 // vacuumed below here: nothing older remains
        case Some(h) =>
          val ts = h.get(TsKey).flatMap(_.toLongOption).getOrElse(Long.MinValue)
          if (ts <= tsMillis) return v
          v -= 1
      }
    }
    throw new IllegalArgumentException(
      s"no retained version at or before timestamp $tsMillis in $dir")
  }

  /** Time-travel read by wall clock: the newest snapshot committed at or
    * before `tsMillis` (see [[versionAsOf]]; [[vacuum]] retention
    * window applies). */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long,
      mergeSchema: Boolean = false): DataFrame =
    readAt(spark, dir, versionAsOf(spark, dir, tsMillis), mergeSchema)

  /** Closed range predicate on one stats column (None = unbounded side).
    * Bound values must be of the column's own type family (integral for
    * L-tagged columns — a fractional bound on a long column won't parse). */
  final case class Range(colName: String, lo: Option[Any], hi: Option[Any])

  /** Split the current snapshot's entries into (kept, skipped) for a
    * conjunction of range predicates, using manifest stats only. An entry
    * is skipped iff SOME range provably excludes it; an entry with no
    * stats for a range's column passes that range — pruning is an
    * optimization, never a filter. */
  def prunedEntries(spark: SparkSession, dir: String,
      ranges: Seq[Range]): (Seq[Entry], Seq[Entry]) =
    entries(spark, dir, version(spark, dir))
      .filterNot(isTombEntry).partition { e =>
      ranges.forall { r =>
        e.stats.get(r.colName) match {
          case Some(st) =>
            st.overlaps(r.lo.map(boundStr), r.hi.map(boundStr))
          case None => true
        }
      }
    }

  /** Single-column convenience form of the conjunctive overload. */
  def prunedEntries(spark: SparkSession, dir: String, colName: String,
      lo: Option[Any], hi: Option[Any]): (Seq[Entry], Seq[Entry]) =
    prunedEntries(spark, dir, Seq(Range(colName, lo, hi)))

  /** Range scan with manifest-level file skipping: reads only the batch
    * directories whose recorded [min,max] stats can intersect EVERY given
    * range, then applies the exact predicates — the result is identical
    * to `read(...).filter(...)` whatever the pruning decided (parquet
    * row-group pruning still applies inside each kept directory). An
    * all-pruned scan returns the empty frame with the table schema. */
  def readWhere(spark: SparkSession, dir: String,
      ranges: Seq[Range]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = prunedEntries(spark, dir, ranges)
    val base =
      if (kept.isEmpty) read(spark, dir).limit(0)
      else prunedRead(spark, dir, kept)
    val p = ranges.flatMap { r =>
      val c = col(r.colName)
      r.lo.map(v => c >= lit(v)).toSeq ++ r.hi.map(v => c <= lit(v))
    }.reduceOption(_ && _).getOrElse(lit(true))
    base.filter(p)
  }

  /** Scan of a pruned data-entry subset with tombstones still applied —
    * the shared body of [[readWhere]]/[[readWhereEq]]/[[readFiltered]]
    * (a pruned read must agree with `read(...).filter(...)` even on a
    * merge-on-read-deleted table). */
  private def prunedRead(spark: SparkSession, dir: String,
      kept: Seq[Entry]): DataFrame = {
    val keptPaths = kept.map(_.path).toSet
    assembleRead(spark, dir, version(spark, dir), mergeSchema = false,
      keep = e => keptPaths(e.path))
  }

  /** Single-column convenience form of the conjunctive overload. */
  def readWhere(spark: SparkSession, dir: String, colName: String,
      lo: Option[Any], hi: Option[Any]): DataFrame =
    readWhere(spark, dir, Seq(Range(colName, lo, hi)))

  /** Split the current snapshot's entries into (kept, skipped) for a
    * point lookup `colName = value`, using BOTH pruning signals: the
    * column's [min,max] range (as the degenerate range [v,v]) and its
    * bloom filter when the entry carries one. Entries without either
    * always survive — same never-a-filter contract as range pruning. */
  def prunedEntriesEq(spark: SparkSession, dir: String, colName: String,
      value: Any): (Seq[Entry], Seq[Entry]) =
    entries(spark, dir, version(spark, dir))
      .filterNot(isTombEntry).partition { e =>
      val rangeOk = e.stats.get(colName) match {
        case Some(st) =>
          st.overlaps(Some(boundStr(value)), Some(boundStr(value)))
        case None => true
      }
      rangeOk && bloomMightContain(e, colName, value)
    }

  /** Point-lookup scan with manifest-level skipping (range stats + bloom
    * filters): reads only the batch directories that might contain
    * `colName = value`, then applies the exact predicate — identical to
    * `read(...).filter(col === value)` whatever the pruning decided. The
    * path a keyed lookup takes on a 100 TB table: the manifest's blooms
    * reduce a full-table point query to the handful of batches whose
    * filters fire (false positives only cost scan breadth). */
  def readWhereEq(spark: SparkSession, dir: String, colName: String,
      value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = prunedEntriesEq(spark, dir, colName, value)
    val base =
      if (kept.isEmpty) read(spark, dir).limit(0)
      else prunedRead(spark, dir, kept)
    base.filter(col(colName) === lit(value))
  }

  /** Global top-k by `colName` (descending; ties broken by `tieCols`
    * ascending) with manifest-level skipping — TakeOrdered with data
    * skipping, the `ORDER BY x DESC LIMIT k` path a clustered 100 TB
    * table wants. Phase 1 reads a SEED subset — every stats-less entry
    * (unprunable, so it is read either way) plus the highest-max
    * entries until their recorded row counts cover k — and takes the
    * seed's k-th value as threshold t; phase 2 adds every other entry
    * whose [min,max] can reach t (`overlaps([t,∞))`, so value ties
    * survive) and answers exactly over that kept set. Any pruned row is
    * provably < t ≤ the global k-th value, so the result is identical
    * to `read(...).orderBy(desc).limit(k)` whatever the pruning decided
    * — tombstones included (the pruned scan applies them, and deletion
    * only lowers t, which only widens phase 2). A seed yielding fewer
    * than k rows, or a null threshold, degrades to reading everything —
    * pruning is an optimization, never a filter. On a range-clustered
    * layout ([[compactBalanced]] / [[compact]] with `sortCols`) the
    * scan is O(shards covering k), not O(table). Returns
    * (frame, kept entries, skipped entries). */
  def readTopK(spark: SparkSession, dir: String, colName: String, k: Int,
      tieCols: Seq[String] = Nil): (DataFrame, Seq[Entry], Seq[Entry]) = {
    import org.apache.spark.sql.functions.col
    require(k > 0, s"readTopK needs k > 0, got $k")
    val all = entries(spark, dir, version(spark, dir))
      .filterNot(isTombEntry)
    val ord = col(colName).desc +: tieCols.map(col(_).asc)
    def topOf(df: DataFrame) = df.orderBy(ord: _*).limit(k)
    val (statless, stated) = all.partition(e => !e.stats.contains(colName))
    if (stated.isEmpty) return (topOf(read(spark, dir)), all, Nil)
    val tag = stated.head.stats(colName).tag
    val byMaxDesc = stated.sortWith((a, b) =>
      !leTagged(tag, a.stats(colName).max, b.stats(colName).max))
    val seedStated = {
      val buf = Seq.newBuilder[Entry]
      var covered = 0L
      val it = byMaxDesc.iterator
      while (covered < k && it.hasNext) {
        val e = it.next()
        buf += e
        covered +=
          e.stats.get(RowsKey).flatMap(_.min.toLongOption).getOrElse(0L)
      }
      buf.result()
    }
    val seed = statless ++ seedStated
    val seedVals = topOf(prunedRead(spark, dir, seed))
      .select(col(colName)).collect().map(_.get(0))
    val t = if (seedVals.length < k) null else seedVals.last
    val rest = stated.filterNot(seedStated.toSet)
    val (survivors, skipped) =
      if (t == null) (rest, Seq.empty[Entry])
      else rest.partition(
        _.stats(colName).overlaps(Some(boundStr(t)), None))
    val kept = seed ++ survivors
    (topOf(prunedRead(spark, dir, kept)), kept, skipped)
  }

  private def tokenBloomMightContain(e: Entry, c: String,
      token: String): Boolean =
    e.stats.get(tokenBloomKey(c)) match {
      case Some(st) if st.tag == 'B' =>
        val bytes = java.util.Base64.getDecoder.decode(st.min)
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainString(token)
      case _ => true
    }

  /** Split the current snapshot's entries into (kept, skipped) for a
    * full-text term lookup: an entry is skipped only when it carries a
    * token bloom for `colName` that provably never saw `token`. Entries
    * without a token bloom always survive — the never-a-filter contract,
    * so mixing token-bloomed and plain commits stays correct. */
  def prunedEntriesToken(spark: SparkSession, dir: String, colName: String,
      token: String): (Seq[Entry], Seq[Entry]) =
    entries(spark, dir, version(spark, dir))
      .filterNot(isTombEntry)
      .partition(e => tokenBloomMightContain(e, colName, token))

  /** Full-text term scan with manifest-level skipping: reads only the
    * batch directories whose TOKEN blooms might contain `token` in
    * `colName`, then applies the exact membership predicate — identical
    * to `read(...).filter(array_contains(split(col, " "), token))`
    * whatever the pruning decided. The text-corpus twin of
    * [[readWhereEq]]: at 100 TB a rare-term lookup (an incident phrase,
    * a contamination marker, a PII canary) touches the handful of
    * batches whose vocabulary bloom fires instead of scanning every
    * document; false positives only cost scan breadth, never
    * correctness. Tokenization is the engine-wide whitespace split —
    * normalize the corpus at write time ([[graft.functions.TextNorm]])
    * and the query term at lookup time for folded matching. */
  def readContainingToken(spark: SparkSession, dir: String,
      colName: String, token: String): DataFrame = {
    import org.apache.spark.sql.functions.{array_contains, col, lit, split}
    val (kept, _) = prunedEntriesToken(spark, dir, colName, token)
    val base =
      if (kept.isEmpty) read(spark, dir).limit(0)
      else prunedRead(spark, dir, kept)
    base.filter(array_contains(split(col(colName), " "), lit(token)))
  }

  /** Split the current snapshot's entries into (kept, skipped) for an
    * ARBITRARY predicate, by extracting the conjunctive range/equality
    * bounds the predicate implies on stats columns from its analyzed
    * expression tree. Extraction is sound by construction: only terms
    * of the shapes `col (=|<|<=|>|>=) literal` (either operand order,
    * under any top-level ANDs) contribute bounds — ORs, UDFs,
    * arithmetic, casts, and null-matching terms contribute nothing and
    * so never prune an entry the predicate could match. Equality terms
    * additionally consult per-entry blooms. A bound whose literal
    * can't be compared against a column's stats (wrong type family) is
    * treated as undecidable — kept, never dropped. */
  def prunedEntriesForPredicate(spark: SparkSession,
      dir: String, pred: org.apache.spark.sql.Column,
      base: DataFrame): (Seq[Entry], Seq[Entry]) = {
    import org.apache.spark.sql.catalyst.expressions.{And,
      AttributeReference, EqualTo, Expression, GreaterThan,
      GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
    val cond: Option[Expression] =
      base.filter(pred).queryExecution.analyzed match {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          Some(f.condition)
        case _ => None
      }
    def litVal(e: Expression): Option[Any] =
      if (!e.foldable) None
      else Option(e.eval()) match {
        case Some(u: org.apache.spark.unsafe.types.UTF8String) =>
          Some(u.toString)
        case v => v
      }
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    val ranges = Seq.newBuilder[Range]
    val eqs = Seq.newBuilder[(String, Any)]
    val ins = Seq.newBuilder[(String, Seq[Any])]
    // apply `direct` for (attr op lit), `flipped` for (lit op attr)
    def bound(l: Expression, r: Expression)(direct: (String, Any) => Unit)(
        flipped: (String, Any) => Unit): Unit =
      (attrName(l), litVal(r)) match {
        case (Some(n), Some(v)) => direct(n, v)
        case _ => (attrName(r), litVal(l)) match {
          case (Some(n), Some(v)) => flipped(n, v)
          case _                  => ()
        }
      }
    def walk(e: Expression): Unit = e match {
      case And(a, b) => walk(a); walk(b)
      // strict bounds prune with their inclusive superset — sound
      case GreaterThanOrEqual(l, r) =>
        bound(l, r)((n, v) => ranges += Range(n, Some(v), None))(
          (n, v) => ranges += Range(n, None, Some(v)))
      case GreaterThan(l, r) =>
        bound(l, r)((n, v) => ranges += Range(n, Some(v), None))(
          (n, v) => ranges += Range(n, None, Some(v)))
      case LessThanOrEqual(l, r) =>
        bound(l, r)((n, v) => ranges += Range(n, None, Some(v)))(
          (n, v) => ranges += Range(n, Some(v), None))
      case LessThan(l, r) =>
        bound(l, r)((n, v) => ranges += Range(n, None, Some(v)))(
          (n, v) => ranges += Range(n, Some(v), None))
      case EqualTo(l, r) =>
        val both = (n: String, v: Any) => {
          ranges += Range(n, Some(v), Some(v)); eqs += (n -> v); ()
        }
        bound(l, r)(both)(both)
      // IN prunes as the DISJUNCTION of its values: an entry survives if
      // ANY value might be present (range + bloom per value). Lists with
      // a null member are skipped whole — conservative
      case In(a, vs) =>
        for (n <- attrName(a)) {
          val vals = vs.flatMap(litVal)
          if (vals.nonEmpty && vals.size == vs.size) ins += (n -> vals)
        }
      case _ => () // unprunable term: no bounds
    }
    cond.foreach(walk)
    val rs = ranges.result()
    val es = eqs.result()
    val is = ins.result()
    entries(spark, dir, version(spark, dir))
      .filterNot(isTombEntry).partition { e =>
      rs.forall { r =>
        e.stats.get(r.colName).forall(st =>
          scala.util.Try(st.overlaps(r.lo.map(boundStr), r.hi.map(boundStr)))
            .getOrElse(true))
      } && es.forall { case (c, v) =>
        scala.util.Try(bloomMightContain(e, c, v)).getOrElse(true)
      } && is.forall { case (c, vals) =>
        vals.exists { v =>
          scala.util.Try(
            e.stats.get(c).forall(
              _.overlaps(Some(boundStr(v)), Some(boundStr(v)))) &&
              bloomMightContain(e, c, v)).getOrElse(true)
        }
      }
    }
  }

  /** `read(...).filter(pred)` with AUTOMATIC manifest file skipping: the
    * prunable bounds are extracted from `pred` itself (see
    * [[prunedEntriesForPredicate]]) and whole batch directories are
    * skipped by range stats and blooms; the FULL predicate then applies
    * to the kept directories, so the result is identical to the unpruned
    * filter whatever was extractable. The lakehouse reader ergonomics:
    * write the filter once, file skipping falls out — at 100 TB this is
    * [[readWhere]] without asking callers to hand-compile their
    * predicates into ranges. */
  def readFiltered(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): DataFrame = {
    val base = read(spark, dir)
    val (kept, _) = prunedEntriesForPredicate(spark, dir, pred, base)
    val pruned =
      if (kept.isEmpty) base.limit(0)
      else prunedRead(spark, dir, kept)
    pruned.filter(pred)
  }

  /** DELETE WHERE with file-granular copy-on-write: removes every row
    * inside the conjunction of `ranges`, rewriting ONLY the batch
    * directories whose manifest stats might contain a match — located
    * with zero data reads — while every provably-unaffected entry is
    * carried into the next manifest by reference, stats and all. The
    * retention shape at 100 TB: expiring a time range from a
    * time-ordered table rewrites the handful of overlapping batches,
    * not the table (GDPR-delete by id works the same through the bloom
    * path once ranges are degenerate). Previous versions stay readable
    * until [[vacuum]]; rewritten batches get fresh stats on `statsCols`.
    * Returns the committed version (unchanged if nothing could match). */
  def deleteWhere(spark: SparkSession, dir: String, ranges: Seq[Range],
      statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(ranges.nonEmpty, "deleteWhere requires at least one range")
    val prev = version(spark, dir)
    require(prev >= 0, s"ManifestSink at $dir has no committed version")
    val (candidates, _) = prunedEntries(spark, dir, ranges)
    if (candidates.isEmpty) return prev // provably nothing to delete
    // all-unbounded ranges are a legal "delete everything on this column"
    // request: no bound terms → the predicate is `true`
    val matches = ranges.flatMap { r =>
      val c = col(r.colName)
      r.lo.map(v => c >= lit(v)).toSeq ++ r.hi.map(v => c <= lit(v))
    }.reduceOption(_ && _).getOrElse(lit(true))
    val candPaths = candidates.map(_.path).toSet
    // kept lines come from the RAW line list (order preserved): untouched
    // data entries keep their stats, and merge-on-read tombstone entries
    // carry forward — they still apply to the kept data entries before
    // them, while the rewritten survivors (already tombstone-filtered by
    // the assembled read) land safely after every tombstone
    val keptLines = manifestEntries(spark, dir, prev)
      .filterNot(l => candPaths(entryPath(l)))
    // mergeSchema: rewriting candidates from a schema-evolved table must
    // carry every column — single-schema inference could silently drop
    // late-added ones from the rewritten batch (permanent data loss)
    val survivors = assembleRead(spark, dir, prev, mergeSchema = true,
        keep = e => candPaths(e.path))
      // null range values never match a range predicate, so null rows
      // survive a delete — same semantics as SQL DELETE WHERE
      .filter(!coalesceFalse(matches))
    commit(spark, dir, survivors, keptLines, prev, statsCols)
  }

  private def coalesceFalse(c: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    coalesce(c, lit(false))
  }

  /** Point DELETE (`colName = value`) with file-granular copy-on-write:
    * the bloom + range pruning of [[prunedEntriesEq]] locates the batch
    * dirs that might hold the key — on a table appended with
    * `bloomCols`, a single-key erasure request (the GDPR shape) rewrites
    * only the batches whose filters fire, located without reading any
    * data. Unaffected entries carry by reference; null rows survive
    * (SQL DELETE semantics). Returns the committed version. */
  def deleteWhereEq(spark: SparkSession, dir: String, colName: String,
      value: Any, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val prev = version(spark, dir)
    require(prev >= 0, s"ManifestSink at $dir has no committed version")
    val (candidates, _) = prunedEntriesEq(spark, dir, colName, value)
    if (candidates.isEmpty) return prev
    val candPaths = candidates.map(_.path).toSet
    val keptLines = manifestEntries(spark, dir, prev)
      .filterNot(l => candPaths(entryPath(l)))
    val survivors = assembleRead(spark, dir, prev, mergeSchema = true,
        keep = e => candPaths(e.path))
      .filter(!coalesceFalse(col(colName) === lit(value)))
    commit(spark, dir, survivors, keptLines, prev, statsCols,
      bloomCols)
  }

  /** Merge-on-read DELETE by key (the equality-delete tombstone of
    * log-structured formats, e.g. Iceberg v2): commits ONE small file of
    * distinct deleted keys plus one manifest line — no data file is read
    * or rewritten, whatever the table size. Readers apply the tombstone
    * as a broadcast anti-join by manifest position (see [[assembleRead]]):
    * it deletes matching rows from every batch committed BEFORE it, while
    * rows appended after — including a re-insert of a deleted key —
    * survive. Null-keyed rows survive (SQL DELETE semantics). Deletes on
    * different key-column sets compose; repeated deletes stack.
    *
    * This is the 100 TB erasure shape [[deleteWhereEq]]'s copy-on-write
    * cannot reach: a GDPR request against a table without blooms (or one
    * whose key spans most batches) rewrites everything under
    * copy-on-write, but commits in O(|keys|) here. The read-side cost —
    * one broadcast anti-join per delete commit's key shape — accrues
    * until a [[compact]]/[[compactZOrder]]/[[merge]]-rewrite
    * MATERIALIZES the tombstones; metadata-only answers degrade
    * conservatively meanwhile ([[hasTombstones]]). Incremental
    * consumers refuse the window ([[changes]]) — a delete is a
    * retraction no append-only fold can absorb.
    *
    * Safe under concurrent appenders (same CAS rebase as [[append]]):
    * the tombstone's position is wherever the commit finally lands, so
    * it applies to exactly the snapshot it won against. Returns the
    * committed version (unchanged when `deleteKeys` is empty). */
  def deleteKeysMergeOnRead(deleteKeys: DataFrame, dir: String,
      keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "merge-on-read delete requires key columns")
    require(keyCols.forall(!_.contains(",")),
      "key column names must not contain ','")
    val spark = deleteKeys.sparkSession
    val prev = version(spark, dir)
    require(prev >= 0, s"ManifestSink at $dir has no committed version")
    val keyRows = deleteKeys.select(keyCols.map(col): _*).distinct()
    // write-first, abort-on-empty: the pre-write isEmpty probe both cost
    // an extra action and evaluated the caller's key pipeline twice
    // (r18, guide §1.2 — same shape as mergeOnRead's r17 fix); an empty
    // key set deletes the uncommitted dir, no manifest references it
    val batch = java.util.UUID.randomUUID().toString
    val dDir = s"$dir/data/$batch"
    val rows = writeCounted(keyRows, dDir)
    if (rows == 0L) {
      val f = fs(spark, dir)
      try { f.delete(new Path(dDir), true); () }
      catch { case _: java.io.IOException => () }
      return prev
    }
    val line = Entry(s"data/$batch",
      Map(TombKey ->
        ColStats('S', keyCols.mkString(","), rows.toString))).line
    commitAppendLines(spark, dir, Seq(line), Map.empty)
  }

  /** Merge-on-read DELETE WHERE `colName BETWEEN lo AND hi` (either
    * bound optional) — the zero-rewrite RETENTION shape: expiring a
    * time range from a 100 TB table is ONE manifest line, no delete
    * file, no data read or rewritten; readers apply it as a row-local
    * filter (cheaper than the key kind — no join at all) to every batch
    * committed before it, and a compaction materializes it away. Same
    * position semantics, degradations, and incremental-consumer
    * refusals as [[deleteKeysMergeOnRead]]. Bound values must be Long/
    * Int, Double/Float, or String and match the column's type family
    * (the caller's contract, as in [[readWhere]]); null values survive.
    * Returns the committed version. */
  def deleteRangeMergeOnRead(spark: SparkSession, dir: String,
      colName: String, lo: Option[Any], hi: Option[Any]): Long = {
    require(lo.nonEmpty || hi.nonEmpty,
      "range delete requires at least one bound " +
        "(use deleteWhere for delete-everything)")
    val prev = version(spark, dir)
    require(prev >= 0, s"ManifestSink at $dir has no committed version")
    def tagOf(v: Any): Char = v match {
      case _: Long | _: Int | _: java.lang.Long | _: java.lang.Integer =>
        'L'
      case _: Double | _: Float | _: java.lang.Double |
          _: java.lang.Float => 'D'
      case _: String => 'S'
      case x => throw new IllegalArgumentException(
        s"unsupported range-delete bound type ${x.getClass}")
    }
    val tags = (lo.toSeq ++ hi.toSeq).map(tagOf).distinct
    require(tags.size == 1, s"bounds must share one type family, got $tags")
    require(!colName.contains('\u0001'),
      "column names must not contain \\u0001")
    val line = Entry(s"data/${java.util.UUID.randomUUID().toString}",
      Map(TombRangeKey -> ColStats(tags.head,
        colName + "\u0001" + lo.fold("")(boundStr),
        hi.fold("")(boundStr)))).line
    commitAppendLines(spark, dir, Seq(line), Map.empty)
  }

  /** MoR tombstone debt of the current snapshot, from ONE manifest
    * read: (tombstone entries, data entries). Every tombstone is an
    * extra read-path filter or anti-join and a segment boundary in the
    * assembled scan, so the tombstone count is the read-amplification
    * signal a maintenance loop watches ([[LayoutAdvisor
    * .maintainTombstoneDebt]]); a [[compact]] materializes the debt
    * away. Zero data reads at any table size. */
  def tombstoneDebt(spark: SparkSession, dir: String): (Int, Int) = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    val (t, d) = entries(spark, dir, v).partition(isTombEntry)
    (t.size, d.size)
  }

  /** The table's maintenance PLAN from ONE manifest read — the decision
    * pass a 100 TB maintenance loop runs before spending any data I/O,
    * unifying the two debt signals the individual gates watch
    * ([[compactSmall]]'s sub-threshold entries, [[tombstoneDebt]]'s
    * read-path tombstones) into ordered (action, fired, n_targets,
    * rows_affected) verdicts:
    *
    *  - `compact_small` fires when ≥ 2 data entries record fewer than
    *    `minRows` rows (a single small entry has nothing to merge
    *    with); `rows_affected` = their total recorded rows — the size
    *    of the rewrite the action would run. Stats-less entries are
    *    never counted small (unknown is not a merge license —
    *    [[compactSmall]]'s own rule).
    *  - `purge_debt` fires at ≥ `maxTombstones` tombstone entries; the
    *    cure is a [[compact]], whose cost is the table — which is why
    *    it has a threshold instead of firing on the first tombstone.
    *
    * Zero data reads at any table size; metrics come from the per-entry
    * counts commits already recorded. */
  def maintenancePlan(spark: SparkSession, dir: String, minRows: Long,
      maxTombstones: Int): Seq[(String, Boolean, Long, Long)] = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    val (tombs, data) = entries(spark, dir, v).partition(isTombEntry)
    val smallRows = data.flatMap(
      _.stats.get(RowsKey).flatMap(_.min.toLongOption)).filter(_ < minRows)
    Seq(
      ("compact_small", smallRows.size >= 2, smallRows.size.toLong,
        smallRows.sum),
      ("purge_debt", tombs.size >= maxTombstones, tombs.size.toLong, 0L))
  }

  /** Merge-on-read UPSERT — the zero-rewrite twin of [[merge]]: ONE
    * atomic commit appending a key tombstone covering `updates`' keys
    * followed by the update rows as a fresh data entry. The tombstone
    * precedes the data entry, so it deletes every EARLIER copy of the
    * keys and leaves the new rows alone (the assembled read's position
    * rule); unmatched keys are plain inserts (tombstoning an absent key
    * is a no-op). No existing directory is read or rewritten — a 100 TB
    * dimension absorbs a day's upserts at the cost of WRITING the day —
    * and because tombstone and rows share one commit, no crash point
    * leaves keys deleted without their replacements. Readers pay the
    * standard MoR anti-join until a [[compact]] materializes the
    * tombstones (tombstone count grows with batch count — periodic
    * compaction is the read-path hygiene; [[merge]] remains the
    * read-optimized choice). Same per-key uniqueness contract as
    * [[merge]]; `statsCols` as in [[appendWithStats]]. */
  def mergeOnRead(updates: DataFrame, dir: String, keys: Seq[String],
      statsCols: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "mergeOnRead requires at least one key column")
    require(keys.forall(!_.contains(",")),
      "key column names must not contain ','")
    val spark = updates.sparkSession
    // Data batch first, row count and stats riding its write pass; every
    // check — per-key uniqueness, emptiness — and the tombstone key file
    // run off the WRITTEN files, so the updates pipeline is evaluated
    // exactly once (r17, guide §1.2: previously the uniqueness probe,
    // the emptiness probe, the keys write, and the data write each ran
    // the full updates plan). A violated contract or an empty batch
    // deletes the uncommitted dir — no manifest ever references it.
    val prev = version(spark, dir)
    val dBatch = java.util.UUID.randomUUID().toString
    val dDir = s"$dir/data/$dBatch"
    val (dRows, dStats) = writeWithStats(updates, dDir, statsCols, Nil)
    def abort(also: Option[String] = None): Unit = {
      val f = fs(spark, dir)
      try { f.delete(new Path(dDir), true); () }
      catch { case _: java.io.IOException => () }
      also.foreach { d =>
        try { f.delete(new Path(d), true); () }
        catch { case _: java.io.IOException => () }
      }
    }
    def dupFail(): Nothing = throw new IllegalArgumentException(
      "requirement failed: mergeOnRead updates must be unique per key " +
        keys.mkString("(", ",", ")"))
    if (dRows == 0L) { abort(); return prev }
    val staged = spark.read.parquet(dDir)
    val dataLine = Entry(s"data/$dBatch", dStats + rowsStat(dRows)).line
    if (prev < 0) {
      // fresh table: no tombstone needed, so the uniqueness probe is its
      // own (single agg-max) action over the written files
      if (keyDupMax(staged, keys) > 1L) { abort(); dupFail() }
      return commitAppendLines(spark, dir, Seq(dataLine), Map.empty)
    }
    val kBatch = java.util.UUID.randomUUID().toString
    val kDir = s"$dir/data/$kBatch"
    if (writeTombKeys(staged, keys, kDir) > 1L) {
      abort(also = Some(kDir)); dupFail()
    }
    val tombLine = Entry(s"data/$kBatch",
      Map(TombKey -> ColStats('S', keys.mkString(","),
        dRows.toString))).line
    commitAppendLines(spark, dir, Seq(tombLine, dataLine), Map.empty)
  }

  /** Write the distinct `keys` of `staged` to `kDir` — a merge-on-read
    * tombstone key file — and return the largest per-key row count. The
    * uniqueness probe RIDES the key write (r18, guide §1.2): the file is
    * written from the grouped (key, count) frame — the same keys-only
    * shuffle a separate probe would pay — with max(count) observed on
    * the write job, so probe + key write cost ONE action. Once
    * uniqueness holds, the grouped projection IS the key set. Falls
    * back to [[keyDupMax]] over `staged`. */
  private[graft] def writeTombKeys(staged: DataFrame, keys: Seq[String],
      kDir: String): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val obs = org.apache.spark.sql.Observation()
    staged.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .observe(obs, max(col("__n")).as("__dupmax"))
      .select(keys.map(col): _*)
      .write.parquet(kDir)
    observedLong(obs)(keyDupMax(staged, keys))
  }

  /** Largest row count sharing one `keys` value in `df` (0 when empty;
    * > 1 iff the keys are not unique) — a single agg-max action, not a
    * filter+isEmpty (an empty filtered take escalates through up to 4
    * partition-scan jobs under AQE). */
  private[graft] def keyDupMax(df: DataFrame, keys: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    longOr0(df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).agg(max(col("__n"))).head().get(0))
  }

  /** Keyed MERGE (upsert): every row of `updates` replaces the committed
    * row sharing its key; unmatched keys insert. Copy-on-write with
    * file-level pruning — only the batch directories that actually
    * CONTAIN a matched key are rewritten (located by one semi-join over
    * the snapshot); untouched directories are carried into the next
    * manifest by reference, so a merge touching one batch of a
    * 10 000-batch table rewrites one batch plus the updates, not the
    * table. This is the log-structured MERGE shape (Delta/Iceberg
    * copy-on-write without deletion vectors): the previous version stays
    * readable (time travel), and replaced directories become
    * unreferenced for [[vacuum]]. Same single-writer contract as
    * append/replace.
    *
    * `updates` must be unique per key (enforced): with several update
    * rows per key there is no deterministic winner — last-wins ordering
    * is the CALLER's semantics to resolve before the merge (e.g.
    * max-timestamp per key, the reference's UNIQUE-upsert analog,
    * pipeline.py:216). Returns the committed version. */
  def merge(updates: DataFrame, dir: String, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val spark = updates.sparkSession
    import org.apache.spark.sql.functions.{col, count, lit}
    val keyCols = keys.map(col)
    // Stage the updates batch ONCE, then run every consumer — the
    // uniqueness and emptiness checks, the touched-directory probe, and
    // the rewrite union — off the staged columnar files (r17, guide
    // §1.2): the previous shape re-evaluated the updates pipeline up to
    // four times per merge (at 100 TB, four runs of the day's CDC
    // derivation). On the fresh-table and pure-insert paths the staged
    // dir is published AS the committed batch (r18: re-writing it doubled
    // write amplification for identical content); on every other exit —
    // rewrite committed, no-op, or failure — it is deleted, so no
    // manifest ever references scratch and vacuum accounting is
    // unchanged.
    val sBatch = java.util.UUID.randomUUID().toString
    val sDir = s"$dir/data/$sBatch"
    val sRows = writeCounted(updates, sDir)
    val f = fs(spark, dir)
    var committedInPlace = false
    try {
      val staged = spark.read.parquet(sDir)
      // single agg-max probe, not filter+isEmpty: an empty filtered take
      // escalates through up to 4 partition-scan jobs under AQE (r17)
      val dupMax = Option(staged.groupBy(keyCols: _*)
        .agg(count(lit(1)).as("__n"))
        .agg(org.apache.spark.sql.functions.max(col("__n"))).head().get(0))
        .fold(0L)(_.asInstanceOf[Long])
      require(dupMax <= 1L,
        s"merge updates must be unique per key ${keys.mkString("(", ",", ")")}")
      val prev = version(spark, dir)
      if (prev < 0) {
        // fresh table: the staged batch IS the snapshot — publish the
        // already-written dir instead of rewriting it through [[commit]]
        // (r18, r17 ADVICE: the stage-then-commit shape wrote every
        // first-batch merge twice for identical content)
        committedInPlace = true
        return commitStagedDir(spark, dir, sBatch, sRows, Nil, prev)
      }
      if (sRows == 0L) return prev // no-op merge: no new version
      val (v, inPlace) =
        mergeStaged(spark, dir, staged, sBatch, sRows, keys, prev)
      committedInPlace = inPlace
      v
    } finally if (!committedInPlace) f.delete(new Path(sDir), true)
  }

  /** Publish an ALREADY-WRITTEN `dir/data/<relBatch>` as a rewrite
    * commit carrying `baseEntries` — the staged-merge fast paths (fresh
    * table, no touched directories), where re-writing the staged batch
    * through [[commit]] would double the batch's write amplification for
    * identical content. Entry stats mirror [[commit]]'s merge shape
    * exactly: the observed row count only (merge-rewritten batches
    * record no column stats — conservative, always scanned). */
  private def commitStagedDir(spark: SparkSession, dir: String,
      relBatch: String, rows: Long, baseEntries: Seq[String],
      basedOn: Long): Long = {
    val lines = headerLines(mergeHeader(manifestHeader(spark, dir, basedOn),
      Map(TsKey -> System.currentTimeMillis.toString))) ++
      (baseEntries :+ Entry(s"data/$relBatch", Map(rowsStat(rows))).line)
    val next = basedOn + 1
    val f = fs(spark, dir)
    publishNew(f, new Path(dir, s"_manifests/$next.manifest"),
      lines.mkString("\n"))
    writeHint(f, dir, next)
    next
  }

  /** Returns (committed version, staged-dir-committed-in-place): on the
    * no-touched-directories path the already-written staging dir is
    * published directly (nothing to rewrite — appending the batch IS the
    * merge), so the caller must not delete it. */
  private def mergeStaged(spark: SparkSession, dir: String,
      updates: DataFrame, sBatch: String, sRows: Long,
      keys: Seq[String], prev: Long): (Long, Boolean) = {
    import org.apache.spark.sql.functions.col
    val keyCols = keys.map(col)
    val entries = manifestEntries(spark, dir, prev)
    // one pass over the snapshot finds the directories holding matched
    // keys; the result is manifest-entry-scale metadata (≤ #entries), so
    // collecting it on the driver mirrors the manifest read itself.
    // The entry dir is everything between data/ and the file name — NOT
    // just the first path segment: a z-compacted commit's entries are
    // nested subdirectories (data/<uuid>/__zb=k). The path rides through
    // [[assembleRead]]'s pathCol hook (tagged map-side, before any
    // tombstone anti-join): a key whose only occurrences are
    // merge-on-read-deleted does not touch its directory — the live
    // content has no match, so no rewrite is needed.
    val touched = assembleRead(spark, dir, prev, mergeSchema = false,
        pathCol = Some("__e"))
      .join(updates.select(keyCols: _*), keys, "left_semi")
      .select("__e").distinct().collect().map(_.getString(0)).toSet
    // entries match on their data/... SUFFIX: a shallow clone's borrowed
    // entries are absolute paths, but input_file_name still yields the
    // same trailing data/<uuid>[/...] key for them
    def dataKey(p: String): String = {
      val i = p.lastIndexOf("data/")
      if (i < 0) p else p.substring(i)
    }
    // kept entries carry their manifest lines verbatim (stats included:
    // untouched dirs keep pruning); the rewritten batch gets no stats —
    // conservative, so it is always scanned
    val kept = entries.filterNot(e => touched(dataKey(entryPath(e))))
    // mergeSchema + allowMissingColumns: updates may carry late-added
    // columns (additive schema evolution through MERGE, as in
    // log-structured table formats) — survivor rows from pre-evolution
    // batches read the new columns as null
    if (touched.isEmpty)
      // pure insert: no directory rewrites, so the staged batch commits
      // in place — the old shape re-wrote it into a fresh dir for
      // identical content (r18, r17 ADVICE: double write amplification)
      return (commitStagedDir(spark, dir, sBatch, sRows,
        kept, prev), true)
    // assembled read: tombstones positioned after a touched entry
    // still filter its rows, so the rewrite (which lands after every
    // tombstone) cannot resurrect merge-on-read-deleted rows
    val survivors = assembleRead(spark, dir, prev, mergeSchema = true,
        keep = e => touched(dataKey(e.path)))
      .join(updates.select(keyCols: _*), keys, "left_anti")
    // evolution is one-directional: updates may ADD columns, but an
    // update frame MISSING an existing data column would silently
    // null it on every replaced row — fail fast instead
    val missing =
      survivors.columns.toSet -- updates.columns.toSet
    require(missing.isEmpty,
      s"merge updates are missing existing columns $missing — " +
        "replaced rows would silently lose them")
    val rewritten = survivors.unionByName(updates, allowMissingColumns = true)
    (commit(spark, dir, rewritten, kept, prev), false)
  }

  /** Read the current snapshot (empty sink → empty frame is an error —
    * check [[version]] first, mirroring spark.read on a missing path).
    *
    * `mergeSchema = true` enables schema evolution across commits: a later
    * append may add columns, and the merged read unions all batch schemas
    * (rows from pre-evolution batches read the new columns as null — the
    * additive-evolution semantics of log-structured table formats).
    * Default false: the single-schema fast path skips the footer sweep. */
  def read(spark: SparkSession, dir: String,
      mergeSchema: Boolean = false): DataFrame = {
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    assembleRead(spark, dir, v, mergeSchema)
  }

  /** Assemble a snapshot from version `v`'s manifest lines, applying
    * merge-on-read delete tombstones (see [[TombKey]]) by MANIFEST
    * POSITION: a data entry's rows are anti-joined against every
    * tombstone that appears LATER in the entry list. `keep` restricts
    * which DATA entries are scanned (the pruned-read hook) — tombstones
    * always apply in full, so a pruned read agrees with
    * `read(...).filter(...)` exactly. `pathCol` optionally tags each row
    * with its entry's `data/...` key, extracted MAP-SIDE before any
    * join (post-join `input_file_name()` is not reliable).
    *
    * Tombstone-free snapshots take the exact pre-tombstone plan: one
    * multi-path parquet scan, zero overhead. With tombstones, data
    * entries group by their count of preceding tombstones (entries in a
    * group share the same applicable tombstone suffix), each group scans
    * once with a literal group id, and each tombstone key-shape applies
    * as ONE broadcast left-anti join with the position rule
    * `tombstoneIdx >= groupId` — delete files are key lists (small by
    * construction), so the anti-join never shuffles the data side. */
  private def assembleRead(spark: SparkSession, dir: String, v: Long,
      mergeSchema: Boolean, keep: Entry => Boolean = _ => true,
      pathCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name,
      lit, regexp_extract}
    val parsed = manifestEntries(spark, dir, v).map(parseEntry)
    // a data entry's group id = how many tombstones precede it; a
    // tombstone's id = its 0-based position among tombstones. Tombstone
    // j applies to a data entry with group id s exactly when j >= s.
    var nt = 0
    val data = Seq.newBuilder[(Entry, Int)]
    val tombs = Seq.newBuilder[(Entry, Int)]
    parsed.foreach { e =>
      if (isTombEntry(e)) { tombs += ((e, nt)); nt += 1 }
      else data += ((e, nt))
    }
    val keptData = data.result().filter { case (e, _) => keep(e) }
    require(keptData.nonEmpty,
      s"ManifestSink at $dir v$v has no data entries to read")
    def scan(paths: Seq[String]): DataFrame = {
      val df = spark.read.option("mergeSchema", mergeSchema.toString)
        .parquet(paths: _*)
      pathCol.fold(df)(c => df.withColumn(c,
        regexp_extract(input_file_name(), "(data/.+)/[^/]+$", 1)))
    }
    val ts = tombs.result()
    if (ts.isEmpty)
      return scan(keptData.map { case (e, _) => resolvePath(dir, e.path) })
    val seg = "__mor_seg"
    val base = keptData.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (s, es) =>
        scan(es.map { case (e, _) => resolvePath(dir, e.path) })
          .withColumn(seg, lit(s))
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = mergeSchema))
    // RANGE tombstones first: each is one row-local filter — a row dies
    // when an applicable (position rule) tombstone's bounds contain its
    // value; null values survive (SQL DELETE semantics, via the
    // null-as-false coalesce)
    val (rangeTombs, keyTombs) =
      ts.partition { case (e, _) => e.stats.contains(TombRangeKey) }
    val filtered = rangeTombs.foldLeft(base) { case (acc, (e, j)) =>
      val (c, lo, hi) = tombRange(e)
      val inRange = (lo.map(col(c) >= lit(_)).toSeq ++
        hi.map(col(c) <= lit(_))).reduceOption(_ && _).getOrElse(lit(true))
      acc.filter(!coalesceFalse(col(seg) <= lit(j) && inRange))
    }
    // one anti-join per tombstone KEY SHAPE (deletes on different key
    // columns compose); within a shape all delete files union with their
    // global tombstone position
    val out = keyTombs.groupBy { case (e, _) => tombKeyCols(e) }.toSeq
      .sortBy(_._1.mkString(","))
      .foldLeft(filtered) { case (acc, (keyCols, shape)) =>
        val tombDf = shape.map { case (e, j) =>
          spark.read.parquet(resolvePath(dir, e.path))
            .select(keyCols.map(col): _*)
            .toDF(keyCols.map("__mor_" + _): _*)
            .withColumn("__mor_tj", lit(j))
        }.reduce(_ unionByName _)
        // plain (not null-safe) equality: null-keyed rows survive a
        // delete, the SQL DELETE semantics [[deleteWhere]] documents
        val cond = keyCols.map(k => acc(k) === tombDf(s"__mor_$k"))
          .reduce(_ && _) && tombDf("__mor_tj") >= acc(seg)
        acc.join(broadcast(tombDf), cond, "left_anti")
      }
    out.drop(seg)
  }

  /** Time-travel read: the snapshot exactly as committed at version `v`.
    * Valid while `v`'s manifest is inside the [[vacuum]] retention
    * window (manifests are immutable and data files are never rewritten
    * in place, so an unvacuumed old version reads byte-identically).
    * `mergeSchema` as in [[read]] — a schema-evolved history needs it so
    * the snapshot carries every batch's columns. */
  def readAt(spark: SparkSession, dir: String, v: Long,
      mergeSchema: Boolean = false): DataFrame = {
    require(v >= 0, s"version must be >= 0, got $v")
    // Loud horizon contract: a version whose manifest a vacuum reclaimed
    // must fail with the RETENTION story, not a bare FileNotFound — the
    // reader's fix is keepVersions/protectVersions, not a path typo.
    val lines =
      try manifestEntries(spark, dir, v)
      catch {
        case e: java.io.FileNotFoundException =>
          val cur = version(spark, dir)
          if (v < cur) throw new IllegalStateException(
            s"version $v of $dir is beyond the retention horizon: its " +
              s"manifest was vacuumed (head is $cur). Time travel " +
              "reaches only versions inside vacuum's keepVersions " +
              "window or pinned via protectVersions " +
              "(Catalog.pinnedVersions).", e)
          else throw e
      }
    require(lines.nonEmpty, s"version $v has no manifest at $dir")
    assembleRead(spark, dir, v, mergeSchema)
  }

  /** Data directories added and removed between two committed versions —
    * the file-granular change log (manifest-diff only: no data is read).
    * `fromV = -1` means "from empty". */
  def changedEntries(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): (Seq[String], Seq[String]) = {
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    // diff on directory paths: stats suffixes are commit metadata, not
    // content (a dir's line is written once and carried verbatim anyway)
    val from = manifestEntries(spark, dir, fromV).map(entryPath).toSet
    val to = manifestEntries(spark, dir, toV).map(entryPath)
    (to.filterNot(from), (from -- to).toSeq.sorted)
  }

  /** Commit-size anomaly report over [[history]]: a version is flagged
    * when `rows_added · factor <` the largest `rows_added` of any
    * EARLIER version — the alert a streaming ingestion wires to its
    * dashboard: an upstream outage that dribbles 2 % of the usual batch
    * is visible at commit time, from manifest metadata alone (zero data
    * reads, any table size). Inert on the first version (no prior to
    * compare against); null-rows versions (metadata-only commits)
    * compare as unknown → never flagged. The single-partition window is
    * bounded by COMMIT COUNT, never data. */
  def commitAnomalies(spark: SparkSession, dir: String,
      factor: Long = 4L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, col, lit, max}
    val w = Window.orderBy(col("version"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ingestion commits only: a delete's rows_added of 0 or a rewrite's
    // churn is maintenance, not an upstream volume signal
    history(spark, dir)
      .filter(col("kind").isin("create", "append"))
      .select(col("version"), col("rows_added"))
      .withColumn("prior_max", max(col("rows_added")).over(w))
      .withColumn("anomalous",
        coalesce(col("rows_added") * lit(factor) < col("prior_max"),
          lit(false)))
  }

  /** Commit history derived STRUCTURALLY from the manifest chain — the
    * DESCRIBE HISTORY analog, zero data reads at any table size. Each
    * version is classified by a multiset diff of its entry lines
    * against its parent's (batch paths are unique UUIDs, so a line
    * identifies its batch): `create` (v0), `append` (entries added,
    * none removed), `delete` (tombstone-only addition — the
    * merge-on-read shapes), `rewrite` (entries replaced: merge,
    * compact, copy-on-write delete, restore that re-lists), `shrink`
    * (entries dropped, none added: a restore to a shorter snapshot),
    * `marker` (header-only). Deriving the kind from STRUCTURE instead
    * of a recorded operation name means history works on every
    * manifest ever committed, needs no commit-path changes, and cannot
    * be lied to. `rows_added`/`rows_removed` are exact (from the
    * per-entry row counts every commit records; tombstone entries
    * excluded — they hold keys, not data); null only if an entry
    * predates row counting. `ts_millis` is the commit's `#ts` header.
    * Cost: one small-file read per version — history-length-bounded,
    * metadata-only. After a [[vacuum]], history starts at the vacuum
    * floor: reclaimed versions have no manifest left to describe. A
    * first retained version that is a FULL manifest (a checkpoint or a
    * rewrite) has no readable parent, so it reports every entry as
    * added. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cur = version(spark, dir)
    // ONE incremental walk over the log, not a per-version chain
    // resolution: an append delta based on v−1 resolves as the previous
    // snapshot plus its own lines (one small read), so a V-version
    // history costs O(V) manifest reads instead of O(V · chain) — the
    // difference between seconds and minutes on a deep streaming table
    // (measured in MetaSweep's V axis). Any other base (never written
    // today) falls back to full resolution.
    // versions below the vacuum floor are reclaimed: the walk starts
    // at the floor (a torn one reads as +inf: just the head), whose
    // snapshot it resolves in full — its delta chain may reach below
    // the floor, and vacuum keeps that chain
    val first = math.max(0L, math.min(readFloor(fs(spark, dir), dir), cur))
    var prevResolved = Vector.empty[String]
    val rows = (first to cur).map { v =>
      val prevL = prevResolved
      val lines = manifestLines(spark, dir, v)
      def counts(xs: Seq[String]): Map[String, Int] =
        xs.groupBy(identity).map { case (k, g) => k -> g.size }
      // an append delta IS its own diff: added = its lines, removed
      // none — the multiset diff (O(snapshot) per version, O(V²)
      // across a deep log) runs only at full manifests
      val (curL, added, removed) = deltaBase(lines) match {
        case Some(b) if b == v - 1 =>
          val own = lines.filterNot(_.startsWith("#"))
          val cl =
            if (v == first) manifestEntries(spark, dir, v).toVector
            else prevL ++ own
          (cl, own, Seq.empty[String])
        case other =>
          val cl: Vector[String] = other match {
            case Some(_) => manifestEntries(spark, dir, v).toVector
            case None    => lines.filterNot(_.startsWith("#")).toVector
          }
          val pc = counts(prevL)
          val cc = counts(cl)
          val ad = cc.toSeq.flatMap { case (l, n) =>
            Seq.fill(math.max(0, n - pc.getOrElse(l, 0)))(l) }
          val rm = pc.toSeq.flatMap { case (l, n) =>
            Seq.fill(math.max(0, n - cc.getOrElse(l, 0)))(l) }
          (cl, ad, rm)
      }
      prevResolved = curL
      val addedE = added.map(parseEntry)
      val removedE = removed.map(parseEntry)
      val (addedTomb, addedData) = addedE.partition(isTombEntry)
      val removedData = removedE.filterNot(isTombEntry)
      def rowsOf(es: Seq[Entry]): Option[Long] = {
        val cs = es.map(_.stats.get(RowsKey).flatMap(_.min.toLongOption))
        if (cs.exists(_.isEmpty)) None else Some(cs.flatten.sum)
      }
      val kind =
        if (v == 0) "create"
        else if (addedE.isEmpty && removedE.isEmpty) "marker"
        else if (removedE.isEmpty && addedData.isEmpty) "delete"
        else if (removedE.isEmpty) "append"
        else if (addedE.isEmpty) "shrink"
        else "rewrite"
      val ts = lines.collectFirst { // already read; skip a second I/O
        case l if l.startsWith(s"#$TsKey=") =>
          l.substring(TsKey.length + 2).toLong
      }
      (v, ts, kind, addedE.size.toLong, removedE.size.toLong,
        addedTomb.size.toLong, rowsOf(addedData), rowsOf(removedData))
    }
    rows.toDF("version", "ts_millis", "kind", "n_added", "n_removed",
      "n_tombstones_added", "rows_added", "rows_removed")
  }

  /** Per-entry metadata report of the current snapshot — the DESCRIBE
    * DETAIL / files-table introspection surface every table format
    * exposes: one row per DATA entry (tombstones excluded), in manifest
    * order, with the entry's recorded row count and each requested
    * stats column's [min, max] — answered from the MANIFEST ALONE (one
    * small-file read; zero data reads at any table size). Stats values
    * come back in their string encoding; callers cast by the column's
    * known type. Entries predating stats report nulls — introspection
    * never fails a table, it describes it. */
  def filesReport(spark: SparkSession, dir: String,
      statCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    val v = version(spark, dir)
    require(v >= 0, s"ManifestSink at $dir has no committed version")
    val data = entries(spark, dir, v).filterNot(isTombEntry)
    val rows = data.zipWithIndex.map { case (e, i) =>
      val n: Any = e.stats.get(RowsKey)
        .flatMap(_.min.toLongOption).map(Long.box).orNull
      Row.fromSeq(
        (i.toLong: Any) +: n +:
          statCols.flatMap(c => Seq[Any](
            e.stats.get(c).map(_.min).orNull,
            e.stats.get(c).map(_.max).orNull)))
    }
    val schema = StructType(
      StructField("entry_idx", LongType, nullable = false) +:
        StructField("n_rows", LongType, nullable = true) +:
        statCols.flatMap(c => Seq(
          StructField(s"${c}_min", StringType, nullable = true),
          StructField(s"${c}_max", StringType, nullable = true))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** ROW-granular diff between two committed versions — time-travel
    * EXCEPT planned from manifest metadata. When the two versions share
    * the same tombstone set (the append / replace / compact family),
    * only entries that CHANGED between them are read on either side: a
    * pure append diffs by reading just the new directories, and a
    * compaction that rewrote identical rows reads only the swapped
    * entries and diffs to zero — never the whole table. A tombstone-set
    * change can delete rows out of UNCHANGED entries, so that case
    * falls back to full-snapshot EXCEPT on both sides (correctness
    * first; the audit asking "what did that delete remove" is rare and
    * explicitly row-reading). Schemas are aligned by NAME across the
    * two versions (missing columns null-fill — the mergeSchema
    * evolution semantics), so a schema-evolved history diffs instead of
    * erroring. Output: each added row with `op='added'`, each removed
    * row with `op='removed'`, multiset semantics via `exceptAll`. */
  def versionRowDiff(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV >= 0 && fromV <= toV,
      s"need 0 <= fromV <= toV, got $fromV..$toV")
    import org.apache.spark.sql.functions.{col, lit}
    def tombLines(v: Long): Seq[String] =
      manifestEntries(spark, dir, v).filter(l => isTombEntry(parseEntry(l)))
    val sameTombs = tombLines(fromV) == tombLines(toV)
    val (addedDirs, removedDirs) = changedEntries(spark, dir, fromV, toV)
    def pruned(v: Long, dirs: Seq[String]): DataFrame = {
      val keep = dirs.toSet
      if (keep.isEmpty) readAt(spark, dir, v, mergeSchema = true).limit(0)
      else assembleRead(spark, dir, v, mergeSchema = true,
        keep = e => keep(e.path))
    }
    val (fromSide, toSide) =
      if (sameTombs) (pruned(fromV, removedDirs), pruned(toV, addedDirs))
      else (readAt(spark, dir, fromV, mergeSchema = true),
        readAt(spark, dir, toV, mergeSchema = true))
    val toCols = toSide.columns
    val cols = (toCols ++ fromSide.columns.filterNot(toCols.contains)).toSeq
    val fieldType = (toSide.schema.fields ++ fromSide.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    def align(df: DataFrame): DataFrame =
      df.select(cols.map(c => if (df.columns.contains(c)) col(c)
        else lit(null).cast(fieldType(c)).as(c)): _*)
    val f = align(fromSide)
    val t = align(toSide)
    t.exceptAll(f).withColumn("op", lit("added"))
      .unionByName(f.exceptAll(t).withColumn("op", lit("removed")))
  }

  /** The window's ADDED data rows with merge-on-read tombstones applied
    * — [[changes]] for windows that also contain deletes: added entries
    * scan through the assembled read at `toV`, so a tombstone committed
    * AFTER an added batch (position rule) filters its rows exactly as a
    * full read would, while tombstones preceding the batch leave it
    * alone. Empty frame when the window added no data entries. */
  def changesApplied(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): DataFrame = {
    val (added, _) = changedEntries(spark, dir, fromV, toV)
    val tombPaths = manifestEntries(spark, dir, toV).map(parseEntry)
      .filter(isTombEntry).map(_.path).toSet
    val dataAdded = added.filterNot(tombPaths).toSet
    if (dataAdded.isEmpty)
      readAt(spark, dir, toV, mergeSchema = true).limit(0)
    else assembleRead(spark, dir, toV, mergeSchema = true,
      keep = e => dataAdded(e.path))
  }

  /** Rows RETRACTED in (fromV, toV]: the fromV-visible rows deleted by
    * merge-on-read tombstones committed in the window — the NEGATIVE
    * delta a subtractable incremental view folds instead of recomputing
    * ([[IncrementalAgg.refreshSums]]). Planned from the manifests: when
    * every new tombstone is a RANGE, only fromV data entries whose
    * recorded stats overlap some range are scanned (stats-less entries
    * scan — the safe direction); key tombstones broadcast their (small
    * by construction) key lists as semi-joins against the remainder.
    * Rows matching several tombstones return exactly once (matched rows
    * leave the remainder before the next tombstone probes it). Requires
    * a rewrite-free window — removed entries make "retracted"
    * ill-defined; recompute there instead. */
  def retractedRows(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    require(fromV >= 0 && fromV <= toV,
      s"need 0 <= fromV <= toV, got $fromV..$toV")
    val (_, removed) = changedEntries(spark, dir, fromV, toV)
    require(removed.isEmpty,
      s"history $fromV->$toV removed entries — retraction is " +
        "ill-defined across a rewrite; recompute from the snapshot")
    val fromLines = manifestEntries(spark, dir, fromV)
    val oldTombLines = fromLines
      .filter(l => isTombEntry(parseEntry(l))).toSet
    val newTombs = manifestEntries(spark, dir, toV)
      .filterNot(oldTombLines).map(parseEntry).filter(isTombEntry)
    def empty = readAt(spark, dir, fromV, mergeSchema = true).limit(0)
    if (newTombs.isEmpty) return empty
    val (rangeTombs, keyTombs) =
      newTombs.partition(_.stats.contains(TombRangeKey))
    val keep: Entry => Boolean =
      if (keyTombs.isEmpty) {
        val rs = rangeTombs.map(tombRange)
        e => rs.exists { case (c, lo, hi) =>
          e.stats.get(c)
            .forall(_.overlaps(lo.map(boundStr), hi.map(boundStr)))
        }
      } else _ => true
    val fromData = fromLines.map(parseEntry).filterNot(isTombEntry)
    if (!fromData.exists(keep)) return empty
    var remaining =
      assembleRead(spark, dir, fromV, mergeSchema = true, keep = keep)
    var matched: Option[DataFrame] = None
    def hit(h: DataFrame): Unit =
      matched = Some(matched.fold(h)(_.unionByName(h)))
    rangeTombs.foreach { e =>
      val (c, lo, hi) = tombRange(e)
      val inR = (lo.map(col(c) >= lit(_)).toSeq ++
        hi.map(col(c) <= lit(_))).reduceOption(_ && _).getOrElse(lit(true))
      hit(remaining.filter(coalesceFalse(inR)))
      remaining = remaining.filter(!coalesceFalse(inR))
    }
    keyTombs.groupBy(tombKeyCols).toSeq.sortBy(_._1.mkString(","))
      .foreach { case (keyCols, shape) =>
        val kdf = shape.map(e =>
            spark.read.parquet(resolvePath(dir, e.path))
              .select(keyCols.map(col): _*))
          .reduce(_ unionByName _).distinct()
          .toDF(keyCols.map("__ret_" + _): _*)
        val cond = keyCols.map(k => remaining(k) === kdf(s"__ret_$k"))
          .reduce(_ && _)
        hit(remaining.join(broadcast(kdf), cond, "left_semi"))
        remaining = remaining.join(broadcast(kdf), cond, "left_anti")
      }
    matched.get
  }

  /** Incremental read: all rows in data directories the `toV` snapshot
    * references that `fromV` did not — for an append-only history this
    * is EXACTLY the rows inserted in (fromV, toV], read without touching
    * any carried-over file (the incremental-consumer pattern: checkpoint
    * the version, read only what's new). After a [[merge]] or
    * [[replace]], added directories also carry rewritten rows —
    * key-exact semantics for that case are [[changesByKey]]. */
  /** true iff a merge-on-read delete tombstone entered the manifest in
    * (fromV, toV] — the retraction marker every file-level incremental
    * consumer must check before folding a window ([[changes]] refuses
    * such a window; the fold family's `refreshOrRecompute` falls back
    * to a snapshot recompute on it). Manifest-read only. */
  def tombstonesAdded(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): Boolean = {
    val (added, _) = changedEntries(spark, dir, fromV, toV)
    val tombPaths = manifestEntries(spark, dir, toV).map(parseEntry)
      .filter(isTombEntry).map(_.path).toSet
    added.exists(tombPaths)
  }

  def changes(spark: SparkSession, dir: String, fromV: Long,
      toV: Long, mergeSchema: Boolean = false): DataFrame = {
    val (added, _) = changedEntries(spark, dir, fromV, toV)
    // a merge-on-read delete in the window is a RETRACTION: a file-level
    // incremental read cannot express it (and the tombstone file itself
    // is keys, not rows). Refuse loudly — the same contract as the
    // rewrite refusal every incremental consumer already applies —
    // rather than silently hand the consumer rows that no longer exist.
    require(!tombstonesAdded(spark, dir, fromV, toV),
      s"merge-on-read delete committed in ($fromV, $toV] at $dir — " +
        "file-level incremental reads cannot express deletes; use " +
        "changesByKey or recompute from the snapshot")
    val tombPaths = manifestEntries(spark, dir, toV).map(parseEntry)
      .filter(isTombEntry).map(_.path).toSet
    val dataAdded = added.filterNot(tombPaths)
    if (dataAdded.isEmpty) readAt(spark, dir, toV, mergeSchema).limit(0)
    else spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(dataAdded.map(e => resolvePath(dir, e)): _*)
  }

  /** Key-exact row-level CDC between two snapshots: one row per changed
    * key with `_change_type` ∈ insert / update / delete (update compares
    * every non-key column null-safely). Three distributed joins on the
    * key — never a full-table collect; at scale each is hash-partitioned
    * on the same key, and AQE plans the small side as broadcast. */
  def changesByKey(spark: SparkSession, dir: String, fromV: Long,
      toV: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    require(keys.nonEmpty, "changesByKey requires at least one key column")
    // merged reads + null backfill: across a schema-evolved history the
    // two snapshots can disagree on columns (a late-added column is absent
    // from the older one). Align both to the union schema — missing
    // columns read as null, exactly how the evolved merged read itself
    // presents pre-evolution batches — so the null-safe compare below
    // resolves every column on both sides.
    val a0 = if (fromV < 0) readAt(spark, dir, toV, mergeSchema = true).limit(0)
             else readAt(spark, dir, fromV, mergeSchema = true)
    val b0 = readAt(spark, dir, toV, mergeSchema = true)
    def backfill(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
    val a = backfill(a0, b0)
    val b = backfill(b0, a0).select(a.columns.map(col).toIndexedSeq: _*)
    val dataCols = b.columns.toSeq.filterNot(keys.contains)
    val inserts = b.join(a.select(keys.map(col): _*), keys, "left_anti")
      .select(b.columns.map(col).toSeq :+
        lit("insert").as("_change_type"): _*)
    val deletes = a.join(b.select(keys.map(col): _*), keys, "left_anti")
      .select(a.columns.map(col).toSeq :+
        lit("delete").as("_change_type"): _*)
    val bothKeys = b.as("nw").join(a.as("old"), keys)
    val updates = bothKeys
      .filter(!(struct(dataCols.map(c => col(s"nw.$c")): _*) <=>
        struct(dataCols.map(c => col(s"old.$c")): _*)))
      .select(keys.map(col) ++ dataCols.map(c => col(s"nw.$c")) :+
        lit("update").as("_change_type"): _*)
    inserts.unionByName(updates).unionByName(deletes)
  }

  /** Apply a [[changesByKey]] feed to a REPLICA table — the APPLY CHANGES
    * INTO shape that closes the CDC loop: downstream replicas (a served
    * copy, a region mirror, a redacted projection) stay in sync by
    * consuming key-level change rows instead of re-copying the table.
    * Inserts and updates upsert via [[merge]] (file-granular
    * copy-on-write — only directories holding matched keys rewrite);
    * deletes commit ONE merge-on-read key tombstone (zero data
    * rewritten). Work is change-sized, never table-sized.
    *
    * Each key appears at most once per [[changesByKey]] window (it
    * diffs two snapshots), so upserts satisfy merge's unique-key
    * contract and no upsert/delete ordering ambiguity exists inside one
    * feed. Re-applying the same feed converges to the same content
    * (same-value upserts, already-erased tombstone keys) — at-least-once
    * delivery is safe content-wise; for replay-free versioning wrap the
    * call in the batchId-transactional pattern (streaming views). */
  def applyChanges(cdc: DataFrame, replicaDir: String,
      keys: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    require(cdc.columns.contains("_change_type"),
      "applyChanges expects a changesByKey feed (_change_type column)")
    merge(cdc.filter(col("_change_type") =!= "delete")
      .drop("_change_type"), replicaDir, keys)
    deleteKeysMergeOnRead(cdc.filter(col("_change_type") === "delete")
      .select(keys.map(col): _*), replicaDir, keys)
  }

  /** Garbage-collect: keep the newest `keepVersions` manifests (the
    * time-travel window); delete older manifest files and any data
    * directory no retained manifest references (replaced compactions,
    * aborted writes). Returns deleted data dirs.
    *
    * `minAgeMs` guards CONCURRENT APPENDERS: an appender writes its
    * data directory BEFORE its manifest entry exists, so a vacuum
    * racing it would see the directory as unreferenced garbage and
    * delete it out from under the commit. With multi-writer appends,
    * set `minAgeMs` above the longest plausible data-write duration
    * (the log-structured-format tombstone-retention discipline); the
    * 0 default is for the single-stream retention pipelines, where the
    * only writer is the one calling vacuum.
    *
    * Before reclaiming anything, vacuum persists the vacuum floor and
    * refreshes the head hint (`_latest.d/<current>`), then reads the
    * hint back. A readback below the current version throws
    * `java.io.IOException` (an I/O failure, not a caller error) and
    * nothing is reclaimed. A failed floor write throws
    * `IllegalArgumentException`, also before reclaiming. Manifests are
    * reclaimed from one listing of `_manifests`, which also serves the
    * temp sweep, so a vacuum costs one delete per manifest present
    * below the horizon, not one per version ever reclaimed. */
  def vacuum(spark: SparkSession, dir: String,
      keepVersions: Int = 1, minAgeMs: Long = 0L,
      protectVersions: Seq[Long] = Nil): Seq[String] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val f = fs(spark, dir)
    val dataRoot = new Path(dir, "data")
    if (!f.exists(dataRoot)) return Nil
    val current = version(spark, dir)
    val keepFrom = math.max(0L, current - keepVersions + 1)
    // versions pinned from OUTSIDE the retention window (a published
    // [[Catalog]] snapshot, a long audit hold) survive expiration with
    // their data: retention must never break a reachable snapshot —
    // pass Catalog.pinnedVersions(...) here and the catalog's
    // cross-table time travel stays intact through any vacuum
    val protect =
      protectVersions.filter(v => v >= 0 && v < keepFrom).distinct
    // ONE chain walk per retained/protected version, reading each
    // manifest file at most once (the windows overlap heavily — on an
    // object store every redundant read is a full-latency GET): the
    // memo serves both the referenced-file set and the chain-keep set.
    val lineCache = scala.collection.mutable.Map.empty[Long, Seq[String]]
    def linesOf(v: Long): Seq[String] =
      lineCache.getOrElseUpdate(v, manifestLines(spark, dir, v))
    def chainOf(v: Long): Seq[Long] = {
      var acc = List.empty[Long]
      var cur = v
      while (cur >= 0) {
        acc = cur :: acc
        cur = deltaBase(linesOf(cur)).getOrElse(-1L)
      }
      acc
    }
    val wanted = (keepFrom to current) ++ protect
    val chainKeep = wanted.flatMap(chainOf).toSet
    val referenced = wanted.flatMap(v =>
      chainOf(v).flatMap(c => linesOf(c).filterNot(_.startsWith("#")))
        .map(entryPath)).toSet
    val protectSet = protect.toSet
    // a retained/protected version may be a DELTA manifest resolving
    // through bases below the horizon: those base manifests must
    // survive or the retained version stops resolving (chainKeep).
    // Their DATA costs nothing extra — a chain base's entries are a
    // prefix of the retained version's, so every file is already in
    // `referenced`. (Consequence: on an append-heavy table, time travel
    // can reach slightly below keepVersions, back to the last
    // checkpoint — the loud horizon applies to versions whose manifests
    // are actually reclaimed.)
    //
    // Ordering is load-bearing: (1) persist the floor LOUDLY — abort if
    // it cannot be written, because version()'s forward probe is only
    // sound above it; (2) refresh the hint so post-vacuum probes anchor
    // at the head, and VERIFY it took (r14 advice: writeHint is
    // best-effort by design — on the commit path a lost hint merely
    // slows the next probe — but a vacuum about to cut gaps below the
    // floor must not leave the hint lagging it, or every subsequent
    // version() pays the O(V) listing until some later commit's hint
    // write happens to succeed; a concurrent commit racing the
    // readback can only move the hint FORWARD, hence >=); (3) only
    // then reclaim manifests.
    writeFloorLoud(f, dir, floorForWrite(f, dir, keepFrom))
    writeHint(f, dir, current)
    // single readback, no retry: a marker refresh creates its name
    // before pruning anything, so a read sees our value or a concurrent
    // commit's LATER one (commits are monotonic and hint after
    // publishing), both >= current. A readback below current therefore
    // means the hint genuinely failed to persist — fail loudly.
    val back = readHint(f, dir)
    if (back < current) throw new java.io.IOException(
      s"vacuum at $dir: the _latest.d hint did not persist (read back " +
        s"$back, need >= $current) — aborting before reclaiming " +
        "anything so version() probes don't degrade to the full " +
        "listing behind a raised floor")
    // one listing of _manifests serves both jobs: reclaim the manifests
    // below the horizon that are neither protected nor chain-kept, and
    // sweep crash-orphaned publish temps — but only ones older than
    // minAgeMs (r16 advice: an ageless sweep could delete an IN-FLIGHT
    // publish temp or a live canHardLink probe file mid-use; the age
    // cutoff means only genuinely abandoned files are reclaimed). A
    // crashed appender's swept temp costs nothing; a live appender is
    // never touched because its temp is seconds old. (A table whose
    // first-ever commit crashed before publishing has data but no
    // _manifests directory yet.)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val mdir = new Path(dir, "_manifests")
    if (f.exists(mdir)) f.listStatus(mdir).foreach { st =>
      val n = st.getPath.getName
      val reclaim = n match {
        case ManifestName(d) =>
          val v = d.toLong
          v < keepFrom && !protectSet(v) && !chainKeep(v)
        // publish temps, plus capability-probe files a crash between
        // canHardLink's createFile and its finally left behind
        case _ => (n.endsWith(".tmp") || n.startsWith(".linkprobe.")) &&
          st.getModificationTime <= cutoff
      }
      if (reclaim) f.delete(st.getPath, false)
    }
    f.listStatus(dataRoot).toSeq
      .filter { st =>
        // a z-compacted commit references SUBdirectories of its batch dir
        // (data/<uuid>/__zb=k) — the batch dir is live if any retained
        // entry sits at or under it
        val name = s"data/${st.getPath.getName}"
        !referenced.exists(r => r == name || r.startsWith(name + "/")) &&
          st.getModificationTime <= cutoff
      }
      .map { st =>
        require(f.delete(st.getPath, true), s"failed to vacuum ${st.getPath}")
        st.getPath.getName
      }
  }
}
