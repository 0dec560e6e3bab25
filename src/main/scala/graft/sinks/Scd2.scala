package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lag, lead, lit, max, struct,
  sum, when}

/** SCD Type-2 dimension maintenance over a [[ManifestSink]] table — the
  * versioned-row shape (Kimball's slowly changing dimension, type 2)
  * every warehouse keeps for "what did this customer's segment look
  * like WHEN the order happened" joins: one row per (key, version)
  * carrying `valid_from` / `valid_to` / `is_current`, closed-out rows
  * never mutated again.
  *
  * [[applyUpdates]] is incremental and composes with
  * [[ManifestSink.merge]]'s copy-on-write pruning: per batch it touches
  * only the AFFECTED keys (semi-join of the current rows against the
  * batch's keys), recomputes those keys' chain tails, and merges on
  * (key, valid_from) — the old current row is replaced in place with
  * its close-out timestamp, new versions insert, and history rows (and
  * whole untouched batch directories) are carried by reference. Applying
  * the same updates in one batch or many yields the identical table:
  * consecutive-equal attribute updates collapse (an update that does
  * not change the attributes creates no version), and a batch's first
  * update is deduped against the stored current row exactly as the
  * single-shot chain would dedup it against its raw predecessor.
  *
  * Ordering contract: `seqCol` is the version stamp (a timestamp or any
  * monotone long, unique per key within a batch — enforced loudly);
  * updates at or before a key's current `valid_from` are STALE and are
  * dropped (late data cannot rewrite closed history — replay a batch
  * in order to rebuild instead). Null-safe attribute comparison: a
  * null-to-value attribute change is a real version.
  *
  * Replay idempotence (the streaming `foreachBatch` contract, free of
  * any epoch bookkeeping): re-applying an already-applied batch is a
  * no-op — its updates at or before the key's current `valid_from` are
  * stale-dropped, and any later ones are by construction
  * consecutive-equal to the stored current attributes (they collapsed
  * into the current version the first time), so the dedup drops them
  * too. A crashed-and-replayed epoch can never double-version a key.
  *
  * Scale: the chain windows partition on the key over (affected current
  * rows + the batch) — delta-sized, never table-sized; the merge
  * rewrites only directories containing affected keys. A 100 TB
  * dimension absorbing a day's updates shuffles the day, not the
  * dimension. Reducer bound: the chain window puts ONE KEY's batch
  * updates on one reducer — fine for dimension semantics (a key's
  * daily update volume is bounded by the upstream's change rate), but
  * a key receiving millions of updates per batch is event data wearing
  * a dimension key; sessionize or pre-aggregate it instead. */
object Scd2 {
  val FromCol = "valid_from"
  val ToCol = "valid_to"
  val CurCol = "is_current"

  /** Apply one batch of `(key, seqCol, attrCols…)` updates; returns the
    * committed version. First call on an empty dir creates the table.
    *
    * Write path: by default the changed chain rows commit through
    * [[ManifestSink.mergeOnRead]] — ONE atomic commit (key tombstone +
    * fresh rows), no existing directory read or rewritten, so a batch
    * costs O(its own delta) whatever the dimension's size; keys the
    * batch did not version are not touched at all, and a batch that
    * versions nothing (all stale / all collapsed — e.g. an epoch
    * replay) commits NOTHING, leaving the version number stable.
    * `copyOnWrite = true` switches to [[ManifestSink.merge]]'s
    * read-optimized rewrite of affected directories (no tombstone debt,
    * higher write amplification) — same table content either way. */
  def applyUpdates(updates: DataFrame, dir: String, key: String,
      seqCol: String, attrCols: Seq[String],
      copyOnWrite: Boolean = false): Long = {
    val spark = updates.sparkSession
    require(attrCols.nonEmpty, "SCD2 needs at least one attribute column")
    val reserved = Set(FromCol, ToCol, CurCol)
    require(!(attrCols :+ key :+ seqCol).exists(reserved),
      s"column names $reserved are reserved for the SCD2 schema")
    val u = updates.select((key +: seqCol +: attrCols).map(col): _*)
    val prev = ManifestSink.version(spark, dir)
    val marked =
      if (prev < 0) u.withColumn("__base", lit(false))
      else {
        // only the keys this batch touches: the chain recompute and the
        // merge below stay delta-sized whatever the dimension's size
        val base = ManifestSink.read(spark, dir).filter(col(CurCol))
          .join(u.select(col(key)).distinct(), Seq(key), "left_semi")
          .select((col(key) +: col(FromCol).as(seqCol) +:
            attrCols.map(col)): _*)
        base.withColumn("__base", lit(true))
          .unionByName(u.withColumn("__base", lit(false)))
      }
    val wk = Window.partitionBy(col(key))
    val wo = Window.partitionBy(col(key)).orderBy(col(seqCol))
    // uniqueness probe RIDES the chain pipeline (r18, guide §1.2/§2.3):
    // rows sharing a (key, seq) are adjacent in wo's sort, so a
    // RANGE [current, current] frame counts a row's equal-seq non-base
    // peers with no extra shuffle or sort — the per-batch groupBy
    // (key, seq) probe this replaces shuffled the ENTIRE batch once more
    // per applyUpdates call and cost one extra Spark action. The flag is
    // observed BEFORE the stale filter (every update row flows through),
    // so stale duplicates still refuse exactly as the old probe did.
    val weq = wo.rangeBetween(0, 0)
    val obs = org.apache.spark.sql.Observation()
    // stale updates (at or before the stored current version) drop; the
    // base row itself always survives as the chain anchor
    // __du first: its (key, seq) sort also satisfies __bs's key-only
    // window, so the whole pipeline runs on ONE exchange and ONE sort
    // (the pre-r18 shape sorted twice — key-only, then key+seq)
    val fresh = marked
      .withColumn("__du",
        sum(when(col("__base"), 0L).otherwise(1L)).over(weq))
      .withColumn("__bs", max(when(col("__base"), col(seqCol))).over(wk))
      .observe(obs,
        max(when(!col("__base") && col("__du") > 1L, 1L)
          .otherwise(0L)).as("__dup"))
      .filter(col("__base") || col("__bs").isNull ||
        col(seqCol) > col("__bs"))
    val attrs = struct(attrCols.map(col): _*)
    // raw-lag consecutive dedup ≡ survivor dedup (equality is transitive
    // along a dropped run), so one window pass suffices
    val deduped = fresh.withColumn("__pa", lag(attrs, 1).over(wo))
      .filter(col("__pa").isNull || !(attrs <=> col("__pa")))
    // only keys that actually gained a version commit anything: the
    // untouched base anchors (stale-only or collapsed-only keys) drop
    // here, so a no-op batch — an epoch replay included — writes nothing
    val chain = deduped
      .withColumn("__new",
        max(when(col("__base"), lit(0)).otherwise(lit(1))).over(wk))
      .withColumn(ToCol, lead(col(seqCol), 1).over(wo))
      .withColumn(CurCol, col(ToCol).isNull)
      .filter(col("__new") === 1)
      .select((col(key) +: attrCols.map(col)) ++
        Seq(col(seqCol).as(FromCol), col(ToCol), col(CurCol)): _*)
    // the chain is consumed several times downstream (the sink's
    // uniqueness check, tombstone-key and data writes) — it is
    // delta-sized, so cache it rather than re-run the window pipeline
    chain.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE action materializes the cache, yields the emptiness answer,
      // and fires the uniqueness observation (r18): the previous shape
      // paid a dedicated batch-wide groupBy probe up front and left
      // emptiness to the sink's write-then-abort. The require still
      // throws BEFORE anything is written or committed.
      val n = chain.count()
      val dup = graft.Observed.observedLong(obs)(dupFlag(u, key, seqCol))
      require(dup == 0L,
        s"SCD2 updates must be unique per ($key, $seqCol)")
      // an empty chain — all stale / all collapsed, an epoch replay
      // included — commits NOTHING and leaves the version stable: a
      // fresh dir keeps returning -1 without creating an empty table,
      // and an existing table skips the sink's write-then-abort.
      if (n == 0L) prev
      else if (copyOnWrite)
        ManifestSink.merge(chain, dir, Seq(key, FromCol))
      else ManifestSink.mergeOnRead(chain, dir, Seq(key, FromCol))
    } finally chain.unpersist(false)
  }

  /** [[applyUpdates]]'s uniqueness flag recomputed without the
    * observation: 1 iff some (`key`, `seqCol`) pair occurs more than
    * once in `u`, else 0. */
  private[graft] def dupFlag(u: DataFrame, key: String,
      seqCol: String): Long =
    if (ManifestSink.keyDupMax(u, Seq(key, seqCol)) > 1L) 1L else 0L

  /** The dimension AS OF a version stamp: the row whose
    * [valid_from, valid_to) interval contains `seq` — at most one per
    * key by construction. Row-local filter; no joins. */
  def asOf(spark: org.apache.spark.sql.SparkSession, dir: String,
      seq: Any): DataFrame =
    ManifestSink.read(spark, dir)
      .filter(col(FromCol) <= lit(seq) &&
        (col(ToCol).isNull || col(ToCol) > lit(seq)))
}
