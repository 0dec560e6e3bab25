package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Lineage.Cuttable
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.sinks.{AggMatView, ManifestSink, Scd2}
import graft.sources.Tables

/** The manifest sink inside the correctness gate: these queries push data
  * THROUGH the sink (commit → manifest stats → pruned read) and emit a
  * result an independent engine reproduces from the original tables — so
  * the storage layer's roundtrip fidelity and its file-skipping logic are
  * oracle-checked, not just unit-asserted.
  */
object SinkOps {
  type Q = (SparkSession, String) => DataFrame

  /** Scratch roots created by [[freshScratch]], recursively deleted by one
    * JVM-exit hook — bench reps and repeated gate runs don't accumulate
    * temp table copies past the process, yet every invocation gets a
    * UNIQUE directory (a fixed per-prefix path would let two concurrent
    * runs clear and rewrite each other's live sink, and would invalidate
    * the lazy DataFrame a previous invocation returned). */
  private val scratchRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val scratchCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      scratchRoots.asScala.foreach { root =>
        if (java.nio.file.Files.exists(root)) {
          val walk = java.nio.file.Files.walk(root)
          try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
          finally walk.close()
        }
      }
    }))

  /** A unique per-invocation scratch root, cleaned up at JVM exit. */
  private[operators] def freshScratch(prefix: String, dir: String): String = {
    scratchCleanup
    val scratch = java.nio.file.Files.createTempDirectory(
      s"${prefix}_${java.lang.Integer.toHexString(dir.hashCode)}_")
    scratchRoots.add(scratch)
    scratch.toString
  }

  /** true iff `df` scans files and every one lies under `root` — how a
    * gate proves a view rewrite served its query. It reads the scans'
    * file locations, not the plan text, which Spark cuts at
    * `spark.sql.maxMetadataStringLength` characters. */
  private def scansOnlyUnder(df: DataFrame, root: String): Boolean = {
    val files = df.inputFiles
    files.nonEmpty && files.forall(_.contains(s"$root/"))
  }

  // --------------------------------------------------------------- q129
  /** Fork-and-rollback lifecycle through the gate: events (up to cut2)
    * land in a source table; a ZERO-COPY [[ManifestSink.shallowClone]]
    * forks it; the tail appends to the FORK only; a corrupting commit
    * lands on the fork and is undone by a metadata-only
    * [[ManifestSink.restore]]. The emitted per-type aggregates of BOTH
    * tables must equal what the oracle computes straight from the
    * source rows — so a clone that misses/duplicates a borrowed batch,
    * a restore that rolls back too little or too much, or divergence
    * leaking between fork and source all hash-mismatch.
    *
    * Scale: the fork is one small manifest write (no data copied,
    * whatever the table size); the rollback is one manifest write (no
    * data deleted); the final aggregates are two-phase on a 5-value
    * key. */
  private val q129: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val root = freshScratch("graft_q129", dir)
    val src = root + "/src"
    val fork = root + "/fork"
    ManifestSink.append(ev.filter($"event_id" <= cut1), src)
    ManifestSink.append(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), src)
    ManifestSink.shallowClone(s, src, fork)
    ManifestSink.append(ev.filter($"event_id" > cut2), fork)
    // a corrupting commit on the fork, undone metadata-only
    val good = ManifestSink.version(s, fork)
    ManifestSink.append(
      ev.filter($"event_id" <= cut1)
        .withColumn("value", $"value" + 1000000.0), fork)
    ManifestSink.restore(s, fork, good)
    def agg(name: String, d: DataFrame) = d
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum($"value").as("sum_value"))
      .select(lit(name).as("table_name"), $"event_type",
        $"n_events", $"sum_value")
    agg("fork", ManifestSink.read(s, fork))
      .unionByName(agg("source", ManifestSink.read(s, src)))
      .orderBy($"table_name", $"event_type")
  }
  private val q129Sql =
    s"""WITH cuts AS (
       |  SELECT 2 * MAX(event_id) // 3 AS cut2 FROM events)
       |SELECT 'fork' AS table_name, event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM events GROUP BY event_type
       |UNION ALL
       |SELECT 'source', event_type,
       |  CAST(COUNT(*) AS BIGINT),
       |  ${Exact.sqlSum("value")}
       |FROM events CROSS JOIN cuts
       |WHERE event_id <= cut2
       |GROUP BY event_type
       |ORDER BY table_name, event_type""".stripMargin

  // --------------------------------------------------------------- q130
  /** Incremental LEADERBOARD through the gate: the per-(type, user)
    * aggregate state folds commit by commit
    * ([[graft.sinks.IncrementalAgg]], exactly q98's maintenance), and
    * the top-3 spenders per type read off the STATE with one rank
    * window — the expensive part (history) is amortized by the fold;
    * the ranking never touches more than state rows. Decimal-summed
    * rank keys with a user_id tiebreak make the order total and
    * engine-identical; the oracle recomputes per-(type, user) sums and
    * the same window straight from the source.
    *
    * Scale: fold cost is O(commit delta); the rank window prunes
    * map-side (WindowGroupLimit) over state rows — a leaderboard over
    * a 100 TB history costs one delta scan per refresh plus a
    * state-sized rank. */
  private val q130: Q = (s, dir) => {
    import s.implicits._
    import graft.sinks.IncrementalAgg
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"user_id", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val sink = freshScratch("graft_q130", dir) + "/events_sink"
    val keys = Seq("event_type", "user_id")
    val v0 = ManifestSink.append(ev.filter($"event_id" <= cut1), sink)
    val v1 = ManifestSink.append(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink)
    val v2 = ManifestSink.append(ev.filter($"event_id" > cut2), sink)
    val s0 = IncrementalAgg.aggregate(
      ManifestSink.changes(s, sink, -1L, v0), keys, "value")
    val s1 = IncrementalAgg.refresh(s, s0, sink, v0, v1, keys, "value")
    val s2 = IncrementalAgg.refresh(s, s1, sink, v1, v2, keys, "value")
    IncrementalAgg.presentTopK(s2, Seq("event_type"), Seq("user_id"), 3)
      .orderBy($"event_type", $"rank")
  }
  private val q130Sql =
    """WITH st AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(value AS DECIMAL(38,4))) AS sum_dec
      |  FROM events GROUP BY event_type, user_id),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY sum_dec DESC, user_id ASC) AS rank
      |  FROM st)
      |SELECT event_type, user_id, CAST(rank AS BIGINT) AS rank, n,
      |  CAST(sum_dec AS DOUBLE) AS sum_value
      |FROM rk WHERE rank <= 3
      |ORDER BY event_type, rank""".stripMargin

  // --------------------------------------------------------------- q131
  /** Expectations as a WRITE GATE with quarantine: events split by
    * row-local contracts ([[Expectations.quarantine]] — map-side
    * filters, violators labeled with the FIRST failed expectation in
    * declaration order), each side lands in its own manifest table, and
    * the report aggregates BOTH tables after reading them back — so the
    * split logic, the label precedence, and the two write/read
    * roundtrips are all inside one hash check. The oracle mirrors the
    * split with the same ordered CASE over the source rows.
    *
    * Scale: the split is two scan-local filters (no shuffle before the
    * writes); quarantined rows are RETAINED for triage, not dropped —
    * the declarative-pipeline expectations action. */
  private val q131: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"user_id", $"value")
    val exps = Seq(
      Expectations.inRange("value_in_range", col("value"), 0, 50),
      Expectations.matches("type_known", col("event_type"),
        "^(view|click|purchase|signup)$"))
    val (pass, quar) = Expectations.quarantine(ev, exps)
    val root = freshScratch("graft_q131", dir)
    val aDir = root + "/accepted"
    val qDir = root + "/quarantine"
    ManifestSink.append(pass, aDir)
    ManifestSink.append(quar, qDir)
    val acc = ManifestSink.read(s, aDir)
      .groupBy($"event_type".as("label"))
      .agg(count(lit(1)).as("n_rows"), Exact.dsum($"value").as("sum_value"))
      .select(lit("accepted").as("side"), $"label", $"n_rows", $"sum_value")
    val qr = ManifestSink.read(s, qDir)
      .groupBy($"failed_expectation".as("label"))
      .agg(count(lit(1)).as("n_rows"), Exact.dsum($"value").as("sum_value"))
      .select(lit("quarantine").as("side"), $"label", $"n_rows",
        $"sum_value")
    acc.unionByName(qr).orderBy($"side", $"label")
  }
  private val q131Sql =
    s"""WITH labeled AS (
       |  SELECT *,
       |    CASE
       |      WHEN value IS NULL OR value < 0 OR value > 50
       |        THEN 'value_in_range'
       |      WHEN event_type IS NULL
       |        OR NOT regexp_matches(event_type,
       |                              '^(view|click|purchase|signup)$$')
       |        THEN 'type_known'
       |    END AS failed
       |  FROM events)
       |SELECT 'accepted' AS side, event_type AS label,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM labeled WHERE failed IS NULL GROUP BY event_type
       |UNION ALL
       |SELECT 'quarantine', failed,
       |  CAST(COUNT(*) AS BIGINT),
       |  ${Exact.sqlSum("value")}
       |FROM labeled WHERE failed IS NOT NULL GROUP BY failed
       |ORDER BY side, label""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Manifest roundtrip + file skipping: land `events` in a manifest sink
    * as three range-disjoint appends with event_id stats (the time-ordered
    * append layout a fact table has), then answer a mid-range aggregation
    * through [[ManifestSink.readWhere]] — the pruned scan. The oracle
    * computes the same aggregate straight from the source table, so a
    * pruning bug that drops or double-reads ANY row hash-mismatches.
    * SinkOpsSpec separately asserts the scan really pruned to 1 of 3
    * directories (the gate proves correctness; the spec proves skipping).
    *
    * Scale: appends are plain partitioned parquet writes; the range read
    * prunes at manifest level before parquet row-group pruning; the final
    * aggregate is two-phase on a 5-value key. The only driver scalar is
    * the 1-row max(event_id) defining the deterministic range cuts. */
  private val q88: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val sink = freshScratch("graft_q88", dir) + "/events_sink"
    ManifestSink.appendWithStats(
      ev.filter($"event_id" <= cut1), sink, Seq("event_id"))
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink,
      Seq("event_id"))
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > cut2), sink, Seq("event_id"))
    ManifestSink.readWhere(s, sink, "event_id",
      Some(cut1 + 1), Some(cut2))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum($"value").as("sum_value"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }
  private val q88Sql =
    s"""WITH cuts AS (
       |  SELECT MAX(event_id) // 3 AS cut1,
       |         2 * MAX(event_id) // 3 AS cut2
       |  FROM events)
       |SELECT event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSum("value")} AS sum_value,
       |  MIN(event_id) AS min_id,
       |  MAX(event_id) AS max_id
       |FROM events CROSS JOIN cuts
       |WHERE event_id > cut1 AND event_id <= cut2
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q98
  /** Incremental materialized view through the sink: events land as
    * three commits, and the per-type aggregate is maintained by folding
    * ONLY each commit's new batches into the previous state
    * ([[graft.sinks.IncrementalAgg]]) — never recomputing from the
    * table. The oracle computes the same aggregate directly from the
    * source, so an incremental-maintenance bug that drops, double-counts,
    * or mis-merges ANY batch hash-mismatches. (The decimal-accumulated
    * state makes merge order irrelevant — the same Exact discipline as
    * every other sum in the tree.)
    *
    * Scale: each refresh reads one commit's batches (manifest diff
    * locates them with zero data reads); the state stays
    * aggregate-sized; the merge is a hash aggregate on the group key. */
  private val q98: Q = (s, dir) => {
    import s.implicits._
    import graft.sinks.IncrementalAgg
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val sink = freshScratch("graft_q98", dir) + "/events_sink"
    val keys = Seq("event_type")
    val v0 = ManifestSink.append(ev.filter($"event_id" <= cut1), sink)
    val v1 = ManifestSink.append(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink)
    val v2 = ManifestSink.append(ev.filter($"event_id" > cut2), sink)
    val s0 = IncrementalAgg.aggregate(
      ManifestSink.changes(s, sink, -1L, v0), keys, "value")
    val s1 = IncrementalAgg.refresh(s, s0, sink, v0, v1, keys, "value")
    val s2 = IncrementalAgg.refresh(s, s1, sink, v1, v2, keys, "value")
    IncrementalAgg.present(s2, keys)
      .withColumnRenamed("n", "n_events")
      .orderBy($"event_type")
  }
  private val q98Sql =
    s"""SELECT event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSum("value")} AS sum_value,
       |  MIN(value) AS mn,
       |  MAX(value) AS mx
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q101
  /** Exactly-once epoch folding through the gate: events land as three
    * [[ManifestSink.appendOnce]] epochs with epoch 1 REPLAYED mid-stream
    * (foreachBatch's at-least-once delivery) and replayed AGAIN after a
    * compaction rewrote the whole table. The final aggregate reads the
    * sink — so if either replay double-lands (marker lost, marker not
    * carried through the rewrite) or a real epoch is wrongly skipped,
    * every count and sum hash-mismatches the oracle, which aggregates
    * the source directly.
    *
    * Scale: the replay checks are O(1) manifest-header reads (never a
    * table read); compaction is the one whole-table rewrite, and the
    * closing aggregate is two-phase on a 5-value key. */
  private val q101: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val sink = freshScratch("graft_q101", dir) + "/events_sink"
    val e0 = ev.filter($"event_id" <= cut1)
    val e1 = ev.filter($"event_id" > cut1 && $"event_id" <= cut2)
    val e2 = ev.filter($"event_id" > cut2)
    ManifestSink.appendOnce(e0, sink, batchId = 0)
    ManifestSink.appendOnce(e1, sink, batchId = 1)
    ManifestSink.appendOnce(e1, sink, batchId = 1) // replayed epoch
    ManifestSink.compact(s, sink, statsCols = Seq("event_id"))
    ManifestSink.appendOnce(e1, sink, batchId = 1) // replay after rewrite
    ManifestSink.appendOnce(e2, sink, batchId = 2)
    ManifestSink.read(s, sink)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum($"value").as("sum_value"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }
  private val q101Sql =
    s"""SELECT event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSum("value")} AS sum_value,
       |  MIN(event_id) AS min_id,
       |  MAX(event_id) AS max_id
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q102
  /** Partitioned layout + predicate skipping through the gate: events
    * land via [[ManifestSink.appendPartitioned]] keyed on a derived
    * day-bucket column (one stat-carrying manifest entry per bucket —
    * the date-partitioned fact table), and the aggregate reads through
    * [[ManifestSink.readFiltered]] with a predicate mixing prunable
    * bounds (the bucket range) and an unprunable term (value % filter)
    * — so partition splitting, per-partition stats, predicate-to-bounds
    * extraction, AND the partition column's survival through entry-path
    * reads are all oracle-checked against the source table.
    *
    * Scale: the layout is the one a time-partitioned 100 TB table has;
    * the scan prunes to the 2 matching partitions at manifest level;
    * per-partition stats cost one small job per partition at write. */
  private val q102: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val bucketW = maxId / 5 + 1
    val sink = freshScratch("graft_q102", dir) + "/events_sink"
    ManifestSink.appendPartitioned(
      ev.withColumn("day", ($"event_id" / bucketW).cast("int")),
      sink, "day", Seq("event_id"))
    ManifestSink.readFiltered(s, sink,
      $"day" >= 1 && $"day" <= 2 && $"event_id" % 3 =!= 0)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum($"value").as("sum_value"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }
  private val q102Sql =
    s"""WITH w AS (SELECT MAX(event_id) // 5 + 1 AS bw FROM events),
       |bucketed AS (
       |  SELECT e.*, CAST(event_id // bw AS INT) AS day
       |  FROM events e CROSS JOIN w)
       |SELECT event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSum("value")} AS sum_value,
       |  MIN(event_id) AS min_id,
       |  MAX(event_id) AS max_id
       |FROM bucketed
       |WHERE day BETWEEN 1 AND 2 AND event_id % 3 <> 0
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q100
  /** FLAGSHIP lakehouse lifecycle: every mutation the sink supports,
    * chained on one table, then answered through the pruned scan —
    * (1) three range-disjoint appends with stats, (2) keyed MERGE
    * replacing every 10th event's value (copy-on-write, only matched
    * batches rewritten), (3) DELETE WHERE of a mid range (stats locate
    * the candidates), (4) z-order compaction over (event_id, value)
    * splitting the snapshot into 8 stat-carrying entries, (5) a range
    * aggregate through readWhere — manifest pruning over the z-entries.
    * The oracle replays the same lifecycle relationally (merge = left
    * join COALESCE, delete = range exclusion), so a bug in ANY mutation
    * step — dropped survivor, double-applied update, wrong delete
    * boundary, z-bucket losing rows — hash-mismatches.
    *
    * Scale: each step is the operator's own documented shape; nothing
    * here collects data (cuts come from one 1-row max, z-cells from one
    * 4-scalar min/max row). */
  private val q100: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val (d1, d2) = (maxId / 4, maxId / 2) // deleted band
    val sink = freshScratch("graft_q100", dir) + "/events_sink"
    ManifestSink.appendWithStats(
      ev.filter($"event_id" <= cut1), sink, Seq("event_id"))
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink,
      Seq("event_id"))
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > cut2), sink, Seq("event_id"))
    ManifestSink.merge(
      ev.filter($"event_id" % 10 === 0)
        .withColumn("value", $"value" + 1000.0),
      sink, Seq("event_id"))
    ManifestSink.deleteWhere(s, sink,
      Seq(ManifestSink.Range("event_id", Some(d1), Some(d2))),
      statsCols = Seq("event_id"))
    ManifestSink.compactZOrder(s, sink, Seq("event_id", "value"),
      statsCols = Seq("event_id"), buckets = 8)
    ManifestSink.readWhere(s, sink, "event_id", Some(cut1 + 1), None)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum($"value").as("sum_value"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }
  private val q100Sql =
    s"""WITH cuts AS (
       |  SELECT MAX(event_id) // 3 AS cut1,
       |         MAX(event_id) // 4 AS d1,
       |         MAX(event_id) // 2 AS d2
       |  FROM events),
       |merged AS (
       |  SELECT event_id, event_type,
       |    CASE WHEN event_id % 10 = 0 THEN value + 1000.0
       |         ELSE value END AS value
       |  FROM events),
       |alive AS (
       |  SELECT m.* FROM merged m CROSS JOIN cuts
       |  WHERE NOT (m.event_id BETWEEN d1 AND d2))
       |SELECT event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSum("value")} AS sum_value,
       |  MIN(event_id) AS min_id,
       |  MAX(event_id) AS max_id
       |FROM alive CROSS JOIN cuts
       |WHERE event_id > cut1
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q146
  /** Schema evolution through the gate — the table-format behavior that
    * decides whether a live pipeline can add a feature column without
    * rewriting history: phase-1 batches land with the original 3-column
    * schema; a later append carries a NEW `quality` column; a compaction
    * then rewrites the mixed-schema history. The merged read must
    * present the union schema with pre-evolution rows null in the late
    * column — through the compaction, which would silently drop the
    * column if it read with any single batch's schema. The aggregate
    * pins all three: row survival, null backfill (`n_pre_evolution`
    * counts exactly the phase-1 rows), and the evolved column's values.
    *
    * Scale: evolution itself is free (nothing rewrites on append — the
    * union schema is resolved at READ); the compaction is the only
    * rewrite and it is one distributed job. */
  private val q146: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut = maxId / 2
    val sink = freshScratch("graft_q146", dir) + "/evolved"
    ManifestSink.append(ev.filter($"event_id" <= cut), sink)
    ManifestSink.append(
      ev.filter($"event_id" > cut)
        .withColumn("quality", $"value" * 2.0), sink)
    ManifestSink.compact(s, sink, statsCols = Seq("event_id"))
    ManifestSink.read(s, sink, mergeSchema = true)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"quality".isNull, 1L).otherwise(0L))
          .as("n_pre_evolution"),
        Exact.dsum(coalesce($"quality", lit(0.0))).as("sum_quality"))
      .orderBy($"event_type")
  }
  private val q146Sql =
    s"""WITH cuts AS (SELECT MAX(event_id) // 2 AS cut FROM events),
       |evolved AS (
       |  SELECT event_type,
       |    CASE WHEN event_id > cut THEN value * 2.0 ELSE NULL END
       |      AS quality
       |  FROM events CROSS JOIN cuts)
       |SELECT event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pre_evolution,
       |  ${Exact.sqlSum("COALESCE(quality, 0.0)")} AS sum_quality
       |FROM evolved
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q153
  /** Time-travel ROW DIFF through the gate — "what changed between
    * version X and version Y", answered without a change log: events
    * land as two appends (v0: ids ≤ cut1; v1: + (cut1, cut2]), then v2
    * merge-on-read-deletes every 7th event.
    * [[ManifestSink.versionRowDiff]](0→1) must be EXACTLY the appended
    * rows — and is planned entry-pruned, reading only the new
    * directories; (1→2) must be exactly the deleted rows as removals —
    * the tombstone-change case that falls back to full-snapshot EXCEPT.
    * Aggregated per (phase, op, event_type) so the oracle recomputes
    * the expected diff relationally; a diff bug of any kind (missed
    * append row, resurrecting a deleted row, op inversion)
    * hash-mismatches. */
  private val q153: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val sink = freshScratch("graft_q153", dir) + "/t"
    ManifestSink.append(ev.filter($"event_id" <= cut1), sink) // v0
    ManifestSink.append(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink) // v1
    ManifestSink.deleteKeysMergeOnRead(
      ev.filter($"event_id" <= cut2 && $"event_id" % 7 === 0)
        .select($"event_id"), sink, Seq("event_id")) // v2
    val d01 = ManifestSink.versionRowDiff(s, sink, 0, 1)
      .withColumn("phase", lit("append"))
    val d12 = ManifestSink.versionRowDiff(s, sink, 1, 2)
      .withColumn("phase", lit("delete"))
    d01.unionByName(d12)
      .groupBy($"phase", $"op", $"event_type")
      .agg(count(lit(1)).as("n_rows"), Exact.dsum($"value").as("sum_value"))
      .orderBy($"phase", $"op", $"event_type")
  }
  private val q153Sql =
    s"""WITH cuts AS (
       |  SELECT MAX(event_id) // 3 AS c1, (2 * MAX(event_id)) // 3 AS c2
       |  FROM events),
       |diff AS (
       |  SELECT 'append' AS phase, 'added' AS op, event_type, value
       |  FROM events CROSS JOIN cuts
       |  WHERE event_id > c1 AND event_id <= c2
       |  UNION ALL
       |  SELECT 'delete' AS phase, 'removed' AS op, event_type, value
       |  FROM events CROSS JOIN cuts
       |  WHERE event_id <= c2 AND event_id % 7 = 0)
       |SELECT phase, op, event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM diff
       |GROUP BY phase, op, event_type
       |ORDER BY phase, op, event_type""".stripMargin

  // --------------------------------------------------------------- q157
  /** PARTITION EVOLUTION through the gate — changing a table's layout
    * without rewriting history (the table-format capability that
    * decides whether a year-old 100 TB table can adopt partitioning the
    * day you need it): an early era lands UNPARTITIONED (one entry per
    * append), a later era lands partitioned by `event_type` (one
    * stat-carrying entry per partition value). Reads never care — the
    * manifest is just entries — and a point query on the partition
    * column prunes the EVOLVED era's entries by their stats while the
    * never-a-filter contract keeps every stat-less legacy entry.
    * The gate reads the mixed-layout table twice: per-type aggregates
    * over the full snapshot (row survival across the evolution) and
    * the same aggregate for one type through the PRUNED point-read path
    * (`readWhereEq` — must agree exactly with the full-read filter even
    * though it plans from metadata). */
  private val q157: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut = maxId / 2
    val sink = freshScratch("graft_q157", dir) + "/t"
    ManifestSink.append(ev.filter($"event_id" <= cut), sink) // legacy era
    ManifestSink.appendPartitioned(
      ev.filter($"event_id" > cut), sink, "event_type") // evolved era
    val full = ManifestSink.read(s, sink)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"), Exact.dsum($"value").as("sum_value"))
      .withColumn("path", lit("full"))
    val prunedErr = ManifestSink.readWhereEq(s, sink, "event_type", "error")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"), Exact.dsum($"value").as("sum_value"))
      .withColumn("path", lit("pruned_eq"))
    full.unionByName(prunedErr)
      .select($"path", $"event_type", $"n_rows", $"sum_value")
      .orderBy($"path", $"event_type")
  }
  private val q157Sql =
    s"""WITH agg AS (
       |  SELECT event_type,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    ${Exact.sqlSum("value")} AS sum_value
       |  FROM events GROUP BY event_type)
       |SELECT 'full' AS path, event_type, n_rows, sum_value FROM agg
       |UNION ALL
       |SELECT 'pruned_eq' AS path, event_type, n_rows, sum_value
       |FROM agg WHERE event_type = 'error'
       |ORDER BY path, event_type""".stripMargin

  // --------------------------------------------------------------- q174
  /** Small-file compaction through the gate: one big append plus five
    * tiny ones (the shape a short-trigger streaming sink leaves
    * behind), then [[ManifestSink.compactSmall]] merges ONLY the
    * sub-threshold batches into one clustered entry, carrying the big
    * batch by reference. The emitted per-entry layout (filesReport:
    * exactly two data entries, with the big one's rows/bounds
    * untouched) AND the full-table checksum row must match the oracle's
    * recomputation — a compaction that dropped, duplicated, or
    * reshuffled a single row, or touched the entry it had no business
    * rewriting, hash-mismatches.
    *
    * Scale: the maintenance job reads O(small batches), never O(table)
    * — the difference between fixing a day of 2-second commits by
    * reading megabytes and re-reading 100 TB. */
  private val q174: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val c2 = 2 * maxId / 3
    val sink = freshScratch("graft_q174", dir) + "/t"
    ManifestSink.appendWithStats(
      ev.filter($"event_id" <= c2), sink, Seq("event_id"))
    val step = (maxId - c2) / 5
    (0 until 5).foreach { i =>
      val lo = c2 + i * step
      val hi = if (i == 4) maxId else c2 + (i + 1) * step
      ManifestSink.appendWithStats(
        ev.filter($"event_id" > lo && $"event_id" <= hi),
        sink, Seq("event_id"))
    }
    val nBig = ev.filter($"event_id" <= c2).count()
    ManifestSink.compactSmall(s, sink, minRows = nBig,
      statsCols = Seq("event_id"), sortCols = Seq("event_id"))
    val perEntry = ManifestSink.filesReport(s, sink, Seq("event_id"))
      .select($"entry_idx", $"n_rows",
        $"event_id_min".cast("long").as("event_id_min"),
        $"event_id_max".cast("long").as("event_id_max"),
        lit(null).cast("long").as("id_sum"))
    val total = ManifestSink.read(s, sink)
      .agg(count($"event_id").as("n_rows"),
        min($"event_id").as("event_id_min"),
        max($"event_id").as("event_id_max"),
        sum($"event_id").as("id_sum"))
      .select(lit(-1L).as("entry_idx"), $"n_rows", $"event_id_min",
        $"event_id_max", $"id_sum")
    perEntry.union(total).orderBy($"entry_idx")
  }
  private val q174Sql =
    """WITH cuts AS (
      |  SELECT (2 * MAX(event_id)) // 3 AS c2 FROM events),
      |big AS (
      |  SELECT COUNT(*) AS n, MIN(event_id) AS mn, MAX(event_id) AS mx
      |  FROM events CROSS JOIN cuts WHERE event_id <= c2),
      |small AS (
      |  SELECT COUNT(*) AS n, MIN(event_id) AS mn, MAX(event_id) AS mx
      |  FROM events CROSS JOIN cuts WHERE event_id > c2),
      |tot AS (
      |  SELECT COUNT(*) AS n, MIN(event_id) AS mn, MAX(event_id) AS mx,
      |    SUM(event_id) AS s
      |  FROM events)
      |SELECT CAST(entry_idx AS BIGINT) AS entry_idx,
      |  CAST(n_rows AS BIGINT) AS n_rows, event_id_min, event_id_max,
      |  CAST(id_sum AS BIGINT) AS id_sum
      |FROM (
      |  SELECT -1 AS entry_idx, n AS n_rows, mn AS event_id_min,
      |    mx AS event_id_max, s AS id_sum FROM tot
      |  UNION ALL SELECT 0, n, mn, mx, NULL FROM big
      |  UNION ALL SELECT 1, n, mn, mx, NULL FROM small)
      |ORDER BY entry_idx""".stripMargin

  // --------------------------------------------------------------- q173
  /** Cross-table consistent snapshots through the gate: events split
    * into an evens table and an odds table, committed in three PAIRED
    * rounds, each round sealed by one [[graft.sinks.Catalog]] publish
    * pinning both new versions atomically. The emitted aggregates read
    * BOTH tables through a mid-history catalog version and the final
    * one — cross-table time travel — and must equal the oracle's
    * recomputation from the raw rows: a catalog that pinned a version
    * early, late, or inconsistently between the pair hash-mismatches.
    * (The atomicity itself — no published catalog version EVER tears a
    * paired invariant, OCC across 8 concurrent publishers, stale-pin
    * refusal — is pinned in CatalogSpec.)
    *
    * Scale: a catalog version is one KB-sized file (a line per table)
    * published with one conditional put; the consistent multi-table
    * view costs a reader ONE extra small-file read, whatever the data
    * volume. */
  private val q173: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val c1 = maxId / 3
    val c2 = 2 * maxId / 3
    val root = freshScratch("graft_q173", dir)
    val (evens, odds) = (root + "/evens", root + "/odds")
    val cat = root + "/cat"
    def slice(lo: Long, hi: Long, par: Long) = ev.filter(
      $"event_id" > lo && $"event_id" <= hi && $"event_id" % 2 === par)
    var midV = -1L
    Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue)).zipWithIndex
      .foreach { case ((lo, hi), i) =>
        val va = ManifestSink.append(slice(lo, hi, 0L), evens)
        val vb = ManifestSink.append(slice(lo, hi, 1L), odds)
        val cv = graft.sinks.Catalog.publish(s, cat,
          Map("evens" -> (evens, va), "odds" -> (odds, vb)))
        if (i == 1) midV = cv
      }
    val finalV = graft.sinks.Catalog.version(s, cat)
    def aggOf(snap: String, v: Long, name: String) =
      graft.sinks.Catalog.readTableAt(s, cat, v, name)
        .agg(count($"event_id").as("n_rows"),
          sum($"event_id").as("id_sum"))
        .select(lit(snap).as("snapshot"), lit(name).as("tbl"),
          $"n_rows", $"id_sum")
    Seq(aggOf("mid", midV, "evens"), aggOf("mid", midV, "odds"),
      aggOf("final", finalV, "evens"), aggOf("final", finalV, "odds"))
      .reduce(_.union(_)).orderBy($"snapshot", $"tbl")
  }
  private val q173Sql =
    """WITH cuts AS (
      |  SELECT MAX(event_id) // 3 AS c1, (2 * MAX(event_id)) // 3 AS c2
      |  FROM events),
      |lbl AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 2 = 0 THEN 'evens' ELSE 'odds' END AS tbl,
      |    event_id <= c2 AS in_mid
      |  FROM events CROSS JOIN cuts)
      |SELECT snapshot, tbl,
      |  CAST(COUNT(event_id) AS BIGINT) AS n_rows,
      |  CAST(SUM(event_id) AS BIGINT) AS id_sum
      |FROM (
      |  SELECT 'mid' AS snapshot, tbl, event_id FROM lbl WHERE in_mid
      |  UNION ALL SELECT 'final', tbl, event_id FROM lbl)
      |GROUP BY snapshot, tbl
      |ORDER BY snapshot, tbl""".stripMargin

  // --------------------------------------------------------------- q172
  /** Table history through the gate — the DESCRIBE HISTORY surface: a
    * five-commit lifecycle (create, append, keyed merge rewriting
    * exactly the one touched batch, merge-on-read key delete, rollback
    * restore) and then [[ManifestSink.history]] must reconstruct every
    * commit's kind and exact entry/row accounting from the manifest
    * chain alone — structure, not recorded labels, so a commit path
    * that started mis-listing entries (rewriting too much, dropping a
    * tombstone, double-adding a batch) hash-mismatches here against the
    * oracle's from-first-principles expectation. Zero data reads:
    * history costs one small-file read per version at any table size. */
  private val q172: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id", $"user_id", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val c1 = maxId / 3
    val c2 = 2 * maxId / 3
    val sink = freshScratch("graft_q172", dir) + "/t"
    ManifestSink.append(ev.filter($"event_id" <= c1), sink) // v0 create
    ManifestSink.append(
      ev.filter($"event_id" > c1 && $"event_id" <= c2), sink) // v1 append
    // update-only merge: every 7th id of batch 0 — touches exactly it
    ManifestSink.merge(
      ev.filter($"event_id" <= c1 && $"event_id" % 7 === 0)
        .withColumn("value", -$"value"),
      sink, Seq("event_id")) // v2 rewrite
    ManifestSink.deleteKeysMergeOnRead(
      ev.filter($"event_id" > c1 && $"event_id" <= c2 &&
        $"event_id" % 5 === 0).select($"event_id"),
      sink, Seq("event_id")) // v3 delete (tombstone only)
    ManifestSink.restore(s, sink, 1L) // v4 rewrite (rollback re-list)
    ManifestSink.history(s, sink)
      .select($"version", $"kind", $"n_added", $"n_removed",
        $"n_tombstones_added", $"rows_added", $"rows_removed")
      .orderBy($"version")
  }
  private val q172Sql =
    """WITH cuts AS (
      |  SELECT MAX(event_id) // 3 AS c1, (2 * MAX(event_id)) // 3 AS c2
      |  FROM events),
      |n AS (
      |  SELECT
      |    COUNT(*) FILTER (WHERE event_id <= c1) AS na,
      |    COUNT(*) FILTER (WHERE event_id > c1 AND event_id <= c2) AS nb
      |  FROM events CROSS JOIN cuts)
      |SELECT CAST(version AS BIGINT) AS version, kind,
      |  CAST(n_added AS BIGINT) AS n_added,
      |  CAST(n_removed AS BIGINT) AS n_removed,
      |  CAST(n_tombstones_added AS BIGINT) AS n_tombstones_added,
      |  CAST(rows_added AS BIGINT) AS rows_added,
      |  CAST(rows_removed AS BIGINT) AS rows_removed
      |FROM (
      |  SELECT 0 AS version, 'create' AS kind, 1 AS n_added,
      |    0 AS n_removed, 0 AS n_tombstones_added, na AS rows_added,
      |    0 AS rows_removed FROM n
      |  UNION ALL SELECT 1, 'append', 1, 0, 0, nb, 0 FROM n
      |  UNION ALL SELECT 2, 'rewrite', 1, 1, 0, na, na FROM n
      |  UNION ALL SELECT 3, 'delete', 1, 0, 1, 0, 0 FROM n
      |  UNION ALL SELECT 4, 'rewrite', 1, 2, 0, na, na FROM n)
      |ORDER BY version""".stripMargin

  // --------------------------------------------------------------- q171
  /** Full-text term search through the gate: documents land as three
    * doc_id-tercile appends, each carrying a TOKEN BLOOM over `text`
    * ([[ManifestSink.appendWithStats]] `tokenBloomCols`); sentinel terms
    * are injected into disjoint terciles, so each lookup
    * ([[ManifestSink.readContainingToken]]) prunes to the single batch
    * whose vocabulary bloom fires (the pruning shape itself is pinned in
    * ManifestSinkSpec; a term the corpus never saw returns the empty
    * frame through the same path). The emitted per-term aggregates must
    * equal the oracle's exact membership scan over every document —
    * pruning is an optimization, never a filter, and a bloom that
    * wrongly excluded a live batch hash-mismatches here.
    *
    * Scale: the write-time price is one distinct-token bloom aggregate
    * per batch; the lookup price is one manifest read + the fired
    * batches. A rare-term query on a 100 TB corpus (incident phrase,
    * contamination marker, PII canary) touches the handful of batch
    * dirs whose vocabulary might contain it instead of every row. */
  private val q171: Q = (s, dir) => {
    import s.implicits._
    val docs =
      Tables(s, dir, "documents").select($"doc_id", $"text", $"n_chars")
    val maxId = Tables.maxLong(s, dir, "documents", "doc_id")
    val c1 = maxId / 3
    val c2 = 2 * maxId / 3
    val tagged = docs.withColumn("text",
      when($"doc_id" <= c1, concat($"text", lit(" zqalpha")))
        .when($"doc_id" > c2, concat($"text", lit(" zqomega")))
        .otherwise($"text"))
    val sink = freshScratch("graft_q171", dir) + "/t"
    ManifestSink.appendWithStats(tagged.filter($"doc_id" <= c1), sink,
      Seq("doc_id"), tokenBloomCols = Seq("text"))
    ManifestSink.appendWithStats(
      tagged.filter($"doc_id" > c1 && $"doc_id" <= c2), sink,
      Seq("doc_id"), tokenBloomCols = Seq("text"))
    ManifestSink.appendWithStats(tagged.filter($"doc_id" > c2), sink,
      Seq("doc_id"), tokenBloomCols = Seq("text"))
    Seq("zqalpha", "zqomega", "zqnothing").map { t =>
      ManifestSink.readContainingToken(s, sink, "text", t)
        .agg(count($"doc_id").as("n_docs"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
          sum($"n_chars").as("sum_chars"))
        .select(lit(t).as("term"), $"n_docs", $"min_doc", $"max_doc",
          $"sum_chars")
    }.reduce(_.union(_)).orderBy($"term")
  }
  private val q171Sql =
    """WITH cuts AS (
      |  SELECT MAX(doc_id) // 3 AS c1, (2 * MAX(doc_id)) // 3 AS c2
      |  FROM documents),
      |tagged AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN doc_id <= c1 THEN text || ' zqalpha'
      |         WHEN doc_id > c2 THEN text || ' zqomega'
      |         ELSE text END AS text
      |  FROM documents CROSS JOIN cuts),
      |terms(term) AS (VALUES ('zqalpha'), ('zqomega'), ('zqnothing'))
      |SELECT term,
      |  CAST(COUNT(t.doc_id) AS BIGINT) AS n_docs,
      |  MIN(t.doc_id) AS min_doc,
      |  MAX(t.doc_id) AS max_doc,
      |  CAST(SUM(t.n_chars) AS BIGINT) AS sum_chars
      |FROM terms LEFT JOIN tagged t
      |  ON list_contains(string_split(t.text, ' '), term)
      |GROUP BY term
      |ORDER BY term""".stripMargin

  // --------------------------------------------------------------- q159
  /** Metadata introspection through the gate — the DESCRIBE DETAIL /
    * files-table surface: three stat-carrying appends land deterministic
    * event slices, then [[ManifestSink.filesReport]] describes the
    * table from the manifest ALONE (one small-file read, zero data
    * reads whatever the table size — the introspection cost model that
    * matters at 100 TB). The oracle recomputes each entry's row count
    * and event_id range relationally; a drifted stat, miscounted entry,
    * or reordered manifest hash-mismatches. */
  private val q159: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val c1 = maxId / 3
    val c2 = 2 * maxId / 3
    val sink = freshScratch("graft_q159", dir) + "/t"
    ManifestSink.appendWithStats(
      ev.filter($"event_id" <= c1), sink, Seq("event_id"))
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > c1 && $"event_id" <= c2), sink, Seq("event_id"))
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > c2), sink, Seq("event_id"))
    ManifestSink.filesReport(s, sink, Seq("event_id"))
      .select($"entry_idx", $"n_rows",
        $"event_id_min".cast("long").as("event_id_min"),
        $"event_id_max".cast("long").as("event_id_max"))
      .orderBy($"entry_idx")
  }
  private val q159Sql =
    """WITH cuts AS (
      |  SELECT MAX(event_id) // 3 AS c1, (2 * MAX(event_id)) // 3 AS c2
      |  FROM events),
      |sl AS (
      |  SELECT CASE WHEN event_id <= c1 THEN 0
      |              WHEN event_id <= c2 THEN 1
      |              ELSE 2 END AS entry_idx,
      |         event_id
      |  FROM events CROSS JOIN cuts)
      |SELECT CAST(entry_idx AS BIGINT) AS entry_idx,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(event_id) AS event_id_min,
      |  MAX(event_id) AS event_id_max
      |FROM sl
      |GROUP BY entry_idx
      |ORDER BY entry_idx""".stripMargin

  // --------------------------------------------------------------- q105
  /** Key-exact CDC through the gate: events land as two appends (version
    * A = the table at id <= cut2, original values), then a keyed MERGE
    * upserts every 10th event (+ inserts a slice of ids beyond cut2) and
    * a DELETE WHERE removes a mid band (version B). The emitted change
    * feed [[ManifestSink.changesByKey]](A, B) must be EXACTLY the
    * relational diff the oracle recomputes from the source table:
    * inserts/updates carry the post-image, deletes the pre-image — a CDC
    * bug of any kind (missed update, post-image on a delete, a row
    * counted both updated and deleted) hash-mismatches.
    *
    * Scale: the diff is three key-partitioned joins between two manifest
    * snapshots — no state beyond the snapshots themselves, and the
    * update detection compares struct-packed data columns null-safely in
    * one pass. */
  private val q105: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val (d1, d2) = (maxId / 4, maxId / 2) // deleted band
    val sink = freshScratch("graft_q105", dir) + "/events_sink"
    ManifestSink.append(ev.filter($"event_id" <= cut1), sink)
    val vA = ManifestSink.append(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink)
    ManifestSink.merge(
      ev.filter($"event_id" % 10 === 0 ||
          ($"event_id" > cut2 && $"event_id" % 7 === 0))
        .withColumn("value", $"value" + 1000.0),
      sink, Seq("event_id"))
    val vB = ManifestSink.deleteWhere(s, sink,
      Seq(ManifestSink.Range("event_id", Some(d1), Some(d2))))
    ManifestSink.changesByKey(s, sink, vA, vB, Seq("event_id"))
      .orderBy($"_change_type", $"event_id")
  }
  private val q105Sql =
    """WITH cuts AS (
      |  SELECT 2 * MAX(event_id) // 3 AS cut2,
      |         MAX(event_id) // 4 AS d1,
      |         MAX(event_id) // 2 AS d2
      |  FROM events)
      |SELECT e.event_id, e.event_type, e.value + 1000.0 AS value,
      |  'insert' AS _change_type
      |FROM events e CROSS JOIN cuts
      |WHERE e.event_id > cut2
      |  AND (e.event_id % 7 = 0 OR e.event_id % 10 = 0)
      |UNION ALL
      |SELECT e.event_id, e.event_type, e.value + 1000.0, 'update'
      |FROM events e CROSS JOIN cuts
      |WHERE e.event_id <= cut2 AND e.event_id % 10 = 0
      |  AND NOT (e.event_id BETWEEN d1 AND d2)
      |UNION ALL
      |SELECT e.event_id, e.event_type, e.value, 'delete'
      |FROM events e CROSS JOIN cuts
      |WHERE e.event_id <= cut2 AND e.event_id BETWEEN d1 AND d2
      |ORDER BY _change_type, event_id""".stripMargin

  // --------------------------------------------------------------- q149
  /** CDC REPLICATION through the gate — [[ManifestSink.applyChanges]]
    * driving a replica from key-level change feeds, end-to-end against
    * a closed-form oracle: the replica bootstraps from the full
    * snapshot feed (`changesByKey(-1 → vA)`), the source then mutates
    * through upsert-updates, inserts, and a range delete (q105's exact
    * mutation algebra), and the INCREMENTAL feed (vA → vB) drives the
    * replica to the source's final state. The aggregate runs over the
    * REPLICA — a missed update, a resurrected delete, or a double-applied
    * insert all hash-mismatch.
    *
    * Scale: both feeds are change-sized; applying them costs one keyed
    * merge (file-granular CoW) + one tombstone line each — the replica
    * never re-reads the source table. */
  private val q149: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val (d1, d2) = (maxId / 4, maxId / 2) // deleted band
    val root = freshScratch("graft_q149", dir)
    val (src, rep) = (root + "/src", root + "/rep")
    ManifestSink.append(ev.filter($"event_id" <= cut1), src)
    val vA = ManifestSink.append(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), src)
    ManifestSink.applyChanges(
      ManifestSink.changesByKey(s, src, -1L, vA, Seq("event_id")), rep,
      Seq("event_id"))
    ManifestSink.merge(
      ev.filter($"event_id" % 10 === 0 ||
          ($"event_id" > cut2 && $"event_id" % 7 === 0))
        .withColumn("value", $"value" + 1000.0),
      src, Seq("event_id"))
    val vB = ManifestSink.deleteWhere(s, src,
      Seq(ManifestSink.Range("event_id", Some(d1), Some(d2))))
    ManifestSink.applyChanges(
      ManifestSink.changesByKey(s, src, vA, vB, Seq("event_id")), rep,
      Seq("event_id"))
    ManifestSink.read(s, rep)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum($"value").as("sum_value"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }
  private val q149Sql =
    s"""WITH cuts AS (
       |  SELECT 2 * MAX(event_id) // 3 AS cut2,
       |         MAX(event_id) // 4 AS d1,
       |         MAX(event_id) // 2 AS d2
       |  FROM events),
       |state AS (
       |  SELECT event_id, event_type,
       |    CASE WHEN event_id % 10 = 0
       |           OR (event_id > cut2 AND event_id % 7 = 0)
       |         THEN value + 1000.0 ELSE value END AS value
       |  FROM events CROSS JOIN cuts
       |  WHERE (event_id <= cut2
       |         OR event_id % 7 = 0 OR event_id % 10 = 0)
       |    AND NOT (event_id BETWEEN d1 AND d2))
       |SELECT event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSum("value")} AS sum_value,
       |  MIN(event_id) AS min_id,
       |  MAX(event_id) AS max_id
       |FROM state
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q124
  /** Layout advisor through the gate: three manifest tables with
    * KNOWN-layout pathologies — `fragmented` (12 small mod-slices of
    * orders), `interleaved` (4 big mod-slices, every batch spanning the
    * full key range), `ranged` (3 big range-disjoint slices) — and
    * [[graft.sinks.LayoutAdvisor.report]] must diagnose each from
    * manifest metadata alone: compact / zorder / healthy respectively.
    * The oracle recomputes every batch's row count and key range from
    * the source table (the slice predicates are closed-form) and applies
    * the same integer decision rules — a stats-recording bug in the
    * commit path, a mis-parsed bound, or a wrong overlap count all
    * hash-mismatch. The `smallRows` floor is total/8: scale-free, so
    * the verdict triple is identical at every SF.
    *
    * Scale: the advisor reads ONE manifest file per table (per-batch
    * rows + min/max ride in entry lines the commit already wrote);
    * decisions are batch-count-sized, data files are never opened. */
  private val q124: Q = (s, dir) => {
    import s.implicits._
    val src = Tables(s, dir, "orders").select($"o_orderkey")
    val maxId = Tables.maxLong(s, dir, "orders", "o_orderkey")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    // each pathological layout lands as ONE partitioned commit (one
    // write job, one entry per batch with per-batch stats) — the
    // advisor sees exactly the same manifest shape as N separate
    // appends at a fraction of the fixture cost
    val root = freshScratch("graft_q124", dir)
    val frag = root + "/fragmented"
    ManifestSink.appendPartitioned(
      src.withColumn("b", $"o_orderkey" % 12), frag, "b", Seq("o_orderkey"))
    val inter = root + "/interleaved"
    ManifestSink.appendPartitioned(
      src.withColumn("b", $"o_orderkey" % 4), inter, "b", Seq("o_orderkey"))
    val ranged = root + "/ranged"
    ManifestSink.appendPartitioned(
      src.withColumn("b",
        when($"o_orderkey" <= cut1, 0)
          .when($"o_orderkey" <= cut2, 1).otherwise(2)),
      ranged, "b", Seq("o_orderkey"))
    val total = ManifestSink.rowCount(s, ranged).get
    graft.sinks.LayoutAdvisor.report(s,
      Seq("fragmented" -> frag, "interleaved" -> inter, "ranged" -> ranged),
      "o_orderkey", smallRows = total / 8)
      .orderBy($"table_name")
  }
  private val q124Sql =
    """WITH src AS (SELECT o_orderkey AS k FROM orders),
      |cuts AS (
      |  SELECT MAX(k) // 3 AS cut1, 2 * MAX(k) // 3 AS cut2,
      |         COUNT(*) // 8 AS small_rows
      |  FROM src),
      |batches AS (
      |  SELECT 'fragmented' AS t, k % 12 AS b,
      |         COUNT(*) AS c, MIN(k) AS lo, MAX(k) AS hi
      |  FROM src GROUP BY k % 12
      |  UNION ALL
      |  SELECT 'interleaved', k % 4, COUNT(*), MIN(k), MAX(k)
      |  FROM src GROUP BY k % 4
      |  UNION ALL
      |  SELECT 'ranged',
      |    CASE WHEN k <= cut1 THEN 0 WHEN k <= cut2 THEN 1 ELSE 2 END,
      |    COUNT(*), MIN(k), MAX(k)
      |  FROM src CROSS JOIN cuts
      |  GROUP BY CASE WHEN k <= cut1 THEN 0 WHEN k <= cut2 THEN 1 ELSE 2 END),
      |agg AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_batches,
      |         CAST(SUM(c) AS BIGINT) AS total_rows
      |  FROM batches GROUP BY t),
      |ov AS (
      |  SELECT a.t, CAST(COUNT(*) AS BIGINT) AS overlap_pairs
      |  FROM batches a JOIN batches b
      |    ON a.t = b.t AND a.b < b.b AND a.lo <= b.hi AND b.lo <= a.hi
      |  GROUP BY a.t)
      |SELECT agg.t AS table_name, agg.n_batches, agg.total_rows,
      |  agg.total_rows // agg.n_batches AS avg_batch_rows,
      |  COALESCE(ov.overlap_pairs, 0) AS overlap_pairs,
      |  CASE
      |    WHEN agg.total_rows // agg.n_batches < cuts.small_rows
      |      THEN 'compact'
      |    WHEN COALESCE(ov.overlap_pairs, 0) > 0 THEN 'zorder'
      |    ELSE 'healthy'
      |  END AS recommendation
      |FROM agg LEFT JOIN ov ON agg.t = ov.t CROSS JOIN cuts
      |ORDER BY table_name""".stripMargin

  // --------------------------------------------------------------- q125
  /** Incremental distinct-count through the gate: events land as three
    * commits, and the per-event-type distinct-user KMV sketch is
    * maintained by [[graft.sinks.IncrementalDistinct]] — each refresh
    * sketches ONLY that commit's batches (located by manifest diff) and
    * folds the k-minima arrays into the stored state relationally. The
    * oracle computes the same per-group KMV estimate directly from the
    * source table (distinct hashes → per-group top-k — deterministic
    * because the hash is [[graft.functions.PortableHash]]), so any fold
    * bug — a dropped batch, a mis-merged array, an un-deduplicated
    * minimum — shifts the k-th minimum and hash-mismatches.
    *
    * Scale: COUNT(DISTINCT) maintenance without rescans — per refresh,
    * map-side partial sketches over the delta, k longs per group across
    * the wire, state k longs per group forever. */
  private val KmvK = 128
  private val q125: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.PortableHash
    import graft.sinks.IncrementalDistinct
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"user_id")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val sink = freshScratch("graft_q125", dir) + "/events_sink"
    val v0 = ManifestSink.append(ev.filter($"event_id" <= cut1), sink)
    val v1 = ManifestSink.append(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink)
    val v2 = ManifestSink.append(ev.filter($"event_id" > cut2), sink)
    val keys = Seq("event_type")
    val h = PortableHash.tokenHashP(col("user_id"))
    val s0 = IncrementalDistinct.refresh(s, None, sink, -1L, v0, keys, h, KmvK)
    val s1 = IncrementalDistinct.refresh(s, Some(s0), sink, v0, v1, keys, h, KmvK)
    val s2 = IncrementalDistinct.refresh(s, Some(s1), sink, v1, v2, keys, h, KmvK)
    IncrementalDistinct.present(s2, keys, KmvK, PortableHash.P)
      .orderBy($"event_type")
  }
  private val q125Sql = {
    import graft.functions.PortableHash.{P, tokenHashPSql}
    s"""WITH h AS (
       |  SELECT DISTINCT event_type, ${tokenHashPSql("user_id")} AS h
       |  FROM events),
       |rk AS (
       |  SELECT event_type, h,
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
       |  FROM h),
       |sk AS (
       |  SELECT event_type, MAX(h) AS hk, COUNT(*) AS n_sketch
       |  FROM rk WHERE r <= $KmvK GROUP BY event_type)
       |SELECT event_type,
       |  CAST(n_sketch AS BIGINT) AS n_sketch,
       |  CASE WHEN n_sketch >= $KmvK
       |       THEN CAST(${(KmvK - 1).toLong * P} AS DOUBLE) / hk
       |       ELSE CAST(n_sketch AS DOUBLE) END AS est_distinct
       |FROM sk
       |ORDER BY event_type""".stripMargin
  }

  // --------------------------------------------------------------- q126
  /** Incremental quantile monitoring through the gate: events land as
    * three commits, and the per-event-type value quantiles are
    * maintained by [[graft.sinks.IncrementalQuantiles]] — each refresh
    * samples ONLY that commit's batches (bottom-k-by-PortableHash, the
    * q78 estimator) and folds the samples by the order-ideal merge. The
    * folded sample is bit-identical to sampling the whole table, so the
    * oracle is EXACTLY q78's formulation computed directly from the
    * source — any fold bug (dropped batch, mis-ordered merge, truncated
    * sample) perturbs the sample set and hash-mismatches.
    *
    * Scale: order-statistic monitoring without rescans — per refresh one
    * rank-limit window over the delta (map-side group limit), k rows per
    * group across the wire, state k rows per group forever. */
  private val q126: Q = (s, dir) => {
    import s.implicits._
    import graft.sinks.IncrementalQuantiles
    val sampleK = Sampling.K
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val sink = freshScratch("graft_q126", dir) + "/events_sink"
    val v0 = ManifestSink.append(ev.filter($"event_id" <= cut1), sink)
    val v1 = ManifestSink.append(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink)
    val v2 = ManifestSink.append(ev.filter($"event_id" > cut2), sink)
    val s0 = IncrementalQuantiles.refresh(s, None, sink, -1L, v0,
      "event_type", "event_id", "value", sampleK)
    val s1 = IncrementalQuantiles.refresh(s, Some(s0), sink, v0, v1,
      "event_type", "event_id", "value", sampleK)
    val s2 = IncrementalQuantiles.refresh(s, Some(s1), sink, v1, v2,
      "event_type", "event_id", "value", sampleK)
    IncrementalQuantiles.present(s2, "event_type")
      .orderBy($"event_type")
  }
  private val q126Sql = {
    val smp = Sampling.bottomKByHashSql(
      "event_type, value", "events", "event_type", "event_id")
    s"""WITH smp AS (
       |  $smp)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sample,
       |  quantile_cont(value, 0.5) AS p50,
       |  quantile_cont(value, 0.9) AS p90,
       |  quantile_cont(value, 0.99) AS p99
       |FROM smp WHERE rn <= ${Sampling.K}
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  }

  // --------------------------------------------------------------- q127
  /** Sketch-estimated join cardinality through the gate: customer and
    * orders land in manifest sinks with per-batch NDV sketches on their
    * join keys, and [[graft.sinks.ManifestSink.ndvOverlap]] estimates
    * the key overlap (Jaccard, |A∩B|, |A∪B|) from the STORED sketches —
    * two manifest reads, zero data reads: the join-selectivity number a
    * planner consults before picking broadcast/shuffle/filter-first.
    * The oracle recomputes the identical KMV set-operation estimate
    * (bottom-k of the hash union, co-membership count) directly from
    * the source tables — deterministic because the hash is
    * [[graft.functions.PortableHash]] — so a sketch-recording or merge
    * bug anywhere in the path shifts a hash and mismatches.
    *
    * Scale: the estimate costs O(k) per table side whatever the table
    * size; the sketches were paid for at write time, one aggregate per
    * batch. */
  private val q127: Q = (s, dir) => {
    import s.implicits._
    val cust = Tables(s, dir, "customer").select($"c_custkey")
    val ords = Tables(s, dir, "orders").select($"o_custkey")
    val root = freshScratch("graft_q127", dir)
    val cSink = root + "/customer_sink"
    val oSink = root + "/orders_sink"
    // two appends per table: the estimate must come from MERGED
    // per-batch sketches, not a single batch's
    ManifestSink.appendWithStats(cust.filter($"c_custkey" % 2 === 0),
      cSink, Seq("c_custkey"), ndvCols = Seq("c_custkey"))
    ManifestSink.appendWithStats(cust.filter($"c_custkey" % 2 === 1),
      cSink, Seq("c_custkey"), ndvCols = Seq("c_custkey"))
    ManifestSink.appendWithStats(ords.filter($"o_custkey" % 2 === 0),
      oSink, Seq("o_custkey"), ndvCols = Seq("o_custkey"))
    ManifestSink.appendWithStats(ords.filter($"o_custkey" % 2 === 1),
      oSink, Seq("o_custkey"), ndvCols = Seq("o_custkey"))
    val (j, inter, un) = ManifestSink.ndvOverlap(
      s, cSink, "c_custkey", oSink, "o_custkey").get
    Seq((j, inter, un)).toDF("jaccard", "est_intersection", "est_union")
  }
  private val q127Sql = {
    import graft.functions.PortableHash.{P, tokenHashPSql}
    val k = ManifestSink.NdvSketchK
    s"""WITH ha AS (
       |  SELECT DISTINCT ${tokenHashPSql("c_custkey")} AS h FROM customer),
       |hb AS (
       |  SELECT DISTINCT ${tokenHashPSql("o_custkey")} AS h FROM orders),
       |ka AS (SELECT h FROM ha ORDER BY h LIMIT $k),
       |kb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
       |un AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
       |       ORDER BY h LIMIT $k),
       |st AS (
       |  SELECT COUNT(*) AS nu, MAX(h) AS hk,
       |    SUM(CASE WHEN h IN (SELECT h FROM ka)
       |          AND h IN (SELECT h FROM kb) THEN 1 ELSE 0 END) AS j
       |  FROM un),
       |est AS (
       |  SELECT
       |    CAST(j AS DOUBLE) / (CASE WHEN nu < $k THEN nu ELSE $k END)
       |      AS jaccard,
       |    CASE WHEN nu >= $k
       |         THEN CAST(${(k - 1).toLong * P} AS DOUBLE) / hk
       |         ELSE CAST(nu AS DOUBLE) END AS est_union
       |  FROM st)
       |SELECT jaccard, jaccard * est_union AS est_intersection, est_union
       |FROM est""".stripMargin
  }

  // --------------------------------------------------------------- q132
  /** Merge-on-read DELETE through the gate
    * ([[ManifestSink.deleteKeysMergeOnRead]]): events land in two
    * appends; an equality-delete tombstone erases every then-present row
    * of the users with `user_id % 7 = 0` — committing ONLY a key file,
    * no data rewrite; the tail then appends, so those same users' LATER
    * events must survive (the tombstone binds to manifest position, not
    * to keys forever); a second tombstone on a DIFFERENT key shape
    * (`event_type = 'error'`) erases errors from all three batches; a
    * RANGE tombstone (no delete file — one manifest line) then expires
    * the oldest sixth of the id space, the zero-rewrite retention
    * shape. The emitted per-type aggregates come off the assembled
    * merge-on-read scan, so a tombstone that under- or over-applies —
    * wrong position rule, wrong shape composition, wrong bound
    * inclusivity, resurrect-on-append — hash-mismatches the oracle
    * recomputing the same erasures from the source rows.
    *
    * Scale: each delete is one small key-file commit whatever the table
    * size (the GDPR shape copy-on-write cannot reach on a table whose
    * key spans most batches); the read pays one broadcast anti-join per
    * tombstone shape until a compaction materializes. */
  private val q132: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val sink = freshScratch("graft_q132", dir) + "/events_sink"
    ManifestSink.append(ev.filter($"event_id" <= cut1), sink)
    ManifestSink.append(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink)
    ManifestSink.deleteKeysMergeOnRead(
      ManifestSink.read(s, sink).filter($"user_id" % 7 === 0)
        .select($"user_id"), sink, Seq("user_id"))
    ManifestSink.append(ev.filter($"event_id" > cut2), sink)
    ManifestSink.deleteKeysMergeOnRead(
      Seq("error").toDF("event_type"), sink, Seq("event_type"))
    // zero-rewrite retention: a RANGE tombstone (no delete file at all)
    // expires the oldest sixth of the id space from every prior batch
    ManifestSink.deleteRangeMergeOnRead(s, sink, "event_id",
      lo = None, hi = Some(maxId / 6))
    ManifestSink.read(s, sink)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }
  private val q132Sql =
    s"""WITH cuts AS (
       |  SELECT 2 * MAX(event_id) // 3 AS cut2,
       |         MAX(event_id) // 6 AS keep6 FROM events),
       |live AS (
       |  SELECT e.* FROM events e CROSS JOIN cuts c
       |  WHERE e.event_type <> 'error'
       |    AND NOT (e.event_id <= c.cut2 AND e.user_id % 7 = 0)
       |    AND e.event_id > c.keep6)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM live GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q133
  /** Multi-column layout diagnosis through the gate
    * ([[graft.sinks.LayoutAdvisor.report]]'s conjunctive form): three
    * two-column layouts of orders — `interleaved2d` (4 mod-slices, every
    * batch spanning both key ranges → every pair co-scannable → zorder),
    * `grid` (4 half×half cells: every pair separated on at least one
    * column → healthy), and the DISCRIMINATOR `striped` (3 orderkey
    * range slices whose custkey ranges all overlap: a single-column
    * custkey diagnosis would demand a recluster, but no conjunctive
    * range query can co-scan two stripes — the conjunctive count is 0,
    * healthy). The oracle recomputes every batch's count and BOTH
    * columns' ranges from closed-form slice predicates and applies the
    * same both-columns-overlap pair rule — an overlap rule that ORs
    * instead of ANDs, or drops a column, hash-mismatches.
    *
    * Scale: identical to q124 — one manifest read per table, decisions
    * batch-count-sized, no data opened. The maintenance this verdict
    * drives is the real [[graft.sinks.ManifestSink.compactZOrder]]
    * (LayoutAdvisorSpec proves the apply loop lands `zordered` and the
    * re-report goes healthy by z-prefix disjointness). */
  private val q133: Q = (s, dir) => {
    import s.implicits._
    val src = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
    val maxK = Tables.maxLong(s, dir, "orders", "o_orderkey")
    val maxC = Tables.maxLong(s, dir, "orders", "o_custkey")
    val (cut1, cut2) = (maxK / 3, 2 * maxK / 3)
    val (kcut, ccut) = (maxK / 2, maxC / 2)
    val root = freshScratch("graft_q133", dir)
    val cols = Seq("o_orderkey", "o_custkey")
    val inter = root + "/interleaved2d"
    ManifestSink.appendPartitioned(
      src.withColumn("b", $"o_orderkey" % 4), inter, "b", cols)
    val grid = root + "/grid"
    ManifestSink.appendPartitioned(
      src.withColumn("b",
        when($"o_orderkey" <= kcut, 0).otherwise(2) +
          when($"o_custkey" <= ccut, 0).otherwise(1)),
      grid, "b", cols)
    val striped = root + "/striped"
    ManifestSink.appendPartitioned(
      src.withColumn("b",
        when($"o_orderkey" <= cut1, 0)
          .when($"o_orderkey" <= cut2, 1).otherwise(2)),
      striped, "b", cols)
    val total = ManifestSink.rowCount(s, grid).get
    graft.sinks.LayoutAdvisor.report(s,
      Seq("interleaved2d" -> inter, "grid" -> grid, "striped" -> striped),
      cols, smallRows = total / 8)
      .orderBy($"table_name")
  }
  private val q133Sql =
    """WITH src AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders),
      |cuts AS (
      |  SELECT MAX(k) // 3 AS cut1, 2 * MAX(k) // 3 AS cut2,
      |         MAX(k) // 2 AS kcut, MAX(c) // 2 AS ccut,
      |         COUNT(*) // 8 AS small_rows
      |  FROM src),
      |batches AS (
      |  SELECT 'interleaved2d' AS t, k % 4 AS b, COUNT(*) AS cnt,
      |         MIN(k) AS klo, MAX(k) AS khi, MIN(c) AS clo, MAX(c) AS chi
      |  FROM src GROUP BY k % 4
      |  UNION ALL
      |  SELECT 'grid',
      |    (CASE WHEN k <= kcut THEN 0 ELSE 2 END)
      |      + (CASE WHEN c <= ccut THEN 0 ELSE 1 END),
      |    COUNT(*), MIN(k), MAX(k), MIN(c), MAX(c)
      |  FROM src CROSS JOIN cuts
      |  GROUP BY 2
      |  UNION ALL
      |  SELECT 'striped',
      |    CASE WHEN k <= cut1 THEN 0 WHEN k <= cut2 THEN 1 ELSE 2 END,
      |    COUNT(*), MIN(k), MAX(k), MIN(c), MAX(c)
      |  FROM src CROSS JOIN cuts
      |  GROUP BY 2),
      |agg AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_batches,
      |         CAST(SUM(cnt) AS BIGINT) AS total_rows
      |  FROM batches GROUP BY t),
      |ov AS (
      |  SELECT a.t, CAST(COUNT(*) AS BIGINT) AS overlap_pairs
      |  FROM batches a JOIN batches b
      |    ON a.t = b.t AND a.b < b.b
      |   AND a.klo <= b.khi AND b.klo <= a.khi
      |   AND a.clo <= b.chi AND b.clo <= a.chi
      |  GROUP BY a.t)
      |SELECT agg.t AS table_name, agg.n_batches, agg.total_rows,
      |  agg.total_rows // agg.n_batches AS avg_batch_rows,
      |  COALESCE(ov.overlap_pairs, 0) AS overlap_pairs,
      |  CASE
      |    WHEN agg.total_rows // agg.n_batches < cuts.small_rows
      |      THEN 'compact'
      |    WHEN COALESCE(ov.overlap_pairs, 0) > 0 THEN 'zorder'
      |    ELSE 'healthy'
      |  END AS recommendation
      |FROM agg LEFT JOIN ov ON agg.t = ov.t CROSS JOIN cuts
      |ORDER BY table_name""".stripMargin

  // --------------------------------------------------------------- q134
  /** Join planning from metadata through the gate
    * ([[ManifestSink.joinPlan]] — the decision [[q127]]'s overlap
    * estimate exists to feed): three table pairs with distinct right
    * answers — customer⋈nation on nationkey (a 25-row dimension →
    * `broadcast`), customer⋈orders on custkey (both big, keys
    * near-coextensive → `shuffle`), lineitem⋈low-orders on orderkey
    * (both big, but the dimension holds only the bottom 1/25th of the
    * key domain → ~96 % of the fact side dies in the join →
    * `prefilter_semi`). Row counts come off manifest entry counts, NDV
    * and overlap off stored KMV sketches; the oracle recomputes every
    * count, sketch, estimate, and the same fixed-order decision rules
    * from the source tables — a planner reading the wrong metadata,
    * mixing up sides, or reordering the double arithmetic
    * hash-mismatches. The broadcast floor is lineitem-rows/200:
    * scale-free, so all three verdicts hold at every SF.
    *
    * Scale: the entire plan row costs two manifest reads per pair —
    * this is the broadcast/shuffle/filter-first choice made BEFORE
    * touching 100 TB, from stats the commits already wrote. */
  private val q134: Q = (s, dir) => {
    import s.implicits._
    val root = freshScratch("graft_q134", dir)
    def sink(name: String, df: DataFrame, c: String): String = {
      val p = root + "/" + name
      ManifestSink.appendWithStats(df, p, Seq(c), ndvCols = Seq(c))
      p
    }
    val cust = Tables(s, dir, "customer")
    val ords = Tables(s, dir, "orders")
    val maxO = Tables.maxLong(s, dir, "orders", "o_orderkey")
    val custNk = sink("cust_nk", cust.select($"c_nationkey"), "c_nationkey")
    val natNk = sink("nat_nk",
      Tables(s, dir, "nation").select($"n_nationkey"), "n_nationkey")
    val custCk = sink("cust_ck", cust.select($"c_custkey"), "c_custkey")
    val ordsCk = sink("ords_ck", ords.select($"o_custkey"), "o_custkey")
    val liOk = sink("li_ok",
      Tables(s, dir, "lineitem").select($"l_orderkey"), "l_orderkey")
    val ordsLow = sink("ords_low",
      ords.select($"o_orderkey").filter($"o_orderkey" <= maxO / 25),
      "o_orderkey")
    val bc = ManifestSink.rowCount(s, liOk).get / 200
    def row(pair: String, a: String, ca: String, b: String, cb: String) = {
      val p = ManifestSink.joinPlan(s, a, ca, b, cb, bc).get
      (pair, p.rowsA, p.rowsB, p.ndvA, p.ndvB, p.estKeyOverlap,
        p.estJoinRows, p.strategy)
    }
    Seq(
      row("customer_nation", custNk, "c_nationkey", natNk, "n_nationkey"),
      row("customer_orders", custCk, "c_custkey", ordsCk, "o_custkey"),
      row("lineitem_lowkeys", liOk, "l_orderkey", ordsLow, "o_orderkey"))
      .toDF("pair", "rows_a", "rows_b", "ndv_a", "ndv_b",
        "est_key_overlap", "est_join_rows", "strategy")
      .orderBy($"pair")
  }
  private val q134Sql = {
    import graft.functions.PortableHash.{P, tokenHashPSql}
    val k = ManifestSink.NdvSketchK
    val k1p = (k - 1).toLong * P
    def est(kside: String) =
      s"""(SELECT CASE WHEN COUNT(*) >= $k
         |   THEN CAST($k1p AS DOUBLE) / MAX(h)
         |   ELSE CAST(COUNT(*) AS DOUBLE) END FROM $kside)""".stripMargin
    def pair(p: String, name: String, exprA: String, srcA: String,
        exprB: String, srcB: String) =
      s"""ha_$p AS (
         |  SELECT DISTINCT ${tokenHashPSql(exprA)} AS h FROM $srcA),
         |ka_$p AS (SELECT h FROM ha_$p ORDER BY h LIMIT $k),
         |hb_$p AS (
         |  SELECT DISTINCT ${tokenHashPSql(exprB)} AS h FROM $srcB),
         |kb_$p AS (SELECT h FROM hb_$p ORDER BY h LIMIT $k),
         |un_$p AS (
         |  SELECT h FROM (SELECT h FROM ka_$p UNION SELECT h FROM kb_$p)
         |  ORDER BY h LIMIT $k),
         |fin_$p AS (
         |  SELECT '$name' AS pair,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM $srcA) AS rows_a,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM $srcB) AS rows_b,
         |    ${est(s"ka_$p")} AS ndv_a,
         |    ${est(s"kb_$p")} AS ndv_b,
         |    (SELECT
         |       (CAST(SUM(CASE WHEN h IN (SELECT h FROM ka_$p)
         |                       AND h IN (SELECT h FROM kb_$p)
         |                  THEN 1 ELSE 0 END) AS DOUBLE)
         |        / (CASE WHEN COUNT(*) < $k THEN COUNT(*) ELSE $k END))
         |       * (CASE WHEN COUNT(*) >= $k
         |            THEN CAST($k1p AS DOUBLE) / MAX(h)
         |            ELSE CAST(COUNT(*) AS DOUBLE) END)
         |     FROM un_$p) AS est_key_overlap)""".stripMargin
    s"""WITH mxo AS (SELECT MAX(o_orderkey) AS mx FROM orders),
       |bct AS (SELECT COUNT(*) // 200 AS bc FROM lineitem),
       |${pair("cn", "customer_nation", "c_nationkey", "customer",
         "n_nationkey", "nation")},
       |${pair("co", "customer_orders", "c_custkey", "customer",
         "o_custkey", "orders")},
       |${pair("ll", "lineitem_lowkeys", "l_orderkey", "lineitem",
         "o_orderkey",
         "(SELECT o_orderkey FROM orders CROSS JOIN mxo" +
           " WHERE o_orderkey <= mx // 25)")},
       |allp AS (
       |  SELECT * FROM fin_cn UNION ALL
       |  SELECT * FROM fin_co UNION ALL
       |  SELECT * FROM fin_ll)
       |SELECT pair, rows_a, rows_b, ndv_a, ndv_b, est_key_overlap,
       |  ((CAST(rows_a AS DOUBLE) / ndv_a)
       |    * (CAST(rows_b AS DOUBLE) / ndv_b)) * est_key_overlap
       |    AS est_join_rows,
       |  CASE WHEN LEAST(rows_a, rows_b) <= (SELECT bc FROM bct)
       |         THEN 'broadcast'
       |       WHEN est_key_overlap * 20.0 < GREATEST(ndv_a, ndv_b)
       |         THEN 'prefilter_semi'
       |       ELSE 'shuffle' END AS strategy
       |FROM allp ORDER BY pair""".stripMargin
  }

  // --------------------------------------------------------------- q165
  /** The q134 verdicts EXECUTED automatically ([[Skew.planAwareJoin]] —
    * r11 ask #2): the same three table pairs land in stat-carrying
    * sinks, and then JOIN through the operator that reads the manifest
    * metadata and dispatches the physical strategy itself — broadcast
    * hint for customer⋈nation (25-row dimension), plain shuffle for
    * customer⋈orders (keys near-coextensive), broadcast-semi prefilter
    * for lineitem⋈low-orders (~96 % of the fact side dies before the
    * shuffle). The emitted per-pair row count and key checksum must
    * equal the PLAIN joins the oracle runs — the strategy choice is
    * placement, never semantics (PlanAuditSpec separately pins each
    * verdict's physical shape: BroadcastHashJoin / LeftSemi-then-join /
    * SortMergeJoin).
    *
    * Scale: this is the call a 100 TB query makes — the
    * broadcast/prefilter/shuffle decision comes off two small manifest
    * reads per pair, before any data is scanned, with no human running
    * q134 and picking an operator by hand. */
  private val q165: Q = (s, dir) => {
    import s.implicits._
    val root = freshScratch("graft_q165", dir)
    def sink(name: String, df: DataFrame, c: String): String = {
      val p = root + "/" + name
      ManifestSink.appendWithStats(df, p, Seq(c), ndvCols = Seq(c))
      p
    }
    val cust = Tables(s, dir, "customer")
    val ords = Tables(s, dir, "orders")
    val maxO = Tables.maxLong(s, dir, "orders", "o_orderkey")
    val custNk = sink("cust_nk", cust.select($"c_nationkey"), "c_nationkey")
    val natNk = sink("nat_nk",
      Tables(s, dir, "nation").select($"n_nationkey"), "n_nationkey")
    val custCk = sink("cust_ck", cust.select($"c_custkey"), "c_custkey")
    val ordsCk = sink("ords_ck", ords.select($"o_custkey"), "o_custkey")
    val liOk = sink("li_ok",
      Tables(s, dir, "lineitem").select($"l_orderkey"), "l_orderkey")
    val ordsLow = sink("ords_low",
      ords.select($"o_orderkey").filter($"o_orderkey" <= maxO / 25),
      "o_orderkey")
    val bc = ManifestSink.rowCount(s, liOk).get / 200
    def row(pair: String, a: String, ca: String, b: String, cb: String) = {
      val j = Skew.planAwareJoin(s, a, ca, b, cb, bc)
      val r = j.agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col(ca)), lit(0L)).cast("long").as("ks")).head()
      (pair, r.getLong(0), r.getLong(1))
    }
    Seq(
      row("customer_nation", custNk, "c_nationkey", natNk, "n_nationkey"),
      row("customer_orders", custCk, "c_custkey", ordsCk, "o_custkey"),
      row("lineitem_lowkeys", liOk, "l_orderkey", ordsLow, "o_orderkey"))
      .toDF("pair", "n_rows", "key_sum")
      .orderBy($"pair")
  }
  private val q165Sql =
    s"""WITH mxo AS (SELECT MAX(o_orderkey) AS mx FROM orders)
       |SELECT 'customer_nation' AS pair,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COALESCE(SUM(c_nationkey), 0) AS BIGINT) AS key_sum
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |UNION ALL
       |SELECT 'customer_orders',
       |  CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT)
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |UNION ALL
       |SELECT 'lineitem_lowkeys',
       |  CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM(l_orderkey), 0) AS BIGINT)
       |FROM lineitem
       |JOIN (SELECT o_orderkey FROM orders CROSS JOIN mxo
       |      WHERE o_orderkey <= mx // 25) o
       |  ON l_orderkey = o_orderkey
       |ORDER BY pair""".stripMargin

  // --------------------------------------------------------------- q168
  /** The SKEW leg of the metadata join planner (closing the triangle
    * q134 verdicts / q139 skew report / q140 prefilter execution): the
    * commit path now records per-entry EXACT heavy hitters
    * ([[ManifestSink.maxKeyRows]], `topKCols`), `joinPlan` fires a
    * `salted` verdict when a stored hot key exceeds 4× the average key
    * (the q139 rule, decided from two manifest reads instead of a data
    * scan), and [[Skew.planAwareJoin]] executes it — the skewed side
    * salted, the other replicated per salt, the hot key spread over 16
    * reducers instead of pinning one. The gate lands one violently
    * skewed pair (75 % of lineitem collapsed onto one key) and one
    * broadcast control pair, joins both through `planAwareJoin`, and
    * emits per pair the join row count, key checksum, and BOTH sides'
    * recorded max-key-rows — the oracle recomputes each from the raw
    * tables (single-batch sinks: the heavy-hitter stat is exact), so a
    * wrong stat, a lost row under salting, or a doubled row from salt
    * replication all hash-mismatch. PlanAuditSpec separately pins the
    * verdict itself and the salted physical shape.
    *
    * Scale: the decision costs two manifest reads; the salted plan is
    * the difference between a 16-way-spread hot reducer and a straggler
    * pinning the stage at 100 TB. */
  private val q168: Q = (s, dir) => {
    import s.implicits._
    val root = freshScratch("graft_q168", dir)
    def sink(name: String, df: DataFrame, c: String): String = {
      val p = root + "/" + name
      ManifestSink.appendWithStats(df, p, Seq(c), ndvCols = Seq(c),
        topKCols = Seq(c))
      p
    }
    val skewK = when($"l_orderkey" % 4 =!= 0, lit(-1L))
      .otherwise($"l_orderkey")
    val fact = sink("fact", Tables(s, dir, "lineitem")
      .select(skewK.as("f_k")), "f_k")
    val dim = sink("dim", Tables(s, dir, "orders")
      .select(when($"o_orderkey" % 4 =!= 0, lit(-1L))
        .otherwise($"o_orderkey").as("d_k")).distinct(), "d_k")
    val custNk = sink("cust_nk", Tables(s, dir, "customer")
      .select($"c_nationkey"), "c_nationkey")
    val natNk = sink("nat_nk", Tables(s, dir, "nation")
      .select($"n_nationkey"), "n_nationkey")
    val bc = ManifestSink.rowCount(s, fact).get / 200
    def row(pair: String, a: String, ca: String, b: String, cb: String) = {
      val j = Skew.planAwareJoin(s, a, ca, b, cb, bc)
      val r = j.agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col(ca)), lit(0L)).cast("long").as("ks")).head()
      (pair, r.getLong(0), r.getLong(1),
        ManifestSink.maxKeyRows(s, a, ca).getOrElse(-1L),
        ManifestSink.maxKeyRows(s, b, cb).getOrElse(-1L))
    }
    Seq(
      row("broadcast_customer_nation", custNk, "c_nationkey",
        natNk, "n_nationkey"),
      row("skewed_lineitem", fact, "f_k", dim, "d_k"))
      .toDF("pair", "n_rows", "key_sum", "max_key_rows_a",
        "max_key_rows_b")
      .orderBy($"pair")
  }
  private val q168Sql =
    s"""WITH fact AS (
       |  SELECT CASE WHEN l_orderkey % 4 <> 0 THEN -1
       |              ELSE l_orderkey END AS k FROM lineitem),
       |dim AS (
       |  SELECT DISTINCT CASE WHEN o_orderkey % 4 <> 0 THEN -1
       |                       ELSE o_orderkey END AS k FROM orders)
       |SELECT 'broadcast_customer_nation' AS pair,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COALESCE(SUM(c_nationkey), 0) AS BIGINT) AS key_sum,
       |  (SELECT CAST(MAX(c) AS BIGINT) FROM
       |    (SELECT COUNT(*) AS c FROM customer GROUP BY c_nationkey))
       |    AS max_key_rows_a,
       |  (SELECT CAST(MAX(c) AS BIGINT) FROM
       |    (SELECT COUNT(*) AS c FROM nation GROUP BY n_nationkey))
       |    AS max_key_rows_b
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |UNION ALL
       |SELECT 'skewed_lineitem',
       |  CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM(f.k), 0) AS BIGINT),
       |  (SELECT CAST(MAX(c) AS BIGINT) FROM
       |    (SELECT COUNT(*) AS c FROM fact GROUP BY k)),
       |  (SELECT CAST(MAX(c) AS BIGINT) FROM
       |    (SELECT COUNT(*) AS c FROM dim GROUP BY k))
       |FROM fact f JOIN dim d ON f.k = d.k
       |ORDER BY pair""".stripMargin

  // --------------------------------------------------------------- q175
  /** Incremental JOIN view through the gate: lineitem and orders land as
    * staggered appends on two sink tables; the materialized join is
    * created once and then maintained by [[graft.sinks
    * .IncrementalJoinView]]'s delta-join folds — refresh #1 exercises
    * the ΔL ⋈ R term alone, refresh #2 both terms (and with them the
    * once-only ΔL ⋈ ΔR overlap: the window where a double-count bug
    * would live). The emitted per-status aggregate reads the VIEW, the
    * oracle joins the source tables directly — any dropped, doubled, or
    * mis-keyed delta row hash-mismatches. Both refreshes must take the
    * FOLD path (append-only history), asserted in-query.
    *
    * Scale: each refresh reads one window's batches (manifest diff, zero
    * data reads to plan) against the opposite snapshot, broadcast-hinted
    * from the manifest's recorded delta rows — a daily refresh of a
    * 100 TB join view costs O(delta·other), never O(L·R) recompute. */
  private val q175: Q = (s, dir) => {
    import s.implicits._
    import graft.sinks.IncrementalJoinView
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey".as("okey"), $"l_quantity", $"l_extendedprice")
    val ord = Tables(s, dir, "orders")
      .select($"o_orderkey".as("okey"), $"o_orderstatus")
    val maxOk = Tables.maxLong(s, dir, "orders", "o_orderkey")
    val cut1 = maxOk / 3
    val cut2 = 2 * maxOk / 3
    val scratch = freshScratch("graft_q175", dir)
    val (lsink, rsink, vsink) =
      (scratch + "/l", scratch + "/r", scratch + "/view")
    ManifestSink.append(li.filter($"okey" <= cut1), lsink)
    ManifestSink.append(ord.filter($"okey" <= cut2), rsink)
    IncrementalJoinView.create(s, vsink, lsink, rsink, "okey")
    ManifestSink.append(
      li.filter($"okey" > cut1 && $"okey" <= cut2), lsink)
    val (_, f1) = IncrementalJoinView.refresh(s, vsink, lsink, rsink, "okey")
    ManifestSink.append(li.filter($"okey" > cut2), lsink)
    ManifestSink.append(ord.filter($"okey" > cut2), rsink)
    val (_, f2) = IncrementalJoinView.refresh(s, vsink, lsink, rsink, "okey")
    require(f1 && f2,
      "append-only windows must take the fold path, not recompute")
    IncrementalJoinView.read(s, vsink)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        Exact.dsum($"l_extendedprice").as("sum_price"),
        Exact.dsum($"l_quantity").as("sum_qty"),
        min($"okey").as("min_okey"),
        max($"okey").as("max_okey"))
      .orderBy($"o_orderstatus")
  }
  private val q175Sql =
    s"""SELECT o_orderstatus,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${Exact.sqlSum("l_extendedprice")} AS sum_price,
       |  ${Exact.sqlSum("l_quantity")} AS sum_qty,
       |  MIN(l_orderkey) AS min_okey,
       |  MAX(l_orderkey) AS max_okey
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------- q178
  /** Transparent materialized-view rewrite through the gate: lineitem
    * lands on a sink table in two appends; an [[graft.sinks
    * .IncrementalAgg]] view folds the second one in (the q98 maintenance
    * loop); [[graft.plans.ViewRewrite]] registers the state against the
    * snapshot's scan paths — and then the USER QUERY is a completely
    * vanilla grouped aggregate over `ManifestSink.read`. The optimizer
    * serves it from the state parquet: the query asserts in-plan that
    * its ONLY scan is the state (a rewrite that silently stopped firing
    * fails loudly here, not just in a spec), while the oracle computes
    * the same aggregate straight from the raw rows — so a state that
    * dropped a batch, double-folded, or mis-mapped an aggregate
    * hash-mismatches.
    *
    * Scale: the rewritten plan reads an aggregate-sized parquet instead
    * of the fact table — the 100 TB dashboard-query shape. Staleness is
    * structural: registrations key on the snapshot's path set, which
    * changes on every commit, so a stale view silently yields to the
    * base scan rather than ever answering wrong (PlanAuditSpec pins
    * that arm). */
  private val q178: Q = (s, dir) => {
    import s.implicits._
    import graft.plans.ViewRewrite
    import graft.sinks.IncrementalAgg
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_returnflag", $"l_linestatus", $"l_quantity")
    val maxOk = Tables.maxLong(s, dir, "lineitem", "l_orderkey")
    val cut = maxOk / 2
    val scratch = freshScratch("graft_q178", dir)
    val (base, stateDir) = (scratch + "/base", scratch + "/state")
    val keys = Seq("l_returnflag", "l_linestatus")
    ManifestSink.append(
      li.filter($"l_orderkey" <= cut).drop("l_orderkey"), base)
    val v0 = ManifestSink.version(s, base)
    val s0 = IncrementalAgg.aggregate(
      ManifestSink.read(s, base), keys, "l_quantity")
    ManifestSink.append(
      li.filter($"l_orderkey" > cut).drop("l_orderkey"), base)
    val v1 = ManifestSink.version(s, base)
    IncrementalAgg.refresh(s, s0, base, v0, v1, keys, "l_quantity")
      .write.mode("overwrite").parquet(stateDir)
    ViewRewrite.install(s)
    ViewRewrite.registerForSink(s, base, keys, "l_quantity", stateDir)
    val user = ManifestSink.read(s, base)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        Exact.dsum($"l_quantity").as("sum_qty"),
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty"),
        Exact.davg($"l_quantity").as("avg_qty"))
      .orderBy($"l_returnflag", $"l_linestatus")
    val plan = user.queryExecution.executedPlan.toString
    require(plan.contains("/state") && !plan.contains("/base"),
      "view rewrite did not serve the aggregate from the state parquet")
    user
  }
  private val q178Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${Exact.sqlSum("l_quantity")} AS sum_qty,
       |  MIN(l_quantity) AS min_qty,
       |  MAX(l_quantity) AS max_qty,
       |  ${Exact.sqlAvg("l_quantity")} AS avg_qty
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --------------------------------------------------------------- q182
  /** Transparent JOIN-view rewrite through the gate: q175's staggered
    * lifecycle (two sources, create, two delta-folding refreshes), then
    * [[graft.plans.ViewRewrite.registerJoinForView]] registers the view
    * in ONE call off its own absorbed-versions header — and the USER
    * QUERY is a completely vanilla `read(L).join(read(R), Seq(key))`
    * aggregate. The optimizer substitutes the materialized join: the
    * query asserts in-plan that its only scan is the view, while the
    * oracle joins the raw tables — so a view that dropped, doubled, or
    * mis-keyed a delta row hash-mismatches through the TRANSPARENT
    * path, not just the explicit read (q175's check).
    *
    * Scale: the rewritten plan never re-runs the L⋈R join — the 100 TB
    * dashboard shape over a maintained join. Staleness is structural on
    * BOTH sides' path sets (any source commit stops the match; the spec
    * pins the fallback arm). */
  private val q182: Q = (s, dir) => {
    import s.implicits._
    import graft.plans.ViewRewrite
    import graft.sinks.IncrementalJoinView
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey".as("okey"), $"l_quantity", $"l_extendedprice")
    val ord = Tables(s, dir, "orders")
      .select($"o_orderkey".as("okey"), $"o_orderstatus")
    val maxOk = Tables.maxLong(s, dir, "orders", "o_orderkey")
    val (cut1, cut2) = (maxOk / 3, 2 * maxOk / 3)
    val scratch = freshScratch("graft_q182", dir)
    val (lsink, rsink, vsink) =
      (scratch + "/l", scratch + "/r", scratch + "/view")
    ManifestSink.append(li.filter($"okey" <= cut1), lsink)
    ManifestSink.append(ord.filter($"okey" <= cut2), rsink)
    IncrementalJoinView.create(s, vsink, lsink, rsink, "okey")
    ManifestSink.append(
      li.filter($"okey" > cut1 && $"okey" <= cut2), lsink)
    val (_, f1) = IncrementalJoinView.refresh(s, vsink, lsink, rsink, "okey")
    ManifestSink.append(li.filter($"okey" > cut2), lsink)
    ManifestSink.append(ord.filter($"okey" > cut2), rsink)
    val (_, f2) = IncrementalJoinView.refresh(s, vsink, lsink, rsink, "okey")
    require(f1 && f2,
      "append-only windows must take the fold path, not recompute")
    ViewRewrite.install(s)
    ViewRewrite.registerJoinForView(s, vsink, lsink, rsink, "okey")
    val user = ManifestSink.read(s, lsink)
      .join(ManifestSink.read(s, rsink), Seq("okey"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        Exact.dsum($"l_extendedprice").as("sum_price"),
        Exact.dsum($"l_quantity").as("sum_qty"),
        min($"okey").as("min_okey"),
        max($"okey").as("max_okey"))
      .orderBy($"o_orderstatus")
    require(scansOnlyUnder(user, vsink),
      "join-view rewrite did not serve the query from the view")
    user
  }
  // same result contract as q175 — the view content IS lineitem⋈orders
  private val q182Sql =
    s"""SELECT o_orderstatus,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${Exact.sqlSum("l_extendedprice")} AS sum_price,
       |  ${Exact.sqlSum("l_quantity")} AS sum_qty,
       |  MIN(l_orderkey) AS min_okey,
       |  MAX(l_orderkey) AS max_okey
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------- q184
  /** The MANAGED aggregate-view lifecycle through the gate
    * ([[graft.sinks.AggMatView]] — the three-line maintenance loop a
    * deployment actually runs): base table in three appends, view
    * created after the first, TWO `refresh` calls that must both take
    * the fold path (position rides the view's own header — an atomic
    * commit per refresh), `serve` after the last, and then a vanilla
    * user aggregate served transparently from the state (asserted
    * in-plan). The oracle recomputes from raw lineitem — a fold that
    * dropped a batch, double-merged, or a header position off by one
    * hash-mismatches.
    *
    * Scale: each refresh reads ONE window's batches plus the
    * aggregate-sized state; the served query reads only the state. */
  private val q184: Q = (s, dir) => {
    import s.implicits._
    import graft.plans.ViewRewrite
    import graft.sinks.AggMatView
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_returnflag", $"l_quantity")
    val maxOk = Tables.maxLong(s, dir, "lineitem", "l_orderkey")
    val (cut1, cut2) = (maxOk / 3, 2 * maxOk / 3)
    val scratch = freshScratch("graft_q184", dir)
    val (base, view) = (scratch + "/base", scratch + "/view")
    val keys = Seq("l_returnflag")
    def slice(lo: Long, hi: Long) = li
      .filter($"l_orderkey" > lo && $"l_orderkey" <= hi)
      .drop("l_orderkey")
    ManifestSink.append(slice(-1L, cut1), base)
    AggMatView.create(s, view, base, keys, "l_quantity")
    ManifestSink.append(slice(cut1, cut2), base)
    val (_, f1) = AggMatView.refresh(s, view, base, keys, "l_quantity")
    ManifestSink.append(slice(cut2, maxOk), base)
    val (_, f2) = AggMatView.refresh(s, view, base, keys, "l_quantity")
    require(f1 && f2,
      "append-only windows must take the fold path, not recompute")
    AggMatView.serve(s, view, base, keys, "l_quantity")
    ViewRewrite.install(s)
    val user = ManifestSink.read(s, base)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        Exact.dsum($"l_quantity").as("sum_qty"),
        max($"l_quantity").as("max_qty"))
      .orderBy($"l_returnflag")
    require(scansOnlyUnder(user, view),
      "managed view did not serve the aggregate from its state")
    user
  }
  private val q184Sql =
    s"""SELECT l_returnflag,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${Exact.sqlSum("l_quantity")} AS sum_qty,
       |  MAX(l_quantity) AS max_qty
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q186
  /** View-freshness REPORTING through the gate — the scheduler question
    * "which views lag, by how much, and what would each refresh cost?"
    * answered from manifests alone ([[graft.sinks.AggMatView.freshness]]
    * / [[graft.sinks.IncrementalJoinView.freshness]]): an agg view left
    * two commits behind and a join view one left-side commit behind are
    * probed BEFORE and AFTER their refreshes, and the emitted
    * (versions-behind, delta-rows, foldable) rows must equal the
    * oracle's counts recomputed from the raw tables — so a wrong header
    * position, an addedRows miscount, or a foldability misjudgment
    * hash-mismatches.
    *
    * Scale: the report costs one manifest read per version in each
    * pending window and ZERO data reads — the planning read a refresh
    * scheduler makes across ten thousand views before spending any
    * I/O. */
  private val q186: Q = (s, dir) => {
    import s.implicits._
    import graft.sinks.{AggMatView, IncrementalJoinView}
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey".as("okey"), $"l_quantity")
    val ord = Tables(s, dir, "orders")
      .select($"o_orderkey".as("okey"), $"o_orderstatus")
    val maxOk = Tables.maxLong(s, dir, "orders", "o_orderkey")
    val (c1, c2) = (maxOk / 3, 2 * maxOk / 3)
    val scratch = freshScratch("graft_q186", dir)
    val (aBase, aView) = (scratch + "/ab", scratch + "/av")
    val (lsink, rsink, jView) =
      (scratch + "/l", scratch + "/r", scratch + "/jv")
    // agg view: absorbed the first slice, then the base advances twice
    ManifestSink.append(li.filter($"okey" <= c1), aBase)
    AggMatView.create(s, aView, aBase, Seq("okey"), "l_quantity")
    ManifestSink.append(li.filter($"okey" > c1 && $"okey" <= c2), aBase)
    ManifestSink.append(li.filter($"okey" > c2), aBase)
    // join view: left side advances once after creation
    ManifestSink.append(li.filter($"okey" <= c1), lsink)
    ManifestSink.append(ord, rsink)
    IncrementalJoinView.create(s, jView, lsink, rsink, "okey")
    ManifestSink.append(li.filter($"okey" > c1 && $"okey" <= c2), lsink)
    def rows(stage: String): Seq[(String, String, Long, Long, Boolean)] = {
      val a = AggMatView.freshness(s, aView, aBase)
      val (jl, jr) = IncrementalJoinView.freshness(s, jView, lsink, rsink)
      Seq(
        ("agg", stage, a.behind, a.deltaRows.getOrElse(-1L), a.foldable),
        ("join_left", stage, jl.behind, jl.deltaRows.getOrElse(-1L),
          jl.foldable),
        ("join_right", stage, jr.behind, jr.deltaRows.getOrElse(-1L),
          jr.foldable))
    }
    val stale = rows("stale")
    AggMatView.refresh(s, aView, aBase, Seq("okey"), "l_quantity")
    IncrementalJoinView.refresh(s, jView, lsink, rsink, "okey")
    val fresh = rows("refreshed")
    (stale ++ fresh)
      .toDF("view_kind", "stage", "versions_behind", "delta_rows",
        "foldable")
      .orderBy($"view_kind", $"stage")
  }
  private val q186Sql =
    s"""WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
       |d AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM lineitem CROSS JOIN mx
       |     WHERE l_orderkey > m // 3) AS agg_delta,
       |    (SELECT COUNT(*) FROM lineitem CROSS JOIN mx
       |     WHERE l_orderkey > m // 3
       |       AND l_orderkey <= 2 * m // 3) AS jl_delta)
       |SELECT view_kind, stage,
       |  CAST(behind AS BIGINT) AS versions_behind,
       |  CAST(CASE
       |    WHEN view_kind = 'agg' AND stage = 'stale' THEN agg_delta
       |    WHEN view_kind = 'join_left' AND stage = 'stale' THEN jl_delta
       |    ELSE fixed END AS BIGINT) AS delta_rows,
       |  foldable
       |FROM d, (VALUES
       |  ('agg', 'stale', 2, 0, TRUE),
       |  ('agg', 'refreshed', 0, 0, TRUE),
       |  ('join_left', 'stale', 1, 0, TRUE),
       |  ('join_left', 'refreshed', 0, 0, TRUE),
       |  ('join_right', 'stale', 0, 0, TRUE),
       |  ('join_right', 'refreshed', 0, 0, TRUE))
       |  AS t(view_kind, stage, behind, fixed, foldable)
       |ORDER BY view_kind, stage""".stripMargin

  // --------------------------------------------------------------- q187
  /** Commit-anomaly gate through the gate ([[ManifestSink
    * .commitAnomalies]]): four appends whose sizes derive from id-range
    * slices — the third a ~2 % dribble (an upstream outage's shape) —
    * and the report must flag EXACTLY it, with per-version rows and
    * prior-max columns equal to the oracle's recount from the raw
    * table. A wrong recorded count, a window off by one version, or a
    * flag on the healthy batches all hash-mismatch.
    *
    * Scale: the gate is manifest-metadata only — at any table size the
    * alert costs one manifest read per version, zero data reads, and
    * the window is commit-count-bounded. */
  private val q187: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val c = maxId / 4
    val sink = freshScratch("graft_q187", dir) + "/t"
    ManifestSink.append(ev.filter($"event_id" <= c), sink)
    ManifestSink.append(
      ev.filter($"event_id" > c && $"event_id" <= 2 * c), sink)
    ManifestSink.append(
      ev.filter($"event_id" > 2 * c && $"event_id" <= 2 * c + c / 50),
      sink) // the dribble
    ManifestSink.append(ev.filter($"event_id" > 2 * c + c / 50), sink)
    ManifestSink.commitAnomalies(s, sink).orderBy($"version")
  }
  private val q187Sql =
    s"""WITH mx AS (SELECT MAX(event_id) AS m FROM events),
       |cc AS (SELECT m // 4 AS c FROM mx),
       |n AS (
       |  SELECT 0 AS version,
       |    (SELECT COUNT(*) FROM events, cc WHERE event_id <= c)
       |      AS rows_added
       |  UNION ALL SELECT 1,
       |    (SELECT COUNT(*) FROM events, cc
       |     WHERE event_id > c AND event_id <= 2 * c)
       |  UNION ALL SELECT 2,
       |    (SELECT COUNT(*) FROM events, cc
       |     WHERE event_id > 2 * c AND event_id <= 2 * c + c // 50)
       |  UNION ALL SELECT 3,
       |    (SELECT COUNT(*) FROM events, cc
       |     WHERE event_id > 2 * c + c // 50))
       |SELECT CAST(version AS BIGINT) AS version,
       |  CAST(rows_added AS BIGINT) AS rows_added,
       |  CAST(MAX(rows_added) OVER (ORDER BY version
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
       |    AS prior_max,
       |  COALESCE(rows_added * 4 < MAX(rows_added) OVER (ORDER BY version
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), FALSE)
       |    AS anomalous
       |FROM n ORDER BY version""".stripMargin

  // --------------------------------------------------------------- q188
  /** Range-selectivity estimation from manifest EQUI-DEPTH HISTOGRAMS
    * ([[ManifestSink.rangeEstimateMicro]]): documents land as four
    * id-sliced appends each recording an 8-bucket histogram on
    * `n_chars` (exact order-statistic boundaries + exact bucket
    * counts), then four probe ranges are estimated METADATA-ONLY and
    * reported in micro-rows beside the exact count. The oracle
    * recomputes every boundary, bucket count, and interpolated
    * estimate from the raw table — a drifted order statistic, a
    * mis-assigned bucket, or a different interpolation all
    * hash-mismatch (per-bucket integer micro-rounding makes the fold
    * order-independent, so the totals compare EXACTLY).
    *
    * Scale: the histogram build collapses each batch to its
    * distinct-value frame (two-phase agg; the cum window is bounded by
    * value cardinality, q26/q183's contract) and is paid ONCE at
    * commit; every later estimate reads one small manifest — "how many
    * rows match this filter" costs zero data reads at any table size,
    * which is what lets a planner re-decide broadcast vs shuffle for a
    * FILTERED side (q190's dispatch). */
  private val q188: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents").select($"doc_id", $"n_chars")
    val sink = freshScratch("graft_q188", dir) + "/t"
    (0 until 4).foreach { sl =>
      ManifestSink.appendWithStats(docs.filter($"doc_id" % 4 === sl), sink,
        statsCols = Seq("n_chars"), histCols = Seq("n_chars"))
    }
    val probes = Seq(("p_all", 0.0, 1000.0), ("p_low", 0.0, 120.0),
      ("p_mid", 150.0, 400.0), ("p_narrow", 290.0, 310.0))
    val t = ManifestSink.read(s, sink)
    val rows = probes.map { case (p, lo, hi) =>
      val est = ManifestSink.rangeEstimateMicro(s, sink, "n_chars", lo, hi)
        .getOrElse(sys.error(s"q188: entry without histogram at $sink"))
      val exact = t.filter($"n_chars" >= lo && $"n_chars" <= hi).count()
      (p, lo, hi, est, exact)
    }
    rows.toDF("probe", "lo", "hi", "est_micro", "exact_rows")
      .orderBy($"probe")
  }
  private val q188Sql =
    """WITH d AS (SELECT doc_id % 4 AS s, n_chars AS v FROM documents
       |           WHERE n_chars IS NOT NULL),
       |vals AS (SELECT s, v, COUNT(*) AS c FROM d GROUP BY 1, 2),
       |tot AS (SELECT s, SUM(c) AS n FROM vals GROUP BY 1),
       |cum AS (SELECT s, v, c,
       |         SUM(c) OVER (PARTITION BY s ORDER BY v) AS cm FROM vals),
       |bnd AS (SELECT c.s, g.i, MIN(c.v) AS b
       |        FROM cum c JOIN tot t ON c.s = t.s
       |        CROSS JOIN generate_series(1, 8) AS g(i)
       |        WHERE c.cm >= (g.i * t.n + 7) // 8
       |        GROUP BY 1, 2),
       |b0 AS (SELECT s, MIN(v) AS b FROM vals GROUP BY 1),
       |vb AS (SELECT v.s, v.v, v.c, MIN(b.i) AS bi
       |       FROM vals v JOIN bnd b ON v.s = b.s AND v.v <= b.b
       |       GROUP BY 1, 2, 3),
       |hist AS (SELECT s, bi, SUM(c) AS n FROM vb GROUP BY 1, 2),
       |iv AS (SELECT h.s, h.bi,
       |         CASE WHEN h.bi = 1 THEN z.b ELSE p.b END AS lo_i,
       |         u.b AS hi_i, h.n
       |       FROM hist h
       |       JOIN bnd u ON u.s = h.s AND u.i = h.bi
       |       LEFT JOIN bnd p ON p.s = h.s AND p.i = h.bi - 1
       |       JOIN b0 z ON z.s = h.s),
       |probes(probe, lo, hi) AS (VALUES
       |  ('p_all', 0.0, 1000.0), ('p_low', 0.0, 120.0),
       |  ('p_mid', 150.0, 400.0), ('p_narrow', 290.0, 310.0)),
       |est AS (SELECT pr.probe, pr.lo, pr.hi,
       |         CAST(SUM(CASE WHEN iv.hi_i = iv.lo_i THEN
       |             CASE WHEN pr.lo <= iv.lo_i AND iv.lo_i <= pr.hi
       |                  THEN iv.n * 1000000 ELSE 0 END
       |           ELSE CAST(FLOOR(GREATEST(0.0,
       |             (LEAST(pr.hi, CAST(iv.hi_i AS DOUBLE))
       |              - GREATEST(pr.lo, CAST(iv.lo_i AS DOUBLE)))
       |             / (CAST(iv.hi_i AS DOUBLE) - CAST(iv.lo_i AS DOUBLE)))
       |             * iv.n * 1000000.0 + 0.5) AS BIGINT) END)
       |           AS BIGINT) AS est_micro
       |        FROM probes pr CROSS JOIN iv GROUP BY 1, 2, 3),
       |ex AS (SELECT pr.probe, COUNT(*) AS exact_rows
       |       FROM probes pr JOIN documents dd
       |         ON dd.n_chars >= pr.lo AND dd.n_chars <= pr.hi
       |       GROUP BY 1)
       |SELECT e.probe, e.lo, e.hi, e.est_micro,
       |  CAST(COALESCE(x.exact_rows, 0) AS BIGINT) AS exact_rows
       |FROM est e LEFT JOIN ex x ON e.probe = x.probe
       |ORDER BY e.probe""".stripMargin

  // --------------------------------------------------------------- q189
  /** Histogram-balanced range clustering ([[ManifestSink
    * .compactBalanced]]): the table's own committed equi-depth
    * histograms choose the w−1 range cuts (piecewise-uniform mass
    * interpolation — [[ManifestSink.histogramCuts]]), and the snapshot
    * rewrites into one manifest entry per value range. The report is
    * read from MANIFEST METADATA (per-entry exact counts and bounds);
    * the oracle recomputes the cuts from the raw table and counts each
    * shard directly — a drifted cut, an off-by-one shard assignment,
    * or a wrong recorded count all hash-mismatch.
    *
    * Scale: this is `repartitionByRange` WITHOUT the sampling pass —
    * at 100 TB Spark's RangePartitioner burns a full extra read to
    * sample bounds (and lands different bounds every run); here the
    * bounds are a deterministic function of metadata the commits
    * already paid for, the rewrite is ONE distributed write job, and
    * the resulting per-shard entries carry tight bounds so range scans
    * prune to the shards they overlap. */
  private val q189: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents").select($"doc_id", $"n_chars")
    val sink = freshScratch("graft_q189", dir) + "/t"
    (0 until 4).foreach { sl =>
      ManifestSink.appendWithStats(docs.filter($"doc_id" % 4 === sl), sink,
        statsCols = Seq("n_chars"), histCols = Seq("n_chars"))
    }
    ManifestSink.compactBalanced(s, sink, "n_chars", 6)
      .getOrElse(sys.error(s"q189: entry without histogram at $sink"))
    ManifestSink.filesReport(s, sink, Seq("n_chars"))
      .select($"entry_idx".as("shard"), $"n_rows",
        $"n_chars_min".cast("long").as("v_min"),
        $"n_chars_max".cast("long").as("v_max"))
      .orderBy($"shard")
  }
  private val q189Sql =
    """WITH d AS (SELECT doc_id % 4 AS s, n_chars AS v FROM documents
       |           WHERE n_chars IS NOT NULL),
       |vals AS (SELECT s, v, COUNT(*) AS c FROM d GROUP BY 1, 2),
       |tot AS (SELECT s, SUM(c) AS n FROM vals GROUP BY 1),
       |cum AS (SELECT s, v, c,
       |         SUM(c) OVER (PARTITION BY s ORDER BY v) AS cm FROM vals),
       |bnd AS (SELECT c.s, g.i, MIN(c.v) AS b
       |        FROM cum c JOIN tot t ON c.s = t.s
       |        CROSS JOIN generate_series(1, 8) AS g(i)
       |        WHERE c.cm >= (g.i * t.n + 7) // 8
       |        GROUP BY 1, 2),
       |b0 AS (SELECT s, MIN(v) AS b FROM vals GROUP BY 1),
       |vb AS (SELECT v.s, v.v, v.c, MIN(b.i) AS bi
       |       FROM vals v JOIN bnd b ON v.s = b.s AND v.v <= b.b
       |       GROUP BY 1, 2, 3),
       |hist AS (SELECT s, bi, SUM(c) AS n FROM vb GROUP BY 1, 2),
       |iv AS (SELECT h.s, h.bi,
       |         CASE WHEN h.bi = 1 THEN z.b ELSE p.b END AS lo_i,
       |         u.b AS hi_i, h.n
       |       FROM hist h
       |       JOIN bnd u ON u.s = h.s AND u.i = h.bi
       |       LEFT JOIN bnd p ON p.s = h.s AND p.i = h.bi - 1
       |       JOIN b0 z ON z.s = h.s),
       |pieces AS (SELECT lo_i AS lo, hi_i AS hi, n FROM iv WHERE n > 0),
       |pc AS (SELECT lo, hi, n, SUM(n) OVER (ORDER BY lo, hi, n
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
       |       FROM pieces),
       |tt AS (SELECT SUM(n) AS total FROM pieces),
       |cuts AS (SELECT g.j,
       |          (SELECT CASE WHEN p.hi = p.lo THEN CAST(p.lo AS DOUBLE)
       |             ELSE CAST(p.lo AS DOUBLE)
       |               + (CAST(p.hi AS DOUBLE) - CAST(p.lo AS DOUBLE))
       |               * ((CAST(g.j * t.total AS DOUBLE) / 6
       |                   - CAST(p.ca - p.n AS DOUBLE))
       |                  / CAST(p.n AS DOUBLE)) END
       |           FROM pc p, tt t
       |           WHERE CAST(p.ca AS DOUBLE)
       |             >= CAST(g.j * t.total AS DOUBLE) / 6
       |           ORDER BY p.ca LIMIT 1) AS cut
       |         FROM generate_series(1, 5) AS g(j)),
       |sh AS (SELECT dd.n_chars AS v,
       |         COALESCE((SELECT MIN(c.j) - 1 FROM cuts c
       |                   WHERE dd.n_chars <= c.cut), 5) AS true_shard
       |       FROM documents dd),
       |rep AS (SELECT true_shard, COUNT(*) AS n_rows, MIN(v) AS v_min,
       |         MAX(v) AS v_max FROM sh GROUP BY 1)
       |SELECT ROW_NUMBER() OVER (ORDER BY true_shard) - 1 AS shard,
       |  CAST(n_rows AS BIGINT) AS n_rows, v_min, v_max
       |FROM rep ORDER BY shard""".stripMargin

  // --------------------------------------------------------------- q190
  /** Filter-aware join planning ([[Skew.planAwareFilteredJoin]]): the
    * verdict a TABLE-LEVEL plan gets wrong. Fact and dim are both far
    * above the broadcast threshold (plain `joinPlan` says shuffle),
    * but the query filters the fact on a value range — and the
    * manifest's equi-depth histogram prices that filter from metadata
    * alone. Three probes: a NARROW range whose estimate fits the
    * broadcast budget (the filtered side broadcasts — no shuffle at
    * all), a WIDE range whose estimate exceeds it (the table-level
    * shuffle verdict dispatches unchanged), and the same narrow range
    * against a histogram-LESS copy (absence degrades to the
    * table-level plan, never a guess). All three arms are row-identical
    * to the plain filtered join — the oracle computes exactly that.
    *
    * Scale: at 100 TB the broadcast-vs-shuffle call for a filtered
    * side is THE decision a cost-based optimizer exists for;
    * histograms the commits already paid for answer it with zero data
    * reads, and a right answer deletes the whole shuffle.
    * PlanAuditSpec pins the physical shapes (BroadcastHashJoin exactly
    * when the estimate says so, with Spark's own auto-broadcast
    * disabled). */
  private val q190: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id", $"value")
    val root = freshScratch("graft_q190", dir)
    val aHist = root + "/a_hist"
    ManifestSink.appendWithStats(ev, aHist, Seq("value"),
      ndvCols = Seq("event_id"), histCols = Seq("value"))
    val aPlain = root + "/a_plain"
    ManifestSink.appendWithStats(ev, aPlain, Seq("value"),
      ndvCols = Seq("event_id"))
    val b = root + "/b"
    ManifestSink.appendWithStats(ev.select($"event_id".as("eid")), b,
      Seq("eid"), ndvCols = Seq("eid"))
    val bc = ManifestSink.rowCount(s, aHist).get / 20
    def probe(name: String, dirA: String, lo: Double, hi: Double) = {
      val j = Skew.planAwareFilteredJoin(s, dirA, "event_id", "value",
        lo, hi, b, "eid", bc)
      val r = j.agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum($"event_id"), lit(0L)).cast("long").as("ks")).head()
      (name, r.getLong(0), r.getLong(1))
    }
    Seq(probe("narrow_hist_broadcast", aHist, 0.0, 0.5),
      probe("wide_verdict_path", aHist, 0.0, 40.0),
      probe("nohist_degrade", aPlain, 0.0, 0.5))
      .toDF("probe", "n_rows", "key_sum").orderBy($"probe")
  }
  private val q190Sql =
    """SELECT 'narrow_hist_broadcast' AS probe,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COALESCE(SUM(e1.event_id), 0) AS BIGINT) AS key_sum
      |FROM events e1 JOIN events e2 ON e1.event_id = e2.event_id
      |WHERE e1.value >= 0.0 AND e1.value <= 0.5
      |UNION ALL
      |SELECT 'wide_verdict_path', CAST(COUNT(*) AS BIGINT),
      |  CAST(COALESCE(SUM(e1.event_id), 0) AS BIGINT)
      |FROM events e1 JOIN events e2 ON e1.event_id = e2.event_id
      |WHERE e1.value >= 0.0 AND e1.value <= 40.0
      |UNION ALL
      |SELECT 'nohist_degrade', CAST(COUNT(*) AS BIGINT),
      |  CAST(COALESCE(SUM(e1.event_id), 0) AS BIGINT)
      |FROM events e1 JOIN events e2 ON e1.event_id = e2.event_id
      |WHERE e1.value >= 0.0 AND e1.value <= 0.5
      |ORDER BY probe""".stripMargin

  // --------------------------------------------------------------- q193
  /** Equi-depth z-order ([[graft.sinks.ManifestSink.compactZOrder]]
    * with `equiDepth`): the same skewed 2-D table is z-ordered twice —
    * once with linear [min,max] cells, once with cells at the
    * 16-quantiles of the table's own committed histograms — and the
    * per-bucket manifest report shows WHY the upgrade exists: 90% of
    * the mass sits in a narrow value band, so linear cells collapse it
    * into a handful of z-buckets (hot buckets ~9× the cold ones) while
    * equi-depth cells spread it evenly. The oracle recomputes both
    * layouts from the raw table — histogram boundaries, piecewise-mass
    * cut interpolation, cell assignment, the surviving Morton bits, and
    * every bucket's count and sk-bounds must all agree exactly.
    *
    * Scale: the cuts are a deterministic function of metadata the
    * commits already paid for — the equi-depth rewrite reads the data
    * exactly once (the write job; the linear path needs a min/max
    * aggregate pass FIRST), and balanced buckets are what make z-order
    * pruning hold under the skew every real corpus has. */
  private val q193: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id",
      when($"event_id" % 10 < 9, $"event_id" % 97)
        .otherwise(lit(9000L) + $"event_id" % 97).as("sk"))
    val root = freshScratch("graft_q193", dir)
    val eq = root + "/equi"
    ManifestSink.appendWithStats(ev, eq, Seq("sk"),
      histCols = Seq("event_id", "sk"))
    ManifestSink.compactZOrder(s, eq, Seq("event_id", "sk"),
      statsCols = Seq("sk"), buckets = 16, equiDepth = true)
    val ln = root + "/linear"
    ManifestSink.appendWithStats(ev, ln, Seq("sk"))
    ManifestSink.compactZOrder(s, ln, Seq("event_id", "sk"),
      statsCols = Seq("sk"), buckets = 16)
    def rep(layout: String, sink: String) =
      ManifestSink.filesReport(s, sink, Seq("sk"))
        .select(lit(layout).as("layout"), $"entry_idx".as("bucket"),
          $"n_rows", $"sk_min".cast("long").as("sk_min"),
          $"sk_max".cast("long").as("sk_max"))
    rep("equi_depth", eq).union(rep("linear", ln))
      .orderBy($"layout", $"bucket")
  }
  // the oracle recomputes only the SURVIVING top-4 Morton bits of each
  // layout (bucket = interleave of both cells' top 2 bits) instead of
  // the full z value — identical bucket ids, a quarter of the SQL
  private val q193Sql =
    """WITH d AS (SELECT event_id AS k,
      |    CASE WHEN event_id % 10 < 9 THEN event_id % 97
      |         ELSE 9000 + event_id % 97 END AS sk
      |  FROM events),
      |dv AS (SELECT 'k' AS dm, k AS v FROM d
      |       UNION ALL SELECT 'sk', sk FROM d),
      |vals AS (SELECT dm, v, COUNT(*) AS c FROM dv GROUP BY 1, 2),
      |tot AS (SELECT dm, SUM(c) AS n FROM vals GROUP BY 1),
      |cum AS (SELECT dm, v, c,
      |    SUM(c) OVER (PARTITION BY dm ORDER BY v) AS cm FROM vals),
      |bnd AS (SELECT c.dm, g.i, MIN(c.v) AS b
      |    FROM cum c JOIN tot t ON c.dm = t.dm
      |    CROSS JOIN generate_series(1, 8) AS g(i)
      |    WHERE c.cm * 8 >= g.i * t.n GROUP BY 1, 2),
      |b0 AS (SELECT dm, MIN(v) AS b FROM vals GROUP BY 1),
      |vb AS (SELECT v.dm, v.v, v.c, MIN(b.i) AS bi
      |    FROM vals v JOIN bnd b ON v.dm = b.dm AND v.v <= b.b
      |    GROUP BY 1, 2, 3),
      |hist AS (SELECT dm, bi, SUM(c) AS n FROM vb GROUP BY 1, 2),
      |pieces AS (SELECT h.dm,
      |    CASE WHEN h.bi = 1 THEN z.b ELSE p.b END AS lo,
      |    u.b AS hi, h.n
      |  FROM hist h
      |  JOIN bnd u ON u.dm = h.dm AND u.i = h.bi
      |  LEFT JOIN bnd p ON p.dm = h.dm AND p.i = h.bi - 1
      |  JOIN b0 z ON z.dm = h.dm
      |  WHERE h.n > 0),
      |pc AS (SELECT dm, lo, hi, n, SUM(n) OVER (PARTITION BY dm
      |    ORDER BY lo, hi, n
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
      |  FROM pieces),
      |tt AS (SELECT dm, SUM(n) AS total FROM pieces GROUP BY 1),
      |cuts AS (SELECT t.dm, g.j,
      |    (SELECT CASE WHEN p.hi = p.lo THEN CAST(p.lo AS DOUBLE)
      |       ELSE CAST(p.lo AS DOUBLE)
      |         + (CAST(p.hi AS DOUBLE) - CAST(p.lo AS DOUBLE))
      |         * ((CAST(g.j * t.total AS DOUBLE) / 16
      |             - CAST(p.ca - p.n AS DOUBLE)) / CAST(p.n AS DOUBLE))
      |       END
      |     FROM pc p WHERE p.dm = t.dm
      |       AND CAST(p.ca AS DOUBLE) >= CAST(g.j * t.total AS DOUBLE) / 16
      |     ORDER BY p.ca LIMIT 1) AS cut
      |  FROM tt t CROSS JOIN generate_series(1, 15) AS g(j)),
      |eqc AS (SELECT d.sk,
      |    COALESCE((SELECT MIN(c.j) - 1 FROM cuts c
      |              WHERE c.dm = 'k' AND d.k <= c.cut), 15) AS ck,
      |    COALESCE((SELECT MIN(c.j) - 1 FROM cuts c
      |              WHERE c.dm = 'sk' AND d.sk <= c.cut), 15) AS cs
      |  FROM d),
      |eqr AS (SELECT ((ck // 8) % 2) * 8 + ((cs // 8) % 2) * 4
      |      + ((ck // 4) % 2) * 2 + ((cs // 4) % 2) AS zb,
      |    COUNT(*) AS n_rows, MIN(sk) AS sk_min, MAX(sk) AS sk_max
      |  FROM eqc GROUP BY 1),
      |mm AS (SELECT CAST(MIN(k) AS DOUBLE) AS kmn,
      |    CAST(MAX(k) AS DOUBLE) AS kmx, CAST(MIN(sk) AS DOUBLE) AS smn,
      |    CAST(MAX(sk) AS DOUBLE) AS smx FROM d),
      |lnc AS (SELECT d.sk,
      |    LEAST(255, GREATEST(0, CAST(FLOOR((CAST(d.k AS DOUBLE) - m.kmn)
      |      / (CASE WHEN m.kmx > m.kmn THEN m.kmx - m.kmn ELSE 1.0 END)
      |      * 256) AS BIGINT))) AS ck,
      |    LEAST(255, GREATEST(0, CAST(FLOOR((CAST(d.sk AS DOUBLE) - m.smn)
      |      / (CASE WHEN m.smx > m.smn THEN m.smx - m.smn ELSE 1.0 END)
      |      * 256) AS BIGINT))) AS cs
      |  FROM d CROSS JOIN mm m),
      |lnr AS (SELECT ((ck // 128) % 2) * 8 + ((cs // 128) % 2) * 4
      |      + ((ck // 64) % 2) * 2 + ((cs // 64) % 2) AS zb,
      |    COUNT(*) AS n_rows, MIN(sk) AS sk_min, MAX(sk) AS sk_max
      |  FROM lnc GROUP BY 1),
      |rep AS (
      |  SELECT 'equi_depth' AS layout,
      |    ROW_NUMBER() OVER (ORDER BY zb) - 1 AS bucket,
      |    n_rows, sk_min, sk_max
      |  FROM eqr
      |  UNION ALL
      |  SELECT 'linear', ROW_NUMBER() OVER (ORDER BY zb) - 1,
      |    n_rows, sk_min, sk_max
      |  FROM lnr)
      |SELECT layout, CAST(bucket AS BIGINT) AS bucket,
      |  CAST(n_rows AS BIGINT) AS n_rows, sk_min, sk_max
      |FROM rep ORDER BY layout, bucket""".stripMargin

  // --------------------------------------------------------------- q194
  /** SCD Type-2 dimension maintenance ([[graft.sinks.Scd2]]): user
    * attribute updates stream in as three chronological batches, and
    * [[graft.sinks.Scd2.applyUpdates]] maintains the versioned-row
    * dimension incrementally — consecutive-equal updates collapse, the
    * old current row closes out in place (merge on (key, valid_from)),
    * history rows are never rewritten. The report summarizes the final
    * chain per key (version count, close-out checksum, current
    * attributes) plus an [[graft.sinks.Scd2.asOf]] point-in-time probe;
    * the oracle rebuilds the whole chain single-shot from the raw
    * events — a doubled version, a missed collapse, a wrong close-out
    * stamp, or a drifted as-of row all hash-mismatch.
    *
    * Scale: each batch's chain windows partition on the key over
    * (affected current rows + the batch) — delta-sized — and the merge
    * rewrites only directories containing affected keys. A 100 TB
    * dimension absorbing a day's updates shuffles the day, not the
    * dimension. */
  private val q194: Q = (s, dir) => {
    import s.implicits._
    // the update frame feeds each batch's uniqueness check, staleness
    // union, and key semi-join — cache the 4-column projection once
    val u = Tables(s, dir, "events").select(
      ($"user_id" % 200).as("dim_id"), $"event_id".as("seq"),
      $"event_type".as("a_type"),
      (floor($"value").cast("long") % 5).as("a_band"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = u.agg(max($"seq")).head().getLong(0)
    val (c1, c2) = (mx / 3, 2 * mx / 3)
    val sink = freshScratch("graft_q194", dir) + "/dim"
    Scd2.applyUpdates(u.filter($"seq" <= c1), sink, "dim_id", "seq",
      Seq("a_type", "a_band"))
    Scd2.applyUpdates(u.filter($"seq" > c1 && $"seq" <= c2), sink,
      "dim_id", "seq", Seq("a_type", "a_band"))
    Scd2.applyUpdates(u.filter($"seq" > c2), sink, "dim_id", "seq",
      Seq("a_type", "a_band"))
    u.unpersist(false)
    val t = ManifestSink.read(s, sink)
    val summary = t.groupBy($"dim_id").agg(
      count(lit(1)).cast("long").as("n_versions"),
      sum(coalesce($"valid_to", lit(0L))).cast("long").as("vto_sum"),
      min($"valid_from").as("first_from"),
      max(when($"is_current", $"a_type")).as("cur_type"),
      max(when($"is_current", $"a_band")).as("cur_band"))
    val probe = Scd2.asOf(s, sink, mx / 2)
      .select($"dim_id", $"a_type".as("asof_type"))
    summary.join(probe, Seq("dim_id"), "left").orderBy($"dim_id")
  }
  private val q194Sql =
    """WITH u AS (SELECT user_id % 200 AS dim_id, event_id AS seq,
      |    event_type AS a_type, CAST(FLOOR(value) AS BIGINT) % 5 AS a_band
      |  FROM events),
      |ded AS (SELECT dim_id, seq, a_type, a_band,
      |    LAG(a_type) OVER w AS pt, LAG(a_band) OVER w AS pb,
      |    ROW_NUMBER() OVER w AS rn
      |  FROM u WINDOW w AS (PARTITION BY dim_id ORDER BY seq)),
      |surv AS (SELECT dim_id, seq, a_type, a_band FROM ded
      |  WHERE rn = 1 OR a_type IS DISTINCT FROM pt
      |     OR a_band IS DISTINCT FROM pb),
      |chain AS (SELECT dim_id, a_type, a_band, seq AS vf,
      |    LEAD(seq) OVER (PARTITION BY dim_id ORDER BY seq) AS vt
      |  FROM surv),
      |m AS (SELECT MAX(event_id) // 2 AS mid FROM events)
      |SELECT dim_id, CAST(COUNT(*) AS BIGINT) AS n_versions,
      |  CAST(SUM(COALESCE(vt, 0)) AS BIGINT) AS vto_sum,
      |  MIN(vf) AS first_from,
      |  MAX(CASE WHEN vt IS NULL THEN a_type END) AS cur_type,
      |  MAX(CASE WHEN vt IS NULL THEN a_band END) AS cur_band,
      |  MAX(CASE WHEN vf <= m.mid AND (vt IS NULL OR vt > m.mid)
      |           THEN a_type END) AS asof_type
      |FROM chain CROSS JOIN m GROUP BY dim_id ORDER BY dim_id""".stripMargin

  // --------------------------------------------------------------- q196
  /** Retraction-folding incremental view ([[graft.sinks.IncrementalAgg
    * .refreshSums]]): the maintenance arm classic materialized views
    * recompute on — DELETES — folded instead as negative deltas. The
    * subtractable (count, exact-decimal-sum) state absorbs a range
    * DELETE WHERE window and a key merge-on-read delete window through
    * [[graft.sinks.ManifestSink.retractedRows]] (the fromV-visible rows
    * the new tombstones kill, planned from manifests: range tombstones
    * scan only stat-overlapping entries, key lists broadcast as
    * semi-joins), plus a plain append fold between them. The modes are
    * asserted in-query (`retract_fold` / `fold` / `retract_fold`); the
    * oracle recomputes the final grouped state directly from the raw
    * table with both deletes applied — a double-subtraction, a missed
    * retraction, or a fold of already-dead rows all hash-mismatch.
    *
    * Scale: the whole point — a DELETE against a 100 TB table costs the
    * view O(retracted + delta), never the snapshot recompute that
    * min/max state forces; exact decimal arithmetic makes the negative
    * delta cancel bit-for-bit in any merge order. */
  private val q196: Q = (s, dir) => {
    import s.implicits._
    import graft.sinks.IncrementalAgg
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val mx = Tables.maxLong(s, dir, "events", "event_id")
    val (c1, c2) = (mx / 2, 3 * mx / 4)
    val (d1, d2) = (mx / 8, mx / 3) // delete band inside the first batch
    val sink = freshScratch("graft_q196", dir) + "/t"
    ManifestSink.appendWithStats(
      ev.filter($"event_id" <= c1), sink, Seq("event_id"))
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > c1 && $"event_id" <= c2), sink,
      Seq("event_id"))
    val v0 = ManifestSink.version(s, sink)
    val keys = Seq("event_type")
    val s0 = IncrementalAgg.aggregateSums(
      ManifestSink.read(s, sink), keys, "value")
    ManifestSink.deleteRangeMergeOnRead(s, sink, "event_id",
      Some(d1), Some(d2))
    val v1 = ManifestSink.version(s, sink)
    val (s1, m1) = IncrementalAgg.refreshSums(s, s0, sink, v0, v1,
      keys, "value")
    require(m1 == "retract_fold", s"q196: range delete folded as $m1")
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > c2), sink, Seq("event_id"))
    val v2 = ManifestSink.version(s, sink)
    val (s2, m2) = IncrementalAgg.refreshSums(s, s1, sink, v1, v2,
      keys, "value")
    require(m2 == "fold", s"q196: append folded as $m2")
    ManifestSink.deleteKeysMergeOnRead(
      ev.filter($"event_id" % 97 === 0).select($"event_id"), sink,
      Seq("event_id"))
    val v3 = ManifestSink.version(s, sink)
    val (s3, m3) = IncrementalAgg.refreshSums(s, s2, sink, v2, v3,
      keys, "value")
    require(m3 == "retract_fold", s"q196: key delete folded as $m3")
    IncrementalAgg.presentSums(s3, keys)
      .select($"event_type", $"n", $"sum_value")
      .orderBy($"event_type")
  }
  private val q196Sql =
    s"""WITH m AS (SELECT MAX(event_id) AS mx FROM events),
       |base AS (SELECT e.event_type, e.value FROM events e CROSS JOIN m
       |  WHERE NOT (e.event_id >= m.mx // 8 AND e.event_id <= m.mx // 3)
       |    AND e.event_id % 97 <> 0)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM base GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q198
  /** Metadata-only quantile estimates ([[graft.sinks.ManifestSink
    * .quantileEstimates]]) — the inverse of q188's range estimate: the
    * value at each mass fraction read from the committed equi-depth
    * histograms alone, reported beside the exact order statistic so the
    * estimate's contract is visible. Fractions travel as integer
    * (num, den) pairs and the exact ranks use ⌈num·n/den⌉ in long
    * arithmetic; the only doubles are the fixed-shape piecewise
    * interpolation the oracle replicates boundary-for-boundary.
    *
    * Scale: "what's the p99 of this column" on a 100 TB table is ONE
    * small-file manifest read — the histograms were paid at commit
    * time; the exact column exists only to pin the estimate. */
  private val q198: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents").select($"doc_id", $"n_chars")
    val sink = freshScratch("graft_q198", dir) + "/t"
    (0 until 4).foreach { sl =>
      ManifestSink.appendWithStats(docs.filter($"doc_id" % 4 === sl), sink,
        statsCols = Seq("n_chars"), histCols = Seq("n_chars"))
    }
    val fracs = Seq(("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10),
      ("p99", 99, 100))
    val est = ManifestSink.quantileEstimates(s, sink, "n_chars",
        fracs.map(f => (f._2, f._3)))
      .getOrElse(sys.error(s"q198: entry without histogram at $sink"))
    // exact order statistics from the distinct-value frame (bounded
    // cardinality — q26's contract), all ranks in long arithmetic
    val vals = docs.filter($"n_chars".isNotNull)
      .groupBy($"n_chars".as("v")).agg(count(lit(1)).as("c"))
    val n = vals.agg(sum($"c")).head().getLong(0)
    val cum = vals.withColumn("cm",
      sum($"c").over(Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val exAggs = fracs.map { case (lbl, num, den) =>
      min(when($"cm" * den >= lit(num.toLong * n), $"v")).as(lbl)
    }
    val exRow = cum.agg(exAggs.head, exAggs.tail: _*).head()
    fracs.zipWithIndex.map { case ((lbl, _, _), i) =>
      (lbl, est(i), exRow.getLong(i))
    }.toDF("frac", "est_value", "exact_value").orderBy($"frac")
  }
  private val q198Sql =
    """WITH d AS (SELECT doc_id % 4 AS s, n_chars AS v FROM documents
       |           WHERE n_chars IS NOT NULL),
       |vals AS (SELECT s, v, COUNT(*) AS c FROM d GROUP BY 1, 2),
       |tot AS (SELECT s, SUM(c) AS n FROM vals GROUP BY 1),
       |cum AS (SELECT s, v, c,
       |         SUM(c) OVER (PARTITION BY s ORDER BY v) AS cm FROM vals),
       |bnd AS (SELECT c.s, g.i, MIN(c.v) AS b
       |        FROM cum c JOIN tot t ON c.s = t.s
       |        CROSS JOIN generate_series(1, 8) AS g(i)
       |        WHERE c.cm * 8 >= g.i * t.n GROUP BY 1, 2),
       |b0 AS (SELECT s, MIN(v) AS b FROM vals GROUP BY 1),
       |vb AS (SELECT v.s, v.v, v.c, MIN(b.i) AS bi
       |       FROM vals v JOIN bnd b ON v.s = b.s AND v.v <= b.b
       |       GROUP BY 1, 2, 3),
       |hist AS (SELECT s, bi, SUM(c) AS n FROM vb GROUP BY 1, 2),
       |pieces AS (SELECT CASE WHEN h.bi = 1 THEN z.b ELSE p.b END AS lo,
       |         u.b AS hi, h.n
       |       FROM hist h
       |       JOIN bnd u ON u.s = h.s AND u.i = h.bi
       |       LEFT JOIN bnd p ON p.s = h.s AND p.i = h.bi - 1
       |       JOIN b0 z ON z.s = h.s
       |       WHERE h.n > 0),
       |pc AS (SELECT lo, hi, n, SUM(n) OVER (ORDER BY lo, hi, n
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
       |       FROM pieces),
       |tt AS (SELECT SUM(n) AS total FROM pieces),
       |fr(lbl, num, den) AS (VALUES ('p25', 1, 4), ('p50', 1, 2),
       |  ('p90', 9, 10), ('p99', 99, 100)),
       |est AS (SELECT f.lbl,
       |          (SELECT CASE WHEN p.hi = p.lo THEN CAST(p.lo AS DOUBLE)
       |             ELSE CAST(p.lo AS DOUBLE)
       |               + (CAST(p.hi AS DOUBLE) - CAST(p.lo AS DOUBLE))
       |               * ((CAST(f.num * t.total AS DOUBLE) / f.den
       |                   - CAST(p.ca - p.n AS DOUBLE))
       |                  / CAST(p.n AS DOUBLE)) END
       |           FROM pc p, tt t
       |           WHERE CAST(p.ca AS DOUBLE)
       |             >= CAST(f.num * t.total AS DOUBLE) / f.den
       |           ORDER BY p.ca LIMIT 1) AS est_value
       |        FROM fr f),
       |av AS (SELECT v, COUNT(*) AS c FROM
       |         (SELECT n_chars AS v FROM documents
       |          WHERE n_chars IS NOT NULL) GROUP BY 1),
       |ac AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cm FROM av),
       |an AS (SELECT SUM(c) AS n FROM av),
       |ex AS (SELECT f.lbl, (SELECT MIN(a.v) FROM ac a, an
       |         WHERE a.cm * f.den >= f.num * an.n) AS exact_value
       |       FROM fr f)
       |SELECT f.lbl AS frac, e.est_value, x.exact_value
       |FROM fr f JOIN est e ON f.lbl = e.lbl JOIN ex x ON f.lbl = x.lbl
       |ORDER BY frac""".stripMargin

  // --------------------------------------------------------------- q199
  /** Merge-on-read upsert lifecycle ([[graft.sinks.ManifestSink
    * .mergeOnRead]]): two overlapping upsert batches land as atomic
    * tombstone+rows commits with NO existing directory rewritten, the
    * overlap resolves last-writer-wins by manifest position, fresh keys
    * insert, and the accrued tombstone debt (reported from metadata
    * alone) is then compacted away by the maintenance loop
    * ([[graft.sinks.LayoutAdvisor.maintainTombstoneDebt]]) with content
    * identical. The oracle recomputes the final table from the raw
    * events with both update rules applied in precedence order plus the
    * inserted rows — and pins the debt counters the engine reports.
    *
    * Scale: each upsert batch costs O(its own delta) in writes whatever
    * the table size (the copy-on-write merge rewrites every matched
    * directory instead); the read-side debt is bounded by the
    * maintenance loop's threshold, and the debt decision itself is one
    * manifest read. */
  private val q199: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"event_id", $"value")
    val mx = Tables.maxLong(s, dir, "events", "event_id")
    val sink = freshScratch("graft_q199", dir) + "/t"
    ManifestSink.appendWithStats(ev, sink, Seq("event_id"))
    ManifestSink.mergeOnRead(
      ev.filter($"event_id" % 3 === 0)
        .select($"event_id", ($"value" + 1000.0).as("value")),
      sink, Seq("event_id"), statsCols = Seq("event_id"))
    ManifestSink.mergeOnRead(
      ev.filter($"event_id" % 5 === 0)
        .select($"event_id", ($"value" + 5000.0).as("value"))
        .union(ev.filter($"event_id" % 7 === 0)
          .select(($"event_id" + mx + 1L).as("event_id"), $"value")),
      sink, Seq("event_id"), statsCols = Seq("event_id"))
    val debtBefore = ManifestSink.tombstoneDebt(s, sink)._1.toLong
    graft.sinks.LayoutAdvisor.maintainTombstoneDebt(s,
      Seq("t" -> sink), maxTombstones = 1, statsCols = Seq("event_id"))
    val debtAfter = ManifestSink.tombstoneDebt(s, sink)._1.toLong
    ManifestSink.read(s, sink)
      .agg(count(lit(1)).cast("long").as("n_rows"),
        Exact.dsum($"value").as("sum_value"),
        sum($"event_id").cast("long").as("id_sum"))
      .select($"n_rows", $"sum_value", $"id_sum",
        lit(debtBefore).as("debt_before"), lit(debtAfter).as("debt_after"))
  }
  private val q199Sql =
    s"""WITH m AS (SELECT MAX(event_id) AS mx FROM events),
       |fin AS (
       |  SELECT event_id,
       |    CASE WHEN event_id % 5 = 0 THEN value + 5000.0
       |         WHEN event_id % 3 = 0 THEN value + 1000.0
       |         ELSE value END AS value
       |  FROM events
       |  UNION ALL
       |  SELECT e.event_id + m.mx + 1, e.value
       |  FROM events e CROSS JOIN m WHERE e.event_id % 7 = 0)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${Exact.sqlSum("value")} AS sum_value,
       |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
       |  CAST(2 AS BIGINT) AS debt_before, CAST(0 AS BIGINT) AS debt_after
       |FROM fin""".stripMargin

  // --------------------------------------------------------------- q200
  /** Cross-table erasure (the right-to-be-forgotten shape) through the
    * gate: an event log (three id-range appends, `user_id` blooms) and
    * its per-user profile rollup land as ManifestSink tables; every
    * event and profile row of the erased users (`user_id % 13 = 0`) is
    * removed by ONE key-tombstone commit per table
    * ([[ManifestSink.deleteKeysMergeOnRead]] — O(keys), zero data
    * rewritten at any table size); a [[graft.sinks.Catalog]] publish
    * pins both post-erasure versions in ONE conditional put, so a
    * catalog reader can never observe the log erased but the profile
    * not; maintenance ([[ManifestSink.compact]] refreshing the
    * `user_id` blooms) then MATERIALIZES the tombstones. The
    * certificate is exact, not bloom-trust: for the three smallest
    * erased ids the pruned point read ([[ManifestSink.readWhereEq]] —
    * blooms + ranges prune, the exact predicate decides) counts
    * remaining rows in BOTH tables, emitted beside the post-erasure
    * per-type aggregates and profile rollup — an erasure that
    * under-applies (a tombstone missing a batch), over-applies, or
    * tears between the tables hash-mismatches the oracle recomputing
    * the same erasure from the source rows.
    *
    * Scale: erasure cost is one key-file commit per table plus one
    * KB-sized catalog put — never a data rewrite; the certificate reads
    * only bloom-fired entries, which on a key-clustered 100 TB log is
    * the handful of directories that ever held the user. */
  private val q200: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val root = freshScratch("graft_q200", dir)
    val (log, prof, cat) =
      (root + "/event_log", root + "/user_profile", root + "/catalog")
    Seq($"event_id" <= maxId / 3,
      $"event_id" > maxId / 3 && $"event_id" <= 2 * maxId / 3,
      $"event_id" > 2 * maxId / 3).foreach { p =>
      ManifestSink.appendWithStats(ev.filter(p), log,
        statsCols = Seq("event_id"), bloomCols = Seq("user_id"))
    }
    ManifestSink.appendWithStats(
      ev.groupBy($"user_id").agg(count(lit(1)).cast("long").as("n_events"),
        Exact.dsum($"value").as("sum_value")),
      prof, statsCols = Seq("user_id"), bloomCols = Seq("user_id"))
    graft.sinks.Catalog.publish(s, cat, Map(
      "event_log" -> (log -> ManifestSink.version(s, log)),
      "user_profile" -> (prof -> ManifestSink.version(s, prof))))
    // the erased-key set feeds BOTH table deletes and the probe pick —
    // cache the (tiny, distinct) frame so the events scan + distinct
    // shuffle run once, not three times (r18, guide §1.2); at 100 TB
    // this is one derivation of the erasure list instead of three
    val erased = ev.filter($"user_id" % 13 === 0)
      .select($"user_id").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = erased.orderBy($"user_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    require(probes.nonEmpty, "q200 fixture: no erasable users at this SF")
    ManifestSink.deleteKeysMergeOnRead(erased, log, Seq("user_id"))
    ManifestSink.deleteKeysMergeOnRead(erased, prof, Seq("user_id"))
    erased.unpersist(false)
    // both erasures become visible in ONE atomic catalog commit
    graft.sinks.Catalog.publish(s, cat, Map(
      "event_log" -> (log -> ManifestSink.version(s, log)),
      "user_profile" -> (prof -> ManifestSink.version(s, prof))))
    // maintenance materializes the tombstones, refreshing the key blooms
    ManifestSink.compact(s, log, statsCols = Seq("event_id"),
      bloomCols = Seq("user_id"))
    ManifestSink.compact(s, prof, statsCols = Seq("user_id"),
      bloomCols = Seq("user_id"))
    def residue(tbl: String, valueCol: String, grp: String) =
      probes.map(u => ManifestSink.readWhereEq(s, tbl, "user_id", u))
        .reduce(_.union(_))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          Exact.dsum(col(valueCol)).as("sum_value"))
        .select(lit("residue").as("section"), lit(grp).as("grp"),
          $"n_rows", $"sum_value")
    val logAgg = graft.sinks.Catalog.readTable(s, cat, "event_log")
      .groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        Exact.dsum($"value").as("sum_value"))
      .select(lit("event_log").as("section"), $"event_type".as("grp"),
        $"n_rows", $"sum_value")
    val profAgg = graft.sinks.Catalog.readTable(s, cat, "user_profile")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        Exact.dsum($"sum_value").as("sum_value"))
      .select(lit("user_profile").as("section"), lit("all").as("grp"),
        $"n_rows", $"sum_value")
    logAgg.union(profAgg)
      .union(residue(log, "value", "event_log"))
      .union(residue(prof, "sum_value", "user_profile"))
      .orderBy($"section", $"grp")
  }
  private val q200Sql =
    s"""WITH live AS (SELECT * FROM events WHERE user_id % 13 <> 0),
       |prof AS (
       |  SELECT user_id, ${Exact.sqlSum("value")} AS sum_value
       |  FROM events GROUP BY user_id)
       |SELECT * FROM (
       |  SELECT 'event_log' AS section, event_type AS grp,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    ${Exact.sqlSum("value")} AS sum_value
       |  FROM live GROUP BY event_type
       |  UNION ALL
       |  SELECT 'user_profile', 'all', CAST(COUNT(*) AS BIGINT),
       |    ${Exact.sqlSum("sum_value")}
       |  FROM prof WHERE user_id % 13 <> 0
       |  UNION ALL
       |  SELECT 'residue', 'event_log', CAST(0 AS BIGINT),
       |    CAST(NULL AS DOUBLE)
       |  UNION ALL
       |  SELECT 'residue', 'user_profile', CAST(0 AS BIGINT),
       |    CAST(NULL AS DOUBLE)
       |) ORDER BY section, grp""".stripMargin

  // --------------------------------------------------------------- q201
  /** Metadata-guided global top-k through the gate
    * ([[ManifestSink.readTopK]]): orders land with `o_totalprice`
    * histograms, [[ManifestSink.compactBalanced]] range-clusters them
    * into 8 equi-depth shards off that committed metadata, and the
    * top-100 then reads ONLY the shards whose recorded max can reach
    * the seed's 100th value — `ORDER BY ... LIMIT k` with data
    * skipping, the complement of [[ManifestSink.readWhere]]'s range
    * scans. The in-query require pins that pruning actually fired (≥5
    * of 8 shards skipped); the emitted rows are the exact top-100 with
    * a deterministic orderkey tie-break, so a threshold that prunes a
    * qualifying shard (wrong bound, dropped tie) or a seed that
    * under-covers hash-mismatches the oracle's full-table sort.
    *
    * Scale: phase 1 reads one shard and k driver values, phase 2 the
    * boundary shard(s) — on a 100 TB range-clustered table the
    * top-k touches the few directories covering k rows, planned from
    * one manifest read, while the oracle's formulation sorts the
    * world. */
  private val q201: Q = (s, dir) => {
    import s.implicits._
    val ord = Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val sink = freshScratch("graft_q201", dir) + "/orders_sink"
    ManifestSink.appendWithStats(ord, sink,
      statsCols = Seq("o_totalprice"), histCols = Seq("o_totalprice"))
    ManifestSink.compactBalanced(s, sink, "o_totalprice", 8)
    val (top, kept, skipped) = ManifestSink.readTopK(s, sink,
      "o_totalprice", 100, tieCols = Seq("o_orderkey"))
    require(skipped.size >= 5,
      s"top-k skipping failed to fire: read ${kept.size} of " +
        s"${kept.size + skipped.size} shards")
    top.select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }
  private val q201Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // --------------------------------------------------------------- q202
  /** Write-audit-publish through the gate
    * ([[ManifestSink.appendAudited]] + [[Expectations]]): a clean batch
    * audits green over its own WRITTEN files and publishes; a poisoned
    * batch (event_type nulled on every 13th id, value negated on every
    * 11th) audits red and publishes NOTHING — the staged files stay
    * invisible to every reader and [[ManifestSink.vacuum]] reclaims
    * them (asserted in-query). The emitted frame carries the published
    * table's per-type aggregates (clean rows only — a WAP that leaks
    * the poisoned batch hash-mismatches immediately) beside the audit
    * verdict rows, which the oracle recomputes from the same poison
    * predicates — an audit that under- or over-counts violations is
    * equally caught.
    *
    * Scale: the audit reads the NEW batch once, never the table; the
    * failed batch costs its own write + a vacuum, against the
    * alternative's data-changing delete commit that breaks incremental
    * consumers and leaves bad rows visible until noticed. */
  private val q202: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    val maxId = Tables.maxLong(s, dir, "events", "event_id")
    val cut = 2 * maxId / 3
    val sink = freshScratch("graft_q202", dir) + "/audited"
    val rules = Seq(
      Expectations.notNull("event_type_not_null", col("event_type")),
      Expectations.inRange("value_non_negative", col("value"), 0.0, 1e18))
    def auditOf(staged: DataFrame): Seq[String] =
      Expectations.report(staged, rules)
        .filter(!col("pass"))
        .select(col("expectation"), col("violations"))
        .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").toSeq
    val good = ManifestSink.appendAudited(
      ev.filter($"event_id" <= cut), sink, auditOf,
      statsCols = Seq("event_id"))
    require(good.isRight, s"clean batch must publish, got $good")
    val poisoned = ev.filter($"event_id" > cut)
      .withColumn("event_type",
        when($"event_id" % 13 === 0, lit(null).cast("string"))
          .otherwise($"event_type"))
      .withColumn("value",
        when($"event_id" % 11 === 0, -$"value" - lit(1.0))
          .otherwise($"value"))
    val bad = ManifestSink.appendAudited(poisoned, sink, auditOf,
      statsCols = Seq("event_id"))
    require(bad.isLeft, "poisoned batch must be refused")
    require(ManifestSink.vacuum(s, sink).nonEmpty,
      "the refused batch's staged files must be vacuum-reclaimable")
    val auditRows = bad.swap.toOption.get.map { v =>
      val Array(rule, n) = v.split(":")
      ("audit", rule, n.toLong)
    }.toDF("section", "grp", "n_rows")
      .select($"section", $"grp", $"n_rows",
        lit(null).cast("double").as("sum_value"))
    ManifestSink.read(s, sink)
      .groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        Exact.dsum($"value").as("sum_value"))
      .select(lit("table").as("section"), $"event_type".as("grp"),
        $"n_rows", $"sum_value")
      .union(auditRows)
      .orderBy($"section", $"grp")
  }
  private val q202Sql =
    s"""WITH m AS (SELECT 2 * MAX(event_id) // 3 AS cut FROM events),
       |clean AS (SELECT e.* FROM events e, m WHERE e.event_id <= m.cut),
       |pois AS (SELECT event_id FROM events, m WHERE event_id > cut)
       |SELECT * FROM (
       |  SELECT 'table' AS section, event_type AS grp,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    ${Exact.sqlSum("value")} AS sum_value
       |  FROM clean GROUP BY event_type
       |  UNION ALL
       |  SELECT 'audit', 'event_type_not_null',
       |    CAST(COUNT(*) FILTER (WHERE event_id % 13 = 0) AS BIGINT),
       |    CAST(NULL AS DOUBLE)
       |  FROM pois
       |  UNION ALL
       |  SELECT 'audit', 'value_non_negative',
       |    CAST(COUNT(*) FILTER (WHERE event_id % 11 = 0) AS BIGINT),
       |    CAST(NULL AS DOUBLE)
       |  FROM pois
       |) ORDER BY section, grp""".stripMargin

  // --------------------------------------------------------------- q218
  /** Temperature-mixture planning from MANIFEST METADATA — q209's
    * α-flattening with the rate derivation moved off the data path: the
    * corpus lands source-partitioned ([[ManifestSink.appendPartitioned]],
    * per-partition entries carrying recorded row counts), and the
    * per-source keep rates derive from ONE manifest read
    * ([[ManifestSink.filesReport]]) — zero data scanned to answer "how
    * should this mixture be re-weighted". The keep decision then applies
    * row-locally on the sink's scan, exactly q209's integer
    * hash-vs-basis-points compare.
    *
    * The ORACLE IS q209's full-scan formulation: metadata counts must
    * reproduce scanning the world (q208/q214's indexed-path discipline
    * applied to the mixture planner). At 100 TB the difference is the
    * planning cost: q209 pays a corpus scan to learn per-source counts
    * the partitioned sink's commits already recorded. */
  private val q218: Q = (s, dir) => {
    import s.implicits._
    val sink = freshScratch("graft_q218", dir) + "/docs"
    ManifestSink.appendPartitioned(
      Tables(s, dir, "documents"), sink, "source")
    val counts = ManifestSink.filesReport(s, sink, Seq("source"))
      .select($"source_min".as("source"), $"n_rows")
      .groupBy($"source").agg(sum($"n_rows").as("c"))
    val minC = counts.agg(min($"c")).head().getLong(0)
    val rates = counts.select($"source", $"c",
      least(lit(10000L),
        floor(lit(10000.0) * sqrt(lit(minC.toDouble))
          / sqrt($"c".cast("double"))).cast("long")).as("rate_bp"))
    ManifestSink.read(s, sink).join(broadcast(rates), "source")
      .select($"source", $"c", $"rate_bp",
        (graft.functions.PortableHash.tokenHashP($"doc_id")
          % lit(10000L) < $"rate_bp").as("kept"))
      .groupBy($"source")
      .agg(max($"c").cast("long").as("n_docs"),
        max($"rate_bp").as("rate_bp"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"source")
  }

  // --------------------------------------------------------------- q217
  /** Maintenance-plan lifecycle through the gate — the decision pass a
    * streaming deployment's OPTIMIZE loop runs, then its execution,
    * then the proof it converged: a table accumulates streaming dribble
    * (three sub-threshold appends + the bulk batch) and MoR upsert debt
    * (two tombstone commits); [[ManifestSink.maintenancePlan]] — ONE
    * manifest read, zero data I/O — must flag both debts with their
    * exact recorded metrics; executing the flagged actions
    * ([[ManifestSink.compactSmall]], then [[ManifestSink.compact]])
    * must leave a re-plan with nothing to do; and the `content` rows
    * (row count + an upsert-sensitive checksum, identical before and
    * after) pin that maintenance changed LAYOUT, never data — a compact
    * that drops a row, resurrects a tombstoned key, or loses an upsert
    * hash-mismatches.
    *
    * At 100 TB the plan is the point: "what would maintenance cost"
    * answers from per-entry metadata the commits already recorded,
    * before any data is touched; the dribble rewrite then reads only
    * the dribble (q174), and only the tombstone purge pays the table. */
  private val q217: Q = (s, dir) => {
    import s.implicits._
    val t = freshScratch("graft_q217", dir) + "/t"
    val ev = Tables(s, dir, "events")
    ManifestSink.append(ev.filter($"event_id" < 40), t)
    ManifestSink.append(ev.filter($"event_id" >= 40 && $"event_id" < 90), t)
    ManifestSink.append(ev.filter($"event_id" >= 90 && $"event_id" < 150), t)
    ManifestSink.append(ev.filter($"event_id" >= 150), t)
    def upsert(lo: Long, hi: Long): Unit = ManifestSink.mergeOnRead(
      ev.filter($"event_id" >= lo && $"event_id" < hi)
        .withColumn("user_id", -$"user_id"),
      t, Seq("event_id"))
    upsert(200L, 220L)
    upsert(220L, 260L)
    def phaseRows(phase: String): Seq[(String, String, Boolean, Long, Long)] = {
      val plan = ManifestSink.maintenancePlan(s, t, 500L, 2)
        .map { case (a, f, n, r) => (phase, a, f, n, r) }
      val c = ManifestSink.read(s, t)
        .agg(count(lit(1)).cast("long"),
          sum($"user_id").cast("long")).head()
      plan :+ (phase, "content", false, c.getLong(0), c.getLong(1))
    }
    val before = phaseRows("before")
    ManifestSink.compactSmall(s, t, 500L)
    ManifestSink.compact(s, t)
    (before ++ phaseRows("after"))
      .toDF("phase", "action", "fired", "n_targets", "rows_affected")
      .orderBy($"phase", $"action")
  }
  private val q217Sql = {
    // slice row counts (and the upsert-flipped user_id checksum) derive
    // from the same id-range arithmetic the gate used
    def cnt(p: String) = s"(SELECT COUNT(*) FROM events WHERE $p)"
    val slices = Seq("event_id < 40", "event_id >= 40 AND event_id < 90",
      "event_id >= 90 AND event_id < 150", "event_id >= 150",
      "event_id >= 200 AND event_id < 220",
      "event_id >= 220 AND event_id < 260")
    // after the upserts the live table = all events with user_id negated
    // on [200, 260); small entries = the four slices + two upsert
    // batches, counted small when their recorded rows < 500
    val smallTerms = (slices.take(3) ++ slices.drop(4)).map(cnt)
    val nSmall = smallTerms.map(c => s"(CASE WHEN $c < 500 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val bigSmall = s"(CASE WHEN ${cnt(slices(3))} < 500 THEN 1 ELSE 0 END)"
    val rowsSmall = smallTerms.map(c => s"(CASE WHEN $c < 500 THEN $c ELSE 0 END)")
      .mkString(" + ")
    val bigRows = s"(CASE WHEN ${cnt(slices(3))} < 500 THEN ${cnt(slices(3))} ELSE 0 END)"
    val n = "(SELECT COUNT(*) FROM events)"
    val checksum = "(SELECT SUM(CASE WHEN event_id >= 200 AND event_id < 260" +
      " THEN -user_id ELSE user_id END) FROM events)"
    s"""SELECT * FROM (
       |SELECT 'before' AS phase, 'compact_small' AS action,
       |  ($nSmall + $bigSmall) >= 2 AS fired,
       |  CAST($nSmall + $bigSmall AS BIGINT) AS n_targets,
       |  CAST($rowsSmall + $bigRows AS BIGINT) AS rows_affected
       |UNION ALL
       |SELECT 'before', 'purge_debt', TRUE, 2, 0
       |UNION ALL
       |SELECT 'before', 'content', FALSE, CAST($n AS BIGINT),
       |  CAST($checksum AS BIGINT)
       |UNION ALL
       |SELECT 'after', 'compact_small',
       |  FALSE, CAST(CASE WHEN $n < 500 THEN 1 ELSE 0 END AS BIGINT),
       |  CAST(CASE WHEN $n < 500 THEN $n ELSE 0 END AS BIGINT)
       |UNION ALL
       |SELECT 'after', 'purge_debt', FALSE, 0, 0
       |UNION ALL
       |SELECT 'after', 'content', FALSE, CAST($n AS BIGINT),
       |  CAST($checksum AS BIGINT))
       |ORDER BY phase, action""".stripMargin
  }

  // --------------------------------------------------------------- q214
  /** Incremental quality-classifier maintenance — q210's naive-Bayes
    * model AS a managed view: the per-(token, class) count model is
    * exactly a mergeable grouped aggregate, so it rides
    * [[graft.sinks.AggMatView]] unchanged — the base table is the
    * ingest-time (token, class) feature stream, the first corpus slice
    * trains the model, and the second slice FOLDS in O(delta)
    * (`require(folded)` pins that the append-only window took the fold
    * path, never a retrain). Scoring then reads the ≤vocab-sized state
    * table — the corpus is never re-aggregated.
    *
    * The oracle is q210's full-retrain formulation verbatim: the
    * incrementally-maintained model must score every document
    * row-identically to retraining on the world (q208/q86's
    * indexed-path-equals-recompute discipline, applied to a MODEL).
    *
    * At 100 TB this is how a corpus-trained filter stays current: a
    * day's ingest folds its token counts into the model table (one
    * manifest diff to plan, delta-sized aggregate to run, one atomic
    * commit carrying state + fold position), and the scoring join reads
    * the state — retraining cost never scales with corpus history. */
  private val q214: Q = (s, dir) => {
    import s.implicits._
    val root = freshScratch("graft_q214", dir)
    val base = s"$root/tokcls"
    val view = s"$root/model"
    val refSrcs = Seq("src0", "src1", "src2", "src3")
    val docs = Tables(s, dir, "documents")
    def tokCls(f: DataFrame): DataFrame = f.select(
      explode(split(col("text"), " ")).as("tok"),
      when(col("source").isin(refSrcs: _*), "p").otherwise("n").as("cls"),
      lit(1L).as("w"))
    ManifestSink.append(tokCls(docs.filter($"doc_id" % 5 =!= 0)), base)
    AggMatView.create(s, view, base, Seq("tok", "cls"), "w")
    ManifestSink.append(tokCls(docs.filter($"doc_id" % 5 === 0)), base)
    val (_, folded) = AggMatView.refresh(s, view, base, Seq("tok", "cls"), "w")
    require(folded,
      "append-only window must FOLD into the model, not retrain")
    NbQuality.score(docs,
        NbQuality.modelFromState(ManifestSink.read(s, view)))
      .orderBy($"doc_id")
  }

  // --------------------------------------------------------------- q212
  /** Co-bucketed zero-exchange fact-fact join — the pay-the-shuffle-once
    * layout lever ([[graft.sinks.ParquetSink.writeBucketed]]'s contract,
    * here inside the correctness gate): orders and lineitem land as
    * catalog tables bucketed 8 ways on the join key, and the
    * orders⋈lineitem per-order revenue aggregate then plans with ZERO
    * Exchange nodes — the scan's bucket hash distribution satisfies
    * both the sort-merge join and the per-orderkey aggregate (grouping
    * on a superset of the bucket key), asserted in-query on the
    * executed plan, not just spec'd. The merge hint only rules out a
    * broadcast at test scale; it adds no shuffle.
    *
    * At 100 TB this is THE repeated-fact-join lever: the shuffle both
    * sides would otherwise pay per query (the dominant cost of any
    * fact-fact join) is paid once at write time; every later join or
    * aggregate on the bucket key reads co-located buckets and shuffles
    * nothing. A plan that silently regresses to an exchange — bucket
    * counts diverging, a scan falling back to unbucketed, the
    * aggregate keying off the distribution — fails the in-query
    * require; an aggregate computed off the bucketed copies that
    * drifts from the source tables hash-mismatches the oracle (which
    * reads the originals). */
  private val q212: Q = (s, dir) => {
    import s.implicits._
    val scratch = freshScratch("graft_q212", dir)
    // scratch is a fresh temp dir, so the derived names are unique per
    // invocation; the finally below drops them so repeated bench/verify
    // runs don't accumulate metastore entries (and a hashCode collision
    // across scratch dirs can never clobber a live table)
    val tag = java.lang.Integer.toHexString(scratch.hashCode)
    val ot = s"q212_orders_$tag"
    val lt = s"q212_lineitem_$tag"
    try {
      // repartition on the bucket key before each write (one file per
      // bucket instead of buckets × input-partitions small files; the
      // added exchange is exactly the pay-once shuffle this layout
      // amortizes — see ParquetSink.writeBucketed, r17)
      Tables(s, dir, "orders").repartition(8, $"o_orderkey")
        .write.mode("overwrite").format("parquet")
        .option("path", s"$scratch/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      Tables(s, dir, "lineitem").repartition(8, $"l_orderkey")
        .write.mode("overwrite").format("parquet")
        .option("path", s"$scratch/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      val joined = s.table(ot).hint("merge")
        .join(s.table(lt), $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderkey", $"o_orderpriority")
        .agg(count(lit(1)).cast("long").as("n_items"),
          Exact.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("revenue"))
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        "expected a sort-merge join over the bucketed scans:\n" +
          plan.take(2000))
      require(!plan.contains("Exchange"),
        "co-bucketed join + bucket-key aggregate must plan ZERO " +
          "exchanges:\n" + plan.take(2000))
      // materialize before the catalog drop: the returned frame must not
      // lazily re-resolve tables the finally block has removed.
      // localCheckpoint truncates the lineage into executor blocks
      // (ContextCleaner-reclaimed, non-replicated: executor loss fails
      // the retryable query — DedupOps.bandSelfJoin has the full trade
      // note) without a driver round-trip; the
      // caller-facing sort stays OUTSIDE the checkpoint so it runs (or
      // is optimizer-elided, e.g. under a bare count) exactly as the
      // pre-drop lazy plan would
      joined.lineageCut().orderBy($"o_orderkey")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $lt")
    }
  }
  private val q212Sql =
    s"""SELECT o_orderkey, o_orderpriority,
       |  CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderkey, o_orderpriority
       |ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "q218_metadata_mixture" -> q218,
    "q217_maintenance_plan" -> q217,
    "q214_incremental_classifier" -> q214,
    "q212_bucketed_join" -> q212,
    "q202_write_audit_publish" -> q202,
    "q201_topk_pruned" -> q201,
    "q200_erasure_certificate" -> q200,
    "q199_mor_upsert_lifecycle" -> q199,
    "q198_quantile_estimate" -> q198,
    "q196_retraction_fold" -> q196,
    "q194_scd2_dimension" -> q194,
    "q193_zorder_skew" -> q193,
    "q190_filtered_plan_join" -> q190,
    "q189_balanced_layout" -> q189,
    "q188_range_estimate" -> q188,
    "q187_commit_anomalies" -> q187,
    "q186_view_freshness" -> q186,
    "q184_managed_agg_view" -> q184,
    "q182_join_view_rewrite" -> q182,
    "q178_view_rewrite" -> q178,
    "q175_join_view" -> q175,
    "q168_salted_plan_join" -> q168,
    "q165_plan_aware_join" -> q165,
    "q134_join_plan" -> q134,
    "q133_layout_2d" -> q133,
    "q132_mor_delete" -> q132,
    "q88_manifest_roundtrip" -> q88,
    "q105_cdc_feed" -> q105,
    "q98_incremental_view" -> q98,
    "q100_lakehouse_lifecycle" -> q100,
    "q146_schema_evolution" -> q146,
    "q149_cdc_replica" -> q149,
    "q153_version_diff" -> q153,
    "q157_partition_evolution" -> q157,
    "q159_files_report" -> q159,
    "q171_token_search" -> q171,
    "q172_table_history" -> q172,
    "q173_catalog_snapshot" -> q173,
    "q174_compact_small" -> q174,
    "q101_exactly_once_fold" -> q101,
    "q102_partitioned_scan" -> q102,
    "q124_layout_advisor" -> q124,
    "q125_incremental_distinct" -> q125,
    "q126_incremental_quantiles" -> q126,
    "q127_join_cardinality" -> q127,
    "q129_fork_rollback" -> q129,
    "q130_incremental_topk" -> q130,
    "q131_quarantine_gate" -> q131)

  val oracleSql: Map[String, String] = Map(
    // metadata-derived rates must equal scanning the world
    "q218_metadata_mixture" -> TrainingOps.q209Sql,
    "q217_maintenance_plan" -> q217Sql,
    // the incrementally-folded model must equal retraining the world
    "q214_incremental_classifier" -> TextOps.q210Sql,
    "q212_bucketed_join" -> q212Sql,
    "q202_write_audit_publish" -> q202Sql,
    "q201_topk_pruned" -> q201Sql,
    "q200_erasure_certificate" -> q200Sql,
    "q199_mor_upsert_lifecycle" -> q199Sql,
    "q198_quantile_estimate" -> q198Sql,
    "q196_retraction_fold" -> q196Sql,
    "q194_scd2_dimension" -> q194Sql,
    "q193_zorder_skew" -> q193Sql,
    "q190_filtered_plan_join" -> q190Sql,
    "q189_balanced_layout" -> q189Sql,
    "q188_range_estimate" -> q188Sql,
    "q187_commit_anomalies" -> q187Sql,
    "q186_view_freshness" -> q186Sql,
    "q184_managed_agg_view" -> q184Sql,
    "q182_join_view_rewrite" -> q182Sql,
    "q178_view_rewrite" -> q178Sql,
    "q175_join_view" -> q175Sql,
    "q168_salted_plan_join" -> q168Sql,
    "q165_plan_aware_join" -> q165Sql,
    "q134_join_plan" -> q134Sql,
    "q133_layout_2d" -> q133Sql,
    "q132_mor_delete" -> q132Sql,
    "q88_manifest_roundtrip" -> q88Sql,
    "q105_cdc_feed" -> q105Sql,
    "q98_incremental_view" -> q98Sql,
    "q100_lakehouse_lifecycle" -> q100Sql,
    "q146_schema_evolution" -> q146Sql,
    "q149_cdc_replica" -> q149Sql,
    "q153_version_diff" -> q153Sql,
    "q157_partition_evolution" -> q157Sql,
    "q159_files_report" -> q159Sql,
    "q171_token_search" -> q171Sql,
    "q172_table_history" -> q172Sql,
    "q173_catalog_snapshot" -> q173Sql,
    "q174_compact_small" -> q174Sql,
    "q101_exactly_once_fold" -> q101Sql,
    "q102_partitioned_scan" -> q102Sql,
    "q124_layout_advisor" -> q124Sql,
    "q125_incremental_distinct" -> q125Sql,
    "q126_incremental_quantiles" -> q126Sql,
    "q127_join_cardinality" -> q127Sql,
    "q129_fork_rollback" -> q129Sql,
    "q130_incremental_topk" -> q130Sql,
    "q131_quarantine_gate" -> q131Sql)
}
