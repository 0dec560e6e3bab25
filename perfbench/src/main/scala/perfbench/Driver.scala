package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.GraftConfig
import graft.ingest.WikiIngest
import graft.metrics.{Dashboard, StorageMetrics}
import graft.sinks.{Maintenance, ManifestSink}
import graft.streaming.WikiStream

/** JVM side of the benchmark: drives one workload through the program's
  * public entry points and writes what it observed to the run directory
  * (`result.json`, `progress.jsonl`, `keys.tsv`, spans). The Python runner
  * owns the inputs, the clock-side metrics and the correctness verdict.
  *
  * Usage: `perfbench.Driver <run.properties>`; see `perfbench/run.py`. */
object Driver {

  final class Conf(p: java.util.Properties) {
    def apply(k: String): String = Option(p.getProperty(k)).getOrElse(
      throw new IllegalArgumentException(s"missing config key $k"))
    def get(k: String, d: String): String = p.getProperty(k, d)
    def long(k: String): Long = apply(k).toLong
    def int(k: String): Int = apply(k).toInt
    def flag(k: String): Boolean = get(k, "false").toBoolean
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try props.load(in) finally in.close()
    val c = new Conf(props)
    val run = c("runDir")
    val cores = c.int("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.sql.streaming.ui.enabled", "false")
      // q182 asserts on its physical plan's text that the scan location
      // is the view; Spark cuts file locations in that text at 100
      // characters by default, which hides the view path whenever the
      // checkout path is long
      .config("spark.sql.maxMetadataStringLength", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$run/rdd-checkpoints")
    val trace = new Trace(spark.sparkContext, c.flag("trace"))
    val out = mutable.LinkedHashMap[String, Any]()
    try {
      c("workload") match {
        case "live" | "burst" => ingest(spark, c, trace, out)
        case "gates" => gates(spark, c, trace, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out("ok") = true
    } catch {
      case NonFatal(e) =>
        out("ok") = false
        out("error") = e.toString + e.getStackTrace.take(12)
          .mkString("\n  at ", "\n  at ", "")
    } finally {
      out("peak_rss_kb") = vmHwmKb()
      if (trace.enabled) trace.write(s"$run/spans.json")
      Files.write(Paths.get(s"$run/result.json"),
        Json.obj(out.toSeq).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def vmHwmKb(): Long = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) -1L
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  // ------------------------------------------------------------- ingest

  /** Seed a sink through the program's batch surface: raw lines →
    * parse/filter/transform/dedup → one manifest append. */
  def seedSink(spark: SparkSession, trace: Trace, rawFile: String,
      sinkDir: String): Unit = trace.span("sinks", "seed.append") {
    val raw = spark.read.text(rawFile)
    ManifestSink.append(WikiStream.fromRawLines(raw), sinkDir)
  }

  /** Records every trigger's progress as one JSON line, with the sink's
    * row count and version read from its manifest right after the trigger
    * (metadata only, on the listener thread). */
  final class ProgressLog(spark: SparkSession, sinkDir: String, path: String)
      extends StreamingQueryListener {
    private val w = Files.newBufferedWriter(Paths.get(path))
    @volatile var lastEnd: Long = -1L
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.headOption
      def off(s: String): Long =
        Option(s).filter(x => x != null && x.nonEmpty && x != "null")
          .map(_.trim.stripPrefix("\"").stripSuffix("\"").toLong).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val obs = Option(p.observedMetrics).flatMap(m => Option(m.get("graft_ingest")))
      val st = p.stateOperators.headOption
      val rec = Map[String, Any](
        "batch" -> p.batchId,
        "start_ms" -> start,
        "end_ms" -> (start + dur.getOrElse("triggerExecution", 0L)),
        "start_offset" -> src.map(s => off(s.startOffset)).getOrElse(0L),
        "end_offset" -> src.map(s => off(s.endOffset)).getOrElse(0L),
        "input_rows" -> p.numInputRows,
        "rows_typed" -> obs.map(r => r.getAs[Long]("rows_typed")).getOrElse(0L),
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_updated" -> st.map(_.numRowsUpdated).getOrElse(0L),
        "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "sink_rows" -> ManifestSink.rowCount(spark, sinkDir).getOrElse(-1L),
        "sink_version" -> ManifestSink.version(spark, sinkDir),
        "duration_ms" -> dur)
      synchronized {
        records += rec
        w.write(Json.obj(rec.toSeq)); w.newLine(); w.flush()
      }
      lastEnd = math.max(lastEnd, rec("end_offset").asInstanceOf[Long])
    }
    def close(): Unit = synchronized(w.close())
  }

  /** The pipeline `startLive` assembles, composed from the same public
    * calls with a span around each call into the sink and maintenance
    * layers — the traced variant of [[WikiStream.startLive]]. */
  def startTraced(spark: SparkSession, trace: Trace, url: String,
      capture: String, sinkDir: String, ckpt: String,
      cfg: GraftConfig): StreamingQuery = {
    val lastTs: Option[String] = trace.span("sinks", "resume.since") {
      if (ManifestSink.version(spark, sinkDir) < 0) None
      else Option(ManifestSink.read(spark, sinkDir)
        .agg(date_format(max(col("event_timestamp")),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts")).head().getString(0))
    }
    val raw = spark.readStream.format("sse-http")
      .option("url", url)
      .option("capturePath", capture)
      .option("userAgent", cfg.userAgent)
      .option("backoffMs", (cfg.reconnectBackoffSeconds * 1000L).toString)
      .options(lastTs.map("since" -> _).toMap)
      .load()
      .filter(col("event") === "message").select(col("data").as("value"))
    WikiStream.fromRawLines(raw, "value").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        trace.span("sinks", "appendWithRetentionManifest") {
          WikiStream.appendWithRetentionManifest(batch, sinkDir, cfg)
        }
        trace.span("sinks", "Maintenance.onEpoch") {
          Maintenance.onEpoch(spark, sinkDir, batchId, null)
        }
        ()
      }
      .trigger(Trigger.ProcessingTime(s"${cfg.commitIntervalSeconds} seconds"))
      .start()
  }

  /** Run the pipeline until the source has consumed `frames` frames. */
  def drive(spark: SparkSession, c: Conf, trace: Trace, url: String,
      sinkDir: String, frames: Long, cfg: GraftConfig,
      onStart: () => Unit): ProgressLog = {
    val run = c("runDir")
    val log = new ProgressLog(spark, sinkDir, s"$run/progress.jsonl")
    spark.streams.addListener(log)
    val capture = s"$run/capture.sse"
    val ckpt = s"$run/checkpoint"
    val q =
      if (trace.enabled) startTraced(spark, trace, url, capture, sinkDir, ckpt, cfg)
      else WikiStream.startLive(spark, url, capture, sinkDir, ckpt, cfg)
    onStart()
    val deadline = System.currentTimeMillis() + c.long("timeoutMs")
    try {
      while (log.lastEnd < frames && q.isActive &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      q.exception.foreach(e => throw e)
      require(log.lastEnd >= frames,
        s"stream consumed ${log.lastEnd} of $frames frames before the timeout")
    } finally {
      q.stop()
      spark.streams.removeListener(log)
      log.close()
    }
    log
  }

  /** Dashboard reader: one snapshot a second on its own thread. */
  final class DashboardReader(spark: SparkSession, trace: Trace,
      sinkDir: String, path: String) {
    private val running = new AtomicBoolean(true)
    private val w = Files.newBufferedWriter(Paths.get(path))
    private val t = new Thread(() => {
      var next = System.currentTimeMillis()
      while (running.get()) {
        val t0 = System.currentTimeMillis()
        val ok = try {
          trace.span("metrics", "dashboard.poll") {
            val sink = trace.span("sinks", "ManifestSink.read") {
              ManifestSink.read(spark, sinkDir)
            }
            trace.span("metrics", "Dashboard.metricsFrame") {
              Dashboard.metricsFrame(sink).collect()
            }
            trace.span("metrics", "StorageMetrics.diskUsageMiB") {
              StorageMetrics.diskUsageMiB(spark, sinkDir)
            }
          }
          true
        } catch { case NonFatal(_) => false }
        val t1 = System.currentTimeMillis()
        w.write(Json.obj(Seq("start_ms" -> t0, "end_ms" -> t1, "ok" -> ok)))
        w.newLine(); w.flush()
        next += 1000
        val sleep = next - System.currentTimeMillis()
        if (sleep > 0) Thread.sleep(sleep) else next = System.currentTimeMillis()
      }
    }, "dashboard-reader")
    t.setDaemon(true)
    def start(): Unit = t.start()
    def stop(): Unit = { running.set(false); t.join(30000); w.close() }
  }

  def ingest(spark: SparkSession, c: Conf, trace: Trace,
      out: mutable.Map[String, Any]): Unit = {
    val run = c("runDir")
    val cfg = GraftConfig(dbMaxEvents = c.long("dbMaxEvents"))
    // set-up, repeated: the seeded sink is the workload's starting state
    val reps = c.int("setupReps")
    val setups = (1 to reps).map { r =>
      val dir = s"$run/sink-setup-$r"
      timed(seedSink(spark, trace, c("seedFile"), dir))._2
    }
    val sinkDir = s"$run/sink"
    Files.move(Paths.get(s"$run/sink-setup-$reps"), Paths.get(sinkDir))
    (1 until reps).foreach(r => deleteTree(Paths.get(s"$run/sink-setup-$r")))
    out("setup_s") = setups
    val seedRows = ManifestSink.rowCount(spark, sinkDir).get
    out("seed_rows") = seedRows

    val dash =
      if (c.flag("dashboard"))
        Some(new DashboardReader(spark, trace, sinkDir, s"$run/dash.jsonl"))
      else None
    val log = try {
      drive(spark, c, trace, c("url"), sinkDir, c.long("frames"), cfg,
        () => dash.foreach(_.start()))
    } finally dash.foreach(_.stop())

    // end state: the dashboard's own tiles, then the sink's key set
    val rows = ManifestSink.rowCount(spark, sinkDir).get
    out("row_count") = rows
    out("disk_bytes") = StorageMetrics.diskUsageMiB(spark, sinkDir) * 1024 * 1024
    out("data_files") = ManifestSink.currentDataPaths(spark, sinkDir).size
    val keys = ManifestSink.read(spark, sinkDir)
      .select(unix_timestamp(col("event_timestamp")).as("ts"),
        col("username"), col("title")).collect()
    val kw = Files.newBufferedWriter(Paths.get(s"$run/keys.tsv"))
    try keys.foreach { r =>
      kw.write(s"${r.getLong(0)}\t${r.getString(1)}\t${r.getString(2)}\n")
    } finally kw.close()

    if (trace.enabled) {
      // the engine's per-trigger phases, as spans under each trigger
      log.records.foreach { r =>
        val d = r("duration_ms").asInstanceOf[Map[String, Long]]
        val s0 = r("start_ms").asInstanceOf[Long]
        val id = trace.record("streaming", "trigger", s0,
          r("end_ms").asInstanceOf[Long])
        var at = s0
        Seq("latestOffset" -> "sources.sse", "queryPlanning" -> "streaming",
          "addBatch" -> "sinks", "walCommit" -> "streaming").foreach {
          case (k, layer) =>
            val ms = d.getOrElse(k, 0L)
            trace.record(layer, k, at, at + ms, id); at += ms
        }
      }
      out("ingest_rows_per_s") = ingestRate(spark, trace, s"$run/capture.sse")
    }
  }

  /** Rows per second of one batch pass parseRaw → filterEvents →
    * transform over the run's captured frames (median of three). */
  def ingestRate(spark: SparkSession, trace: Trace, capture: String): Double = {
    val raw = spark.read.text(capture)
      .filter(col("value").startsWith("data: "))
      .select(expr("substring(value, 7)").as("value"))
      .cache()
    val n = raw.count()
    val typed = WikiIngest.transform(WikiIngest.filterEvents(
      WikiIngest.parseRaw(raw)))
    val rows = typed.count()
    val times = (1 to 3).map { _ =>
      timed(trace.span("ingest", "parseRaw+filterEvents+transform") {
        typed.write.format("noop").mode("overwrite").save()
      })._2
    }
    raw.unpersist()
    if (n == 0) 0.0 else rows / median(times)
  }

  // -------------------------------------------------------------- gates

  val GateQueries: Seq[String] = Seq("q194_scd2_dimension",
    "q200_erasure_certificate", "q114_entity_clusters",
    "q217_maintenance_plan", "q182_join_view_rewrite",
    "q168_salted_plan_join")

  /** Deterministic TPC-H-shaped tables (the columns the gate queries
    * read), sized by scale factor; every value is a hash of the row id. */
  def genTables(spark: SparkSession, dir: String, sf: Double,
      seed: Long): Unit = {
    def h(salt: Int, m: Long) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))
    def pick(salt: Int, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (h(salt, xs.size) + 1).cast("int"))
    def day(salt: Int, from: String, days: Long) =
      date_add(lit(from).cast("date"), h(salt, days).cast("int")).cast("timestamp")
    val nCust = math.max(1L, (150000 * sf).toLong)
    val nOrd = math.max(1L, (1500000 * sf).toLong)
    val nLine = math.max(1L, (6000000 * sf).toLong)
    val nEv = math.max(1L, (1000000 * sf).toLong)
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")
    save(spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      ((h(2, 1099999L) - 99999L) / 100.0).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), "customer")
    save(spark.range(nOrd).select(col("id").as("o_orderkey"),
      h(4, nCust).as("o_custkey"),
      pick(5, Seq("F", "O", "P")).as("o_orderstatus"),
      ((h(6, 49900000L) + 100000L) / 100.0).as("o_totalprice"),
      day(7, "1995-01-01", 2404).as("o_orderdate"),
      pick(8, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), "orders")
    save(spark.range(nLine).select(h(9, nOrd).as("l_orderkey"),
      h(10, math.max(1L, (200000 * sf).toLong)).as("l_partkey"),
      h(11, math.max(1L, (10000 * sf).toLong)).as("l_suppkey"),
      (h(12, 7) + 1).cast("int").as("l_linenumber"),
      (h(13, 50) + 1).cast("double").as("l_quantity"),
      ((h(14, 10410000L) + 90000L) / 100.0).as("l_extendedprice"),
      (h(15, 11) / 100.0).as("l_discount"),
      (h(16, 9) / 100.0).as("l_tax"),
      pick(17, Seq("A", "N", "R")).as("l_returnflag"),
      pick(18, Seq("F", "O")).as("l_linestatus"),
      day(19, "1995-01-02", 2498).as("l_shipdate")), "lineitem")
    save(spark.range(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        col("id") * (2592000000000L / nEv) + h(20, 1000000L)).as("ts"),
      h(21, math.max(1L, (15000 * sf).toLong)).as("user_id"),
      pick(22, Seq("click", "view", "purchase", "error", "signup")).as("event_type"),
      ((h(23, 49001L) + 1) / 100.0).as("value"),
      format_string("{\"k\": %d}", h(24, 100)).as("props")), "events")
  }

  /** Row count and an order-independent hash of a query result — the
    * one action that runs the query. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 4)
        case _ => col(s"`${f.name}`")
      }
    }
    val hashed = if (cols.isEmpty) lit(0L)
      else xxhash64(cols.toIndexedSeq: _*).bitwiseAND(lit(0xFFFFFFFFL))
    val r = df.agg(count(lit(1)), coalesce(sum(hashed), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def gates(spark: SparkSession, c: Conf, trace: Trace,
      out: mutable.Map[String, Any]): Unit = {
    val run = c("runDir")
    val registry = graft.SparkEntry.queries
    def clearCache(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    def pass(dir: String, tracePass: Boolean): Seq[(String, Double, Long, Long, Boolean)] =
      GateQueries.map { q =>
        val t0 = System.nanoTime()
        val res = try {
          Some(if (tracePass) trace.span("operators", q) {
            digest(registry(q)(spark, dir))
          } else digest(registry(q)(spark, dir)))
        } catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $q failed: $e"); None }
        val dt = (System.nanoTime() - t0) / 1e9
        clearCache()
        (q, dt, res.map(_._1).getOrElse(-1L), res.map(_._2).getOrElse(-1L),
          res.isDefined)
      }
    // set-up, repeated: generate the tables; then one untimed warm-up
    // pass at the small scale compiles every plan shape the timed passes
    // run
    val big = s"$run/data"
    val small = s"$run/data-small"
    out("setup_s") = (1 to c.int("setupReps")).map { _ =>
      timed {
        genTables(spark, small, c("warmSf").toDouble, c.long("dataSeed"))
        genTables(spark, big, c("sf").toDouble, c.long("dataSeed"))
      }._2
    }
    out("warm_pass_s") = pass(small, tracePass = false).map(_._2).sum
    // timed passes until --seconds have gone by, at least one
    val budget = c.long("seconds") * 1000L
    val passes = mutable.ArrayBuffer[Seq[(String, Double, Long, Long, Boolean)]]()
    val start = System.currentTimeMillis()
    while (passes.isEmpty || System.currentTimeMillis() - start < budget)
      passes += pass(big, tracePass = trace.enabled)
    out("passes") = passes.map(p => Map(
      "seconds" -> p.map(_._2).sum,
      "queries" -> p.map { case (q, dt, n, hsh, ok) =>
        Map("name" -> q, "seconds" -> dt, "rows" -> n, "hash" -> hsh, "ok" -> ok)
      }))
  }
}
