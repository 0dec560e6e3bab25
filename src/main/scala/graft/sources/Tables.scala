package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sinks.FooterStats

/** Loaders for the driver-provided parquet tables (repo:TESTDATA.md).
  *
  * Each scale-factor directory holds one parquet file per table. At cluster
  * scale these would be partitioned directories (or a catalog table); the
  * loader is the single seam where that changes — every operator goes
  * through here, so swapping in `spark.table(name)` or a partitioned path
  * touches one line.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    // The loader is the one seam that guarantees events.ts is TimestampType
    // regardless of how the driver's generator wrote the footer:
    //  - TIMESTAMP(NANOS): Spark 4 refuses it natively (PARQUET_TYPE_ILLEGAL);
    //    it arrives as a ns-since-epoch long via the legacy conf below, which
    //    we truncate to µs TimestampType (floor, matching second-resolution
    //    formatting in both engines).
    //  - TIMESTAMP(isAdjustedToUTC=false, MICROS): Spark 4 infers
    //    TimestampNTZType; cast to TimestampType. The session TZ is pinned
    //    UTC (build.sbt / Verify / Bench), so the naive→instant cast is
    //    value-identity — same micros, now instant-typed, matching DuckDB's
    //    naive TIMESTAMP semantics on the same file.
    if (name == "events") df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }

  /** Max of an integral column of a driver-provided table, from the
    * parquet FOOTER statistics when exact parity is provable, else from
    * the usual full-column scan — the lakehouse-format move (guide §6:
    * Delta/Iceberg answer range probes from file metadata, never by
    * scanning data). Nearly every write-gate query opens with a
    * `max(key)` probe to derive deterministic batch cuts; at 100 TB that
    * probe is a full scan of the table's key column, while the footer
    * path is a driver-side metadata read with ZERO Spark jobs.
    *
    * The footer path is one [[FooterStats.walk]] of the column as an
    * 'L' (signed INT32/INT64) stats column, under its exact-parity
    * contract with `df.agg(max(col))`. Any bail-out runs the scan, and
    * so does an all-null or empty table, where the scan's null→NPE
    * behavior is the pinned contract, not a footer guess (FooterMaxSpec
    * pins value-identity and each bail-out). */
  def maxLong(spark: SparkSession, dir: String, name: String,
      column: String): Long =
    FooterStats.walk(spark.sparkContext.hadoopConfiguration,
        new Path(s"$dir/$name.parquet"), Seq(column -> 'L'))
      .flatMap(_._2.get(column)).map(_.max.toLong)
      .getOrElse(
        apply(spark, dir, name).agg(max(col(column))).head().getLong(0))

  /** Run a SQL query over temp views WITHOUT racing concurrent
    * invocations on the same session: each frame registers under a
    * per-invocation unique name, `build` receives the alias→name map to
    * interpolate into its SQL text, and the views drop before returning.
    * Safe because `sql()` ANALYZES eagerly — the returned frame's plan
    * embeds the resolved view plans, so it survives the drop. Session-
    * global fixed view names (the previous pattern here) let one query's
    * `createOrReplaceTempView` silently redirect another in-flight
    * invocation's tables. */
  def sqlOverViews(spark: SparkSession, frames: (String, DataFrame)*)(
      build: Map[String, String] => String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val names = frames.map { case (a, _) => a -> s"${a}_$tag" }.toMap
    frames.foreach { case (a, df) => df.createOrReplaceTempView(names(a)) }
    try spark.sql(build(names))
    finally names.values.foreach(spark.catalog.dropTempView(_))
  }

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Reads with nanosAsLong enabled for JUST this read: the previous
    * session value is restored afterwards, so loading a table never
    * changes ns-timestamp handling for unrelated reads in the session.
    *
    * Where the conf is actually consulted (verified against Spark 4.1 —
    * TablesSpec pins this with a full materialization after the restore):
    * only SCHEMA INFERENCE needs it. `spark.read.parquet` resolves the
    * footer schema eagerly inside this method, mapping TIMESTAMP(NANOS) →
    * LongType; at execution time the vectorized reader reconciles the
    * file's INT64(NANOS) against the already-pinned LongType catalyst
    * schema and accepts it regardless of the session conf, so restoring
    * the conf before the action is safe for the tables this engine reads.
    * If a Spark upgrade ever re-consults the conf at execution,
    * TablesSpec's events-materialization test fails loudly. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val prev = spark.conf.getOption(NanosConf)
    spark.conf.set(NanosConf, "true")
    try spark.read.parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(NanosConf, v)
      case None    => spark.conf.unset(NanosConf)
    }
  }
}
