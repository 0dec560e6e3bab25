package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, Lineage}
import graft.sinks.{FooterStats, ManifestSink, Scd2}

/** Every observe-metric caller names the fallback it runs when the
  * observation does not arrive ([[Observed.observed]]). Observations
  * always arrive in tests, so each fallback is called here directly and
  * must return exactly the observed value on the same input. */
class ObservedFallbackSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/d"

  test("writeWithStats: the read-back returns the observed count, " +
      "min/max and KMV sketches") {
    val df = spark.range(0, 500).selectExpr(
      "id",
      "CAST(id % 37 AS INT) AS i32",
      "CAST(id % 5 AS TINYINT) AS i8",
      "CASE WHEN id % 11 = 0 THEN NULL WHEN id % 97 = 1 THEN 'é-high' " +
        "ELSE concat('v', CAST(id % 50 AS STRING)) END AS s",
      "CAST(id AS DOUBLE) / 8 AS d",
      "CAST(id AS FLOAT) / 3 AS f",
      "CAST(NULL AS BIGINT) AS allnull").repartition(3)
    val statsCols = Seq("id", "i32", "i8", "s", "d", "f", "allnull", "gone")
    val ndvCols = Seq("s", "i32")
    val dir = tmp("obs_write")
    val fast = ManifestSink.writeWithStats(df, dir, statsCols, ndvCols)
    val slow = ManifestSink.readBackStats(spark.read.parquet(dir),
      statsCols, ndvCols)
    assert(fast._1 === 500L)
    assert(fast._2.keySet.contains("s") && !fast._2.contains("allnull"))
    assert(slow === fast)
    // an empty batch: zero rows, no bounds, on both paths
    val edir = tmp("obs_write_empty")
    val efast = ManifestSink.writeWithStats(df.limit(0), edir, statsCols, Nil)
    assert(efast === (0L, Map.empty))
    assert(ManifestSink.readBackStats(spark.read.parquet(edir), statsCols,
      Nil) === efast)
  }

  test("mergeOnRead: the dup-max probe returns the max observed on the " +
      "tombstone-key write") {
    for (rows <- Seq(Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2)),
        Seq((1L, "a", 1), (1L, "a", 2), (1L, "a", 3), (2L, "b", 1)))) {
      val staged = rows.toDF("k", "k2", "v")
      for (keys <- Seq(Seq("k"), Seq("k", "k2"), Seq("k", "v"))) {
        val observed = ManifestSink.writeTombKeys(staged, keys,
          tmp("obs_keys"))
        assert(ManifestSink.keyDupMax(staged, keys) === observed,
          s"$keys over $rows")
      }
    }
  }

  test("Scd2: the dup probe returns the flag applyUpdates observes") {
    val dir = tmp("obs_scd2")
    val attrs = Seq("seg")
    val base = Seq((1L, 5L, "a"), (2L, 5L, "b")).toDF("id", "seq", "seg")
    Scd2.applyUpdates(base, dir, "id", "seq", attrs)
    // unique: observed 0, the update commits
    val unique = Seq((1L, 6L, "c"), (2L, 7L, "d")).toDF("id", "seq", "seg")
    assert(Scd2.dupFlag(unique, "id", "seq") === 0L)
    assert(Scd2.applyUpdates(unique, dir, "id", "seq", attrs) >= 0L)
    // duplicated (key, seq) — fresh and stale alike: observed 1, refused
    for (dup <- Seq(Seq((1L, 8L, "e"), (1L, 8L, "f")),
        Seq((2L, 3L, "e"), (2L, 3L, "e")))) {
      val u = dup.toDF("id", "seq", "seg")
      assert(Scd2.dupFlag(u, "id", "seq") === 1L)
      intercept[IllegalArgumentException] {
        Scd2.applyUpdates(u, dir, "id", "seq", attrs)
      }
    }
  }

  test("DedupOps: the recounts return the counts observed on the cut") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("__chg", $"id" % 7 === 0)
    val (c, n) = DedupOps.countedCut(df)
    assert(n === 1000L && DedupOps.recount(c) === n)
    val (next, changed) = Lineage.cutWithMetric(df,
      sum(when($"__chg", 1L).otherwise(0L)))
    assert(changed === 143L && DedupOps.changedRows(next) === changed)
  }

  test("footer walk bails on float, timestamp and missing columns") {
    val dir = tmp("obs_footer")
    spark.range(0, 10).selectExpr("id", "CAST(id AS DOUBLE) AS d",
      "timestamp_micros(id) AS ts").write.parquet(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    def walk(cols: (String, Char)*) = FooterStats.walk(conf, path, cols)
    assert(walk("id" -> 'L') ===
      Some(10L -> Map("id" -> ManifestSink.ColStats('L', "0", "9"))))
    assert(walk("d" -> 'D').isEmpty)
    assert(walk("ts" -> 'L').isEmpty)
    assert(walk("gone" -> 'L').isEmpty)
    assert(walk("id" -> 'S').isEmpty)
  }
}
