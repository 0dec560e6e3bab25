package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.ManifestSink
import graft.sources.Tables

class SinkOpsSpec extends SparkSpec {
  import spark.implicits._

  test("q88 equals the direct filter and its scan really prunes") {
    // equality vs computing the same aggregate without the sink
    val viaSink = SinkOps.queries("q88_manifest_roundtrip")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)
    val ev = Tables(spark, sf, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = ev.agg(max($"event_id")).head().getLong(0)
    val (cut1, cut2) = (maxId / 3, 2 * maxId / 3)
    val direct = ev
      .filter($"event_id" > cut1 && $"event_id" <= cut2)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.dsum($"value").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)
    assert(viaSink === direct)
    // skipping: rebuild the same layout and check the mid-range scan
    // touches exactly 1 of the 3 entries
    val sink = java.nio.file.Files
      .createTempDirectory("sinkops_").toString + "/t"
    ManifestSink.appendWithStats(
      ev.filter($"event_id" <= cut1), sink, Seq("event_id"))
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > cut1 && $"event_id" <= cut2), sink,
      Seq("event_id"))
    ManifestSink.appendWithStats(
      ev.filter($"event_id" > cut2), sink, Seq("event_id"))
    val (kept, skipped) = ManifestSink.prunedEntries(
      spark, sink, "event_id", Some(cut1 + 1), Some(cut2))
    assert(kept.size === 1 && skipped.size === 2)
  }

  test("q102's predicate scan prunes to the two matching partitions") {
    val ev = Tables(spark, sf, "events")
      .select($"event_id", $"event_type", $"value")
    val maxId = ev.agg(max($"event_id")).head().getLong(0)
    val bucketW = maxId / 5 + 1
    val sink = java.nio.file.Files
      .createTempDirectory("sinkops102_").toString + "/t"
    ManifestSink.appendPartitioned(
      ev.withColumn("day", ($"event_id" / bucketW).cast("int")),
      sink, "day", Seq("event_id"))
    val all = ManifestSink.entries(spark, sink,
      ManifestSink.version(spark, sink))
    assert(all.size >= 5) // one entry per day bucket
    val (kept, skipped) = ManifestSink.prunedEntriesForPredicate(
      spark, sink, $"day" >= 1 && $"day" <= 2 && $"event_id" % 3 =!= 0,
      ManifestSink.read(spark, sink))
    assert(kept.size === 2, s"kept ${kept.size} of ${all.size}")
    assert(skipped.size === all.size - 2)
  }

  test("q182/q184 prove the view served them from scan locations, even " +
      "when plan strings are cut to 10 characters") {
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "10")
    try {
      for (q <- Seq("q182_join_view_rewrite", "q184_managed_agg_view"))
        assert(SinkOps.queries(q)(spark, sf).collect().nonEmpty, q)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
