package graft.operators

import org.apache.spark.sql.DataFrame

/** The one lineage-cut seam for the iterative/multi-pass operators
  * (dedup families, graph contraction, training assembly).
  *
  * These operators materialize intermediate frames so that eager
  * decision probes and repeated join passes re-read blocks instead of
  * re-running the upstream pipeline (the measured up-to-4× recompute of
  * r9/r13/r14 advice). HOW the frame is materialized is a deployment
  * trade, not an operator decision, so it is a session config:
  *
  * `graft.iterative.checkpoint` =
  *   - `local` (default): `Dataset.localCheckpoint` — zero-copy blocks
  *     on the executors, reference-tracked and reclaimed by the
  *     ContextCleaner (no CacheManager residue across invocations — the
  *     r12 fix). THE TRADE: blocks are NON-REPLICATED and the lineage
  *     is TRUNCATED, so losing an executor that holds a block (node
  *     failure, dynamic-allocation decommission) fails the query
  *     instead of recomputing — Spark cannot rebuild what it no longer
  *     knows how to derive. The frames are intermediate, query-scoped,
  *     and the queries idempotent, so the cost of a rare executor loss
  *     is one bounded re-run. Right for stable executors (the default
  *     single-tenant batch shape) and for every local/test run.
  *   - `reliable`: `Dataset.checkpoint` — blocks written to the
  *     fault-tolerant `spark.sparkContext.setCheckpointDir` location
  *     and re-readable after any executor loss. Right for long queries
  *     on preemptible/spot executors or aggressive dynamic allocation,
  *     at the price of a write+read through the checkpoint filesystem
  *     per cut. Requires the checkpoint dir to be set; refuses loudly
  *     otherwise (a silent fallback to `local` would reintroduce
  *     exactly the fault-tolerance gap the caller opted out of).
  *
  * Both paths go through the same LogicalRDD mechanics, so physical
  * properties the operators rely on (a cut frame keeps its
  * outputPartitioning, e.g. bandSelfJoin's block-co-location) hold in
  * either mode, and results are identical by construction. A
  * LONG-LIVED derived table that must survive faults belongs in a
  * ManifestSink table, not a lineage cut of either kind. */
private[graft] object Lineage {
  val ModeKey = "graft.iterative.checkpoint"

  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    df.sparkSession.conf.get(ModeKey, "local") match {
      case "local" => df.localCheckpoint(eager)
      case "reliable" =>
        if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty)
          throw new IllegalStateException(
            s"$ModeKey=reliable needs a fault-tolerant checkpoint " +
              "location: call spark.sparkContext.setCheckpointDir(...) " +
              "first (refusing to fall back to local checkpointing, " +
              "which would silently reintroduce the executor-loss " +
              "fragility this mode exists to remove)")
        df.checkpoint(eager)
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }

  /** Postfix form so operator pipelines read like the Dataset API. */
  implicit final class Cuttable(private val df: DataFrame) extends AnyVal {
    def lineageCut(eager: Boolean = true): DataFrame = cut(df, eager)
  }

  /** EAGER lineage cut with one long-valued aggregate observed ON the
    * materialization action itself (both cut modes run through
    * `Dataset.withAction`, so observe metrics fire exactly as on any
    * other action): the iterative loops' convergence probes — changed-
    * row counts, frame sizes — ride the checkpoint they already pay for
    * instead of costing one extra scan action per round (r18, guide
    * §1.2). Returns (cut frame, observed value); a null aggregate (empty
    * frame) reads as 0. Falls back to -1 if the observation does not
    * arrive (listener-bus stall) — the CALLER recomputes from the cut
    * blocks in that case, which is exactly the pre-r18 probe. */
  def cutWithMetric(df: DataFrame,
      agg: org.apache.spark.sql.Column): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val c = cut(df.observe(obs, agg.as("__m")), eager = true)
    (c, graft.Observed.observedLong(obs)(-1L))
  }
}
