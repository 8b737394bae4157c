package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-17 CPU-spread seam (graft.Rebalance) and the
  * Materialize.isFlat gate the graph layouts use:
  *  - cpuSpread's explicit width survives AQE partition coalescing
  *    (the whole point — the implicit keyed form is coalesced back to
  *    one partition at small mass, serializing CPU-dense hash stages);
  *  - cpuSpreadIfNarrow's stats gate widens a small scan and leaves a
  *    frame alone when the input mass covers the session width;
  *  - isFlat recognizes a localCheckpoint'd frame (and trivial
  *    projections over it) but never an aggregate, so layout builders
  *    skip only genuinely redundant re-checkpoints and release() keeps
  *    operating on owned copies only.
  */
class RebalanceSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.build("local[4]", 8)

  test("cpuSpread pins an explicit width where the implicit keyed form is AQE-coalesced") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("doc_id")
    val implicitParts =
      df.repartition(col("doc_id")).localCheckpoint().rdd.getNumPartitions
    // force the mass rule to its cap so the AQE-exemption property is
    // tested at the session width (a tiny in-memory frame would
    // otherwise legitimately spread narrow under the round-18 rule)
    spark.conf.set("spark.graft.spreadTargetBytes", "1")
    try {
      val explicitParts =
        Rebalance.cpuSpread(df, col("doc_id")).localCheckpoint().rdd.getNumPartitions
      assert(explicitParts ==
        spark.sessionState.conf.numShufflePartitions,
        s"explicit width must be exempt from AQE coalescing (got $explicitParts)")
      assert(implicitParts < explicitParts,
        "precondition lost: the implicit keyed repartition is no longer " +
          "coalesced at tiny mass — the seam may be unnecessary now")
    } finally spark.conf.unset("spark.graft.spreadTargetBytes")
  }

  test("spread width is mass-proportional: tiny mass spreads narrow, big mass caps at session width") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("doc_id")
    // ~8 KB of longs against the 64 KB/task default: width must be
    // capped well below the session's 8, but never zero
    val narrow =
      Rebalance.cpuSpread(df, col("doc_id")).localCheckpoint().rdd.getNumPartitions
    assert(narrow >= 1 && narrow < spark.sessionState.conf.numShufflePartitions,
      s"a KB-scale frame must not spread to the full session width (got $narrow)")
    // a probe whose stats exceed width x target saturates the cap
    spark.conf.set("spark.graft.spreadTargetBytes", "1")
    try assert(
      Rebalance.cpuSpread(df, col("doc_id")).localCheckpoint().rdd.getNumPartitions ==
        spark.sessionState.conf.numShufflePartitions)
    finally spark.conf.unset("spark.graft.spreadTargetBytes")
  }

  test("cpuSpreadIfNarrow widens a tiny scan and gates off when stats cover the width") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rebalance-spec").toString
    (1L to 100L).toDF("doc_id").coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val widened = Rebalance.cpuSpreadIfNarrow(scan, col("doc_id"))
    assert(widened.queryExecution.analyzed ne scan.queryExecution.analyzed,
      "a KB-scale scan must be widened")
    // width is mass-proportional since round 18: pinned (AQE-exempt)
    // but bounded by bytes/target, so a KB-scale scan stays narrow;
    // a floor-level target saturates the session-width cap
    spark.conf.set("spark.graft.spreadTargetBytes", "1")
    try assert(Rebalance.cpuSpreadIfNarrow(scan, col("doc_id"))
      .localCheckpoint().rdd.getNumPartitions ==
      spark.sessionState.conf.numShufflePartitions)
    finally spark.conf.unset("spark.graft.spreadTargetBytes")
    // same scan under a floor-level split size: stats now cover the
    // session width, so the gate must add nothing
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
      val wide = spark.read.parquet(dir)
      assert(Rebalance.cpuSpreadIfNarrow(wide, col("doc_id")) eq wide,
        "a scan whose mass covers width x maxPartitionBytes must pass through")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    GraftSession.deleteRecursively(new java.io.File(dir))
  }

  test("isFlat: checkpointed leaf and trivial projections yes; aggregates no") {
    import spark.implicits._
    val flat = (1L to 10L).toDF("doc_id").localCheckpoint()
    assert(Materialize.isFlat(flat))
    assert(Materialize.isFlat(flat.select(col("doc_id").as("renamed"))))
    assert(Materialize.isFlat(flat.as("aliased")))
    assert(!Materialize.isFlat(flat.groupBy("doc_id").count()))
    assert(!Materialize.isFlat((1L to 10L).toDF("doc_id")
      .join(flat, Seq("doc_id"))))
    // a non-deterministic projection must not count as flat (a caller
    // skipping materialization there would recompute different values)
    assert(!Materialize.isFlat(flat.select(col("doc_id"), rand().as("r"))))
  }
}
