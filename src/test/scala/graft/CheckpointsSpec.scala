package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId

/** Lifecycle + reliability-knob coverage for [[Checkpoints]] (r16):
  * blocks must be freed after release/releaseAll (the r15 driver bench
  * anti-scaled because nothing ever unpersisted a checkpoint), the
  * reliable path must produce the same data through
  * `SPARK_GRAFT_RELIABLE_CHECKPOINT`'s code path, and the iterative
  * operators must stay correct under per-round release. */
class CheckpointsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def cachedRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("cp materializes eagerly and release frees the blocks") {
    Checkpoints.releaseAll() // isolate from earlier suites
    val before = cachedRddIds
    val df = Checkpoints.cp(spark.range(0, 1000).toDF("x")
      .withColumn("y", col("x") * 2))
    val added = cachedRddIds -- before
    assert(added.nonEmpty, "eager cp registered no persistent RDD")
    assert(df.agg(sum("y")).as[Long].head() == 999000L)
    Checkpoints.release(df)
    assert((cachedRddIds -- before).isEmpty,
      "release left checkpoint blocks persisted")
  }

  test("releaseAll drains every checkpoint registered since the last drain") {
    Checkpoints.releaseAll()
    val before = cachedRddIds
    val a = Checkpoints.cp(spark.range(0, 100).toDF("x"))
    val b = Checkpoints.cp(spark.range(100, 200).toDF("x"))
    assert(a.count() + b.count() == 200)
    assert((cachedRddIds -- before).size >= 2)
    Checkpoints.releaseAll()
    assert((cachedRddIds -- before).isEmpty,
      "releaseAll left checkpoint blocks persisted")
  }

  test("reliable path (SPARK_GRAFT_RELIABLE_CHECKPOINT) writes a recoverable checkpoint with identical data") {
    val in = spark.range(0, 500).toDF("x").withColumn("y", col("x") % 7)
    val local = Checkpoints.cp(in).orderBy("x").as[(Long, Long)].collect()
    Checkpoints.forceReliable = Some(true)
    try {
      val rel = Checkpoints.cp(in)
      // a reliable checkpoint materializes to the checkpoint dir and
      // keeps a recompute path that survives executor loss
      assert(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable cp did not set a checkpoint dir")
      assert(rel.orderBy("x").as[(Long, Long)].collect().sameElements(local),
        "reliable and local checkpoints disagree")
      // release is a safe no-op for file-backed checkpoints
      Checkpoints.release(rel)
      assert(rel.count() == 500)
    } finally Checkpoints.forceReliable = None
    Checkpoints.releaseAll()
  }

  test("iterative operators stay correct under per-round release (Components under both postures)") {
    // chain 0-1-2-3-4 plus clique {10,11,12}: exercises multiple star
    // rounds, so round n-1's blocks are released mid-loop
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("u", "v")
    def run(): Map[Long, Long] =
      graft.operators.Components.components(edges)
        .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 0L -> 0L,
      11L -> 10L, 12L -> 10L, 10L -> 10L)
    assert(run() == want)
    Checkpoints.forceReliable = Some(true)
    try assert(run() == want, "reliable-checkpoint posture changed the answer")
    finally Checkpoints.forceReliable = None
    Checkpoints.releaseAll()
  }

  test("released local-checkpoint blocks are actually gone from the block manager") {
    Checkpoints.releaseAll()
    val before = cachedRddIds
    val df = Checkpoints.cp(spark.range(0, 1000).toDF("x"))
    // only the RDDs THIS cp registered — other suites may hold their
    // own legitimate caches in the shared session
    val ids = cachedRddIds -- before
    assert(ids.nonEmpty && df.count() == 1000)
    Checkpoints.releaseAll()
    // unpersist is async (blocking = false): poll briefly
    val bm = org.apache.spark.SparkEnv.get.blockManager.master
    val deadline = System.nanoTime() + 10e9.toLong
    def anyBlockLeft: Boolean = ids.exists(id =>
      bm.getMatchingBlockIds(_.isInstanceOf[RDDBlockId], askStorageEndpoints = true)
        .exists { case RDDBlockId(r, _) => r == id; case _ => false })
    while (anyBlockLeft && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!anyBlockLeft, "RDD blocks survived releaseAll")
  }

  test("releaseAll returns only after every released block is removed") {
    Checkpoints.releaseAll()
    val before = cachedRddIds
    val dfs = (0 until 3).map(k => Checkpoints.cp(spark.range(0, 2000).toDF("x")
      .withColumn("k", col("x") + k)).repartition(4))
    assert(dfs.map(_.count()).sum == 6000)
    val ids = cachedRddIds -- before
    assert(ids.nonEmpty)
    Checkpoints.releaseAll()
    // no polling: the blocks must already be gone when releaseAll returns
    val left = org.apache.spark.SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isInstanceOf[RDDBlockId], askStorageEndpoints = true)
      .collect { case RDDBlockId(r, _) if ids(r) => r }
    assert(left.isEmpty, s"blocks of released RDDs ${left.distinct} survived releaseAll")
  }

  test("release of a plan with two checkpoints fails at the call and frees nothing") {
    Checkpoints.releaseAll()
    val before = cachedRddIds
    val a = Checkpoints.cp(spark.range(0, 100).toDF("x"))
    val b = Checkpoints.cp(spark.range(0, 100).toDF("x").withColumn("y", col("x") * 2))
    val held = cachedRddIds -- before
    val e = intercept[IllegalArgumentException](Checkpoints.release(a.join(b, "x")))
    assert(e.getMessage.contains("exactly one registered checkpoint, found 2"))
    assert(cachedRddIds -- before == held, "a refused release freed blocks")
    // each side alone is one checkpoint: released once, then refused
    Checkpoints.release(a.select(col("x") + 1))
    intercept[IllegalArgumentException](Checkpoints.release(a))
    Checkpoints.release(b)
    assert((cachedRddIds -- before).isEmpty)
  }
}
