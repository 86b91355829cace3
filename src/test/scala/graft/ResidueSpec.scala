package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The engine-wide residue contract (r6 verdict item 1-2): every
  * materialization an operator makes is tracked and freeable, the drain
  * releases all of it, and the leak guard names anything a query leaves
  * in the block manager — including `localCheckpoint` blocks, which have
  * no public unpersist and caused two rounds of warm-bench contamination.
  */
class ResidueSpec extends SparkSuite {
  import spark.implicits._

  private def persistentCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("cut: equals its input, truncates lineage to one leaf, free() releases blocks") {
    val src = (1L to 100L).toDF("n")
      .withColumn("sq", col("n") * col("n")).filter(col("n") % 3 === 0)
    val cut = Residue.cut(src)
    assert(cut.df.collect().sortBy(_.getLong(0)) ===
      src.collect().sortBy(_.getLong(0)))
    // the whole upstream plan collapses to a single LogicalRDD leaf — the
    // property that keeps iterative loops' analysis time O(1) per round
    assert(cut.df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LogicalRDD]))
    assert(persistentCount >= 1)
    cut.free()
    assert(persistentCount === 0)
  }

  test("persist: a plain RDD is tracked until release or drain frees it") {
    val kept = Residue.persist(spark.sparkContext.parallelize(1L to 30L, 3))
    assert(kept.count() === 30L)
    assert(persistentCount === 1)
    Residue.release(kept)
    assert(persistentCount === 0)
    val drained = Residue.persist(spark.sparkContext.parallelize(1L to 30L, 3))
    assert(drained.count() === 30L)
    assert(Residue.drain(spark).isEmpty) // tracked != leaked
    assert(persistentCount === 0)
  }

  test("pin: materialization is released by drain, none survives") {
    val pinned = Residue.pin((1L to 50L).toDF("n"))
    assert(pinned.count() === 50L) // materialize the cache
    assert(persistentCount >= 1)
    assert(Residue.drain(spark).isEmpty) // tracked != leaked
    assert(persistentCount === 0)
  }

  test("leak guard: names an untracked leaker — including localCheckpoint blocks — then force-frees it") {
    // a deliberately leaky query: persists without tracking AND local-
    // checkpoints (whose blocks have no public unpersist at all)
    val stray = (1L to 40L).toDF("v").persist()
    stray.count()
    val ckpt = (1L to 40L).toDF("w").localCheckpoint()
    ckpt.count()
    val leaks = Residue.drain(spark)
    assert(leaks.size >= 2, leaks.mkString("; "))
    assert(leaks.forall(_.contains("rdd=")), leaks.mkString("; "))
    // attribution names this file as the creation site of the leak
    assert(leaks.exists(_.contains("ResidueSpec")), leaks.mkString("; "))
    // force-freed: the leaker cannot contaminate the next query
    assert(persistentCount === 0)
  }

  test("guard is silent on the engine's own operators") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // exercise one pin site (triangleCounts) and one persist loop
    // (nearDupClusters) end-to-end, consuming the results fully
    val pairs = operators.Dedup.minhashLshPairs(docs, 3, 16, 4, 0.6)
    assert(operators.Graph.triangleCounts(pairs).count() >= 0)
    assert(operators.Dedup.nearDupClusters(pairs).count() >= 0)
    // the RDD fixpoint over pairs spread across partitions: components
    // cross partition boundaries, so the loop runs real rounds
    val spread = pairs.repartition(4)
    assert(spread.rdd.getNumPartitions >= 4)
    assert(operators.Dedup.nearDupClusters(spread).collect().nonEmpty)
    val leaks = Residue.drain(spark)
    assert(leaks.isEmpty, leaks.mkString("; "))
    assert(persistentCount === 0)
  }
}
