package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, DedupQueries, GraphQueries, IvfIndex}

/** The shared generation loop ([[graft.operators.Fixpoint]]) behind CC,
  * g4, g5, BPE and Lloyd:
  *
  *  - it frees every superseded generation, so after an operator
  *    returns, the persistent RDDs it added are its fixed inputs plus
  *    the final generation, whatever the round count;
  *  - it runs one job per generation: the pin's job also folds the
  *    generation's row count and measure. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Persistent RDDs that `body` added (ids absent before it ran). */
  private def pinnedBy[A](body: => A): (A, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    (out, (spark.sparkContext.getPersistentRDDs.keySet -- before).size)
  }

  test("CC holds its edge set plus the final generation, however deep the graph") {
    // a 400-node path: label propagation with pointer jumping needs
    // ~log2(400) rounds to converge
    val pairs = spark.range(400).select(col("id").as("da"), (col("id") + 1).as("db"))
    val (labels, added) = pinnedBy(DedupQueries.connectedComponents(pairs))
    assert(labels.select("cluster_id").distinct().count() == 1)
    assert(added <= 2, s"CC left $added persistent RDDs (edges + final = 2)")
  }

  test("g4 holds its fixed inputs plus the final generation") {
    val (g4, added) = pinnedBy(GraphQueries.queries("g4_reach")(spark, sf))
    // at least two BFS levels, so at least one round replaced a generation
    assert(g4.count() >= 2)
    assert(added <= 3,
      s"g4 left $added persistent RDDs (co-purchase edges + adjacency + final = 3)")
  }

  test("g5 holds its fixed input plus the final generation") {
    val (g5, added) = pinnedBy(GraphQueries.queries("g5_kcore")(spark, sf))
    assert(g5.count() > 0)
    assert(added <= 2, s"g5 left $added persistent RDDs (co-purchase edges + final = 2)")
  }

  test("BPE holds only the final generation") {
    import spark.implicits._
    val vocab = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
      .toSeq.toDF("word", "freq")
    val ((merges, _), added) = pinnedBy(Bpe.train(vocab, rounds = 8))
    assert(merges.size == 8)
    assert(added <= 1, s"BPE left $added persistent RDDs (final = 1)")
  }

  test("Lloyd holds its training sample plus the final generation") {
    val v = spark.range(256).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> (id * 31 + d * 7) % 997)").as("qv"))
    val (cents, added) = pinnedBy(IvfIndex.lloydCentroids(v, 8L, rounds = 4))
    assert(cents.count() == 8)
    assert(added <= 2, s"Lloyd left $added persistent RDDs (training sample + final = 2)")
  }

  test("iterative job-count gate: d5, g4 and g5 at sf0.001 run no more " +
    "jobs than the hand-written loops did") {
    // Bounds: the max over 5 runs, construction plus collect() in one
    // JVM, with each generation's row count and measure folded into
    // its pin's job: d5 24, g4 24, g5 12 jobs in every run. The
    // hand-written loops, and the shared loop before the fold, ran
    // d5 33, g4 33, g5 17, paying separate count and sum jobs.
    val bounds = Map("d5_dedup_clusters" -> 24, "g4_reach" -> 24, "g5_kcore" -> 12)
    bounds.foreach { case (q, bound) =>
      val jobs = JobCount.of(spark, s"fixpoint_jobs_$q") {
        SparkEntry.queries(q)(spark, sf).collect()
      }
      assert(jobs <= bound, s"$q ran $jobs jobs, above its bound $bound")
    }
  }
}
