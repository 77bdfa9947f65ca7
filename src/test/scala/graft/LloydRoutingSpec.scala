package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IvfIndex

/** The two claims behind the learned-IVF family (r11 verdict asks
  * #2/#3), pinned on a PLANTED corpus where they are theorems rather
  * than table coincidences:
  *
  *  - Lloyd beats first-k init under skew: a corpus whose first k
  *    vectors all sit in ONE dense region (the pathological first-k
  *    draw) starts with catastrophic occupancy skew — whole far-away
  *    regions funnel into single cells. Two Lloyd rounds move
  *    centroids toward mass: max occupancy and exact inertia must
  *    both drop.
  *  - Two-level routing is an equi-join approximation of flat
  *    nearest-centroid assignment: each vector's routed cell distance
  *    can never beat the flat minimum, and the router must stay
  *    within the winning coarse group (structural containment).
  */
class LloydRoutingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  /** 4 far-apart anchors; ids 0..7 (the first-k init) ALL near anchor
    * 0, the rest spread deterministically across anchors by id. */
  private def plantedSkew() = {
    import spark.implicits._
    val dim = 64
    def vec(anchor: Int, jitter: Int): Array[Long] =
      Array.tabulate(dim) { d =>
        val base = if (d % 4 == anchor) 1000000L else 0L
        base + ((jitter * 31 + d * 7) % 997) // small deterministic jitter
      }
    val rows = (0L until 8L).map(id => (id, vec(0, id.toInt))) ++
      (8L until 512L).map(id => (id, vec((id % 4).toInt, id.toInt)))
    rows.toDF("vec_id", "qv")
  }

  private def occupancy(assign: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    assign.groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("planted skew: 2 Lloyd rounds drop max occupancy AND exact inertia " +
    "vs the first-k init, under the same two-level router") {
    val v = plantedSkew()
    val k = 8L
    val kc = IvfIndex.autoCoarseCells(k)
    val init = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("qv").as("cv"))
    val learned = IvfIndex.lloydCentroids(v, k, rounds = 2)
    val a0 = IvfIndex.routeAssign(v, init, kc).select("vec_id", "cell", "cell_dist2")
    val a2 = IvfIndex.routeAssign(v, learned, kc).select("vec_id", "cell", "cell_dist2")
    val (occ0, occ2) = (occupancy(a0), occupancy(a2))
    assert(occ0.values.sum == 512 && occ2.values.sum == 512, "total coverage")
    val (max0, max2) = (occ0.values.max, occ2.values.max)
    // init: 3 of 4 anchor regions (378 of 512 vectors) funnel into
    // cells of the one seeded region; learned centroids must spread
    assert(max2 < max0,
      s"Lloyd failed to flatten occupancy: max $max0 -> $max2 (occ2=$occ2)")
    assert(max2 <= 512 / 2,
      s"learned max occupancy still majority-sized: $max2 ($occ2)")
    val inertia0 = a0.agg(sum("cell_dist2")).head().getLong(0)
    val inertia2 = a2.agg(sum("cell_dist2")).head().getLong(0)
    assert(inertia2 < inertia0,
      s"Lloyd failed to reduce inertia: $inertia0 -> $inertia2")
  }

  test("routing is a sound approximation: routed distance never beats the " +
    "flat minimum, and equals it for the bulk of a clustered corpus") {
    val v = plantedSkew()
    val k = 8L
    val cents = IvfIndex.lloydCentroids(v, k, rounds = 2)
    val routed = IvfIndex.routeAssign(v, cents, IvfIndex.autoCoarseCells(k))
      .select("vec_id", "cell", "cell_dist2").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // flat exact assignment (driver-side brute force over k=8 cents)
    val cs = cents.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val vs = v.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    var matches = 0
    vs.foreach { case (vid, arr) =>
      val flat = cs.toSeq.map { case (cid, cv) => (d2(arr, cv), cid) }.min
      val (rCell, rDist) = routed(vid)
      assert(rDist >= flat._1, s"routed dist beats flat min for $vid")
      assert(rDist == d2(arr, cs(rCell)), s"reported dist wrong for $vid")
      if (rCell == flat._2) matches += 1
    }
    // clustered data routes almost everything to its true cell
    assert(matches >= (vs.length * 9) / 10,
      s"router matched flat on only $matches/${vs.length}")
  }

  test("servedCentroids: trains once per corpus state, serves row-identical " +
    "centroids after") {
    import graft.operators.IndexStore
    val dir = indexedTempDir("graft_cents_serve")
    // table name doubles as the fingerprinted source
    plantedSkew().select(col("vec_id"),
        col("qv").as("embedding")) // schema shape irrelevant to the store
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("qv"))
    val before = IndexStore.buildsPerformed
    val served1 = IvfIndex.servedCentroids(spark, dir, "embeddings", v, 8L, 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val afterFirst = IndexStore.buildsPerformed
    assert(afterFirst == before + 1, "first consumer trains")
    val served2 = IvfIndex.servedCentroids(spark, dir, "embeddings", v, 8L, 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(IndexStore.buildsPerformed == afterFirst, "second consumer serves warm")
    val fresh = IvfIndex.lloydCentroids(v, 8L, 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(served1 == fresh && served2 == fresh,
      "served centroids must be row-identical to a fresh training run")
    // append-only growth is a WHOLE-CORPUS invalidation for centroids:
    // new vectors move the means, so the next consumer retrains
    plantedSkew().filter(col("vec_id") < 4)
      .select(col("vec_id") + 10000L, col("qv"))
      .toDF("vec_id", "embedding")
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    IvfIndex.servedCentroids(spark, dir, "embeddings", v, 8L, 2).count()
    assert(IndexStore.buildsPerformed == afterFirst + 1,
      "source growth must retrain, not serve stale centroids")
  }

  test("trainStride: ~64 training vectors per cell, never 0, 1 at gate scale") {
    // gate corpora: n <= 64k -> stride 1, training = everything
    assert(IvfIndex.trainStride(500, 8) == 1)
    assert(IvfIndex.trainStride(512, 8) == 1)
    // first sampling boundary
    assert(IvfIndex.trainStride(513, 8) == 2)
    // sf0.1 shape: n=2000, k=8 -> ceil(2000/512) = 4
    assert(IvfIndex.trainStride(2000, 8) == 4)
    // occupancy-ruled k = N/256 makes the stride a CONSTANT 4
    // (64/256): the sample is a fixed quarter of the corpus
    assert(IvfIndex.trainStride(20000, 79) == 4)
    assert(IvfIndex.trainStride(1000000L, 3907) == 4)
    intercept[IllegalArgumentException](IvfIndex.trainStride(0, 8))
  }

  test("stride-sampled training still flattens planted skew, with dense " +
    "renumbered cids") {
    val v = plantedSkew() // ids 0..511 dense
    val k = 8L
    val stride = 4L // 128 training vectors, 16/cell
    val learned = IvfIndex.lloydCentroids(v, k, rounds = 2, stride = stride)
    val cids = learned.select("cid").collect().map(_.getLong(0)).sorted
    assert(cids.toSeq == (0L until k).toSeq,
      s"sampled init must renumber cids dense 0..k-1, got ${cids.toSeq}")
    // the FULL corpus routes through sample-trained centroids
    val a = IvfIndex.routeAssign(v, learned, IvfIndex.autoCoarseCells(k))
    val occ = occupancy(a.select("vec_id", "cell"))
    assert(occ.values.sum == 512, "full-corpus coverage")
    assert(occ.values.max <= 512 / 2,
      s"sample-trained centroids failed to flatten skew: $occ")
  }

  test("lloydCentroids fails loudly on non-dense vec_ids (r12 advice): " +
    "1-based and sparse ids violate the init contract") {
    // 1-based ids: vec_id < k selects only k-1 vectors
    val oneBased = plantedSkew()
      .select((col("vec_id") + 1).as("vec_id"), col("qv"))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.lloydCentroids(oneBased, 8L, rounds = 1)
    }
    assert(e.getMessage.contains("dense 0-based"))
    // sparse (even-only) ids: half the expected init centroids
    val sparse = plantedSkew()
      .select((col("vec_id") * 2).as("vec_id"), col("qv"))
    intercept[IllegalArgumentException] {
      IvfIndex.lloydCentroids(sparse, 8L, rounds = 1)
    }
    // dense ids with a stride remain in contract (cids renumbered)
    assert(IvfIndex.lloydCentroids(plantedSkew(), 8L, rounds = 1, stride = 2L)
      .count() == 8L)
  }

  test("autoCoarseCells: ceil(sqrt) at the boundaries") {
    assert(IvfIndex.autoCoarseCells(1) == 1)
    assert(IvfIndex.autoCoarseCells(8) == 3)
    assert(IvfIndex.autoCoarseCells(9) == 3)
    assert(IvfIndex.autoCoarseCells(10) == 4)
    assert(IvfIndex.autoCoarseCells(64) == 8)
    assert(IvfIndex.autoCoarseCells(79) == 9)
    assert(IvfIndex.autoCoarseCells(4000000) == 2000)
    intercept[IllegalArgumentException](IvfIndex.autoCoarseCells(0))
  }
}
