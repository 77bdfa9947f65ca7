package graft.operators

import org.apache.spark.sql.DataFrame

/** The pin of the iterative operators. [[Fixpoint]] pins every
  * generation through it — d5/s8 connected components, g4 BFS, g5
  * k-core peeling, BPE training and IVF Lloyd — and so do their fixed
  * inputs (CC's edge set, g4's adjacency, Lloyd's training sample) and
  * the co-purchase edge build and g1 edge set of [[GraphQueries]].
  * Each generation is CHECKPOINTED so lineage stays one generation deep
  * and planning stays sane.
  *
  * The default pin is `localCheckpoint(eager = true)` — executor-
  * MEMORY-backed, zero disk I/O, the right call on a healthy cluster
  * and in local mode. Its trade is fault tolerance: localCheckpoint
  * TRUNCATES lineage, so losing an executor mid-iteration loses blocks
  * that can no longer be recomputed and the job dies (r14 verdict's
  * g4 note). For long iterative runs on preemptible/spot executors,
  * set the session conf
  *
  *   `graft.iterativeCheckpoint = reliable`
  *
  * (plus `SparkContext.setCheckpointDir` to a fault-tolerant FS) and
  * every pin above becomes a RELIABLE `checkpoint()` — materialized
  * to the checkpoint directory, recoverable across executor loss, at
  * the cost of one write+read per generation. Same plan shape either
  * way (both produce a `LogicalRDD`), so exact-stats pinning and
  * Fixpoint's freeing of superseded generations compose unchanged;
  * results are bit-identical (`ReliableCheckpointSpec`). The lineage-
  * versus-checkpoint trade is the one D-Streams (SOSP'13) names.
  * Other one-off pins outside these operators stay `localCheckpoint`. */
object Checkpointing {

  /** Session-conf key: "local" (default) or "reliable". */
  val ModeKey = "graft.iterativeCheckpoint"

  /** Pin a generation frame under the session's checkpoint mode. */
  def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.get(ModeKey, "local") == "reliable") {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ModeKey=reliable requires SparkContext.setCheckpointDir " +
          "(a fault-tolerant location every executor can reach)")
      df.checkpoint() // eager + reliable
    } else df.localCheckpoint(true)
  }
}
