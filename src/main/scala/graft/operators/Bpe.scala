package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashExprs.bpe_merge_step

/** Iterative BPE tokenizer training (Sennrich et al. 2016) as Spark
  * dataflow — the canonical tokenizer-training workload of an LLM
  * data pipeline, and the iterative-compute sibling of PageRank (g1)
  * and connected components (d5): per round, ONE vocabulary-sized
  * pair aggregation plus one compiled per-word state rewrite.
  *
  * Scale shape (the reason this trains on 100 TB): the corpus is
  * collapsed to its word VOCABULARY (word, freq) first — t19's
  * hash-agg, corpus-sized scan but vocabulary-sized state — and every
  * training round then touches only the vocab frame:
  *
  *  - pair counting: explode adjacent symbol pairs weighted by word
  *    frequency, hash-aggregate (partial map-side — the frame never
  *    exceeds Σ|word| rows);
  *  - the argmax merge decision is ONE row via TakeOrdered (support
  *    desc, then lexicographic (left, right) — the pinned
  *    deterministic tie-break), collected to the driver because the
  *    decision is inherently global and O(1) per round;
  *  - the state rewrite is the compiled [[bpe_merge_step]] expression
  *    (left-greedy non-overlapping, standard BPE apply order) inside
  *    whole-stage codegen;
  *  - [[Fixpoint]] pins each round's state, truncating the N-round
  *    lineage (d5's pattern), so rounds stay O(vocab) each with no
  *    plan blow-up.
  *
  * Everything is a pure function of (vocab, rounds): reruns, retries
  * and any partitioning produce identical merge tables
  * (spec: `BpeSpec` — reference-implementation equality, tie-breaks,
  * overlap semantics, partitioning invariance). */
object Bpe {

  /** One learned merge: round number, the pair, its weighted support. */
  final case class Merge(round: Int, left: String, right: String, support: Long)

  /** Train `rounds` merges over a `(word STRING, freq BIGINT)`
    * vocabulary. Returns the ordered merge table and the final
    * symbol-level vocabulary `(token, freq)` (frequency = Σ word-freq
    * of words containing the token, counted per occurrence). Stops
    * early when no adjacent pair remains. */
  def train(vocab: DataFrame, rounds: Int): (Seq[Merge], DataFrame) = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    val first = vocab.select(
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"),
      col("freq"))
    val state = Fixpoint.run(first, maxRounds = rounds) { (r, state) =>
      // adjacent pairs weighted by word frequency — vocabulary-sized
      // (t19's spelling; the interpreted lambda runs once per WORD,
      // not per corpus token)
      val best = state
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
               i -> struct(syms[i - 1] AS l, syms[i] AS r))""")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("support"))
        .orderBy(col("support").desc, col("l").asc, col("r").asc)
        .limit(1) // TakeOrdered — the O(1) global merge decision
        .collect()
      // no pair left: the vocabulary is exhausted, stop early
      best.headOption.map { row =>
        val (l, rr) = (row.getString(0), row.getString(1))
        merges += Merge(r, l, rr, row.getLong(2))
        state.select(bpe_merge_step(col("syms"), l, rr).as("syms"), col("freq"))
      }
    }
    val outVocab = state
      .select(explode(col("syms")).as("token"), col("freq"))
      .groupBy("token").agg(sum("freq").as("freq"))
    (merges.toSeq, outVocab)
  }

  /** Corpus entry point: whitespace words of `textCol` → (word, freq)
    * vocabulary → [[train]]. The only corpus-sized pass is this
    * hash-aggregate; training itself is vocabulary-sized. */
  def trainOnCorpus(docs: DataFrame, textCol: String, rounds: Int)
      : (Seq[Merge], DataFrame) = {
    val vocab = docs
      .select(explode(graft.functions.HashExprs.tokenize(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    train(vocab, rounds)
  }
}
