package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashExprs.{c4_keep_lines, char_fold, char_fold_array, count_in, shingle_hashes, tokenize}
import graft.sources.Tables

/** End-to-end training-data corpus cleaning as ONE composable
  * DataFrame flow — the composition a real pipeline runs nightly:
  *
  *   1. exact dedup        keep min(doc_id) per identical text
  *   2. quality filter     length + lexical-diversity thresholds
  *   3. near-dup removal   shingle-Jaccard pairs ≥ threshold over the
  *                         SURVIVORS (greedy: drop the larger doc_id)
  *   4. PII scrub          t7's redaction chain, fingerprint output
  *
  * Every stage reuses the oracle-proven primitives (compiled
  * tokenize/hash expressions, [[DedupQueries.jaccardPairs]] with the
  * stop-shingle guard), so the whole composition stays bit-identical
  * to the relational DuckDB spelling and inherits each stage's scale
  * shape: hash aggregates, shingle-key equi-joins, broadcast
  * anti-joins — no O(n²) stage, no driver collection.
  */
object CorpusPipeline {

  /** Crawl stage 0 — t29's markup gate as a corpus transform: drop
    * boilerplate documents (too-short extraction or link-dense
    * nav/footer/listing pages) and REPLACE `text` with the extracted
    * clean text, so every downstream stage (dedup, quality, shingles)
    * tokenizes prose instead of tags. One definition with the
    * `t29_html_extract` labels ([[TextQueries.htmlLabel]]) — the gate
    * can never disagree with the report. Stateless projection +
    * filter: rides the ingest scan batch or streaming
    * ([[graft.streaming.StreamGuards.htmlGated]]), no shuffle. On a
    * markup-free corpus the transform is the identity minus docs whose
    * text is shorter than the 40-char floor. */
  def htmlGate(docs: DataFrame): DataFrame =
    docs.filter(TextQueries.htmlLabel(col("text")) === "content")
      .withColumn("text", TextQueries.htmlClean(col("text")))

  /** Lines duplicated across ≥ this many DISTINCT documents are
    * boilerplate (nav bars, footers, subscribe prompts) and are
    * removed whole by [[lineDedupRebuild]] — RefinedWeb's line-dedup
    * threshold shape. */
  val CrossDocLineK: Int = 10

  /** The cross-document common-line set as a ONE-ROW frame holding the
    * sorted hash array — d14's hash-groupBy shape at LINE grain. The
    * expensive pass is a single aggregation whose exchange carries
    * per-partition-DISTINCT line hashes (8 bytes each, after the
    * in-row `array_distinct` and map-side partial agg) — never corpus
    * bytes, never line strings. The qualifying set is bounded by
    * total_lines / k by pigeonhole, and rides back into the corpus
    * scan via a 1-row broadcast cross join (a plan literal in effect —
    * no driver collect). Hash identity: char_fold, the same corpus
    * fingerprint every dedup family keys on (the DuckDB oracle folds
    * identically, so a collision — one in ~1e9 lines — can never make
    * the engines disagree). */
  def commonLineHashes(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(array_distinct(char_fold_array(
        filter(split(col(textCol), "\n"), l => l =!= lit(""))))).as("lh"))
      .groupBy("lh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= k)
      .agg(sort_array(collect_set(col("lh"))).as("__common"))

  /** Cross-document line-level dedup as a corpus TRANSFORM — the
    * RefinedWeb line-dedup pass, the highest-volume cleaning transform
    * on a real crawl after URL dedup: drop every non-empty line that
    * appears in ≥ k distinct documents (boilerplate by definition) and
    * rebuild the document text in-row, preserving line order. Schema
    * is preserved; `textCol` is replaced (paragraph boundaries
    * collapse to single newlines — downstream stages tokenize, so the
    * blank-line structure is not identity). Docs reduced to nothing
    * keep an empty string: DROPPING them is the caller's policy
    * ([[filterFunnel]]'s line-dedup stage does). Membership is an
    * O(|common set|) compiled probe per line against the broadcast
    * sorted array; at a set size where that linear probe matters, the
    * same shape swaps the exact array for `bloom_build`/`bloom_probe`
    * (zero false negatives = no boilerplate survives; false positives
    * drop a few clean lines — the safe direction). */
  def lineDedupRebuild(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.crossJoin(broadcast(commonLineHashes(docs, textCol, k)))
      .withColumn(textCol, array_join(
        filter(filter(split(col(textCol), "\n"), l => l =!= lit("")),
          l => !array_contains(col("__common"), char_fold(l))), "\n"))
      .drop("__common")

  /** The C4 page gate as a corpus transform (the t34 rules applied,
    * one definition for batch and stream —
    * [[graft.streaming.StreamGuards.c4Gated]] delegates here): lines
    * run through the compiled retention filter and `text` is REBUILT
    * from the kept lines; pages with `lorem ipsum`, a curly brace, a
    * blocklisted word, or fewer than
    * [[TextQueries.C4MinSentences]] surviving sentences are dropped.
    * Stateless projection + filter — identical predicates to the t34
    * report, so gate and report can never disagree. */
  def c4Gate(docs: DataFrame): DataFrame = {
    val keptText = array_join(
      c4_keep_lines(split(col("text"), "\n"), TextQueries.C4MinLineWords),
      "\n")
    val hasBadword =
      count_in(tokenize(col("text")), TextQueries.C4BadWords) > 0
    docs
      .withColumn("__c4_kept", keptText)
      .filter(!col("text").contains("lorem ipsum") &&
        !col("text").contains("{") && !hasBadword &&
        regexp_count(col("__c4_kept"), lit("[.!?]")).cast("long") >=
          lit(TextQueries.C4MinSentences))
      .withColumn("text", col("__c4_kept"))
      .drop("__c4_kept")
  }

  /** The complete C4 recipe as a funnel (the published pipeline t34 +
    * c12 spell stage by stage): line rules + page flags, then
    * cross-document three-sentence-span dedup, dropping documents
    * emptied by either stage. One count+token reduction per stage,
    * nothing collected; counts are monotone non-increasing by
    * construction. The Gopher recipe has [[filterFunnel]]; this is
    * the alternative published lineage over the same corpus. */
  def c4Funnel(docs: DataFrame): DataFrame = {
    val gated = Checkpointing.pin(c4Gate(docs))
    // unpinned: its stage count is its only consumer
    val deduped = spanDedupRebuild(gated, "text").filter(col("text") =!= "")
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_kept"),
        coalesce(sum(size(tokenize(col("text"))).cast("long")), lit(0L))
          .as("n_tokens"))
        .select(lit(name).as("stage"), col("n_kept"), col("n_tokens"))
    Seq(("0_total", docs), ("1_c4_gate", gated), ("2_span_dedup", deduped))
      .map { case (n, df) => stage(df, n) }
      .reduce(_.union(_)).orderBy("stage")
  }

  /** C4's THREE-SENTENCE-SPAN dedup as a corpus transform (Raffel et
    * al. §2.2's "discarded all but one of any three-sentence span
    * occurring more than once") — the cross-document companion of the
    * t34 line rules, at OCCURRENCE grain: every occurrence of a
    * duplicated span except the globally first (min `(doc_id,
    * position)` — so within-document repetition dedups too) has its
    * three sentences removed, and the document is rebuilt in-row,
    * preserving order. The sentence unit is the non-empty LINE (after
    * the C4 line filter each line ends in terminal punctuation — the
    * engine's sentence-boundary constant — relation to neighbors: d10
    * REPORTS the top repeated token spans without removing, and
    * [[lineDedupRebuild]] removes single lines crossing ≥ k documents;
    * this is the published C4 rule the two bracket, whole-span removal
    * at ≥ 2 occurrences with a keep-first winner; no lookbehind regex, which
    * the oracle engine's RE2 lacks).
    *
    * Scale shape (the c11 idiom at span grain): spans are hashed
    * IN-ROW (`shingle_hashes` over the per-line char folds — one
    * compiled pass), so the one aggregation's exchange carries
    * (8-byte span hash, doc, position) triples — sentence grain, never
    * text. The duplicated-span set returns as a single-row broadcast
    * of three aligned sorted arrays (hash, keeper doc, keeper
    * position); removal + rebuild run as ONE compiled per-document
    * pass (`span_dedup_keep`: re-derive span hashes, binary-search the
    * sorted dup array, emit surviving lines — `array_position` is a
    * linear scan and HOF lambdas evaluate interpreted, both of which
    * the ×100 probe showed dominating at scale). The broadcast is
    * bounded
    * by the corpus's DUPLICATED-span volume (boilerplate fraction —
    * the thing this transform exists to remove); past broadcast size
    * the same shape swaps the in-row probe for an explode + equi-join
    * on span hash and a per-doc re-aggregation of removed positions —
    * the exchange still carries hashes, never sentences. */
  def spanDedupRebuild(docs: DataFrame, textCol: String): DataFrame =
    windowDedupRebuild(docs, textCol, 3,
      c => filter(split(c, "\n"), l => l =!= lit("")), "\n")

  /** [[spanDedupRebuild]] generalized over the dedup UNIT: every
    * occurrence of a duplicated n-unit window except the globally
    * first loses its units, and the text is rebuilt `sep`-joined. c12
    * instantiates (unit = non-empty line, n = 3 — C4's rule); d16
    * instantiates (unit = token, n = [[DedupQueries.SubstrWindowK]] —
    * Lee et al.'s ExactSubstr rule, which a line/sentence grain
    * cannot express: a duplicated run need not align with any line
    * boundary). Same scale shape at every grain: the exchange carries
    * (8-byte window hash, doc, position), removal + rebuild are one
    * compiled per-document pass. */
  def windowDedupRebuild(
      docs: DataFrame,
      textCol: String,
      n: Int,
      units: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      sep: String): DataFrame = {
    val staged = docs
      .withColumn("__lines", units(col(textCol)))
      .withColumn("__spans",
        shingle_hashes(char_fold_array(col("__lines")), n))
    val dup = staged
      .select(col("doc_id"), posexplode(col("__spans")).as(Seq("pos", "shash")))
      .groupBy("shash")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("k"))
      .filter(col("cnt") >= 2)
      .agg(sort_array(collect_list(struct(col("shash"),
        col("k.doc_id").as("kd"), col("k.pos").as("ki")))).as("__ds"))
      // materialize the three aligned arrays ONCE in the 1-row frame —
      // computed per broadcast, not per corpus row
      .select(transform(col("__ds"), s => s("shash")).as("__dupS"),
        transform(col("__ds"), s => s("kd")).as("__dupKd"),
        // posexplode positions are INT — widen once here so the
        // compiled reducer reads a uniform ARRAY<BIGINT>
        transform(col("__ds"), s => s("ki").cast("long")).as("__dupKi"))
    staged.crossJoin(broadcast(dup))
      .withColumn(textCol, array_join(
        graft.functions.HashExprs.span_dedup_keep(col("__lines"),
          col("__dupS"), col("__dupKd"), col("__dupKi"), col("doc_id"), n),
        sep))
      .drop("__dupS", "__dupKd", "__dupKi", "__lines", "__spans")
  }

  /** Temperature-mix sampling budget as a percent of total corpus
    * tokens (c13) — spelled as a fraction so the capped-rate branch
    * stays live at every scale factor. */
  val MixBudgetPct: Long = 80L

  /** Salt for the c13 ppm selection hash. The bare fold of a SHORT
    * doc-id string never exceeds the 1e9+7 modulus (a 3-digit id folds
    * to ≤ ~260k), so `fold % 1e6` would be monotone in the id and a
    * sub-260k threshold would keep everything — the salt pads every
    * key past the wrap point. The fold is then SQUARED mod the prime
    * before the ppm residue: a polynomial rolling hash is not an
    * avalanche hash — consecutive ids fold to tight arithmetic bands
    * (measured: 490/500 of the corpus under a 56% threshold), while
    * `(f² mod p) mod 1e6` jumps by ~2·f·Δ per id and reads uniform
    * (273/500 under the same threshold, expected 282). */
  val MixSalt: String = "tempmix:"

  /** Exact integer square root: floor(sqrt(c)) with a ±1 correction
    * around the double rounding, so Spark and the oracle agree bit-for
    * bit even at perfect squares. `c` must be a BIGINT column name. */
  private[operators] def isqrtCorrectionSqlOf(t0: String, c: String): String =
    s"CASE WHEN ($t0 + 1) * ($t0 + 1) <= $c THEN $t0 + 1 " +
      s"WHEN $t0 * $t0 > $c THEN $t0 - 1 ELSE $t0 END"

  /** Temperature-based multinomial source mixing (the multilingual
    * sampling rule of XLM-R §3.1 / mT5: draw strata with probability ∝
    * n_i^α, α < 1, to up-weight low-resource strata) as a DETERMINISTIC
    * corpus transform: per-stratum token masses n_i reduce to sampling
    * rates r_i = min(1, B·n_i^α / (Σ_j n_j^α · n_i)) for a token budget
    * B = total·[[MixBudgetPct]]%, and a document survives iff
    * `(f² mod 1e9+7) mod 1e6 < r_i·1e6` for
    * `f = char_fold('[[MixSalt]]' || doc_id)` — the fold-hash family
    * c3's leakage-safe split keys on, salted and squared into a
    * uniform residue (see [[MixSalt]]), so the sample is reproducible
    * across runs, engines, and partitionings. α is pinned
    * at 1/2 (the published knob is α ∈ [0.2, 0.7]; one-half is the
    * value with an EXACT integer spelling — isqrt with ±1 correction —
    * so the rate table is bit-identical in the oracle; any other α
    * trades that exactness for a double `pow`).
    *
    * Relation to the sp family: `sp8_temperature_mix` REPORTS the n^α
    * share/boost/target table at source-and-doc-count grain (the
    * planning view; its `floor(sqrt·1e6)` spelling is fine for shares
    * but not for exact keep thresholds), and `sp7_mix_plan` derives
    * rates toward an EXTERNAL target-share recipe. This transform
    * EXECUTES the α rule: token-grain mass, exact isqrt weights, and
    * a materialized deterministic sample plus a report of what was
    * actually drawn (c13).
    *
    * Scale shape: one per-stratum aggregation (the exchange carries
    * |strata| partial rows), a 1-row total, rates broadcast back via a
    * broadcast equi-join on the stratum key, the keep decision in-row
    * — the corpus shuffles zero bytes. At a budget where
    * `1e6·B·w_i` nears Long range (≳ 9·10¹⁸: B ~ 10¹² tokens — a
    * 100 TB corpus) the rate arithmetic moves to DECIMAL(38,0), same
    * spelling. */
  /** Per-stratum rate table for [[temperatureSample]]: `(strata,
    * n_docs, stratum_tokens, weight, rate_ppm)`. */
  private[graft] def mixRates(
      docs: DataFrame, strataCol: String): DataFrame = {
    val per = docs
      .withColumn("__n_toks", size(tokenize(col("text"))).cast("long"))
      .groupBy(strataCol)
      .agg(count(lit(1)).as("n_docs"), sum("__n_toks").as("stratum_tokens"))
      .withColumn("__t0",
        expr("CAST(FLOOR(SQRT(CAST(stratum_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("weight",
        expr(isqrtCorrectionSqlOf("__t0", "stratum_tokens")))
    val tot = per.agg(sum("weight").as("__sum_w"),
      sum("stratum_tokens").as("__tot"))
    per.crossJoin(broadcast(tot))
      .withColumn("__budget", expr(s"(__tot * $MixBudgetPct) DIV 100"))
      .withColumn("rate_ppm", least(lit(1000000L),
        expr("(1000000 * __budget * weight) DIV (__sum_w * stratum_tokens)")))
      .select(col(strataCol), col("n_docs"), col("stratum_tokens"),
        col("weight"), col("rate_ppm"))
  }

  def temperatureSample(docs: DataFrame, strataCol: String): DataFrame =
    docs.join(broadcast(mixRates(docs, strataCol)
        .select(col(strataCol), col("rate_ppm"))), Seq(strataCol))
      .withColumn("__f",
        char_fold(concat(lit(MixSalt), col("doc_id").cast("string"))))
      .filter(col("__f") * col("__f") % 1000000007L % 1000000L <
        col("rate_ppm"))
      .select(docs.columns.map(col).toIndexedSeq: _*)

  /** [[clean]] over a RAW CRAWL corpus: the t29 gate first, then the
    * exact-dedup → quality → near-dup stages over the EXTRACTED text —
    * the real pipeline order on web data (CCNet/RefinedWeb stage
    * layout: URL gate, markup extraction, then content ops). */
  def cleanCrawl(
      docs: DataFrame,
      minTokens: Int,
      minDiversity: Double,
      jaccardThreshold: Double): DataFrame =
    clean(htmlGate(docs), minTokens, minDiversity, jaccardThreshold)

  /** Cleaned corpus: (doc_id, n_tokens, scrubbed_fp), ordered. */
  def clean(
      docs: DataFrame,
      minTokens: Int,
      minDiversity: Double,
      jaccardThreshold: Double): DataFrame = {
    // 1. exact dedup — keeper id per text, then recover the row
    val keepers = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
    // 2. quality gate on the keeper set; checkpointed because it feeds
    //    BOTH the shingle derivation and the final anti-join — without
    //    it the dedup + tokenize scan would run twice over the corpus
    val qualified = Checkpointing.pin(keepers
      .withColumn("tokens", tokenize(col("text")))
      .withColumn("n_tokens", size(col("tokens")))
      .filter(col("n_tokens") >= minTokens &&
        size(array_distinct(col("tokens"))) / col("n_tokens").cast("double") >= minDiversity))
    // 3. near-dup pairs over the survivors; drop the larger id of
    //    each pair (greedy-by-id, deterministic)
    // feeds the self-join and both size lookups (in-row per-doc set
    // dedup — see DedupQueries.shinglesOf)
    val sh = Checkpointing.pin(qualified
      .select(col("doc_id"),
        explode(array_distinct(
          shingle_hashes(char_fold_array(col("tokens")), 3))).as("shash")))
    val dropped = DedupQueries
      .jaccardPairs(sh, jaccardThreshold, DedupQueries.StopShingleMaxDf)
      .select(col("db").as("doc_id")).distinct()
    // 4. scrub + fingerprint the survivors
    qualified
      .join(broadcast(dropped), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"),
        char_fold(TextQueries.scrubExpr(col("text"))).as("scrubbed_fp"))
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_corpus_clean" -> { (s, d) =>
      clean(Tables.load(s, d, "documents"),
        minTokens = 10, minDiversity = 0.3, jaccardThreshold = 0.8)
    },

    // ── c2: benchmark decontamination — the train/test overlap sweep
    // every training corpus must run: a training doc is contaminated
    // when it shares ≥ 3 distinct n-token shingles with the held-out
    // benchmark set (here: doc_id < 10 as the stand-in benchmark;
    // n = 3 to match this corpus's short-doc scale — production
    // pipelines raise n to 8–13, same plan). Shape at 100 TB: the
    // benchmark shingle set is tiny by definition → broadcast; the
    // sweep is then one map-side semi-probe of the corpus shingle
    // stream + a per-doc count — the corpus is never self-joined and
    // never shuffled on content.
    "c2_decontaminate" -> { (s, d) =>
      val sh = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(
            shingle_hashes(char_fold_array(tokenize(col("text"))), 3))).as("sh"))
      val bench = sh.filter(col("doc_id") < 10).select("sh").distinct()
      sh.filter(col("doc_id") >= 10)
        .join(broadcast(bench), Seq("sh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits")) // sh distinct per doc already
        .filter(col("n_hits") >= 3)
        .orderBy("doc_id")
    },

    // ── c3: leakage-safe train/valid/test split — sp3's deterministic
    // 80/10/10 hash split with one crucial change: the hash is drawn
    // from the document's NEAR-DUP CLUSTER REPRESENTATIVE (its d5
    // cluster_id; its own doc_id when unclustered), so every member of
    // a cluster draws the same value and lands in the same split. A
    // plain per-doc split leaks: a near-duplicate of a training doc
    // lands in test with probability ~20% per clustered doc, and the
    // eval is contaminated. Scale shape: the cluster-label map covers
    // only clustered docs → broadcast join; the split itself stays a
    // pure per-row hash — no shuffle beyond the final tiny rollup.
    "c3_leakage_safe_split" -> { (s, d) =>
      leakageSafeSplit(s, d)
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split_key")).as("n_keys"))
        .orderBy("lang", "split")
    },

    // ── c4: cluster-expanded decontamination — c2 catches documents
    // that DIRECTLY share ≥3 shingles with the benchmark; this closes
    // the near-dup loophole: a doc whose near-dup CLUSTER contains a
    // direct hit (or a benchmark doc) is contamination too, even when
    // its own overlap sits below the threshold — the standard
    // "expand through the duplicate graph" step after any n-gram
    // decontamination pass. Scale shape: benchmark shingles, direct
    // hits, cluster labels, and bad keys are all small by construction
    // → every enrichment join broadcasts; the corpus is never
    // self-joined on content here (the pair graph is d5's, with its
    // own guards).
    "c4_contamination_clusters" -> { (s, d) =>
      contaminationClusters(Tables.load(s, d, "documents"))
    },

    // ── c5: filter-funnel observability — how many documents survive
    // each stage of c1's cleaning pipeline (total → exact dedup →
    // quality gate → near-dup removal). Pipelines live and die by this
    // report: a threshold change that silently drops 40% of a source
    // shows up here first. Four scalar aggregates unioned — each stage
    // count is one partial-agg reduction, nothing is collected.
    "c5_filter_funnel" -> { (s, d) =>
      filterFunnel(Tables.load(s, d, "documents"),
        minTokens = 10, minDiversity = 0.3, jaccardThreshold = 0.8,
        withHtmlGate = false)
    },

    // ── c6: per-source corpus health — the dashboard row a data-ops
    // team reads every morning: for each ingestion source, how many
    // docs, what share are exact duplicates, what share fail the
    // quality gate, what share are benchmark-contaminated. Each signal
    // is a pure per-doc flag: in-row quality arithmetic, the broadcast
    // benchmark probe, and a window-free exact-dup marker (join to the
    // per-text keeper — content grouping needs one shuffle by design,
    // exactly d1's; at 100 TB the join key becomes the text hash so
    // the exchange never carries full text). Everything else is small
    // broadcast enrichment + a ≤|sources| rollup. Rates in exact basis
    // points — no float accumulation order to disagree about.
    "c6_source_health" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      // exact-dup flag: doc is a duplicate iff it is not its text's keeper
      val keepers = docs.groupBy("text").agg(min("doc_id").as("keeper"))
      val sh = DedupQueries.shinglesOf(docs)
      val bench = sh.filter(col("doc_id") < 10).select("shash").distinct()
      val contaminated = sh.filter(col("doc_id") >= 10)
        .join(broadcast(bench), Seq("shash"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .filter(col("n_hits") >= 3).select("doc_id")
        .withColumn("contam", lit(1L))
      docs
        .withColumn("toks", tokenize(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("low_quality",
          when(col("n_tokens") < 10 ||
            size(array_distinct(col("toks"))) / col("n_tokens").cast("double") < 0.3,
            1L).otherwise(0L))
        .join(keepers, Seq("text"))
        .withColumn("dup", when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L))
        .join(broadcast(contaminated), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("dup").as("n_dups"),
          sum("low_quality").as("n_low_quality"),
          sum(coalesce(col("contam"), lit(0L))).as("n_contaminated"))
        .withColumn("dup_bp", expr("n_dups * 10000 div n_docs"))
        .withColumn("lowq_bp", expr("n_low_quality * 10000 div n_docs"))
        .withColumn("contam_bp", expr("n_contaminated * 10000 div n_docs"))
        .orderBy("source")
    },

    // ── c7: dataset card — the documentation artifact a released
    // corpus ships with (datasheet/dataset-card practice), produced
    // AS A QUERY so it can never drift from the data: corpus size,
    // token counts, language/source diversity, exact-dup mass, all
    // in one wide aggregate melted to (stat, value) rows. One scan
    // with a single tokenize pass; the stack pivot is p7's pattern.
    // Integer division for the mean keeps the card cross-engine
    // exact.
    "c7_dataset_card" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .withColumn("nt", size(tokenize(col("text"))).cast("long"))
        .agg(count(lit(1)).as("n_docs"),
          sum("nt").as("n_tokens"),
          countDistinct("lang").as("n_langs"),
          countDistinct("source").as("n_sources"),
          (count(lit(1)) - countDistinct("text")).as("n_exact_dups"),
          max("n_chars").as("max_doc_chars"))
        .selectExpr("stack(7, " +
          "'n_docs', n_docs, " +
          "'n_tokens', n_tokens, " +
          "'mean_doc_tokens', n_tokens div n_docs, " +
          "'n_langs', n_langs, " +
          "'n_sources', n_sources, " +
          "'n_exact_dups', n_exact_dups, " +
          "'max_doc_chars', max_doc_chars) AS (stat, value)")
        .orderBy("stat")
    },

    // ── c8: curriculum assignment — the corpus ordered by the t23
    // quality score and cut into 4 training stages (curriculum
    // learning: lowest-scoring quartile first or last, the trainer's
    // choice — the ENGINE's job is the deterministic global order and
    // the stage manifest). The global rank rides [[Ranks.globalRank]]
    // (bucketed two-pass — no single-partition sort at any corpus
    // size) over a composite key score·10⁷ + doc_id that makes ties
    // bit-stable; bounds: |score_milli| < 10⁶ (≤1000-milli weights ×
    // ≤1000 hits) and doc_id < 10⁷ keep the key inside int64 with 100×
    // headroom — corpus-scale ids widen the key to DECIMAL(38,0),
    // a17's documented pattern. Output is the per-stage manifest a
    // training scheduler consumes: doc mass, score span, byte budget.
    "c8_curriculum" -> { (s, d) =>
      // consumed by globalRank's passes + cnt
      val scored = Checkpointing.pin(TextQueries.qualityScores(s, d)
        .select(col("doc_id"), col("n_chars"), col("score_milli"))
        .withColumn("k", expr("score_milli * 10000000L + doc_id")))
      val cnt = scored.agg(count(lit(1)).as("n"))
      Ranks.globalRank(scored, "k", "rank")
        .crossJoin(broadcast(cnt))
        .withColumn("stage", expr("CAST((rank - 1) * 4 DIV n AS INT)"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_docs"),
          min("score_milli").as("min_score_milli"),
          max("score_milli").as("max_score_milli"),
          sum("n_chars").as("sum_chars"))
        .orderBy("stage")
    },

    // ── c9: DSIR-style importance weights — data selection by
    // importance resampling (Xie et al. 2023, NeurIPS): score every
    // raw document by how much more likely its hashed n-gram features
    // are under a TARGET domain (here: sources src0/src1, the curated
    // slice) than under the raw pool, log w(x) = Σ_b n_b(x)·[ln p̂_t(b)
    // − ln p̂_r(b)] over B=4096 hashed token buckets with add-1
    // smoothing. The downstream sampler (sp4's weighted machinery)
    // draws ∝ exp(log w) to tilt the mix toward the target domain
    // without training a classifier. Scale shape: the MODEL is two
    // bucket histograms built in ONE pass (count + conditional sum per
    // bucket — a 4096-key map-combined groupBy, shuffle is 4096 rows
    // per partition regardless of corpus size); the totals row is a
    // broadcast scalar; scoring is a broadcast hash join of the token
    // stream against the 4096-row model inside codegen plus one
    // map-combined per-doc sum — the corpus text itself is hashed
    // in-row and never shuffled.
    "c9_dsir_weights" -> { (s, d) =>
      dsirWeights(Tables.load(s, d, "documents"),
        col("source").isin("src0", "src1"), 4096)
    },

    // ── c10: SEQUENCE-PACKING manifest — the step between a cleaned
    // corpus and a training run: documents are concatenated in corpus
    // order into fixed token-budget bins (the context-window packing
    // every LLM dataloader does), and the manifest reports each bin's
    // doc span, token count, and fill. Policy: a doc belongs to the
    // bin its STARTING offset falls in (streaming append — a doc may
    // straddle into the next bin; bins then read fill > 100% and the
    // loader's truncation/continuation handles the tail, the standard
    // packed-dataset contract). Deterministic: corpus order + token
    // counts fully determine the packing. Shape: token counts are one
    // scan; the global running offset is [[Ranks.globalCumSum]] — the
    // de-funneled two-pass prefix sum (per-bucket windowed sums in
    // parallel + a ≤64-row offset fold), NO single-partition global
    // window anywhere; then one hash agg on bin_id. Output is the
    // manifest (one row per bin) — the artifact a 100 TB run ships to
    // its dataloader, written once per epoch plan.
    "c10_pack_sequences" -> { (s, d) =>
      val budget = 4096L
      val toks = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          size(tokenize(col("text"))).cast("long").as("n_tokens"))
      Ranks.globalCumSum(toks, "doc_id", "n_tokens", "cum")
        .withColumn("bin_id", expr(s"(cum - n_tokens) DIV $budget"))
        .groupBy("bin_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("bin_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .withColumn("fill_bp", expr(s"(10000 * bin_tokens) DIV $budget"))
        .orderBy("bin_id")
    },

    // ── c11: cross-document line-level dedup ([[lineDedupRebuild]])
    // over the synthetic crawl pages (TextQueries.crawlPageExpr — the
    // stored text is single-line): the nav line (every doc), each
    // source's footer (every doc of the source), and the promo line
    // (every fifth doc) cross the k=10 support threshold and are
    // stripped; each document's own body survives untouched. Output =
    // per-doc line counts before/after + the rebuilt text. Cost shape:
    // ONE hash agg whose exchange carries distinct line hashes, one
    // 1-row broadcast back, rebuild in the scan projection.
    "c11_line_dedup" -> { (s, d) =>
      val pages = Tables.load(s, d, "documents")
        .select(col("doc_id"), TextQueries.crawlPageExpr.as("page"))
      pages.crossJoin(broadcast(commonLineHashes(pages, "page", CrossDocLineK)))
        .withColumn("lines", filter(split(col("page"), "\n"), l => l =!= lit("")))
        .withColumn("kept", filter(col("lines"),
          l => !array_contains(col("__common"), char_fold(l))))
        .select(col("doc_id"),
          size(col("lines")).cast("long").as("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          array_join(col("kept"), "\n").as("clean_text"))
        .orderBy("doc_id")
    },

    // ── c12: C4 three-sentence-span dedup over the C4 test pages —
    // occurrence-grain keep-first (promo paragraphs duplicate spans
    // both within a page and across pages; the per-source editorial
    // paragraph duplicates across each source's docs). Stats are
    // recomputed from the rebuilt text so the report pins the
    // transform end to end. The rebuilt frame is checkpointed before
    // the output sort: the range partitioner's sampling pass would
    // otherwise re-execute the whole child — including the dup-set
    // rollup — a second time (measured 4-10x the transform cost at
    // the ×100 probe scale).
    "c12_span_dedup" -> { (s, d) =>
      val pages = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextQueries.c4PageExpr.as("page"))
        .withColumn("n_sentences",
          size(filter(split(col("page"), "\n"), l => l =!= lit("")))
            .cast("long"))
      Checkpointing.pin(spanDedupRebuild(pages, "page")
        .select(col("doc_id"), col("n_sentences"),
          (col("n_sentences") -
            size(filter(split(col("page"), "\n"), l => l =!= lit("")))
              .cast("long")).as("n_removed"),
          col("page").as("dedup_text")))
        .orderBy("doc_id")
    },

    // ── c13: temperature-mix report over the language strata (the
    // corpus's real skew axis: en carries ~3× the tokens of de) —
    // the rate table plus what the deterministic sample actually
    // drew, so the report pins the transform end to end. The de/zh/
    // es/fr strata sit at the rate cap (1e6 ppm) at the 80% budget
    // while en is down-sampled — both branches live.
    "c13_temperature_mix" -> { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val rates = mixRates(docs, "lang")
      val sampled = temperatureSample(docs, "lang")
        .withColumn("__n_toks", size(tokenize(col("text"))).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).as("sampled_docs"),
          sum("__n_toks").as("sampled_tokens"))
      rates.join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("stratum_tokens"),
          col("weight"), col("rate_ppm"),
          coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
        .orderBy("lang")
    },

    // ── c14: the complete C4 recipe as a funnel over the C4 test
    // pages — line rules + page flags (t34's gate), then
    // three-sentence-span dedup (c12), with survivor and token counts
    // per stage. The published pipeline, end to end, in its published
    // order.
    "c14_c4_funnel" -> { (s, d) =>
      c4Funnel(Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextQueries.c4PageExpr.as("text")))
    }
  )

  /** Core of c9 over any (doc_id, source, text) frame: per-document
    * DSIR importance log-weight Σ_b n_b·[ln p̂_t(b) − ln p̂_r(b)] with
    * add-1 smoothing over `buckets` hashed token buckets; `isTarget`
    * marks the target-domain rows (evaluated against the frame's own
    * columns). Output: (doc_id, source, n_toks, dsir_logw). */
  /** c5's funnel generalized — how many documents survive each stage
    * of the cleaning pipeline. With `withHtmlGate` the funnel is
    * crawl-shaped: stage 1 is the t29 markup gate
    * ([[htmlGate]] — drop boilerplate, extract clean text) and every
    * later stage runs over the EXTRACTED text, so survivor counts
    * reflect the real web-pipeline order. Stage names stay the c5
    * oracle's exact strings when the gate is off. Each stage count is
    * one partial-agg reduction, nothing collected; counts are monotone
    * non-increasing by construction (every stage filters the previous
    * one). */
  def filterFunnel(
      docs: DataFrame,
      minTokens: Int,
      minDiversity: Double,
      jaccardThreshold: Double,
      withHtmlGate: Boolean,
      lineDedupK: Option[Int] = None): DataFrame = {
    val gated = if (withHtmlGate) Checkpointing.pin(htmlGate(docs)) else docs
    // optional RefinedWeb line-dedup stage between the markup gate and
    // exact dedup: strip cross-doc boilerplate lines, drop docs whose
    // text was ALL boilerplate (non-increasing by construction — the
    // rebuild only removes lines)
    val lined = lineDedupK.fold(gated)(k =>
      Checkpointing.pin(lineDedupRebuild(gated, "text", k).filter(col("text") =!= "")))
    // pinned (r19): keepers has TWO consumers here — the quality gate
    // below AND its own funnel stage count — and the stage count was
    // re-running the full-text groupBy exchange + parquet scan inside
    // the final plan (the c5 dump showed a second Scan parquet →
    // Exchange(text) chain feeding only the `n_exact_dedup` row). One
    // eager pin serves both; `clean`/c1 keep the unpinned spelling
    // (single consumer there).
    val keepers = Checkpointing.pin(lined.groupBy("text").agg(min("doc_id").as("doc_id")))
    // feeds the shingle pass + two counts
    val qualified = Checkpointing.pin(keepers
      .withColumn("tokens", tokenize(col("text")))
      .withColumn("n_tokens", size(col("tokens")))
      .filter(col("n_tokens") >= minTokens &&
        size(array_distinct(col("tokens"))) / col("n_tokens").cast("double") >= minDiversity))
    // in-row per-doc set dedup (shinglesOf)
    val sh = Checkpointing.pin(qualified
      .select(col("doc_id"),
        explode(array_distinct(
          shingle_hashes(char_fold_array(col("tokens")), 3))).as("shash")))
    val dropped = DedupQueries
      .jaccardPairs(sh, jaccardThreshold, DedupQueries.StopShingleMaxDf)
      .select(col("db").as("doc_id")).distinct()
    val survivors = qualified.join(broadcast(dropped), Seq("doc_id"), "left_anti")
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_kept")).select(lit(name).as("stage"), col("n_kept"))
    // stage names stay the oracle's exact strings when the optional
    // stages are off; with them on, indices shift so the output still
    // sorts in pipeline order
    val named = Seq.newBuilder[(String, DataFrame)]
    named += (("0_total", docs))
    var i = 1
    if (withHtmlGate) { named += ((s"${i}_html_gate", gated)); i += 1 }
    lineDedupK.foreach { _ => named += ((s"${i}_line_dedup", lined)); i += 1 }
    named += ((s"${i}_exact_dedup", keepers)); i += 1
    named += ((s"${i}_quality", qualified)); i += 1
    named += ((s"${i}_near_dup", survivors))
    named.result().map { case (n, df) => stage(df, n) }
      .reduce(_.union(_)).orderBy("stage")
  }

  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int): DataFrame = {
    val b = lit(buckets.toLong)
    // feeds the model build AND the scoring pass
    val toks = Checkpointing.pin(docs
      .select(col("doc_id"), col("source"),
        explode(char_fold_array(tokenize(col("text")))).as("h"))
      .withColumn("b", pmod(col("h"), b)))
    val bucket = toks.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(isTarget, 1L).otherwise(0L)).as("ct"))
    val tot = bucket.agg(sum("cr").as("crt"), sum("ct").as("ctt"))
    // per-BUCKET log-ratio truncated to integer micro-units BEFORE the
    // per-doc sum (r11 advice): a double Σlr rounded to 4 decimals can
    // flip at a rounding boundary because Spark's partial-agg order
    // and DuckDB's summation order differ — integer addition is
    // associative, so the aggregate is exact and order-independent at
    // any parallelism (the same bargain the other c-queries strike
    // with integer milli-scores). The one double op per bucket is a
    // single deterministic expression, never an ordered reduction.
    // Residual hazard: JVM Math.log and DuckDB's libm may differ by
    // the last ulp, so a log-ratio landing within ~1e-10 of an integer
    // micro-unit could still truncate differently across engines —
    // order-independence is exact, engine-independence is
    // probabilistic (no boundary case observed on the shipped data).
    val model = bucket.crossJoin(broadcast(tot))
      .select(col("b"),
        ((log((col("ct") + lit(1.0)) / (col("ctt") + b.cast("double")))
          - log((col("cr") + lit(1.0)) / (col("crt") + b.cast("double"))))
          * lit(1e6)).cast("long").as("lr_micro"))
    toks.join(broadcast(model), Seq("b"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_toks"),
        sum("lr_micro").as("dsir_logw_micro"))
      .orderBy("doc_id")
  }

  /** Core of c4 over any (doc_id, text) frame — benchmark = doc_id
    * < 10, direct hit = ≥3 shared distinct shingles, then expansion
    * through the near-dup cluster key. See the query comment for the
    * scale shape. */
  def contaminationClusters(docs: DataFrame): DataFrame = {
    // ONE tokenize+shingle pass feeds the bench probe, the direct-hit
    // count, and the cluster-label derivation
    val sh = Checkpointing.pin(DedupQueries.shinglesOf(docs))
    val bench = sh.filter(col("doc_id") < 10).select("shash").distinct()
    // feeds bad-key derivation + the reason flag
    val hits = Checkpointing.pin(sh.filter(col("doc_id") >= 10)
      .join(broadcast(bench), Seq("shash"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= 3)
      .select("doc_id"))
    val keyed = docs.select("doc_id")
      .join(broadcast(DedupQueries.clusterLabelsFromShingles(sh)), Seq("doc_id"), "left")
      .withColumn("key", coalesce(col("cluster_id"), col("doc_id")))
    val badSeeds = hits.union(docs.filter(col("doc_id") < 10).select("doc_id"))
    val badKeys = keyed.join(broadcast(badSeeds), Seq("doc_id"))
      .select("key").distinct()
    keyed.filter(col("doc_id") >= 10)
      .join(broadcast(badKeys), Seq("key"))
      .join(broadcast(hits.withColumn("direct", lit(true))), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("direct"), lit("direct")).otherwise(lit("cluster")).as("reason"))
      .orderBy("doc_id")
  }

  /** Doc-level split assignment behind c3: (doc_id, lang, split_key,
    * split). Exposed for the no-straddle spec — the invariant is that
    * `split` is constant within every near-dup cluster. */
  def leakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    val labels = DedupQueries.clusterLabels(s, d)
    Tables.load(s, d, "documents").select("doc_id", "lang")
      .join(broadcast(labels), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("draw",
        pmod(char_fold(col("split_key").cast("string")), lit(100)))
      .withColumn("split",
        when(col("draw") < 80, "train")
          .when(col("draw") < 90, "valid")
          .otherwise("test"))
      .select("doc_id", "lang", "split_key", "split")
  }

  private def charFoldSqlOf(e: String): String = DedupQueries.charFoldSqlOf(e)

  def oracles: Map[String, String] = Map(
    "c1_corpus_clean" ->
      s"""WITH keepers AS (
            SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
          kd AS (
            SELECT d.doc_id, d.text,
              list_filter(string_split_regex(d.text, '\\s+'), x -> x <> '') AS ts
            FROM documents d JOIN keepers k USING (doc_id)),
          q AS (
            SELECT doc_id, text, ts, len(ts) AS n_tokens
            FROM kd
            WHERE len(ts) >= 10
              AND len(list_distinct(ts)) * 1.0 / len(ts) >= 0.3),
          tokens AS (
            SELECT doc_id, generate_subscripts(ts, 1) AS idx, unnest(ts) AS token
            FROM q),
          tok_hash AS (
            SELECT token, ${charFoldSqlOf("token")} AS h
            FROM (SELECT DISTINCT token FROM tokens)),
          tstream AS (
            SELECT doc_id, idx, h FROM tokens JOIN tok_hash USING (token)),
          sh AS (
            SELECT DISTINCT doc_id,
              ((h * 1000003 + h2) % 1000000007 * 1000003 + h3) % 1000000007 AS shash
            FROM (SELECT doc_id, h,
                    LEAD(h, 1) OVER w AS h2, LEAD(h, 2) OVER w AS h3
                  FROM tstream WINDOW w AS (PARTITION BY doc_id ORDER BY idx))
            WHERE h3 IS NOT NULL),
          hot AS (
            SELECT shash FROM sh GROUP BY shash
            HAVING COUNT(*) > ${DedupQueries.StopShingleMaxDf}),
          pruned AS (
            SELECT * FROM sh WHERE shash NOT IN (SELECT shash FROM hot)),
          cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS i
            FROM pruned x JOIN pruned y ON x.shash = y.shash AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
          dropped AS (
            SELECT DISTINCT db AS doc_id FROM (
              SELECT da, db, i * 1.0 / (ca.n + cb.n - i) AS j
              FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id)
            WHERE j >= 0.8)
          SELECT doc_id, n_tokens,
            ${charFoldSqlOf(TextQueries.scrubSqlOf("text"))} AS scrubbed_fp
          FROM q
          WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
          ORDER BY doc_id""",
    "c2_decontaminate" ->
      s"""WITH tokens AS (
            SELECT doc_id, generate_subscripts(ts, 1) AS idx, unnest(ts) AS token
            FROM (SELECT doc_id,
                    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
                  FROM documents)),
          tok_hash AS (
            SELECT token, ${charFoldSqlOf("token")} AS h
            FROM (SELECT DISTINCT token FROM tokens)),
          tstream AS (
            SELECT doc_id, idx, h FROM tokens JOIN tok_hash USING (token)),
          sh3 AS (
            SELECT DISTINCT doc_id,
              ((h * 1000003 + h2) % 1000000007 * 1000003 + h3) % 1000000007 AS sh
            FROM (SELECT doc_id, h,
                    LEAD(h, 1) OVER w AS h2, LEAD(h, 2) OVER w AS h3
                  FROM tstream WINDOW w AS (PARTITION BY doc_id ORDER BY idx))
            WHERE h3 IS NOT NULL),
          bench AS (SELECT DISTINCT sh FROM sh3 WHERE doc_id < 10)
          SELECT doc_id, COUNT(*) AS n_hits
          FROM sh3 JOIN bench USING (sh)
          WHERE doc_id >= 10
          GROUP BY 1 HAVING COUNT(*) >= 3
          ORDER BY doc_id""",
    // c3 = d5's CC chain → cluster-representative split key → the
    // sp3 hash split over the key → per-(lang, split) rollup
    "c3_leakage_safe_split" -> {
      val fold = DedupQueries.charFoldSqlOf("CAST(split_key AS VARCHAR)")
      s"""WITH RECURSIVE ${DedupQueries.ccCtes},
          cc AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
          assigned AS (
            SELECT d.doc_id, d.lang,
              COALESCE(cc.cluster_id, d.doc_id) AS split_key
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
          drawn AS (
            SELECT lang, split_key,
              CASE WHEN $fold % 100 < 80 THEN 'train'
                   WHEN $fold % 100 < 90 THEN 'valid'
                   ELSE 'test' END AS split
            FROM assigned)
          SELECT lang, split, COUNT(*) AS n_docs,
            COUNT(DISTINCT split_key) AS n_keys
          FROM drawn GROUP BY 1, 2 ORDER BY lang, split"""
    },
    // c4 = the d5 CC chain + c2's hit rule (over the same distinct
    // shingle CTE), expanded through cluster keys
    "c4_contamination_clusters" ->
      s"""WITH RECURSIVE ${DedupQueries.ccCtes},
          cc AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
          bench AS (SELECT DISTINCT shash FROM sh WHERE doc_id < 10),
          hits AS (
            SELECT doc_id FROM sh JOIN bench USING (shash)
            WHERE doc_id >= 10 GROUP BY doc_id HAVING COUNT(*) >= 3),
          keyed AS (
            SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS key
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
          badkeys AS (
            SELECT DISTINCT key FROM keyed
            WHERE doc_id IN (SELECT doc_id FROM hits) OR doc_id < 10)
          SELECT k.doc_id,
            CASE WHEN k.doc_id IN (SELECT doc_id FROM hits)
                 THEN 'direct' ELSE 'cluster' END AS reason
          FROM keyed k JOIN badkeys USING (key)
          WHERE k.doc_id >= 10
          ORDER BY k.doc_id""",
    // c5 = stage counts over c1's exact CTE chain (same thresholds)
    "c5_filter_funnel" ->
      s"""WITH keepers AS (
            SELECT MIN(doc_id) AS doc_id, text
            FROM documents GROUP BY text),
          kd AS (
            SELECT doc_id,
              list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
            FROM keepers),
          q AS (
            SELECT doc_id, ts FROM kd
            WHERE len(ts) >= 10
              AND len(list_distinct(ts)) * 1.0 / len(ts) >= 0.3),
          tokens AS (
            SELECT doc_id, generate_subscripts(ts, 1) AS idx, unnest(ts) AS token
            FROM q),
          tok_hash AS (
            SELECT token, ${charFoldSqlOf("token")} AS h
            FROM (SELECT DISTINCT token FROM tokens)),
          tstream AS (
            SELECT doc_id, idx, h FROM tokens JOIN tok_hash USING (token)),
          sh AS (
            SELECT DISTINCT doc_id,
              ((h * 1000003 + h2) % 1000000007 * 1000003 + h3) % 1000000007 AS shash
            FROM (SELECT doc_id, h,
                    LEAD(h, 1) OVER w AS h2, LEAD(h, 2) OVER w AS h3
                  FROM tstream WINDOW w AS (PARTITION BY doc_id ORDER BY idx))
            WHERE h3 IS NOT NULL),
          hot AS (
            SELECT shash FROM sh GROUP BY shash
            HAVING COUNT(*) > ${DedupQueries.StopShingleMaxDf}),
          pruned AS (
            SELECT * FROM sh WHERE shash NOT IN (SELECT shash FROM hot)),
          cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS i
            FROM pruned x JOIN pruned y ON x.shash = y.shash AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
          dropped AS (
            SELECT DISTINCT db AS doc_id FROM (
              SELECT da, db, i * 1.0 / (ca.n + cb.n - i) AS j
              FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id)
            WHERE j >= 0.8)
          SELECT stage, n_kept FROM (
            SELECT '0_total' AS stage, COUNT(*) AS n_kept FROM documents
            UNION ALL
            SELECT '1_exact_dedup', COUNT(*) FROM keepers
            UNION ALL
            SELECT '2_quality', COUNT(*) FROM q
            UNION ALL
            SELECT '3_near_dup', COUNT(*) FROM q
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
          ORDER BY stage""",
    // c6 — the same distinct-shingle CTE chain as d2/c4 feeds the
    // contamination flag; dup/quality flags are per-row arithmetic
    "c6_source_health" ->
      s"""WITH ${DedupQueries.shingleSql},
          bench AS (SELECT DISTINCT shash FROM sh WHERE doc_id < 10),
          contam AS (
            SELECT doc_id FROM sh JOIN bench USING (shash)
            WHERE doc_id >= 10 GROUP BY 1 HAVING COUNT(*) >= 3),
          keepers AS (SELECT text, MIN(doc_id) AS keeper FROM documents GROUP BY text),
          flags AS (
            SELECT d.source,
              CASE WHEN d.doc_id <> k.keeper THEN 1 ELSE 0 END AS dup,
              CASE WHEN len(ts) < 10
                     OR len(list_distinct(ts)) * 1.0 / len(ts) < 0.3
                   THEN 1 ELSE 0 END AS lowq,
              CASE WHEN d.doc_id IN (SELECT doc_id FROM contam)
                   THEN 1 ELSE 0 END AS contam
            FROM (SELECT doc_id, source, text,
                    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
                  FROM documents) d
            JOIN keepers k USING (text))
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(dup) AS BIGINT) AS n_dups,
            CAST(SUM(lowq) AS BIGINT) AS n_low_quality,
            CAST(SUM(contam) AS BIGINT) AS n_contaminated,
            CAST(SUM(dup) AS BIGINT) * 10000 // COUNT(*) AS dup_bp,
            CAST(SUM(lowq) AS BIGINT) * 10000 // COUNT(*) AS lowq_bp,
            CAST(SUM(contam) AS BIGINT) * 10000 // COUNT(*) AS contam_bp
          FROM flags GROUP BY source ORDER BY source""",
    "c7_dataset_card" ->
      """WITH t AS (
           SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS nt
           FROM documents),
         w AS (
           SELECT
             (SELECT COUNT(*) FROM documents) AS n_docs,
             CAST((SELECT SUM(nt) FROM t) AS BIGINT) AS n_tokens,
             (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
             (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources,
             (SELECT COUNT(*) - COUNT(DISTINCT text) FROM documents) AS n_exact_dups,
             (SELECT MAX(n_chars) FROM documents) AS max_doc_chars)
         SELECT stat, CAST(value AS BIGINT) AS value FROM (
           SELECT 'n_docs' AS stat, n_docs AS value FROM w
           UNION ALL SELECT 'n_tokens', n_tokens FROM w
           UNION ALL SELECT 'mean_doc_tokens', n_tokens // n_docs FROM w
           UNION ALL SELECT 'n_langs', n_langs FROM w
           UNION ALL SELECT 'n_sources', n_sources FROM w
           UNION ALL SELECT 'n_exact_dups', n_exact_dups FROM w
           UNION ALL SELECT 'max_doc_chars', max_doc_chars FROM w)
         ORDER BY stat""",

    // c8 — the same t23 scoring CTE, then a plain global window rank
    // (the oracle states the SEMANTICS; the engine's bucketed two-pass
    // rank is the scale spelling of the same order)
    "c8_curriculum" -> {
      s"""WITH ${TextQueries.qualityScoreCtes},
         r AS (
           SELECT s.doc_id, s.score_milli, d.n_chars,
             row_number() OVER (ORDER BY s.score_milli, s.doc_id) AS rn,
             COUNT(*) OVER () AS n
           FROM sc s JOIN documents d USING (doc_id))
         SELECT CAST((rn - 1) * 4 // n AS INT) AS stage,
           COUNT(*) AS n_docs,
           MIN(score_milli) AS min_score_milli,
           MAX(score_milli) AS max_score_milli,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM r GROUP BY 1 ORDER BY stage"""
    },
    // c9 — the shared hashed-token CTE (identical to the d6/d13
    // replay, so the feature space cannot drift from the engine's
    // char_fold), bucketed mod 4096; two smoothed histograms and the
    // per-doc log-likelihood-ratio sum in plain SQL
    "c9_dsir_weights" ->
      s"""WITH ${DedupQueries.shingleSql},
          feat AS (
            SELECT t.doc_id, d.source, t.h % 4096 AS b
            FROM tstream t JOIN documents d USING (doc_id)),
          bucket AS (
            SELECT b, COUNT(*) AS cr,
              SUM(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END) AS ct
            FROM feat GROUP BY 1),
          tot AS (SELECT SUM(cr) AS crt, SUM(ct) AS ctt FROM bucket),
          model AS (
            SELECT b,
              CAST(TRUNC((ln((ct + 1.0) / (ctt + 4096.0))
                - ln((cr + 1.0) / (crt + 4096.0))) * 1e6) AS BIGINT) AS lr_micro
            FROM bucket CROSS JOIN tot)
          SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_toks,
            CAST(SUM(lr_micro) AS BIGINT) AS dsir_logw_micro
          FROM feat JOIN model USING (b)
          GROUP BY 1, 2 ORDER BY doc_id""",

    // c10 — the prefix sum is a plain ordered window here; the engine's
    // two-pass bucket spelling must land on identical offsets
    "c10_pack_sequences" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
               x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM t)
         SELECT (cum - n_tokens) // 4096 AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
           (10000 * CAST(SUM(n_tokens) AS BIGINT)) // 4096 AS fill_bp
         FROM c GROUP BY 1 ORDER BY bin_id""",

    // c11 — the relational replay: per-doc distinct line hashes →
    // support count → common set; rebuild = ordinality-ordered
    // string_agg over the non-common lines (same char_fold both sides)
    "c11_line_dedup" ->
      s"""WITH ${TextQueries.crawlPageSql},
         ls AS (
           SELECT doc_id,
             list_filter(string_split(page, chr(10)), x -> x <> '') AS lines
           FROM page),
         dl AS (
           SELECT doc_id, unnest(list_distinct(list_transform(lines,
             x -> ${DedupQueries.charFoldSqlOf("x")}))) AS lh
           FROM ls),
         common AS (
           SELECT lh FROM dl GROUP BY lh
           HAVING COUNT(*) >= ${CrossDocLineK}),
         ex AS (
           SELECT doc_id, generate_subscripts(lines, 1) AS ord,
             unnest(lines) AS line
           FROM ls),
         exh AS (
           SELECT doc_id, ord, line,
             ${DedupQueries.charFoldSqlOf("line")} AS lh
           FROM ex)
         SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE c.lh IS NULL) AS BIGINT) AS n_kept,
           COALESCE(string_agg(e.line, chr(10) ORDER BY e.ord)
             FILTER (WHERE c.lh IS NULL), '') AS clean_text
         FROM exh e LEFT JOIN common c USING (lh)
         GROUP BY 1 ORDER BY doc_id""",

    // c12 — relational replay at occurrence grain: per-position span
    // hashes (the same fold-then-chain both sides) → duplicated spans
    // with their first (doc, pos) occurrence → every losing
    // occurrence marks its three positions removed → ordinality-
    // ordered rebuild of the rest
    "c12_span_dedup" ->
      s"""WITH ${TextQueries.crawlPageSql}, ${TextQueries.c4PageSql},
         ls AS (
           SELECT doc_id,
             list_filter(string_split(page, chr(10)), x -> x <> '') AS lines
           FROM c4page),
         ex AS (
           SELECT doc_id, generate_subscripts(lines, 1) AS ord,
             unnest(lines) AS line
           FROM ls),
         exh AS (
           SELECT doc_id, ord, line,
             ${DedupQueries.charFoldSqlOf("line")} AS lh
           FROM ex),
         sp AS (
           SELECT doc_id, ord,
             ((lh * 1000003 + lh2) % 1000000007 * 1000003 + lh3)
               % 1000000007 AS shash
           FROM (SELECT doc_id, ord, lh,
                   LEAD(lh, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lh2,
                   LEAD(lh, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lh3
                 FROM exh)
           WHERE lh3 IS NOT NULL),
         dupk AS (
           SELECT shash, doc_id AS kd, ord AS ki FROM (
             SELECT shash, doc_id, ord,
               COUNT(*) OVER (PARTITION BY shash) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY shash
                 ORDER BY doc_id, ord) AS rn
             FROM sp) WHERE cnt >= 2 AND rn = 1),
         removedpos AS (
           SELECT DISTINCT s.doc_id, s.ord + k.k AS ord
           FROM sp s JOIN dupk d USING (shash),
             (SELECT unnest([0, 1, 2]) AS k) k
           WHERE NOT (s.doc_id = d.kd AND s.ord = d.ki)),
         kept AS (
           SELECT e.doc_id, e.ord, e.line
           FROM ex e ANTI JOIN removedpos r USING (doc_id, ord))
         SELECT l.doc_id,
           CAST(len(l.lines) AS BIGINT) AS n_sentences,
           CAST(len(l.lines) - COUNT(k.ord) AS BIGINT) AS n_removed,
           COALESCE(string_agg(k.line, chr(10) ORDER BY k.ord), '')
             AS dedup_text
         FROM ls l LEFT JOIN kept k USING (doc_id)
         GROUP BY l.doc_id, len(l.lines) ORDER BY doc_id""",

    // c13 — exact integer replay: isqrt with the ±1 correction, the
    // budget/rate floor-divisions, and the char-fold ppm selection
    "c13_temperature_mix" ->
      s"""WITH docs AS (
           SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
               x -> x <> '')) AS BIGINT) AS n_toks
           FROM documents),
         per AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS stratum_tokens
           FROM docs GROUP BY 1),
         w0 AS (
           SELECT *, CAST(FLOOR(SQRT(CAST(stratum_tokens AS DOUBLE)))
             AS BIGINT) AS t0
           FROM per),
         wi AS (
           SELECT lang, n_docs, stratum_tokens,
             ${isqrtCorrectionSqlOf("t0", "stratum_tokens")} AS weight
           FROM w0),
         tot AS (
           SELECT CAST(SUM(weight) AS BIGINT) AS sum_w,
             CAST(SUM(stratum_tokens) AS BIGINT) AS tot_tokens
           FROM wi),
         rates AS (
           SELECT lang, n_docs, stratum_tokens, weight,
             LEAST(1000000, (1000000 * ((tot_tokens * $MixBudgetPct) // 100)
               * weight) // (sum_w * stratum_tokens)) AS rate_ppm
           FROM wi, tot),
         folds AS (
           SELECT lang, n_toks,
             ${DedupQueries.charFoldSqlOf(
               s"'$MixSalt' || CAST(doc_id AS VARCHAR)")} AS f
           FROM docs),
         keep AS (
           SELECT f.lang, f.n_toks
           FROM folds f JOIN rates r USING (lang)
           WHERE f.f * f.f % 1000000007 % 1000000 < r.rate_ppm),
         samp AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS sampled_docs,
             CAST(SUM(n_toks) AS BIGINT) AS sampled_tokens
           FROM keep GROUP BY 1)
         SELECT r.lang, r.n_docs, r.stratum_tokens, r.weight,
           CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
           COALESCE(s.sampled_docs, 0) AS sampled_docs,
           COALESCE(s.sampled_tokens, 0) AS sampled_tokens
         FROM rates r LEFT JOIN samp s USING (lang) ORDER BY lang""",

    // c14 — stage replay: the t34 gate (kept lines + page flags), then
    // the c12 span-dedup chain over the GATED text, one count+token
    // row per stage
    "c14_c4_funnel" ->
      s"""WITH ${TextQueries.crawlPageSql}, ${TextQueries.c4PageSql},
         d0 AS (SELECT doc_id, source, page AS text FROM c4page),
         gk AS (
           SELECT doc_id, source, page,
             COALESCE(array_to_string(list_filter(
               string_split(page, chr(10)), x ->
                 regexp_matches(x, '[.!?"]\\s*$$')
                 AND len(list_filter(string_split_regex(x, '\\s+'),
                   w -> w <> '')) >= ${TextQueries.C4MinLineWords}
                 AND NOT contains(lower(x), 'javascript')), chr(10)), '')
               AS kept_text
           FROM c4page),
         g AS (
           SELECT doc_id, source, kept_text AS text FROM gk
           WHERE NOT contains(page, 'lorem ipsum')
             AND NOT contains(page, '{')
             AND len(list_filter(list_filter(string_split_regex(page,
               '\\s+'), w -> w <> ''), w -> w IN (${TextQueries.C4BadWords
                 .map(w => s"'$w'").mkString(", ")}))) = 0
             AND len(regexp_extract_all(kept_text, '[.!?]'))
               >= ${TextQueries.C4MinSentences}),
         ls AS (
           SELECT doc_id,
             list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
           FROM g),
         ex AS (
           SELECT doc_id, generate_subscripts(lines, 1) AS ord,
             unnest(lines) AS line
           FROM ls),
         exh AS (
           SELECT doc_id, ord, line,
             ${DedupQueries.charFoldSqlOf("line")} AS lh
           FROM ex),
         sp AS (
           SELECT doc_id, ord,
             ((lh * 1000003 + lh2) % 1000000007 * 1000003 + lh3)
               % 1000000007 AS shash
           FROM (SELECT doc_id, ord, lh,
                   LEAD(lh, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lh2,
                   LEAD(lh, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lh3
                 FROM exh)
           WHERE lh3 IS NOT NULL),
         dupk AS (
           SELECT shash, doc_id AS kd, ord AS ki FROM (
             SELECT shash, doc_id, ord,
               COUNT(*) OVER (PARTITION BY shash) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY shash
                 ORDER BY doc_id, ord) AS rn
             FROM sp) WHERE cnt >= 2 AND rn = 1),
         removedpos AS (
           SELECT DISTINCT s.doc_id, s.ord + k.k AS ord
           FROM sp s JOIN dupk d USING (shash),
             (SELECT unnest([0, 1, 2]) AS k) k
           WHERE NOT (s.doc_id = d.kd AND s.ord = d.ki)),
         kept AS (
           SELECT e.doc_id, e.ord, e.line
           FROM ex e ANTI JOIN removedpos r USING (doc_id, ord)),
         d2 AS (
           SELECT doc_id,
             COALESCE(string_agg(line, chr(10) ORDER BY ord), '') AS text
           FROM kept GROUP BY doc_id),
         s0 AS (
           SELECT '0_total' AS stage, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(COALESCE(SUM(len(list_filter(string_split_regex(text,
               '\\s+'), x -> x <> ''))), 0) AS BIGINT) AS n_tokens
           FROM d0),
         s1 AS (
           SELECT '1_c4_gate' AS stage, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(COALESCE(SUM(len(list_filter(string_split_regex(text,
               '\\s+'), x -> x <> ''))), 0) AS BIGINT) AS n_tokens
           FROM g),
         s2 AS (
           SELECT '2_span_dedup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(COALESCE(SUM(len(list_filter(string_split_regex(text,
               '\\s+'), x -> x <> ''))), 0) AS BIGINT) AS n_tokens
           FROM d2 WHERE text <> '')
         SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL
         SELECT * FROM s2 ORDER BY stage"""
  )
}
