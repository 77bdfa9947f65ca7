package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashExprs.{alpha_token_count, bpe_encode_len, c4_keep_lines, char_fold, char_fold_array, char_syms, count_in, dup_elem_stats, dup_gram_chars, line_shape_stats, luhn_valid_count, shingle_hashes, subword_count, token_ngrams, tokenize, top_grams, winnow}
import graft.sources.Tables

/** Text-analysis operators for a large-scale training-data pipeline
  * (builder-prompt north star; beyond the reference's surface):
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * All computations are pure column expressions (whole-stage
  * codegen'd, no UDFs) and deterministic across engines — the
  * document hash is a char-fold polynomial hash expressible in both
  * Spark (`aggregate` higher-order function) and DuckDB
  * (`list_reduce`), kept < 2^63 by reducing mod 1e9+7 each step.
  */
object TextQueries {

  // tokens = non-empty whitespace splits — the compiled Tokenize
  // expression; the `filter(split(...))` spelling it replaces is a
  // CodegenFallback HOF that broke whole-stage codegen per projection

  // redaction patterns — RE2/Java-compatible subset so Spark and the
  // DuckDB oracle match byte-for-byte. The URL charclass is spelled
  // explicitly because \S is NOT engine-identical (Java's \s includes
  // vertical tab; RE2's does not).
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ \\t\\n\\x0B\\f\\r]+"
  val DigitsRe = "[0-9]{4,}"

  /** Gopher repetition thresholds (Rae et al. §A1.1, basis points): a
    * document whose single most frequent n-gram covers MORE than this
    * character share is flagged — 20%/18%/16% for 2/3/4-grams. */
  val GopherTopGramBp: Map[Int, Long] =
    Map(2 -> 2000L, 3 -> 1800L, 4 -> 1600L)

  /** Gopher duplicate-fraction thresholds (Rae et al. Table A1, basis
    * points) — the rest of the repetition suite beyond the top-gram
    * rows: a document is flagged when MORE than 30% of its lines /
    * paragraphs are duplicates (occurrences beyond the first), when
    * duplicated lines / paragraphs cover more than 20% of its
    * characters, or when ALL occurrences of any duplicated n-gram
    * cover more than 15%/14%/13%/12%/11%/10% of its characters for
    * n = 5..10. */
  val GopherDupLineBp: Long = 3000L
  val GopherDupParaBp: Long = 3000L
  val GopherDupLineCharBp: Long = 2000L
  val GopherDupParaCharBp: Long = 2000L
  val GopherDupGramBp: Map[Int, Long] = Map(
    5 -> 1500L, 6 -> 1400L, 7 -> 1300L, 8 -> 1200L, 9 -> 1100L, 10 -> 1000L)

  /** Gopher quality-rule thresholds (Rae et al. Table A1's QUALITY
    * half — t31/t32 carry the repetition half): keep a document only
    * when its word count sits in [50, 100000], its mean word length in
    * [3, 10] (×100 integer), its hash-or-ellipsis symbol-to-word ratio
    * at most 10%, bullet-started lines at most 90%, ellipsis-ended
    * lines at most 30%, at least 80% of words contain an alphabetic
    * character, and at least 2 distinct stop words appear. Bullet
    * spellings are the ASCII `- ` / `* ` prefixes and the ellipsis the
    * ASCII `...` — engine constants. The stop list keeps Rae et al.'s
    * rule SHAPE (≥2 distinct function words present) but is
    * corpus-matched: the published set (the/be/to/of/and/that/have/
    * with) intersects the synthetic vocabulary only at 'the', which
    * would flag every document identically — a constant column proves
    * nothing. With 'a'/'in' included both branches are live in the
    * oracle data. */
  val GopherMinWords: Long = 50L
  val GopherMaxWords: Long = 100000L
  val GopherMinMeanWlenC100: Long = 300L
  val GopherMaxMeanWlenC100: Long = 1000L
  val GopherSymbolBp: Long = 1000L
  val GopherBulletLineBp: Long = 9000L
  val GopherEllipsisLineBp: Long = 3000L
  val GopherAlphaWordBp: Long = 8000L
  val GopherStopWords: Seq[String] =
    Seq("the", "a", "in", "be", "to", "of", "and", "with")
  val GopherMinStopHits: Long = 2L

  /** C4 filter constants (Raffel et al. 2020 §2.2 — the other
    * canonical published cleaning recipe beside Gopher's): a LINE is
    * retained only when it ends in terminal punctuation, carries at
    * least 5 words, and does not mention javascript; a PAGE is dropped
    * when it contains `lorem ipsum`, a curly brace (code), any
    * blocklisted word, or fewer than 3 sentences AFTER line filtering.
    * The terminal-punctuation set (`.` `!` `?` `"`) lives in the
    * compiled reducer ([[graft.functions.HashOps.c4KeepLines]]); the
    * bad-word LIST keeps C4's rule shape but is corpus-matched (the
    * published list is thousands of entries; two suffice to make the
    * branch live in the oracle data). */
  val C4MinLineWords: Int = 5
  val C4MinSentences: Long = 3L
  val C4BadWords: Seq[String] = Seq("casino", "jackpot")

  /** CCNet LM-bucketing constants (t35 — Wenzek et al. 2020 §4.3:
    * score each document with a language-matched LM trained on a clean
    * reference, then split the corpus into head/middle/tail quality
    * buckets at FIXED per-run thresholds, computed once and pinned —
    * never a per-query percentile pass over the corpus). The reference
    * here is the `doc_id < 50` slice (every language present), the LM
    * the t21 add-1-smoothed bigram model at per-language grain, and
    * the thresholds mean-probability ppm values placing the synthetic
    * corpus roughly 30/40/30 (CCNet's own cuts are corpus-fraction
    * picks too). */
  val CcnetRefDocs: Long = 50L
  val CcnetHeadPpm: Double = 34000.0
  val CcnetMiddlePpm: Double = 31700.0

  /** Word-boundary sentinel for the t22 tokenizer-apply pipeline —
    * NUL never occurs in the corpus and never appears in any merge
    * pair, so merges cannot cross word boundaries. */
  val BpeBoundary: String = "\u0000"

  /** Shipped BPE tokenizer: the 24-round merge table produced by
    * [[Bpe.train]] (support desc, lexicographic (l, r) tie-break,
    * left-greedy apply) over the sf0.01 `documents` vocabulary,
    * FROZEN here as an engine artifact. A tokenizer is a model file:
    * training is [[Bpe.train]]'s job; applying a *fixed* tokenizer to
    * the whole corpus is the production workload t22 exercises. Rank
    * order is load-bearing — encode folds these pairs in order. */
  val PinnedMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "m" -> "er", "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar",
    "j" -> "o", "jo" -> "in", "a" -> "s", "as" -> "h", "h" -> "ash",
    "r" -> "ow", "at" -> "c", "atc" -> "h", "b" -> "atch", "a" -> "n",
    "c" -> "an", "s" -> "can", "c" -> "o", "c" -> "u")

  /** Pinned search phrases for t25 — 2- and 3-word conjunctive
    * position queries over the corpus vocabulary, plus one phrase
    * whose first term never occurs ("flink") to pin the zero-hit
    * path. Order is irrelevant (the query sorts by phrase). */
  val PinnedPhrases: Seq[String] = Seq(
    "table hash", "customer join", "merge group",
    "slow hash batch", "row column sort", "flink stream")

  /** Shipped linear quality model (t23): integer milli-weights per
    * term plus a +100 milli bias — the fastText-style classifier
    * surface with all arithmetic exact. */
  val ClassifierWeights: Seq[(String, Long)] = Seq(
    "data" -> 900L, "query" -> 800L, "vector" -> 700L, "stream" -> 600L,
    "spark" -> 500L, "window" -> 400L, "merge" -> 300L, "filter" -> 300L,
    "hash" -> 200L, "column" -> 200L,
    "a" -> -800L, "the" -> -700L, "dup" -> -1000L, "slow" -> -500L,
    "big" -> -300L, "small" -> -300L, "line" -> -200L, "fast" -> -200L,
    "value" -> -100L, "row" -> -100L)

  /** GPT-2-style pre-tokenizer pattern (t18): contraction suffixes,
    * then optionally-space-prefixed letter / digit / symbol runs.
    * Character classes are explicit ASCII ranges — no \s or \w — so
    * Java regex (Spark) and RE2 (DuckDB) segment identically. */
  val BpePretokenRe: String =
    "'(?:ll|ve|re|[sdmt])| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\r]+"

  /** Fixed-order redaction chain (emails → URLs → digit runs) shared
    * by t7 and [[CorpusPipeline]] — one definition so implementation
    * and oracle can't drift apart. */
  def scrubExpr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), UrlRe, "<URL>"),
      DigitsRe, "<NUM>")

  /** DuckDB spelling of [[scrubExpr]] over SQL expression `e`. */
  def scrubSqlOf(e: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($e, " +
      s"'$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g'), '$DigitsRe', '<NUM>', 'g')"

  /** Tracking query parameters dropped by [[urlCanonical]] — the
    * CCNet/RefinedWeb-style stage-0 normalization set: analytics
    * campaign tags (utm_*), ad-click ids (fbclid/gclid), referrer tags
    * and Mailchimp ids. Anchored, so `referrer=` / `UTM_SOURCE=`
    * survive (query keys are case-sensitive; only the canonical
    * lowercase spellings are tracking noise). */
  val TrackingParamRe: String =
    "^(utm_[a-z]+|fbclid|gclid|ref|mc_cid|mc_eid)="

  /** URL canonicalization — the crawl-corpus stage-0 normalize every
    * web pipeline runs BEFORE any content op (CCNet/RefinedWeb dedup
    * by canonical URL, then gate by domain): lowercase scheme+host,
    * treat http/https as one (canonical scheme is https — the dedup
    * identity must not split a page over its redirect pair), strip a
    * leading `www.`, strip default ports (:80/:443), drop the
    * fragment, drop [[TrackingParamRe]] query params, SORT surviving
    * params (param order is presentation, not identity), strip
    * trailing path slashes. Path case and non-default ports are
    * IDENTITY and survive untouched. Pure column expressions — regexp
    * extracts for the parts, a filter/sort HOF for the params — so the
    * whole normalize runs inside the scan projection with no UDF and
    * no shuffle; DuckDB replays it exactly ([[urlCanonSql]]). Inputs
    * that don't parse as `scheme://…` canonicalize to NULL: a single
    * non-null sentinel would collapse EVERY malformed-URL document
    * into one canonical group on real data and count them as
    * duplicates of each other — null never equals null in a groupBy
    * key only if excluded, so the d14 dedup filters null out and the
    * streaming gate passes such rows through. (The oracle's synthetic
    * URLs all parse by construction, so the null branch is pinned by
    * UrlCanonSpec rather than the DuckDB compare.) */
  def urlCanonical(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      "^www\\.", ""), ":(80|443)$", "")
    val path = regexp_replace(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
      "/+$", "")
    val q = regexp_extract(u, "^[^#?]*\\?([^#]*)", 1)
    val qs = array_join(array_sort(filter(split(q, "&"),
      x => x =!= lit("") && !x.rlike(TrackingParamRe))), "&")
    when(u.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"),
      concat(lit("https://"), host, path,
        when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
      .otherwise(lit(null).cast("string"))
  }

  /** Canonical registrable host of a URL column — the domain key for
    * per-domain rollups and blocklist gates (same host normalize as
    * [[urlCanonical]], same NULL-on-unparseable contract so malformed
    * URLs never pool under one '' pseudo-domain). */
  def urlDomain(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(u.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"),
      regexp_replace(regexp_replace(
        lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
        "^www\\.", ""), ":(80|443)$", ""))
      .otherwise(lit(null).cast("string"))

  // ── t29's extraction chain, factored as reusable column
  // expressions so the corpus funnel (CorpusPipeline.htmlGate) and the
  // streaming ingest guard (StreamGuards.htmlGated) run EXACTLY the
  // query's semantics — one definition, three consumers. All stateless
  // compiled-regex projections; see the t29 entry for rule rationale.

  /** Script/style/comment blocks removed whole (their payload is never
    * text) — anchors must extract from THIS form so a fake `<a>`
    * inside a script string never counts as a link. */
  private def htmlNoBlocks(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(raw,
      "(?is)<script\\b[^>]*>.*?</script>", " "),
      "(?is)<style\\b[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")

  /** Clean extracted text of an HTML column: block removal → tag
    * strip → single-pass entity decode (&amp; LAST) → whitespace
    * collapse. Identity on markup-free text. */
  def htmlClean(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val strippedTags = regexp_replace(htmlNoBlocks(raw), "<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(strippedTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""),
      "&#39;", "'"), "&nbsp;", " "), "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Characters inside `<a>` elements (tag-stripped inner text) — the
    * link-density numerator. */
  def htmlLinkChars(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(
      aggregate(
        regexp_extract_all(htmlNoBlocks(raw),
          lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1)),
        lit(0L), (acc, x) =>
          acc + length(regexp_replace(x, "<[^>]*>", "")).cast("long")),
      lit(0L))

  /** t29's gate label ('content' / 'boilerplate'): too-short extracted
    * text or link density ≥ 3000 bp is boilerplate. Thresholds are the
    * engine constants the t29 oracle pins. */
  def htmlLabel(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nClean = length(htmlClean(raw)).cast("long")
    when(nClean < 40, "boilerplate")
      .when(htmlLinkChars(raw) * 10000 >= nClean * 3000, "boilerplate")
      .otherwise("content")
  }

  /** Deterministic synthetic crawl URL per document — five messiness
    * variants (rotating by `doc_id DIV 20 % 5`) of a logical page
    * `https://{source}.example.com/docs/p{page}?id={page}`:
    * www + default port + trailing slash + utm, uppercase host, a
    * fragment, gclid + uppercase www, and an http://:80 spelling.
    * Sources split into two POPULATIONS so the d15 gate's every branch
    * is live in the oracle data, not just in planted specs: sources
    * src0–src9 (doc_id % 20 < 10) are DUP FARMS — page = doc_id DIV
    * 100, so docs ≡ k (mod 20) within one 100-block form 5-way
    * canonical-URL duplicate groups; sources src10–src19 publish one
    * unique page per doc (page = doc_id, dup ratio 0 → 'keep').
    * Shared by t30/d14/d15 and their oracles ([[urlCanonSql]]). */
  private[operators] def crawlUrlExpr: org.apache.spark.sql.Column = {
    val page = expr(
      "CAST(CASE WHEN doc_id % 20 < 10 THEN doc_id DIV 100 ELSE doc_id END AS STRING)")
    val v = expr("(doc_id DIV 20) % 5")
    when(v === 0, concat(lit("https://www."), col("source"),
        lit(".example.com:443/docs/p"), page, lit("/?utm_source=feed&id="), page))
      .when(v === 1, concat(lit("HTTPS://"), col("source"),
        lit(".Example.COM/docs/p"), page, lit("?id="), page, lit("&utm_medium=email")))
      .when(v === 2, concat(lit("https://"), col("source"),
        lit(".example.com/docs/p"), page, lit("?id="), page, lit("#sec2")))
      .when(v === 3, concat(lit("https://WWW."), col("source"),
        lit(".EXAMPLE.com/docs/p"), page, lit("?gclid=abc&id="), page))
      .otherwise(concat(lit("http://"), col("source"),
        lit(".example.com:80/docs/p"), page, lit("?id="), page))
  }

  /** DuckDB CTE chain `raw → canon(doc_id, source, raw_url, host,
    * url_canon)` — the oracle half of [[crawlUrlExpr]] +
    * [[urlCanonical]], shared by the t30/d14/d15 oracles. */
  private[operators] val urlCanonSql: String =
    s"""pg AS (
         SELECT doc_id, source,
           CAST(CASE WHEN doc_id % 20 < 10 THEN doc_id // 100
                     ELSE doc_id END AS VARCHAR) AS p
         FROM documents),
       raw AS (
         SELECT doc_id, source,
           CASE (doc_id // 20) % 5
             WHEN 0 THEN 'https://www.' || source || '.example.com:443/docs/p'
               || p || '/?utm_source=feed&id=' || p
             WHEN 1 THEN 'HTTPS://' || source || '.Example.COM/docs/p'
               || p || '?id=' || p || '&utm_medium=email'
             WHEN 2 THEN 'https://' || source || '.example.com/docs/p'
               || p || '?id=' || p || '#sec2'
             WHEN 3 THEN 'https://WWW.' || source || '.EXAMPLE.com/docs/p'
               || p || '?gclid=abc&id=' || p
             ELSE 'http://' || source || '.example.com:80/docs/p'
               || p || '?id=' || p
           END AS raw_url
         FROM pg),
       parts AS (
         SELECT doc_id, source, raw_url,
           regexp_replace(regexp_replace(
             lower(regexp_extract(raw_url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
             '^www\\.', ''), ':(80|443)$$', '') AS host,
           regexp_replace(regexp_extract(raw_url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
             '/+$$', '') AS path,
           array_to_string(list_sort(list_filter(
             string_split(regexp_extract(raw_url, '^[^#?]*\\?([^#]*)', 1), '&'),
             x -> x <> '' AND NOT regexp_matches(x, '$TrackingParamRe'))),
             '&') AS qs
         FROM raw),
       canon AS (
         SELECT doc_id, source, raw_url, host,
           'https://' || host || path ||
             CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url_canon
         FROM parts)"""

  /** Deterministic synthetic crawl PAGE per document — the multi-line
    * companion of [[crawlUrlExpr]] (the stored `documents.text` is
    * single-line, so the line/paragraph-grain operators t32/t33/c11
    * would read trivially zero on it; like the URL family, the
    * messiness is constructed deterministically IN the query so every
    * branch is live in the oracle data, not just in planted specs). A
    * page is paragraph blocks joined by a blank line (`\n\n`):
    * a nav paragraph identical across ALL documents, the document's
    * own text as the body, for `doc_id % 5 = 0` a promo paragraph of
    * `1 + doc_id % 6` identical "subscribe..." lines (the intra-doc
    * duplicate-LINE signal), duplicated WHOLE for `doc_id % 10 = 0`
    * (the duplicate-PARAGRAPH signal), for `doc_id % 7 = 0` a
    * bullet-list paragraph of `1 + doc_id % 4` per-doc-unique
    * `- item k #p<id>` lines (t33's bullet-line and #-symbol
    * signals), for `doc_id % 9 = 0` a two-line teaser ending in `...`
    * (t33's ellipsis signals; its second line `continued...` is
    * cross-doc common, feeding c11), and a per-source footer (the
    * cross-doc boilerplate c11 removes: shared by every doc of the
    * source). Shared by t32/t33/c11 and their oracles
    * ([[crawlPageSql]]). */
  private[graft] def crawlPageExpr: org.apache.spark.sql.Column = {
    val nav = lit("Home | About | Contact")
    val footer = concat(lit("(c) "), col("source"), lit(" syndication network"))
    val promo = expr(
      "array_join(array_repeat('subscribe now for daily updates', " +
        "CAST(1 + doc_id % 6 AS INT)), '\n')")
    val emptyS = expr("CAST(array() AS ARRAY<STRING>)")
    val promoBlocks = when(expr("doc_id % 10 = 0"), array(promo, promo))
      .when(expr("doc_id % 5 = 0"), array(promo))
      .otherwise(emptyS)
    val bullets = when(expr("doc_id % 7 = 0"), array(expr(
        "array_join(transform(sequence(1, CAST(1 + doc_id % 4 AS INT)), " +
          "k -> concat('- item ', CAST(k AS STRING), ' #p', " +
          "CAST(doc_id AS STRING))), '\n')")))
      .otherwise(emptyS)
    val teaser = when(expr("doc_id % 9 = 0"), array(expr(
        "concat('read more about p', CAST(doc_id AS STRING), " +
          "'...\ncontinued...')")))
      .otherwise(emptyS)
    array_join(
      concat(array(nav, col("text")), promoBlocks, bullets, teaser,
        array(footer)),
      "\n\n")
  }

  /** DuckDB CTE `page(doc_id, source, page)` — the oracle half of
    * [[crawlPageExpr]], shared by the t32/t33/c11 oracles. */
  private[operators] val crawlPageSql: String =
    """page AS (
         SELECT doc_id, source,
           array_to_string(list_concat(list_concat(list_concat(list_concat(
             ['Home | About | Contact', text],
             CASE WHEN doc_id % 10 = 0 THEN [promo, promo]
                  WHEN doc_id % 5 = 0 THEN [promo]
                  ELSE [] END),
             CASE WHEN doc_id % 7 = 0 THEN [array_to_string(
                 list_transform(generate_series(1, 1 + doc_id % 4),
                   k -> '- item ' || k || ' #p' || doc_id), chr(10))]
               ELSE [] END),
             CASE WHEN doc_id % 9 = 0 THEN ['read more about p' || doc_id
                 || '...' || chr(10) || 'continued...']
               ELSE [] END),
             ['(c) ' || source || ' syndication network']),
             chr(10) || chr(10)) AS page
         FROM (
           SELECT *,
             array_to_string(list_transform(range(1 + doc_id % 6),
               x -> 'subscribe now for daily updates'), chr(10)) AS promo
           FROM documents))"""

  /** The C4 test page: [[crawlPageExpr]] EXTENDED with the paragraph
    * shapes the C4 rules key on, appended so t32/t33/c11's shared page
    * stays byte-identical. The corpus text carries no punctuation at
    * all, so without these every line would fail the
    * terminal-punctuation rule and the suite would read one constant
    * column. Additions (each an engine-constant mod so every branch is
    * live in oracle data): a prose paragraph of `1 + doc_id % 5`
    * proper sentences (absent for `doc_id % 23 = 0` — the
    * too-few-sentences branch), a per-SOURCE 3-sentence editorial
    * paragraph for `doc_id % 4 = 1` (the cross-document duplicate
    * three-sentence SPAN c12 deduplicates — C4's dedup grain), a
    * `too short.` line for `% 21 = 0` (punctuated but under the word
    * floor), a code paragraph for `% 13 = 0` (curly-brace page flag +
    * a javascript line the line rule alone must drop), a blocklisted
    * sentence for `% 17 = 0`, and a `lorem ipsum` sentence for
    * `% 19 = 0`. Shared by t34/c12 and their oracles ([[c4PageSql]]). */
  private[graft] def c4PageExpr: org.apache.spark.sql.Column = {
    val emptyS = expr("CAST(array() AS ARRAY<STRING>)")
    val prose = when(expr("doc_id % 23 = 0"), emptyS).otherwise(array(expr(
      "array_join(transform(sequence(1, CAST(1 + doc_id % 5 AS INT)), " +
        "k -> concat('the nightly pipeline publishes dataset number ', " +
        "CAST(doc_id * 7 + k AS STRING), ' after careful review.')), '\n')")))
    val editorial = when(expr("doc_id % 4 = 1"), array(concat(
        lit("we publish fresh data stories every day.\n" +
          "our editors review every article carefully.\nfollow "),
        col("source"), lit(" for the best daily insights."))))
      .otherwise(emptyS)
    val tooShort = when(expr("doc_id % 21 = 0"), array(lit("too short.")))
      .otherwise(emptyS)
    val code = when(expr("doc_id % 13 = 0"), array(lit(
        "function render() { return data; }\n" +
          "please enable javascript to view this page.")))
      .otherwise(emptyS)
    val bad = when(expr("doc_id % 17 = 0"),
      array(lit("win big money at the casino tonight."))).otherwise(emptyS)
    val lorem = when(expr("doc_id % 19 = 0"),
      array(lit("lorem ipsum dolor sit amet consectetur."))).otherwise(emptyS)
    array_join(
      concat(array(crawlPageExpr), prose, editorial, tooShort, code, bad,
        lorem),
      "\n\n")
  }

  /** DuckDB CTE `c4page(doc_id, source, page)` — the oracle half of
    * [[c4PageExpr]]; prepend [[crawlPageSql]]. */
  private[operators] val c4PageSql: String =
    """c4page AS (
         SELECT doc_id, source,
           array_to_string(flatten([
             [page],
             CASE WHEN doc_id % 23 = 0 THEN []
               ELSE [array_to_string(list_transform(
                 generate_series(1, 1 + doc_id % 5),
                 k -> 'the nightly pipeline publishes dataset number '
                   || (doc_id * 7 + k) || ' after careful review.'),
                 chr(10))] END,
             CASE WHEN doc_id % 4 = 1 THEN
                 ['we publish fresh data stories every day.' || chr(10)
                   || 'our editors review every article carefully.'
                   || chr(10) || 'follow ' || source
                   || ' for the best daily insights.']
               ELSE [] END,
             CASE WHEN doc_id % 21 = 0 THEN ['too short.'] ELSE [] END,
             CASE WHEN doc_id % 13 = 0 THEN
                 ['function render() { return data; }' || chr(10)
                   || 'please enable javascript to view this page.']
               ELSE [] END,
             CASE WHEN doc_id % 17 = 0
               THEN ['win big money at the casino tonight.'] ELSE [] END,
             CASE WHEN doc_id % 19 = 0
               THEN ['lorem ipsum dolor sit amet consectetur.'] ELSE [] END]),
             chr(10) || chr(10)) AS page
         FROM page)"""

  /** Shared t3/t20 front end: per-doc stopword scores + the guess
    * cascade, with the ground-truth label carried alongside. */
  private def langGuess(s: SparkSession, d: String): DataFrame = {
    val en = regexp_count(col("text"), lit("\\b(the|a|of)\\b"))
    val fr = regexp_count(col("text"), lit("\\b(le|la|et|un)\\b"))
    val es = regexp_count(col("text"), lit("\\b(el|los|y|una)\\b"))
    val de = regexp_count(col("text"), lit("\\b(der|die|und|ein)\\b"))
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        en.as("s_en"), fr.as("s_fr"), es.as("s_es"), de.as("s_de"))
      .withColumn("lang_guess",
        when(col("s_en") >= greatest(col("s_fr"), col("s_es"), col("s_de")), "en")
          .when(col("s_fr") >= greatest(col("s_es"), col("s_de")), "fr")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
  }

  /** DuckDB spelling of [[langGuess]]'s score CTE + guess cascade —
    * one definition feeds both the t3 and t20 oracles. */
  private val langGuessSql: String =
    """s AS (
         SELECT doc_id, lang,
           len(regexp_extract_all(text, '\b(the|a|of)\b')) AS s_en,
           len(regexp_extract_all(text, '\b(le|la|et|un)\b')) AS s_fr,
           len(regexp_extract_all(text, '\b(el|los|y|una)\b')) AS s_es,
           len(regexp_extract_all(text, '\b(der|die|und|ein)\b')) AS s_de
         FROM documents),
       g AS (
         SELECT doc_id, lang, s_en, s_fr, s_es, s_de,
           CASE WHEN s_en >= GREATEST(s_fr, s_es, s_de) THEN 'en'
                WHEN s_fr >= GREATEST(s_es, s_de) THEN 'fr'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS lang_guess
         FROM s)"""

  /** The t35 reference LM in MAP form, one row per language —
    * `(lang, bigram_p, w1_p, p_default)` — for the streaming gate
    * ([[graft.streaming.StreamGuards.ccnetBucketed]]): a document's
    * score becomes a pure in-row lookup chain
    * `coalesce(bigram_p[b], w1_p[w1(b)], p_default)` over its own
    * bigrams, exactly the add-1 smoothing cases of the t35 join
    * spelling — seen bigram `(c+1)/(u+v)`, unseen bigram with seen
    * first word `1/(u+v)`, unseen word `1/v` — so gate scores equal
    * report scores bit for bit (same doubles, same sorted-fold sum).
    * The model is reference-sized (tiny by definition): broadcast. */
  def ccnetModel(docs: DataFrame): DataFrame = {
    val toks = docs.filter(col("doc_id") < CcnetRefDocs)
      .select(col("lang"), tokenize(col("text")).as("ts"))
    val bi = toks
      .select(col("lang"), explode(token_ngrams(col("ts"), 2)).as("bigram"))
    val uni = toks.select(col("lang"), explode(col("ts")).as("w1"))
      .groupBy("lang", "w1").agg(count(lit(1)).as("u"))
    val vocab = uni.groupBy("lang").agg(count(lit(1)).as("v"))
    val bigP = bi.groupBy("lang", "bigram").agg(count(lit(1)).as("c"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(uni, Seq("lang", "w1"))
      .join(vocab, Seq("lang"))
      .withColumn("p", (col("c") + lit(1)).cast("double") /
        (col("u") + col("v")).cast("double"))
      .groupBy("lang")
      .agg(map_from_entries(collect_list(struct(col("bigram"), col("p"))))
        .as("bigram_p"))
    val w1P = uni.join(vocab, Seq("lang"))
      .withColumn("p", lit(1.0) / (col("u") + col("v")).cast("double"))
      .groupBy("lang")
      .agg(map_from_entries(collect_list(struct(col("w1"), col("p"))))
        .as("w1_p"))
    bigP.join(w1P, Seq("lang"))
      .join(vocab.select(col("lang"),
        (lit(1.0) / col("v").cast("double")).as("p_default")), Seq("lang"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // token counting: whitespace tokens + distinct + a BPE-ish
    // subword proxy (4-char chunks) per document
    "t1_token_count" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .withColumn("tokens", tokenize(col("text")))
        .select(
          col("doc_id"),
          size(col("tokens")).as("n_tokens"),
          size(array_distinct(col("tokens"))).as("n_distinct"),
          length(col("text")).as("n_chars_text"),
          subword_count(col("tokens")).as("n_subwords"))
        .orderBy("doc_id")
    },

    // quality scoring: length/diversity/stopword ratios → one score
    "t2_quality_score" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .withColumn("tokens", tokenize(col("text")))
        .withColumn("n_tokens", size(col("tokens")))
        .withColumn("n_distinct", size(array_distinct(col("tokens"))))
        .withColumn("n_stop",
          count_in(col("tokens"), Seq("the", "a", "of", "and", "in")).cast("int"))
        .select(
          col("doc_id"),
          col("n_tokens"),
          round(col("n_distinct") / col("n_tokens"), 4).as("diversity"),
          round(col("n_stop") / col("n_tokens"), 4).as("stopword_ratio"),
          round(
            least(col("n_tokens") / lit(100.0), lit(1.0)) * 0.4
              + (col("n_distinct") / col("n_tokens")) * 0.4
              + (lit(1.0) - col("n_stop") / col("n_tokens")) * 0.2, 4).as("quality"))
        .orderBy("doc_id")
    },

    // language ID: marker-token scoring (n-gram heuristic), argmax
    // with a fixed tie-break order. Deterministic classification —
    // the oracle checks the classifier, not ground truth.
    "t3_lang_id" -> { (s, d) =>
      langGuess(s, d)
        .select("doc_id", "s_en", "s_fr", "s_es", "s_de", "lang_guess")
        .orderBy("doc_id")
    },

    // bigram frequency profile: top-25 token bigrams corpus-wide.
    // Bigrams are composed INSIDE the token array (compiled
    // expression) and exploded once — no positioned explode, no
    // per-doc LEAD window sort; the only shuffle is the count groupBy
    // (map-side partials first).
    "t5_bigram_freq" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(explode(token_ngrams(tokenize(col("text")), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(25)
    },

    // character-class composition per document (quality signal:
    // alpha/digit/space/punct ratios)
    "t6_charclass" -> { (s, d) =>
      val len = length(col("text"))
      def ratio(pattern: String) =
        round(length(regexp_replace(col("text"), pattern, "")) / len.cast("double"), 4)
      Tables.load(s, d, "documents")
        .select(
          col("doc_id"),
          len.as("n_chars"),
          ratio("[^a-zA-Z]").as("alpha_ratio"),
          ratio("[^0-9]").as("digit_ratio"),
          ratio("[^ ]").as("space_ratio"))
        .orderBy("doc_id")
    },

    // document fingerprinting: char-fold rolling hash of the full
    // text, mod 1e9+7 (cross-engine exact). Compiled Catalyst
    // expression — the interpreted `aggregate(split(...))` spelling
    // allocates a per-char array and lambda-evals per element.
    "t4_fingerprint" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), char_fold(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    },

    // PII-style scrubbing (training-data cleaning): redact emails,
    // URLs, and long digit runs; report per-doc redaction counts +
    // the fingerprint of the scrubbed text. Counts run on the
    // ORIGINAL text; replacements apply in a fixed order so the
    // scrubbed fingerprint is engine-independent.
    "t7_redact" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit(TextQueries.EmailRe)).as("n_emails"),
          regexp_count(col("text"), lit(TextQueries.UrlRe)).as("n_urls"),
          regexp_count(col("text"), lit(TextQueries.DigitsRe)).as("n_numbers"),
          char_fold(TextQueries.scrubExpr(col("text"))).as("scrubbed_fp"))
        .orderBy("doc_id")
    },

    // TF-IDF-style salient terms: top-3 terms per document ranked by
    // term frequency desc, document frequency asc (rarer = more
    // salient), term asc — the integer-exact rank spelling of TF-IDF
    // (no floating-point log, so the oracle matches bit-for-bit).
    // Scale shape: tf is one in-row explode + count; df is a distinct
    // + count over (term, doc) — both hash aggregates; the final
    // per-doc top-3 is a window over per-doc groups.
    "t9_salient_terms" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.load(s, d, "documents")
        .select(col("doc_id"), explode(tokenize(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df_ = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(df_, Seq("term"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("tf").desc, col("df").asc, col("term").asc)))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
        .orderBy("doc_id", "rank")
    },

    // winnowing fingerprints (MOSS): per document, the distinct
    // sliding-window minima over the 3-token shingle-hash stream
    // (window w=4). The standard robust near-dup fingerprint — a
    // shared run of >= w+2 tokens guarantees a shared fingerprint.
    // One compiled deque pass per doc; the per-doc fp dedup rides
    // array_distinct IN-ROW (the winnow array holds every fp of the
    // doc), so only the output sort shuffles (r19).
    "t8_winnow_fp" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(
            winnow(shingle_hashes(char_fold_array(tokenize(col("text"))), 3), 4))).as("fp"))
        .orderBy("doc_id", "fp")
    },

    // ── t10: fuzzy string matching (FULL edit distance ≤ 1 —
    // substitution, insertion, and deletion) via pigeonhole
    // half-banding across length groups. Within a candidate group
    // whose shorter length is n and k = n div 2, a single edit at
    // position p leaves either the length-k prefix (p >= k) or the
    // length-(n-k) suffix (p < k) EXACTLY equal. So each string of
    // length L emits band keys in two groups — g = L (it is the
    // shorter/equal side of a pair) and g = L-1 (it is the longer
    // side of a ±1 pair) — and candidate generation is a complete
    // equi-join on (g, band, key); the quadratic levenshtein verify
    // runs only inside bands, never all-pairs.
    "t10_edit_distance" -> { (s, d) =>
      val names = Tables.load(s, d, "customer")
        .filter(col("c_custkey") < 150)
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          length(col("c_name")).as("len"))
      val banded = names.select(
        col("k"), col("name"),
        explode(expr(
          """array(
               named_struct('g', len,     'band', 1, 'key', substring(name, 1, len div 2)),
               named_struct('g', len,     'band', 2, 'key', substring(name, len div 2 + 1)),
               named_struct('g', len - 1, 'band', 1, 'key', substring(name, 1, (len - 1) div 2)),
               named_struct('g', len - 1, 'band', 2, 'key', substring(name, (len - 1) div 2 + 2)))"""))
          .as("bh"))
        .select(col("k"), col("name"),
          col("bh.g").as("g"), col("bh.band").as("band"), col("bh.key").as("key"))
      val a = banded.select(col("k").as("a_key"), col("name").as("a_name"),
        col("g"), col("band"), col("key"))
      val b = banded.select(col("k").as("b_key"), col("name").as("b_name"),
        col("g"), col("band"), col("key"))
      a.join(b, Seq("g", "band", "key"))
        .filter(col("a_key") < col("b_key"))
        .select("a_key", "b_key", "a_name", "b_name")
        .distinct() // a pair can agree in both bands / both groups
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
        .filter(col("dist") <= 1)
        .select("a_key", "b_key", "dist")
        .orderBy("a_key", "b_key")
    },

    // ── t11: per-source lexical diversity — token totals, distinct
    // vocabulary, and type-token ratio. One explode + one partial-agg
    // groupBy; the distinct count shuffles only (source, token) pairs.
    "t11_type_token_ratio" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("source"), explode(tokenize(col("text"))).as("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"), countDistinct("tok").as("n_types"))
        .withColumn("ttr", round(col("n_types") / col("n_tokens"), 4))
        .orderBy("source")
    },

    // ── t12: inverted-index posting lists — term → ordered doc-id
    // list, restricted to the mid-frequency vocabulary band (df 3–8)
    // that search/linking actually indexes. One distinct + one
    // groupBy; the posting list is sorted IN the row (numeric sort
    // before stringify — string sort would misorder ids).
    "t12_posting_lists" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), explode(tokenize(col("text"))).as("term"))
        .distinct()
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          expr("array_join(transform(sort_array(collect_list(doc_id)), x -> CAST(x AS STRING)), ',')")
            .as("postings"))
        .filter(col("df").between(3, 8))
        .orderBy("term")
    },

    // ── t13: token co-occurrence counts. The all-pairs explosion is
    // tamed the same way the dedup family tames hot shingles: pair
    // generation runs only over a df-banded vocabulary (5 ≤ df ≤ 50 —
    // broadcast-sized), so a stopword like 'the' can never fan out
    // n_docs² pairs; the self-join is an equi-join on doc_id with
    // per-doc token lists already deduplicated.
    "t13_cooccur" -> { (s, d) =>
      val toksD = Tables.load(s, d, "documents")
        .select(col("doc_id"), explode(tokenize(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 4)
        .distinct()
      val vocab = toksD.groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df").between(5, 50))
        .select("tok")
      val banded = toksD.join(broadcast(vocab), Seq("tok"))
      val a = banded.select(col("doc_id"), col("tok").as("ta"))
      val b = banded.select(col("doc_id"), col("tok").as("tb"))
      a.join(b, Seq("doc_id"))
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 5)
        .orderBy("ta", "tb")
    },

    // ── t14: token-window chunking with overlap — the transform that
    // turns raw documents into fixed-size training examples (chunk
    // size 50 tokens, stride 40 → 10-token overlap). Chunk windows
    // are composed INSIDE the row (`sequence` of chunk starts →
    // `slice` of the token array), so the only explode is one row per
    // chunk — no window function, no per-doc sort, no shuffle at all
    // until the output sort. At 100 TB this is a pure map-side
    // transform that scales with input bytes; emitting the md5 digest
    // of each chunk (rather than the chunk text) keeps the verified
    // output narrow while still pinning the exact chunk CONTENT.
    // Every document yields >= 1 chunk (short docs pass through
    // whole), and the last window is the clamped tail — no token is
    // dropped, adjacent chunks share exactly size-stride tokens.
    "t14_chunking" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .withColumn("toks", tokenize(col("text")))
        .withColumn("n", size(col("toks")))
        // ceil((n - size) / stride) + 1 clamped to >= 1, in exact
        // integer arithmetic (`div`, not `/` which is double in Spark)
        .withColumn("nchunks",
          expr("CASE WHEN n <= 50 THEN 1 ELSE (n - 50 + 39) div 40 + 1 END"))
        .select(col("doc_id"),
          explode(expr("sequence(0, nchunks - 1)")).as("chunk_id"), col("toks"))
        .select(col("doc_id"), col("chunk_id"),
          expr("slice(toks, chunk_id * 40 + 1, 50)").as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).as("chunk_len"),
          md5(concat_ws(" ", col("chunk"))).as("digest"))
        .orderBy("doc_id", "chunk_id")
    },

    // ── t15: sequence packing — greedy contiguous packing of chunks
    // into 512-token training sequences, the step that turns a chunked
    // corpus into fixed-budget batches without padding waste. Packing
    // is SHARD-LOCAL (shard = doc_id mod 8): a global running sum
    // would serialize the corpus through one partition; per-shard
    // cumulative sums keep every shard independent — at 100 TB shard
    // count scales with the cluster and each bin is still
    // deterministic. bin = floor(tokens-before-this-chunk / 512) in
    // exact integers; the rollup reports per-bin fill.
    "t15_sequence_packing" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id", "chunk_id")
      Tables.load(s, d, "documents")
        .withColumn("toks", tokenize(col("text")))
        .withColumn("n", size(col("toks")))
        .withColumn("nchunks",
          expr("CASE WHEN n <= 50 THEN 1 ELSE (n - 50 + 39) div 40 + 1 END"))
        .select(col("doc_id"),
          explode(expr("sequence(0, nchunks - 1)")).as("chunk_id"), col("n"))
        .withColumn("chunk_len",
          expr("CASE WHEN n - chunk_id * 40 > 50 THEN 50 ELSE n - chunk_id * 40 END"))
        .withColumn("shard", col("doc_id") % 8)
        .withColumn("before",
          sum("chunk_len").over(w) - col("chunk_len")) // running sum EXCLUSIVE
        .withColumn("bin", expr("before div 512"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_chunks"),
          sum("chunk_len").as("n_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("shard", "bin")
    },

    // ── t16: repetition filter (Gopher-style quality rule): the
    // fraction of bigram OCCURRENCES that are duplicates of an
    // earlier one in the same doc. Spam/boilerplate scores high;
    // prose scores near 0. Entirely IN-ROW: bigrams composed inside
    // the token array, counted with size/array_distinct — no explode,
    // no groupBy, no shuffle anywhere before the output sort. The
    // per-doc quality signals (t1/t2/t6/t16) all share this
    // embarrassingly-parallel shape: at 100 TB they run at scan speed.
    "t16_repetition" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .withColumn("bgs", token_ngrams(tokenize(col("text")), 2))
        .filter(size(col("bgs")) > 0)
        .select(col("doc_id"), size(col("bgs")).as("n_bigrams"),
          size(array_distinct(col("bgs"))).as("n_distinct"))
        .withColumn("dup_ratio",
          round((col("n_bigrams") - col("n_distinct")) / col("n_bigrams").cast("double"), 4))
        .withColumn("flagged", col("dup_ratio") > 0.2)
        .orderBy("doc_id")
    },

    // ── t31: Gopher top-n-gram repetition (Rae et al. §A1.1, reused
    // verbatim by FineWeb): the fraction of a document's CHARACTERS
    // covered by occurrences of its single most frequent n-gram, for
    // n = 2/3/4 — the named repetition filter (t16's distinct-bigram
    // ratio is a different, cheaper signal; this one catches a doc
    // whose bigrams are individually distinct but one phrase
    // dominates). The top-gram share is a PER-DOCUMENT statistic, so
    // the whole computation is one compiled reducer riding the scan
    // projection ([[graft.functions.HashOps.topGrams]] — t24's
    // Luhn-reducer idiom): per-doc gram hash map + running argmax
    // with the max(struct(cnt, gram)) tie-break, all three gram sizes
    // in one call, then a 3-element `inline` for the (doc, n) output
    // grain. No gram explode, no aggregate, ZERO exchanges before the
    // output sort — the former explode→count→argmax spelling paid two
    // global shuffles carrying ~3× the corpus token volume for a
    // quantity each row computes alone. Tie-break = largest gram
    // string (deterministic both engines). Shares are integer basis
    // points; occurrences may overlap so a degenerate doc can read
    // > 10000 bp — kept uncapped, as the published filter does.
    "t31_gopher_repetition" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          inline(top_grams(tokenize(col("text")))))
        .select(col("doc_id"), col("n"),
          col("gram").as("top_gram"),
          col("cnt").as("top_count"),
          expr("(10000 * cnt * length(gram)) DIV n_chars")
            .as("top_share_bp"))
        .withColumn("flagged",
          col("top_share_bp") > when(col("n") === 2, GopherTopGramBp(2))
            .when(col("n") === 3, GopherTopGramBp(3))
            .otherwise(GopherTopGramBp(4)))
        .orderBy("doc_id", "n")
    },

    // ── t32: the REST of the Gopher repetition suite (Rae et al.
    // Table A1 rows t31 doesn't cover, the rules CCNet/RefinedWeb/
    // FineWeb apply before anything else): duplicate-line and
    // duplicate-paragraph fractions (occurrences beyond the first,
    // count- and character-weighted) plus the duplicate n-gram
    // character fraction for n = 5..10 (ALL occurrences of any
    // duplicated n-gram — not the top one, t31's different signal).
    // Runs over the synthetic crawl PAGE (crawlPageExpr — the stored
    // text is single-line) and is a pure scan projection end to end:
    // three compiled per-doc reducers (dup_gram_chars, dup_elem_stats
    // over lines, dup_elem_stats over paragraphs) — no explode, no
    // aggregate, no window, zero exchanges before the output sort.
    // All shares are integer basis points over the page's OWN length
    // (Gopher normalizes by document characters). A doc can pass t31
    // (no single dominant gram) while failing the dup-5-gram coverage
    // here — the planted spec pins that contrast.
    "t32_gopher_dup_fractions" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), crawlPageExpr.as("page"))
        .select(col("doc_id"),
          length(col("page")).cast("long").as("page_chars"),
          dup_gram_chars(tokenize(col("page"))).as("dg"),
          dup_elem_stats(split(col("page"), "\n")).as("ls"),
          dup_elem_stats(split(col("page"), "\n\n")).as("ps"))
        .select(col("doc_id"), col("page_chars"),
          col("ls")(0).as("n_lines"),
          expr("(10000 * ls[1]) DIV ls[0]").as("dup_line_bp"),
          expr("(10000 * ls[2]) DIV page_chars").as("dup_line_char_bp"),
          expr("(10000 * ps[1]) DIV ps[0]").as("dup_para_bp"),
          expr("(10000 * ps[2]) DIV page_chars").as("dup_para_char_bp"),
          expr("(10000 * dg[0]) DIV page_chars").as("dup5_bp"),
          expr("(10000 * dg[1]) DIV page_chars").as("dup6_bp"),
          expr("(10000 * dg[2]) DIV page_chars").as("dup7_bp"),
          expr("(10000 * dg[3]) DIV page_chars").as("dup8_bp"),
          expr("(10000 * dg[4]) DIV page_chars").as("dup9_bp"),
          expr("(10000 * dg[5]) DIV page_chars").as("dup10_bp"))
        .withColumn("flagged",
          col("dup_line_bp") > GopherDupLineBp ||
            col("dup_para_bp") > GopherDupParaBp ||
            col("dup_line_char_bp") > GopherDupLineCharBp ||
            col("dup_para_char_bp") > GopherDupParaCharBp ||
            col("dup5_bp") > GopherDupGramBp(5) ||
            col("dup6_bp") > GopherDupGramBp(6) ||
            col("dup7_bp") > GopherDupGramBp(7) ||
            col("dup8_bp") > GopherDupGramBp(8) ||
            col("dup9_bp") > GopherDupGramBp(9) ||
            col("dup10_bp") > GopherDupGramBp(10))
        .orderBy("doc_id")
    },

    // ── t33: the Gopher QUALITY rules (Rae et al. Table A1's other
    // half — word count, mean word length, symbol ratio, bullet /
    // ellipsis line fractions, alpha-word fraction, stop-word floor)
    // over the same synthetic crawl page. Same shape as t32: a pure
    // scan projection — two compiled reducers (alpha_token_count,
    // line_shape_stats), an array_intersect for stop words, and
    // length-difference symbol counts — no Generate, no aggregate,
    // zero exchanges before the output sort. Token-chars sum rides an
    // in-row aggregate HOF (once per doc, not per token — the
    // interpreted-lambda cost t24 avoids does not bite at doc grain).
    "t33_gopher_quality" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), crawlPageExpr.as("page"))
        .select(col("doc_id"),
          tokenize(col("page")).as("toks"),
          line_shape_stats(split(col("page"), "\n")).as("lsh"),
          (length(col("page")) -
            length(expr("replace(page, '#', '')"))).cast("long").as("n_hash"),
          expr("CAST((length(page) - length(replace(page, '...', ''))) " +
            "DIV 3 AS BIGINT)").as("n_ellsym"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          col("lsh")(0).as("n_lines"),
          expr("aggregate(toks, 0L, (a, x) -> a + length(x))").as("token_chars"),
          col("n_hash"), col("n_ellsym"),
          alpha_token_count(col("toks")).as("n_alpha"),
          size(array_intersect(array_distinct(col("toks")),
            typedLit(GopherStopWords))).cast("long").as("n_stop_hits"),
          col("lsh")(1).as("n_bullet"),
          col("lsh")(2).as("n_ell_lines"))
        .select(col("doc_id"), col("n_words"), col("n_lines"),
          expr("(100 * token_chars) DIV n_words").as("mean_wlen_c100"),
          expr("(10000 * (n_hash + n_ellsym)) DIV n_words").as("symbol_ratio_bp"),
          expr("(10000 * n_bullet) DIV n_lines").as("bullet_line_bp"),
          expr("(10000 * n_ell_lines) DIV n_lines").as("ellipsis_line_bp"),
          expr("(10000 * n_alpha) DIV n_words").as("alpha_word_bp"),
          col("n_stop_hits"))
        .withColumn("flagged",
          col("n_words") < GopherMinWords ||
            col("n_words") > GopherMaxWords ||
            col("mean_wlen_c100") < GopherMinMeanWlenC100 ||
            col("mean_wlen_c100") > GopherMaxMeanWlenC100 ||
            col("symbol_ratio_bp") > GopherSymbolBp ||
            col("bullet_line_bp") > GopherBulletLineBp ||
            col("ellipsis_line_bp") > GopherEllipsisLineBp ||
            col("alpha_word_bp") < GopherAlphaWordBp ||
            col("n_stop_hits") < GopherMinStopHits)
        .orderBy("doc_id")
    },

    // ── t34: the C4 filter suite (Raffel et al. §2.2) — line-level
    // retention (terminal punctuation + ≥5 words + no javascript) with
    // the document REBUILT from the kept lines, plus the page-level
    // drops (lorem ipsum, curly brace, bad-word list, <3 sentences
    // after filtering). Same shape as t32/t33: a pure scan projection —
    // one compiled reducer (c4_keep_lines) does the line pass and the
    // rebuild is an array_join of its output; page flags are
    // contains/count_in probes on the raw page. No Generate, no
    // aggregate, zero exchanges before the output sort.
    "t34_c4_filters" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), c4PageExpr.as("page"))
        .select(col("doc_id"),
          line_shape_stats(split(col("page"), "\n")).getItem(0).as("n_lines"),
          c4_keep_lines(split(col("page"), "\n"), C4MinLineWords).as("kept"),
          col("page").contains("lorem ipsum").as("has_lorem"),
          col("page").contains("{").as("has_brace"),
          (count_in(tokenize(col("page")), C4BadWords) > 0).as("has_badword"))
        .select(col("doc_id"), col("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          array_join(col("kept"), "\n").as("kept_text"),
          col("has_lorem"), col("has_brace"), col("has_badword"))
        .withColumn("n_sentences",
          regexp_count(col("kept_text"), lit("[.!?]")).cast("long"))
        .withColumn("flagged",
          col("has_lorem") || col("has_brace") || col("has_badword") ||
            col("n_sentences") < C4MinSentences)
        .select("doc_id", "n_lines", "n_kept", "n_sentences", "has_lorem",
          "has_brace", "has_badword", "flagged", "kept_text")
        .orderBy("doc_id")
    },

    // ── t35: CCNet head/middle/tail LM bucketing — score every
    // (the model's MAP form for the streaming gate is
    // [[ccnetModel]]; the query below keeps the relational join
    // spelling the plan gate pins)
    // non-reference document with a LANGUAGE-MATCHED add-1-smoothed
    // bigram LM trained on the clean reference slice, bucket at the
    // pinned ppm thresholds. Unlike t21 (novelty against the corpus's
    // OWN statistics), the reference model is fixed and tiny, so both
    // count tables broadcast: the corpus bigram stream map-side-joins
    // the model and aggregates once per doc — the corpus is never
    // self-joined and never shuffled on content. Per-doc probability
    // sums fold over a SORTED list (t21's double-parity idiom).
    "t35_ccnet_buckets" -> { (s, d) =>
      val toks = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), tokenize(col("text")).as("ts"))
      val bi = toks.select(col("doc_id"), col("lang"),
          explode(token_ngrams(col("ts"), 2)).as("bigram"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
      val cdf = bi.filter(col("doc_id") < CcnetRefDocs)
        .groupBy("lang", "bigram").agg(count(lit(1)).as("c"))
      val uni = toks.filter(col("doc_id") < CcnetRefDocs)
        .select(col("lang"), explode(col("ts")).as("w1"))
        .groupBy("lang", "w1").agg(count(lit(1)).as("u"))
      val vocab = uni.groupBy("lang").agg(count(lit(1)).as("v"))
      bi.filter(col("doc_id") >= CcnetRefDocs)
        .join(broadcast(cdf), Seq("lang", "bigram"), "left")
        .join(broadcast(uni), Seq("lang", "w1"), "left")
        .join(broadcast(vocab), Seq("lang"))
        .withColumn("p",
          (coalesce(col("c"), lit(0L)) + lit(1)).cast("double") /
            (coalesce(col("u"), lit(0L)) + col("v")).cast("double"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"),
          sort_array(collect_list(col("p"))).as("ps"))
        .withColumn("lm_ppm", round(lit(1000000.0) *
          aggregate(col("ps"), lit(0.0), (a, x) => a + x) /
          col("n_bigrams").cast("double"), 4))
        .withColumn("bucket",
          when(col("lm_ppm") >= CcnetHeadPpm, "head")
            .when(col("lm_ppm") >= CcnetMiddlePpm, "middle")
            .otherwise("tail"))
        .select("doc_id", "lang", "n_bigrams", "lm_ppm", "bucket")
        .orderBy("doc_id")
    },

    // ── t17: BM25 retrieval (Okapi k1=1.2, b=0.75) — top-20 documents
    // for a fixed term query, the relevance ranking a training-data
    // pipeline uses for targeted corpus slicing. Follows t9's
    // integer-exact discipline: with k1=6/5, b=3/4 and avgdl=T/N, the
    // tf-saturation term clears to 22·tf·T / (10·T·tf + 3·T + 9·N·dl)
    // (pure integers), and the idf is the log-free rational surrogate
    // (2N−2df+1)/(2df+1) — the ln() of textbook BM25 is a monotone
    // per-term transform both engines would round differently, so the
    // score here is the rational form scaled ×10⁴ and floor-divided:
    // bit-identical across engines and order-independent under
    // partial aggregation (integer sum). Magnitudes stay < 2⁶³ up to
    // ~sf10 (numer ≤ 2N·22·tf·T·10⁴); a larger corpus moves the
    // arithmetic to DECIMAL(38,0). Scale shape: tf, df and the corpus
    // stats all need the tokenized corpus, so the expensive pass —
    // tokenize + per-doc reduction to (dl, query-term hits) — runs
    // ONCE and materializes distributed (eager localCheckpoint; tiny:
    // two longs + ≤|query| tokens per doc, vs 3 full re-tokenizes of
    // a 100 TB scan without it). Everything downstream is a 3-row df
    // broadcast, a scalar stats broadcast, one partial-agg groupBy,
    // TakeOrdered top-20.
    "t17_bm25" -> { (s, d) =>
      val qterms = Seq("spark", "join", "vector")
      val base = Checkpointing.pin(Tables.load(s, d, "documents")
        .select(col("doc_id"), tokenize(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          filter(col("toks"), t => t.isin(qterms: _*)).as("qtoks")))
      val stats = base.agg(count(lit(1)).as("n_docs"), sum("dl").as("t_toks"))
      val tf = base.select(col("doc_id"), col("dl"), explode(col("qtoks")).as("term"))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df_), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("c", expr(
          "((2*n_docs - 2*df + 1) * 22 * tf * t_toks * 10000) div " +
            "((2*df + 1) * (10*t_toks*tf + 3*t_toks + 9*n_docs*dl))"))
        .groupBy("doc_id")
        .agg(sum("c").as("score10k"), count(lit(1)).as("n_terms"))
        .orderBy(col("score10k").desc, col("doc_id").asc)
        .limit(20)
    },

    // ── t18: BPE-style pre-tokenization counts — the second half of
    // the "token counting" north star (t1 is the whitespace half).
    // The pattern is the GPT-2 pre-tokenizer shape: contraction
    // suffixes, then optionally-space-prefixed letter runs / digit
    // runs / symbol runs. Pure per-row regex inside whole-stage
    // codegen + one partial-agg rollup over ≤ |langs| keys — scan
    // speed at any corpus size, no shuffle of the text.
    "t18_bpe_pretokens" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("lang"),
          size(regexp_extract_all(col("text"), lit(BpePretokenRe), lit(0)))
            .cast("long").as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n").as("total_pieces"),
          round(sum("n") / count(lit(1)).cast("double"), 4).as("avg_pieces"))
        .orderBy("lang")
    },

    // ── t20: language-ID confusion matrix — the evaluation harness
    // for t3's n-gram classifier, in the same mold as s9's ANN recall:
    // the corpus carries ground-truth labels, so the guess quality is
    // measurable in-engine. One scan (guess derives in the same
    // projection as the label — no join), one ≤|langs|² rollup. The
    // matrix makes the classifier's known blind spot legible: zh has
    // no Latin stopwords, scores 0 everywhere, and falls to the 'en'
    // tie-break arm — exactly what the report shows.
    "t20_langid_confusion" -> { (s, d) =>
      langGuess(s, d)
        .groupBy("lang", "lang_guess")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_guess")
    },

    // ── t19: BPE merge candidates — the first round of tokenizer
    // vocabulary induction at corpus scale: count adjacent character
    // pairs WITHIN words, weighted by word frequency, and rank the
    // top-20 (each is a candidate first merge of a BPE training run).
    // Scale shape: the corpus collapses to its VOCABULARY first (one
    // hash agg — words repeat heavily, so this is the big reduction),
    // then pairs explode only over distinct words × their length, and
    // the final rollup is a TakeOrdered top-20. Both engines slice by
    // codepoints, so the pair strings agree byte-for-byte.
    "t19_bpe_merge_candidates" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(explode(tokenize(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wf"))
        .filter(length(col("w")) >= 2)
        .select(col("wf"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("wf").as("freq"))
        .orderBy(col("freq").desc, col("pair").asc)
        .limit(20)
    },

    // ── t21: corpus bigram-LM fluency/novelty score — the CCNet-style
    // quality filter: fit an add-one-smoothed bigram model ON the
    // corpus itself, then score each document by (a) the fraction of
    // its bigrams that are corpus-rare (df ≤ 2) and (b) its mean
    // smoothed bigram probability P(w2|w1) = (c+1)/(u+V), in ppm.
    // House rule applies — no ln() (libm last-ulp differences between
    // engines would poison the hash); the mean probability is the
    // monotone-equivalent integer-ratio signal, and the per-doc sum
    // runs over a SORTED probability list via a sequential left fold
    // so both engines add identical doubles in an identical order.
    // Scale shape: two hash aggs (bigram df, unigram df — vocabulary-
    // sized, not corpus-sized), the model composed at VOCAB grain
    // (bigram table ⋈ its w1's unigram count ⋈ the 1-row vocab scalar
    // — the per-bigram smoothed p exists before the stream is
    // touched), then ONE shuffled equi-join back onto the bigram
    // stream and one per-doc agg. The former spelling joined the
    // corpus-sized stream twice (by bigram, then again by w1) — one
    // full stream shuffle more for the same per-occurrence p. No
    // all-pairs, no windows, no driver collect.
    "t21_lm_novelty" -> { (s, d) =>
      val toks = Tables.load(s, d, "documents")
        .select(col("doc_id"), tokenize(col("text")).as("ts"))
      val bi = toks
        .select(col("doc_id"), explode(token_ngrams(col("ts"), 2)).as("bigram"))
      val cdf = bi.groupBy("bigram").agg(count(lit(1)).as("c"))
      val uni = toks.select(explode(col("ts")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("u"))
      val vocab = uni.agg(count(lit(1)).as("v"))
      val model = cdf
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .join(uni, "w1")
        .crossJoin(broadcast(vocab))
        .select(col("bigram"), col("c"),
          ((col("c") + lit(1)).cast("double") /
            (col("u") + col("v")).cast("double")).as("p"))
      bi.join(model, "bigram")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          round(sum(when(col("c") <= 2, 1).otherwise(0)).cast("double") /
            count(lit(1)).cast("double"), 4).as("rare_ratio"),
          sort_array(collect_list(col("p"))).as("ps"))
        .withColumn("mean_p_ppm",
          round(lit(1000000.0) * aggregate(col("ps"), lit(0.0), (acc, x) => acc + x) /
            col("n_bigrams").cast("double"), 4))
        .select("doc_id", "n_bigrams", "rare_ratio", "mean_p_ppm")
        .orderBy("doc_id")
    },

    // tokenizer APPLY (encode): the shipped PinnedMerges BPE applied
    // to every document over ONE doc-level symbol array. char_syms
    // inserts an unmergeable word-boundary sentinel between words, so
    // the whole document encodes in a single array — no per-word
    // explode, no shuffle; the entire encode is map-side whole-stage
    // codegen. The query consumes only the encoded LENGTH, so the
    // merge table applies through the fused `bpe_encode_len` reducer
    // (one working array per document) instead of a |merges|-deep
    // bpe_merge_step fold that materialized an intermediate symbol
    // array per round. This closes the tokenizer loop: t18/t19
    // induce, Bpe.train learns, t22 applies at corpus scale.
    "t22_bpe_encode" -> { (s, d) =>
      val B = TextQueries.BpeBoundary
      Tables.load(s, d, "documents")
        .select(col("doc_id"), char_syms(tokenize(col("text")), B).as("s0"))
        .select(
          col("doc_id"),
          count_in(col("s0"), Seq(B)).as("n_words"),
          (size(col("s0")).cast("long") - count_in(col("s0"), Seq(B))).as("n_chars"),
          (bpe_encode_len(col("s0"), TextQueries.PinnedMerges) -
            count_in(col("s0"), Seq(B))).as("n_bpe"))
        .withColumn("compression_bp",
          expr("(n_chars * 10000) DIV nullif(n_bpe, 0)"))
        .orderBy("doc_id")
    },

    // quality-classifier scoring (fastText/CCNet-style linear model):
    // a shipped (term, milli-weight) table scored against term
    // frequencies — explode → broadcast LEFT join → one hash agg per
    // doc. The 100 TB shape: a real model has ~1 M terms, far beyond
    // any expression-per-term spelling, so the weight table is a
    // broadcast relation; the corpus is scanned once and partial
    // aggregation combines map-side. Thresholds are
    // multiplication-only (no division), so Spark and DuckDB agree
    // bit-for-bit on labels.
    "t23_quality_classifier" -> { (s, d) =>
      TextQueries.qualityScores(s, d)
        .drop("n_chars")
        .withColumn("label",
          when(col("score_milli") * 10 >= col("n_tokens") * 3, "keep")
            .when(col("score_milli") >= 0, "review")
            .otherwise("drop"))
        .orderBy("doc_id")
    },

    // PII/identifier audit with checksum validation: digit runs are
    // only REAL account/card identifiers if they pass the Luhn
    // checksum — the standard false-positive cut of a PII scan.
    // Candidate extraction is one regexp_extract_all; validation is
    // the compiled luhn_valid_count reducer (no explode, no
    // interpreted per-candidate lambda); the per-nation rollup is one
    // map-combined hash agg.
    "t24_luhn_audit" -> { (s, d) =>
      Tables.load(s, d, "customer")
        .select(
          col("c_nationkey"),
          size(regexp_extract_all(col("c_name"), lit("[0-9]{6,16}"), lit(0)))
            .cast("long").as("n_ids"),
          luhn_valid_count(
            regexp_extract_all(col("c_name"), lit("[0-9]{6,16}"), lit(0)))
            .as("n_valid"))
        .groupBy("c_nationkey")
        .agg(
          sum(col("n_ids")).as("n_ids"),
          sum(col("n_valid")).as("n_luhn_valid"))
        .withColumn("valid_bp",
          expr("(n_luhn_valid * 10000) DIV nullif(n_ids, 0)"))
        .orderBy("c_nationkey")
    },

    // ── t26: classifier AUC by rank-sum (Mann–Whitney U) — model
    // EVALUATION at corpus scale as a query: how well does the t23
    // quality score separate English docs from the rest? AUC =
    // (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺·n⁻), with the global
    // rank over (score, doc_id) from [[Ranks.globalRank]] — bucketed
    // two-pass, no single-partition sort at any corpus size, and the
    // doc_id tie-break is the deterministic surrogate for midranks
    // (the oracle replays the SAME tie-break, so the statistic is
    // engine-exact; with real-valued scores ties vanish and the two
    // definitions coincide). Everything after the rank is one
    // conditional aggregate; output in exact basis points.
    "t26_auc_ranksum" -> { (s, d) =>
      val scored = TextQueries.qualityScores(s, d)
        .select(col("doc_id"), col("score_milli"))
      val lab = Tables.load(s, d, "documents")
        .select(col("doc_id"), (col("lang") === "en").as("pos"))
      val ranked = Ranks.globalRank(
        scored.join(lab, "doc_id")
          .withColumn("k", expr("score_milli * 10000000L + doc_id")),
        "k", "r")
      ranked.agg(
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"),
          sum(when(col("pos"), col("r")).otherwise(0L)).as("rank_sum"))
        // Widened to DECIMAL(38,0) per the repo convention (a17/x8):
        // u ≤ n_pos·n_neg, so u*10000 wraps int64 once n_pos·n_neg
        // exceeds ~9.2e14 (~3e7 docs per class) — inside corpus scale.
        // floor() keeps DIV semantics (u ≥ 0); auc_bp ≤ 10000, so the
        // final BIGINT cast (matching the oracle's type) is safe.
        .withColumn("u", expr(
          "CAST(rank_sum AS DECIMAL(38,0)) - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) / 2"))
        .select(col("n_pos"), col("n_neg"),
          expr("CAST(floor(u * 10000 / (CAST(n_pos AS DECIMAL(38,0)) * n_neg)) AS BIGINT)")
            .as("auc_bp"))
    },

    // ── t27: TOKENIZER FERTILITY per language — the standard
    // tokenizer-eval report: tokens per word (fertility) and
    // characters per token each language pays under ONE shared
    // tokenizer. A corpus-majority-trained BPE under-serves minority
    // languages (high fertility = longer sequences per sentence =
    // higher training cost and less effective context per document) —
    // this is the number that motivates vocabulary rebalancing.
    // Reuses t22's compiled encode (char_syms → PinnedMerges fold)
    // with the per-doc frame rolled up per lang: one corpus scan,
    // |langs|-row output, exact integer basis points.
    "t27_fertility" -> { (s, d) =>
      val B = TextQueries.BpeBoundary
      Tables.load(s, d, "documents")
        .select(col("lang"), char_syms(tokenize(col("text")), B).as("s0"))
        .select(col("lang"),
          count_in(col("s0"), Seq(B)).as("w"),
          (size(col("s0")).cast("long") - count_in(col("s0"), Seq(B))).as("ch"),
          (bpe_encode_len(col("s0"), TextQueries.PinnedMerges) -
            count_in(col("s0"), Seq(B))).as("bp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
          sum("ch").as("n_chars"), sum("bp").as("n_bpe"))
        .withColumn("chars_per_token_bp",
          expr("(n_chars * 10000) DIV nullif(n_bpe, 0)"))
        .withColumn("fertility_bp",
          expr("(n_bpe * 10000) DIV nullif(n_words, 0)"))
        .orderBy("lang")
    },

    // ── t28: n-gram NOVELTY scoring — the data-curation primitive
    // behind "how much of this document is new against the corpus we
    // already have" (novelty-weighted sampling, crawl prioritization,
    // near-memorization screens all start here). Reference set = the
    // even doc_ids' 3-token shingles; each odd doc scores the fraction
    // of ITS shingles absent from the reference. Shares the d-family's
    // exact shingle derivation ([[DedupQueries.shinglesOf]] — hashed
    // trigrams, char-folded), so the oracle reuses the same shared
    // CTE. Shape: one shuffled LEFT-ANTI join on the shingle hash (the
    // reference side is corpus-sized — at 100 TB it shuffle-partitions
    // by shash; nothing is broadcast or collected), one per-doc count,
    // integer basis points. Docs with < 3 tokens have no shingles and
    // drop out (no novelty evidence), same rule both sides.
    "t28_ngram_novelty" -> { (s, d) =>
      val sh = Checkpointing.pin(DedupQueries.shingleSets(s, d))
      val ref = sh.filter(col("doc_id") % 2 === 0).select("shash").distinct()
      val scored = sh.filter(col("doc_id") % 2 === 1)
      val tot = scored.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val novel = scored.join(ref, Seq("shash"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      tot.join(novel, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("(10000 * n_novel) DIV n_shingles").as("novelty_bp"))
        .orderBy("doc_id")
    },

    // ── t29: HTML/boilerplate extraction — the corpus stage BEFORE
    // t1–t28 even apply on a web crawl: strip markup to clean text and
    // gate on link density (jusText/trafilatura's core signal: nav/
    // footer/listing blocks are link-dense, article text is not).
    // Script/style/comment blocks drop whole (their PAYLOAD is never
    // text), remaining tags become spaces, the five ubiquitous
    // entities decode (&amp; LAST so "&amp;lt;" single-decodes to the
    // literal "&lt;", never to "<"), whitespace collapses. Link chars
    // count the tag-stripped INNER text of <a> elements against the
    // clean length. All-integer outputs (basis points, DIV) so the
    // DuckDB oracle hashes exactly; thresholds are engine constants.
    // Known regex-HTML tradeoff (same both engines): a literal '<'
    // in prose eats to the next '>'. Shape: ONE projection over one
    // FileScan — per-row compiled regex expressions, no UDF, no
    // shuffle before the output sort.
    "t29_html_extract" -> { (s, d) =>
      val raw = col("text")
      // the extraction chain lives in [[htmlClean]]/[[htmlLinkChars]]
      // (shared with the corpus funnel gate and the streaming guard)
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          length(raw).cast("long").as("n_raw"),
          length(htmlClean(raw)).cast("long").as("n_clean"),
          htmlLinkChars(raw).as("link_chars"))
        .withColumn("link_density_bp",
          expr("(10000 * link_chars) DIV nullif(n_clean, 0)"))
        .withColumn("tag_overhead_bp",
          expr("(10000 * (n_raw - n_clean)) DIV nullif(n_raw, 0)"))
        .withColumn("label",
          expr("CASE WHEN n_clean < 40 THEN 'boilerplate' " +
            "WHEN (10000 * link_chars) DIV nullif(n_clean, 0) >= 3000 " +
            "THEN 'boilerplate' ELSE 'content' END"))
        .orderBy("doc_id")
    },

    // ── t30: URL canonicalization — crawl stage 0, BEFORE content
    // ops: every web corpus dedups by canonical URL and gates by
    // domain before t29/t1-t28 ever run. One projection over one
    // FileScan (regex part extraction + a filter/sort HOF over the
    // query params), no UDF, no shuffle before the output sort —
    // at 100 TB this normalize rides the ingest scan for free.
    "t30_url_canonical" -> { (s, d) =>
      val raw = crawlUrlExpr
      Tables.load(s, d, "documents")
        .select(col("doc_id"), raw.as("raw_url"),
          urlCanonical(raw).as("url_canon"),
          urlDomain(raw).as("domain"))
        .orderBy("doc_id")
    },

    // ── t25: inverted-index phrase search — the serving-side read of
    // a corpus index: positional postings (doc_id, pos, token) from
    // ONE posexplode, a phrase match as equi-joins on
    // (doc_id, pos+offset, token). The postings are pruned to the
    // query vocabulary BEFORE any join (an `isin` over a handful of
    // literal terms, applied at explode time), so join input is
    // proportional to the matched terms' postings, not the corpus —
    // at 100 TB the postings table is written once bucketed by token
    // and the same pruned-join plan reads only the queried buckets.
    // A never-occurring phrase ("flink stream") pins the zero-row
    // restore path through the final LEFT join.
    "t25_phrase_search" -> { (s, d) =>
      import s.implicits._
      val w = TextQueries.PinnedPhrases.toDF("phrase").select(
        col("phrase"),
        get(split(col("phrase"), " "), lit(0)).as("w1"),
        get(split(col("phrase"), " "), lit(1)).as("w2"),
        get(split(col("phrase"), " "), lit(2)).as("w3"))
      val vocab = TextQueries.PinnedPhrases.flatMap(_.split(" ")).distinct
      // reused by all three position legs
      val pruned = Checkpointing.pin(Tables.load(s, d, "documents")
        .select(col("doc_id"), posexplode(tokenize(col("text"))).as(Seq("pos", "token")))
        .filter(col("token").isin(vocab: _*)))
      val starts = pruned.join(broadcast(w), col("token") === col("w1"))
        .select(col("phrase"), col("w2"), col("w3"), col("doc_id"), col("pos"))
      val second = pruned.select(
        col("doc_id"), (col("pos") - 1).as("pos"), col("token").as("t2"))
      val bigram = starts.join(second, Seq("doc_id", "pos"))
        .filter(col("t2") === col("w2"))
      val third = pruned.select(
        col("doc_id"), (col("pos") - 2).as("pos"), col("token").as("t3"))
      val matched = bigram.filter(col("w3").isNull).select("phrase", "doc_id")
        .unionByName(
          bigram.filter(col("w3").isNotNull)
            .join(third, Seq("doc_id", "pos"))
            .filter(col("t3") === col("w3"))
            .select("phrase", "doc_id"))
      val counts = matched.groupBy("phrase")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_hits"))
      w.select("phrase").join(broadcast(counts), Seq("phrase"), "left")
        .select(col("phrase"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("phrase")
    }
  )

  /** THE spelling of the shipped linear quality model, shared by t23
    * (labels) and c8 in [[CorpusPipeline]] (curriculum ranking): per
    * doc (doc_id, n_chars, n_tokens, n_hits, score_milli) — explode →
    * broadcast LEFT join on [[ClassifierWeights]] → one hash agg.
    * Changing the scoring changes every consumer and its oracle CTE
    * ([[qualityScoreCtes]]) together. */
  private[operators] def qualityScores(
      s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weights = ClassifierWeights.toDF("term", "w")
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("n_chars"),
        explode(tokenize(col("text"))).as("term"))
      .join(broadcast(weights), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(
        max("n_chars").as("n_chars"),
        count(lit(1)).as("n_tokens"),
        count(col("w")).as("n_hits"),
        (coalesce(sum(col("w")), lit(0L)) + lit(100L)).as("score_milli"))
  }

  /** DuckDB CTE chain ending in `sc(doc_id, n_tokens, n_hits,
    * score_milli)` — the oracle half of [[qualityScores]]. */
  private[operators] def qualityScoreCtes: String =
    s"""wts(term, wt) AS (VALUES $classifierWeightsSql),
          tok AS (
            SELECT doc_id,
              unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS term
            FROM documents),
          sc AS (
            SELECT doc_id, COUNT(*) AS n_tokens, COUNT(wt) AS n_hits,
              CAST(COALESCE(SUM(wt), 0) + 100 AS BIGINT) AS score_milli
            FROM tok LEFT JOIN wts USING (term) GROUP BY doc_id)"""

  /** Shared oracle CTE chain ending in `fps(doc_id, fp)` — the
    * relational replay of `winnow(shingle_hashes(char_fold_array(
    * tokenize(text)), 3), 4)` over `documents`. Used by the t8 oracle
    * and by the d7 containment oracle in [[DedupQueries]], so the two
    * can never drift apart. */
  private[operators] val winnowFpCtes: String =
    """tokens AS (
           SELECT doc_id, generate_subscripts(ts, 1) AS idx, unnest(ts) AS token
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
                 FROM documents)),
         tok_hash AS (
           SELECT token,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(string_split(token, ''), c -> CAST(ord(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS h
           FROM (SELECT DISTINCT token FROM tokens)),
         tstream AS (
           SELECT doc_id, idx, h FROM tokens JOIN tok_hash USING (token)),
         shp AS (
           SELECT doc_id, idx,
             ((h * 1000003 + h2) % 1000000007 * 1000003 + h3) % 1000000007 AS shash
           FROM (SELECT doc_id, idx, h,
                   LEAD(h, 1) OVER w AS h2, LEAD(h, 2) OVER w AS h3
                 FROM tstream
                 WINDOW w AS (PARTITION BY doc_id ORDER BY idx))
           WHERE h3 IS NOT NULL),
         wins AS (
           SELECT doc_id,
             MIN(shash) OVER fw AS fp,
             COUNT(*) OVER fw AS wn
           FROM shp
           WINDOW fw AS (PARTITION BY doc_id ORDER BY idx
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
         fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE wn = 4)"""

  def oracles: Map[String, String] = Map(
    "t1_token_count" ->
      """SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
           len(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS n_distinct,
           length(text) AS n_chars_text,
           CAST(list_sum(list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
             t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
         FROM documents ORDER BY doc_id""",
    "t2_quality_score" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tokens
           FROM documents),
         m AS (
           SELECT doc_id, len(tokens) AS n_tokens,
             len(list_distinct(tokens)) AS n_distinct,
             len(list_filter(tokens, x -> list_contains(['the','a','of','and','in'], x))) AS n_stop
           FROM t)
         SELECT doc_id, n_tokens,
           ROUND(n_distinct * 1.0 / n_tokens, 4) AS diversity,
           ROUND(n_stop * 1.0 / n_tokens, 4) AS stopword_ratio,
           ROUND(LEAST(n_tokens / 100.0, 1.0) * 0.4
             + (n_distinct * 1.0 / n_tokens) * 0.4
             + (1.0 - n_stop * 1.0 / n_tokens) * 0.2, 4) AS quality
         FROM m ORDER BY doc_id""",
    "t3_lang_id" ->
      s"""WITH $langGuessSql
          SELECT doc_id, s_en, s_fr, s_es, s_de, lang_guess
          FROM g ORDER BY doc_id""",
    "t20_langid_confusion" ->
      s"""WITH $langGuessSql
          SELECT lang, lang_guess, COUNT(*) AS n
          FROM g GROUP BY 1, 2 ORDER BY lang, lang_guess""",
    "t5_bigram_freq" ->
      """WITH tokens AS (
           SELECT doc_id, generate_subscripts(ts, 1) AS idx, unnest(ts) AS token
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
                 FROM documents)),
         bi AS (
           SELECT token || ' ' || next AS bigram FROM (
             SELECT token, LEAD(token, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS next
             FROM tokens)
           WHERE next IS NOT NULL)
         SELECT bigram, COUNT(*) AS n FROM bi
         GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT 25""",
    "t6_charclass" ->
      """SELECT doc_id, LENGTH(text) AS n_chars,
           ROUND(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
             * 1.0 / LENGTH(text), 4) AS alpha_ratio,
           ROUND(LENGTH(regexp_replace(text, '[^0-9]', '', 'g'))
             * 1.0 / LENGTH(text), 4) AS digit_ratio,
           ROUND(LENGTH(regexp_replace(text, '[^ ]', '', 'g'))
             * 1.0 / LENGTH(text), 4) AS space_ratio
         FROM documents ORDER BY doc_id""",
    "t4_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
         FROM documents ORDER BY doc_id""",
    "t7_redact" -> {
      s"""WITH s AS (
            SELECT doc_id, text, ${scrubSqlOf("text")} AS scrubbed
            FROM documents)
          SELECT doc_id,
            len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
            len(regexp_extract_all(text, '$UrlRe')) AS n_urls,
            len(regexp_extract_all(text, '$DigitsRe')) AS n_numbers,
            list_reduce(
              list_prepend(CAST(7 AS BIGINT),
                list_transform(string_split(scrubbed, ''), c -> CAST(ord(c) AS BIGINT))),
              (acc, c) -> (acc * 31 + c) % 1000000007) AS scrubbed_fp
          FROM s ORDER BY doc_id"""
    },
    "t9_salient_terms" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
             x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (
           SELECT term, COUNT(*) AS df
           FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1)
         SELECT doc_id, rank, term, tf, df FROM (
           SELECT doc_id, term, tf, df,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tf DESC, df ASC, term ASC) AS rank
           FROM tf JOIN df USING (term))
         WHERE rank <= 3 ORDER BY doc_id, rank""",
    "t8_winnow_fp" ->
      s"""WITH $winnowFpCtes
         SELECT doc_id, fp FROM fps
         ORDER BY doc_id, fp""",

    // brute-force reference for the banded fuzzy match: the banding is
    // candidate generation only (complete for the full lev ≤ 1
    // neighborhood — substitution AND insert/delete), so the oracle
    // states the SEMANTICS directly with an unrestricted pair scan
    "t10_edit_distance" ->
      """WITH c AS (
           SELECT c_custkey AS k, c_name AS name FROM customer WHERE c_custkey < 150)
         SELECT a.k AS a_key, b.k AS b_key,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
         FROM c a JOIN c b ON a.k < b.k
         WHERE levenshtein(a.name, b.name) <= 1
         ORDER BY a_key, b_key""",
    "t11_type_token_ratio" ->
      """WITH toks AS (
           SELECT source, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
           FROM documents)
         SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types,
           ROUND(COUNT(DISTINCT tok) / COUNT(*), 4) AS ttr
         FROM toks GROUP BY 1 ORDER BY source""",
    "t12_posting_lists" ->
      """WITH toks AS (
           SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
           FROM documents)
         SELECT term, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
         FROM toks GROUP BY term
         HAVING COUNT(*) BETWEEN 3 AND 8
         ORDER BY term""",
    "t13_cooccur" ->
      """WITH toks AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
             FROM documents)
           WHERE length(tok) >= 4),
         vocab AS (
           SELECT tok FROM toks GROUP BY tok
           HAVING COUNT(*) BETWEEN 5 AND 50),
         banded AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v USING (tok))
         SELECT a.tok AS ta, b.tok AS tb, COUNT(*) AS n_docs
         FROM banded a JOIN banded b
           ON a.doc_id = b.doc_id AND a.tok < b.tok
         GROUP BY 1, 2
         HAVING COUNT(*) >= 5
         ORDER BY ta, tb""",
    "t14_chunking" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) <= 50 THEN 1
                  ELSE (len(toks) - 50 + 39) // 40 + 1 END AS nchunks
           FROM t),
         e AS (SELECT doc_id, toks, unnest(range(0, nchunks)) AS i FROM c)
         SELECT doc_id, CAST(i AS INT) AS chunk_id,
           len(toks[CAST(i * 40 + 1 AS INT) : CAST(i * 40 + 50 AS INT)]) AS chunk_len,
           md5(array_to_string(
             toks[CAST(i * 40 + 1 AS INT) : CAST(i * 40 + 50 AS INT)], ' ')) AS digest
         FROM e ORDER BY doc_id, chunk_id""",
    "t15_sequence_packing" ->
      """WITH t AS (
           SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n
           FROM documents),
         c AS (
           SELECT doc_id, n,
             CASE WHEN n <= 50 THEN 1 ELSE (n - 50 + 39) // 40 + 1 END AS nchunks
           FROM t),
         e AS (SELECT doc_id, n, unnest(range(0, nchunks)) AS chunk_id FROM c),
         l AS (
           SELECT doc_id, chunk_id,
             CASE WHEN n - chunk_id * 40 > 50 THEN 50 ELSE n - chunk_id * 40 END AS chunk_len,
             doc_id % 8 AS shard
           FROM e),
         b AS (
           SELECT shard, doc_id, chunk_len,
             CAST(SUM(chunk_len) OVER (PARTITION BY shard ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - chunk_len
               AS BIGINT) AS bef
           FROM l)
         SELECT shard, bef // 512 AS bin, COUNT(*) AS n_chunks,
           CAST(SUM(chunk_len) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM b GROUP BY 1, 2 ORDER BY shard, bin""",
    // t31 — n-grams as 1-based list_slice windows, the same two-level
    // count→argmax; DuckDB's ROW() max orders like Spark's struct max
    // (cnt first, gram tie-break), spelled as a window for field
    // access; generate_series(1, len−n+1) is empty for short docs,
    // matching token_ngrams' empty array
    "t31_gopher_repetition" ->
      s"""WITH t AS (
           SELECT doc_id, n_chars,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
           FROM documents),
         g AS (
           SELECT doc_id, n_chars, n, unnest(list_transform(
             generate_series(1, len(ts) - n + 1),
             i -> array_to_string(list_slice(ts, i, i + n - 1), ' '))) AS gram
           FROM t, (SELECT unnest([2, 3, 4]) AS n)),
         c AS (
           SELECT doc_id, n_chars, n, gram, COUNT(*) AS cnt
           FROM g GROUP BY 1, 2, 3, 4),
         r AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n
             ORDER BY cnt DESC, gram DESC) AS rn
           FROM c)
         SELECT doc_id, n, gram AS top_gram,
           CAST(cnt AS BIGINT) AS top_count,
           (10000 * cnt * length(gram)) // n_chars AS top_share_bp,
           (10000 * cnt * length(gram)) // n_chars >
             CASE n WHEN 2 THEN ${GopherTopGramBp(2)}
                    WHEN 3 THEN ${GopherTopGramBp(3)}
                    ELSE ${GopherTopGramBp(4)} END AS flagged
         FROM r WHERE rn = 1 ORDER BY doc_id, n""",

    // t32 — the relational replay of the three compiled reducers over
    // the shared synthetic page: n-grams as list_slice windows for
    // n = 5..10 summed over cnt>=2 groups, line/paragraph splits
    // grouped per element with (cnt-1)-weighted dup counts; the
    // LEFT JOIN + COALESCE keeps docs whose grams have no duplicates
    "t32_gopher_dup_fractions" ->
      s"""WITH $crawlPageSql,
         t AS (
           SELECT doc_id, page,
             list_filter(string_split_regex(page, '\\s+'), x -> x <> '') AS ts
           FROM page),
         g AS (
           SELECT doc_id, n, unnest(list_transform(
             generate_series(1, len(ts) - n + 1),
             i -> array_to_string(list_slice(ts, i, i + n - 1), ' '))) AS gram
           FROM t, (SELECT unnest([5, 6, 7, 8, 9, 10]) AS n)),
         gc AS (
           SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3),
         dgn AS (
           SELECT doc_id, n, CAST(SUM(cnt * length(gram)) AS BIGINT) AS dchars
           FROM gc WHERE cnt >= 2 GROUP BY 1, 2),
         dg AS (
           SELECT t.doc_id,
             COALESCE(MAX(CASE WHEN n = 5 THEN dchars END), 0) AS d5,
             COALESCE(MAX(CASE WHEN n = 6 THEN dchars END), 0) AS d6,
             COALESCE(MAX(CASE WHEN n = 7 THEN dchars END), 0) AS d7,
             COALESCE(MAX(CASE WHEN n = 8 THEN dchars END), 0) AS d8,
             COALESCE(MAX(CASE WHEN n = 9 THEN dchars END), 0) AS d9,
             COALESCE(MAX(CASE WHEN n = 10 THEN dchars END), 0) AS d10
           FROM t LEFT JOIN dgn ON t.doc_id = dgn.doc_id GROUP BY 1),
         ln AS (
           SELECT doc_id,
             unnest(list_filter(string_split(page, chr(10)), x -> x <> '')) AS e
           FROM page),
         lc AS (SELECT doc_id, e, COUNT(*) AS cnt FROM ln GROUP BY 1, 2),
         ls AS (
           SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN cnt >= 2 THEN cnt - 1 ELSE 0 END) AS BIGINT) AS dcnt,
             CAST(SUM(CASE WHEN cnt >= 2 THEN (cnt - 1) * length(e) ELSE 0 END)
               AS BIGINT) AS dchars
           FROM lc GROUP BY 1),
         pn AS (
           SELECT doc_id,
             unnest(list_filter(string_split(page, chr(10) || chr(10)),
               x -> x <> '')) AS e
           FROM page),
         pc AS (SELECT doc_id, e, COUNT(*) AS cnt FROM pn GROUP BY 1, 2),
         ps AS (
           SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN cnt >= 2 THEN cnt - 1 ELSE 0 END) AS BIGINT) AS dcnt,
             CAST(SUM(CASE WHEN cnt >= 2 THEN (cnt - 1) * length(e) ELSE 0 END)
               AS BIGINT) AS dchars
           FROM pc GROUP BY 1)
         SELECT p.doc_id, CAST(length(p.page) AS BIGINT) AS page_chars,
           ls.total AS n_lines,
           (10000 * ls.dcnt) // ls.total AS dup_line_bp,
           (10000 * ls.dchars) // length(p.page) AS dup_line_char_bp,
           (10000 * ps.dcnt) // ps.total AS dup_para_bp,
           (10000 * ps.dchars) // length(p.page) AS dup_para_char_bp,
           (10000 * dg.d5) // length(p.page) AS dup5_bp,
           (10000 * dg.d6) // length(p.page) AS dup6_bp,
           (10000 * dg.d7) // length(p.page) AS dup7_bp,
           (10000 * dg.d8) // length(p.page) AS dup8_bp,
           (10000 * dg.d9) // length(p.page) AS dup9_bp,
           (10000 * dg.d10) // length(p.page) AS dup10_bp,
           ((10000 * ls.dcnt) // ls.total > $GopherDupLineBp OR
            (10000 * ps.dcnt) // ps.total > $GopherDupParaBp OR
            (10000 * ls.dchars) // length(p.page) > $GopherDupLineCharBp OR
            (10000 * ps.dchars) // length(p.page) > $GopherDupParaCharBp OR
            (10000 * dg.d5) // length(p.page) > ${GopherDupGramBp(5)} OR
            (10000 * dg.d6) // length(p.page) > ${GopherDupGramBp(6)} OR
            (10000 * dg.d7) // length(p.page) > ${GopherDupGramBp(7)} OR
            (10000 * dg.d8) // length(p.page) > ${GopherDupGramBp(8)} OR
            (10000 * dg.d9) // length(p.page) > ${GopherDupGramBp(9)} OR
            (10000 * dg.d10) // length(p.page) > ${GopherDupGramBp(10)}) AS flagged
         FROM page p
         JOIN ls USING (doc_id) JOIN ps USING (doc_id) JOIN dg USING (doc_id)
         ORDER BY doc_id""",

    // t33 — every statistic is a per-row list expression (no unnest at
    // all): token-chars via list_aggregate sum, line shapes via
    // list_filter LIKE, symbol counts via length-difference after
    // replace (both engines replace non-overlapping left-to-right)
    "t33_gopher_quality" ->
      s"""WITH $crawlPageSql,
         t AS (
           SELECT doc_id, page,
             list_filter(string_split_regex(page, '\\s+'), x -> x <> '') AS ts,
             list_filter(string_split(page, chr(10)), x -> x <> '') AS lines
           FROM page),
         m AS (
           SELECT doc_id,
             CAST(len(ts) AS BIGINT) AS n_words,
             CAST(len(lines) AS BIGINT) AS n_lines,
             (100 * CAST(COALESCE(list_aggregate(
                 list_transform(ts, x -> length(x)), 'sum'), 0) AS BIGINT))
               // len(ts) AS mean_wlen_c100,
             (10000 * (CAST(length(page) - length(replace(page, '#', ''))
                 AS BIGINT)
               + CAST((length(page) - length(replace(page, '...', ''))) // 3
                 AS BIGINT))) // len(ts) AS symbol_ratio_bp,
             (10000 * CAST(len(list_filter(lines,
                 x -> x LIKE '- %' OR x LIKE '* %')) AS BIGINT))
               // len(lines) AS bullet_line_bp,
             (10000 * CAST(len(list_filter(lines, x -> x LIKE '%...'))
                 AS BIGINT)) // len(lines) AS ellipsis_line_bp,
             (10000 * CAST(len(list_filter(ts,
                 x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT))
               // len(ts) AS alpha_word_bp,
             CAST(len(list_intersect(list_distinct(ts),
               [${GopherStopWords.map(w => s"'$w'").mkString(", ")}]))
               AS BIGINT) AS n_stop_hits
           FROM t)
         SELECT *,
           (n_words < $GopherMinWords OR n_words > $GopherMaxWords OR
            mean_wlen_c100 < $GopherMinMeanWlenC100 OR
            mean_wlen_c100 > $GopherMaxMeanWlenC100 OR
            symbol_ratio_bp > $GopherSymbolBp OR
            bullet_line_bp > $GopherBulletLineBp OR
            ellipsis_line_bp > $GopherEllipsisLineBp OR
            alpha_word_bp < $GopherAlphaWordBp OR
            n_stop_hits < $GopherMinStopHits) AS flagged
         FROM m ORDER BY doc_id""",

    // t34 — the line pass is a list_filter with the reducer's exact
    // predicate (last non-whitespace char terminal, ≥5 non-empty
    // whitespace-split words, no 'javascript' case-folded); page flags
    // are contains/word-membership probes; sentence count is the same
    // regex count both engines
    "t34_c4_filters" ->
      s"""WITH $crawlPageSql, $c4PageSql,
         k AS (
           SELECT doc_id, page,
             list_filter(string_split(page, chr(10)), x ->
               regexp_matches(x, '[.!?"]\\s*$$')
               AND len(list_filter(string_split_regex(x, '\\s+'),
                 w -> w <> '')) >= $C4MinLineWords
               AND NOT contains(lower(x), 'javascript')) AS kept,
             len(list_filter(string_split(page, chr(10)), x -> x <> ''))
               AS n_lines
           FROM c4page),
         m AS (
           SELECT doc_id,
             CAST(n_lines AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept,
             COALESCE(array_to_string(kept, chr(10)), '') AS kept_text,
             contains(page, 'lorem ipsum') AS has_lorem,
             contains(page, '{') AS has_brace,
             len(list_filter(list_filter(string_split_regex(page, '\\s+'),
               w -> w <> ''), w -> w IN (${C4BadWords.map(w => s"'$w'")
                 .mkString(", ")}))) > 0 AS has_badword
           FROM k),
         f AS (
           SELECT doc_id, n_lines, n_kept,
             CAST(len(regexp_extract_all(kept_text, '[.!?]')) AS BIGINT)
               AS n_sentences,
             has_lorem, has_brace, has_badword, kept_text
           FROM m)
         SELECT doc_id, n_lines, n_kept, n_sentences, has_lorem, has_brace,
           has_badword,
           (has_lorem OR has_brace OR has_badword OR
             n_sentences < $C4MinSentences) AS flagged,
           kept_text
         FROM f ORDER BY doc_id""",

    // t35 — the relational replay: per-language reference counts, LEFT
    // joins with add-1 smoothing (absent bigram -> c=0, absent w1 ->
    // u=0), sorted-list sequential fold for the identical IEEE sum
    "t35_ccnet_buckets" ->
      s"""WITH t AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
           FROM documents),
         tok AS (
           SELECT doc_id, lang, generate_subscripts(ts, 1) AS idx,
             unnest(ts) AS token
           FROM t),
         bi AS (
           SELECT doc_id, lang, token AS w1, token || ' ' || next AS bigram
           FROM (
             SELECT doc_id, lang, idx, token,
               LEAD(token, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS next
             FROM tok)
           WHERE next IS NOT NULL),
         cdf AS (
           SELECT lang, bigram, COUNT(*) AS c FROM bi
           WHERE doc_id < $CcnetRefDocs GROUP BY 1, 2),
         uni AS (
           SELECT lang, token AS w1, COUNT(*) AS u FROM tok
           WHERE doc_id < $CcnetRefDocs GROUP BY 1, 2),
         vv AS (SELECT lang, COUNT(*) AS v FROM uni GROUP BY 1),
         p AS (
           SELECT bi.doc_id, bi.lang,
             (COALESCE(c, 0) + 1) * 1.0 / (COALESCE(u, 0) + v) AS p
           FROM bi
           LEFT JOIN cdf ON cdf.lang = bi.lang AND cdf.bigram = bi.bigram
           LEFT JOIN uni ON uni.lang = bi.lang AND uni.w1 = bi.w1
           JOIN vv ON vv.lang = bi.lang
           WHERE bi.doc_id >= $CcnetRefDocs),
         g AS (
           SELECT doc_id, lang, COUNT(*) AS n_bigrams,
             list_sort(list(p)) AS ps
           FROM p GROUP BY 1, 2)
         SELECT doc_id, lang, n_bigrams,
           ROUND(1000000.0 * list_reduce(ps, (a, b) -> a + b) / n_bigrams, 4)
             AS lm_ppm,
           CASE WHEN ROUND(1000000.0 * list_reduce(ps, (a, b) -> a + b)
               / n_bigrams, 4) >= $CcnetHeadPpm THEN 'head'
             WHEN ROUND(1000000.0 * list_reduce(ps, (a, b) -> a + b)
               / n_bigrams, 4) >= $CcnetMiddlePpm THEN 'middle'
             ELSE 'tail' END AS bucket
         FROM g ORDER BY doc_id""",

    "t16_repetition" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
           FROM documents),
         bg AS (
           SELECT doc_id,
             unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS bg
           FROM t WHERE len(ts) >= 2),
         agg AS (
           SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(DISTINCT bg) AS n_distinct
           FROM bg GROUP BY 1)
         SELECT doc_id, n_bigrams, n_distinct,
           ROUND((n_bigrams - n_distinct) / CAST(n_bigrams AS DOUBLE), 4) AS dup_ratio,
           ROUND((n_bigrams - n_distinct) / CAST(n_bigrams AS DOUBLE), 4) > 0.2 AS flagged
         FROM agg ORDER BY doc_id""",
    // integer-exact BM25 (rational idf surrogate) — see the query
    // comment; every quantity is a BIGINT so `//` matches Spark `div`
    "t17_bm25" ->
      """WITH dd AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS dl,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         stats AS (
           SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_toks FROM dd),
         tf AS (
           SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
             SELECT doc_id, dl, unnest(toks) AS term FROM dd)
           WHERE term IN ('spark', 'join', 'vector')
           GROUP BY 1, 2, 3),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score10k, COUNT(*) AS n_terms FROM (
           SELECT doc_id,
             ((2*n_docs - 2*df + 1) * 22 * tf * t_toks * 10000) //
             ((2*df + 1) * (10*t_toks*tf + 3*t_toks + 9*n_docs*dl)) AS c
           FROM tf JOIN df USING (term) CROSS JOIN stats)
         GROUP BY 1 ORDER BY score10k DESC, doc_id LIMIT 20""",
    // t18 — same RE2/Java-safe pattern, regexp_extract_all is global
    // in DuckDB by default; SUM cast back to BIGINT (DuckDB sums to
    // HUGEINT)
    "t18_bpe_pretokens" -> {
      val re = BpePretokenRe.replace("'", "''")
      s"""WITH nn AS (
            SELECT lang,
              CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n
            FROM documents)
          SELECT lang, COUNT(*) AS n_docs,
            CAST(SUM(n) AS BIGINT) AS total_pieces,
            ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS avg_pieces
          FROM nn GROUP BY 1 ORDER BY lang"""
    },
    // t19 — vocab rollup then per-word pair explode; substring is
    // codepoint-based in both engines
    "t19_bpe_merge_candidates" ->
      """WITH words AS (
           SELECT token AS w, COUNT(*) AS wf FROM (
             SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
             FROM documents)
           GROUP BY 1),
         pairs AS (
           SELECT substring(w, i, 2) AS pair, wf
           FROM (SELECT w, wf, unnest(generate_series(1, length(w) - 1)) AS i
                 FROM words WHERE length(w) >= 2))
         SELECT pair, CAST(SUM(wf) AS BIGINT) AS freq
         FROM pairs GROUP BY 1 ORDER BY freq DESC, pair LIMIT 20""",
    // t21 — the relational replay of the smoothed-bigram scorer. The
    // per-doc probability sum folds over a SORTED list (list_reduce is
    // a sequential left fold, matching Spark's `aggregate`), so both
    // engines add identical IEEE doubles in an identical order.
    "t21_lm_novelty" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
           FROM documents),
         tok AS (
           SELECT doc_id, generate_subscripts(ts, 1) AS idx, unnest(ts) AS token
           FROM t),
         bi AS (
           SELECT doc_id, token AS w1, token || ' ' || next AS bigram FROM (
             SELECT doc_id, idx, token,
               LEAD(token, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS next
             FROM tok)
           WHERE next IS NOT NULL),
         cdf AS (SELECT bigram, COUNT(*) AS c FROM bi GROUP BY 1),
         uni AS (SELECT token, COUNT(*) AS u FROM tok GROUP BY 1),
         vv AS (SELECT COUNT(*) AS v FROM uni),
         p AS (
           SELECT bi.doc_id, c, (c + 1) * 1.0 / (u + v) AS p
           FROM bi JOIN cdf USING (bigram)
                   JOIN uni ON uni.token = bi.w1
                   CROSS JOIN vv),
         g AS (
           SELECT doc_id, COUNT(*) AS n_bigrams,
             SUM(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS n_rare,
             list_sort(list(p)) AS ps
           FROM p GROUP BY 1)
         SELECT doc_id, n_bigrams,
           ROUND(n_rare * 1.0 / n_bigrams, 4) AS rare_ratio,
           ROUND(1000000.0 * list_reduce(ps, (a, b) -> a + b) / n_bigrams, 4) AS mean_p_ppm
         FROM g ORDER BY doc_id""",

    // t22 — exact relational replay of the BPE encode: each symbol is
    // wrapped chr(2)·sym·chr(3) (the wraps make adjacent-pair matches
    // unambiguous and non-boundary-sharing), the word boundary is the
    // wrapped chr(1), and one merge pass is a left-to-right
    // non-overlapping `replace` of the wrapped pair — exactly
    // bpe_merge_step's left-greedy semantics ('‹a›‹a›‹a›‹a›' under
    // (a,a) → '‹aa›‹aa›'). Symbol counts fall out of counting chr(2).
    "t22_bpe_encode" ->
      s"""WITH t AS (
            SELECT doc_id,
              list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents),
          w AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
              CASE WHEN len(toks) = 0 THEN '' ELSE list_reduce(
                list_transform(toks, wd ->
                  list_reduce(
                    list_transform(string_split(wd, ''), c -> chr(2)||c||chr(3)),
                    (a, b) -> a || b)
                  || chr(2)||chr(1)||chr(3)),
                (a, b) -> a || b) END AS s0
            FROM t),
          m AS (
            SELECT doc_id, n_words,
              CAST(length(s0) - length(replace(s0, chr(2), '')) AS BIGINT)
                - n_words AS n_chars,
              $bpeEncodeFoldSql AS sm
            FROM w),
          f AS (
            SELECT doc_id, n_words, n_chars,
              CAST(length(sm) - length(replace(sm, chr(2), '')) AS BIGINT)
                - n_words AS n_bpe
            FROM m)
          SELECT doc_id, n_words, n_chars, n_bpe,
            (n_chars * 10000) // NULLIF(n_bpe, 0) AS compression_bp
          FROM f ORDER BY doc_id""",

    // t27 — t22's encode chain with lang carried through and a
    // per-language rollup; the same merge fold keeps model and oracle
    // from drifting
    "t27_fertility" ->
      s"""WITH t AS (
            SELECT lang,
              list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents),
          w AS (
            SELECT lang, CAST(len(toks) AS BIGINT) AS n_words,
              CASE WHEN len(toks) = 0 THEN '' ELSE list_reduce(
                list_transform(toks, wd ->
                  list_reduce(
                    list_transform(string_split(wd, ''), c -> chr(2)||c||chr(3)),
                    (a, b) -> a || b)
                  || chr(2)||chr(1)||chr(3)),
                (a, b) -> a || b) END AS s0
            FROM t),
          m AS (
            SELECT lang, n_words,
              CAST(length(s0) - length(replace(s0, chr(2), '')) AS BIGINT)
                - n_words AS n_chars,
              $bpeEncodeFoldSql AS sm
            FROM w),
          f AS (
            SELECT lang, n_words, n_chars,
              CAST(length(sm) - length(replace(sm, chr(2), '')) AS BIGINT)
                - n_words AS n_bpe
            FROM m),
          g AS (
            SELECT lang, COUNT(*) AS n_docs,
              CAST(SUM(n_words) AS BIGINT) AS n_words,
              CAST(SUM(n_chars) AS BIGINT) AS n_chars,
              CAST(SUM(n_bpe) AS BIGINT) AS n_bpe
            FROM f GROUP BY 1)
          SELECT lang, n_docs, n_words, n_chars, n_bpe,
            (n_chars * 10000) // NULLIF(n_bpe, 0) AS chars_per_token_bp,
            (n_bpe * 10000) // NULLIF(n_words, 0) AS fertility_bp
          FROM g ORDER BY lang""",

    // t28 — same shared shingle CTE as the d-family; NOT IN spells the
    // anti-join, integer basis points spell the ratio
    "t28_ngram_novelty" ->
      s"""WITH ${DedupQueries.shingleSql},
          ref AS (SELECT DISTINCT shash FROM sh WHERE doc_id % 2 = 0),
          scored AS (SELECT doc_id, shash FROM sh WHERE doc_id % 2 = 1),
          tot AS (
            SELECT doc_id, COUNT(*) AS n_shingles FROM scored GROUP BY 1),
          nov AS (
            SELECT doc_id, COUNT(*) AS n_novel FROM scored
            WHERE shash NOT IN (SELECT shash FROM ref) GROUP BY 1)
          SELECT t.doc_id, t.n_shingles,
            CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
            (10000 * CAST(COALESCE(n.n_novel, 0) AS BIGINT)) // t.n_shingles
              AS novelty_bp
          FROM tot t LEFT JOIN nov n USING (doc_id) ORDER BY t.doc_id""",

    // t29 — identical regex chain (RE2 and Java agree on every pattern
    // used: inline (?is) flags, lazy .*?, \b, [^>]); DuckDB needs the
    // explicit 'g' flag Spark's regexp_replace implies, and chr(39)
    // dodges quote-escaping for the apostrophe entity
    "t29_html_extract" ->
      """WITH s1 AS (
           SELECT doc_id, text,
             regexp_replace(regexp_replace(regexp_replace(
               text,
               '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g') AS t0
           FROM documents),
         s2 AS (
           SELECT doc_id, text, t0,
             trim(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(
                 regexp_replace(t0, '<[^>]*>', ' ', 'g'),
                 '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', chr(34), 'g'),
                 '&#39;', chr(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
               '\s+', ' ', 'g')) AS clean
           FROM s1),
         m AS (
           SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_raw,
             CAST(length(clean) AS BIGINT) AS n_clean,
             CAST(COALESCE(list_sum(list_transform(
               regexp_extract_all(t0, '(?is)<a\b[^>]*>(.*?)</a>', 1),
               x -> length(regexp_replace(x, '<[^>]*>', '', 'g')))), 0)
               AS BIGINT) AS link_chars
           FROM s2)
         SELECT doc_id, n_raw, n_clean, link_chars,
           (10000 * link_chars) // NULLIF(n_clean, 0) AS link_density_bp,
           (10000 * (n_raw - n_clean)) // NULLIF(n_raw, 0) AS tag_overhead_bp,
           CASE WHEN n_clean < 40 THEN 'boilerplate'
                WHEN (10000 * link_chars) // NULLIF(n_clean, 0) >= 3000
                THEN 'boilerplate' ELSE 'content' END AS label
         FROM m ORDER BY doc_id""",

    // t30 — the shared url CTE chain; host doubles as the domain
    "t30_url_canonical" ->
      s"""WITH $urlCanonSql
          SELECT doc_id, raw_url, url_canon, host AS domain
          FROM canon ORDER BY doc_id""",

    // t23 — the same shipped weight table as a VALUES relation;
    // COUNT/SUM cast back to BIGINT (DuckDB sums to HUGEINT); label
    // thresholds are multiplication-only so no division semantics can
    // drift between engines.
    "t23_quality_classifier" ->
      s"""WITH $qualityScoreCtes
          SELECT doc_id, n_tokens, n_hits, score_milli,
            CASE WHEN score_milli * 10 >= n_tokens * 3 THEN 'keep'
                 WHEN score_milli >= 0 THEN 'review'
                 ELSE 'drop' END AS label
          FROM sc ORDER BY doc_id""",

    // t24 — Luhn replayed per candidate as a nested list lambda:
    // double every second digit from the right (CASE on the parity of
    // length−i), subtract 9 past 9, sum ≡ 0 (mod 10).
    "t24_luhn_audit" ->
      """WITH c AS (
           SELECT c_nationkey,
             regexp_extract_all(c_name, '[0-9]{6,16}') AS cands
           FROM customer),
         v AS (
           SELECT c_nationkey,
             CAST(len(cands) AS BIGINT) AS n_ids,
             CAST(len(list_filter(cands, s ->
               list_sum(list_transform(generate_series(1, length(s)), i ->
                 CASE WHEN (length(s) - i) % 2 = 1
                      THEN CASE WHEN 2 * CAST(s[i] AS INT) > 9
                                THEN 2 * CAST(s[i] AS INT) - 9
                                ELSE 2 * CAST(s[i] AS INT) END
                      ELSE CAST(s[i] AS INT) END)) % 10 = 0)) AS BIGINT) AS n_valid
           FROM c)
         SELECT c_nationkey,
           CAST(SUM(n_ids) AS BIGINT) AS n_ids,
           CAST(SUM(n_valid) AS BIGINT) AS n_luhn_valid,
           (CAST(SUM(n_valid) AS BIGINT) * 10000)
             // NULLIF(CAST(SUM(n_ids) AS BIGINT), 0) AS valid_bp
         FROM v GROUP BY 1 ORDER BY c_nationkey""",

    // t26 — the same rank-sum over the same (score, doc_id) order;
    // a global window here is the ORACLE's luxury, not the engine's
    "t26_auc_ranksum" -> {
      s"""WITH $qualityScoreCtes,
         j AS (
           SELECT sc.doc_id, sc.score_milli, (d.lang = 'en') AS pos
           FROM sc JOIN documents d USING (doc_id)),
         r AS (
           SELECT pos,
             row_number() OVER (ORDER BY score_milli * 10000000 + doc_id) AS r
           FROM j),
         agg AS (
           SELECT
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
             CAST(SUM(CASE WHEN pos THEN r ELSE 0 END) AS BIGINT) AS rank_sum
           FROM r)
         SELECT n_pos, n_neg,
           (rank_sum - n_pos * (n_pos + 1) // 2) * 10000 // (n_pos * n_neg)
             AS auc_bp
         FROM agg"""
    },

    // t25 — positional self-join phrase match; `ws` is 1-indexed in
    // DuckDB, offsets mirror the Spark pos+1/pos+2 alignment
    "t25_phrase_search" -> {
      val values = PinnedPhrases.map(p => s"('$p')").mkString(", ")
      s"""WITH toks AS (
           SELECT doc_id, generate_subscripts(ts, 1) AS idx, unnest(ts) AS token
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
                 FROM documents)),
         ph(phrase) AS (VALUES $values),
         w AS (SELECT phrase, string_split(phrase, ' ') AS ws FROM ph),
         m AS (
           SELECT w.phrase, a.doc_id
           FROM w JOIN toks a ON a.token = ws[1]
                  JOIN toks b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
                             AND b.token = ws[2]
           WHERE len(ws) = 2
           UNION ALL
           SELECT w.phrase, a.doc_id
           FROM w JOIN toks a ON a.token = ws[1]
                  JOIN toks b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
                             AND b.token = ws[2]
                  JOIN toks c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2
                             AND c.token = ws[3]
           WHERE len(ws) = 3)
         SELECT ph.phrase,
           CAST(COUNT(DISTINCT m.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(m.doc_id) AS BIGINT) AS n_hits
         FROM ph LEFT JOIN m USING (phrase)
         GROUP BY ph.phrase ORDER BY phrase"""
    }
  )

  /** DuckDB wrapped-symbol spelling of one BPE symbol. */
  private def wrapSql(sym: String): String =
    s"chr(2)||'${sym.replace("'", "''")}'||chr(3)"

  /** The t22 oracle's merge fold: [[PinnedMerges]] applied in rank
    * order, each pass one non-overlapping left-to-right `replace`. */
  private def bpeEncodeFoldSql: String =
    PinnedMerges.foldLeft("s0") { case (e, (l, r)) =>
      s"replace($e, ${wrapSql(l)}||${wrapSql(r)}, ${wrapSql(l + r)})"
    }

  /** The t23 oracle's VALUES body — generated from
    * [[ClassifierWeights]] so model and oracle cannot drift. */
  private[operators] def classifierWeightsSql: String =
    ClassifierWeights.map { case (t, w) => s"('$t', $w)" }.mkString(", ")
}
