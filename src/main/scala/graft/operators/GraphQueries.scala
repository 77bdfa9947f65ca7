package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics as dataflow — the graph operator family beside
  * connected components ([[DedupQueries]] d5): PageRank over the
  * bipartite part↔supplier graph induced by lineitem (g1), and exact
  * degree-oriented triangle counting / clustering coefficient over
  * the support-thresholded part co-purchase projection (g2).
  *
  * The BSP round (message = rank/out-degree along each edge, new rank
  * = damped sum of incoming messages) is exactly one equi-join + one
  * hash aggregate per iteration — the GraphX/Pregel shape spelled as
  * DataFrames, so Catalyst handles partial aggregation and AQE the
  * skew. Ranks live in integer MICRO-units with floor division at
  * both division points, which makes every iteration bit-exact across
  * engines and partitionings (no float accumulation order anywhere).
  * Overflow headroom: a node's incoming sum is bounded by the total
  * rank mass ≈ |V|·10⁶, so the ×850 000 step stays inside int64 up to
  * ~10¹⁰ vertices; beyond that, a DECIMAL(38,0) accumulator is the
  * swap (x5's pattern). A fixed 3 iterations keeps the lineage
  * shallow, so g1's rounds stay lazy and unpinned; g4 and g5 iterate
  * through [[Fixpoint]], which pins every generation.
  *
  * Node encoding: part → 2·partkey, supplier → 2·suppkey+1 — a single
  * BIGINT join key, no string concat in the hot path.
  */
object GraphQueries {

  /** Part co-purchase edges (u < v, parts sharing ≥ `minSupport`
    * orders), with the hot-order guard (> 64 distinct parts per order
    * dropped — C(df,2) insurance, inert at TPC-H shape). g2 uses
    * minSupport = 2 — the frequent-itemset cut that keeps the TRIANGLE
    * graph sparse at every SF (one shared order is noise when counting
    * closed triads). g3 deliberately uses minSupport = 1: its wedge
    * work is already bounded by the focus set, and recommendation
    * recall wants the full co-occurrence signal (RA weighting already
    * discounts promiscuous neighbors by 1/deg). The frame is
    * localCheckpoint'd — every caller fans it into several downstream
    * joins.
    *
    * `focusPred` (g3's path, a per-part predicate) cuts the dominant
    * pair aggregation down to the focus 2-hop neighborhood BEFORE the
    * pair fan-out: orders touching a focus part define the 1-hop part
    * set, and only orders touching a 1-hop part can contribute an edge
    * g3 ever reads — every edge incident to a 1-hop part is preserved
    * EXACTLY (all orders containing that part survive the cut), and g3
    * only consumes degrees/neighbors of 1-hop centers and
    * focus-incident adjacency. So this is a physical optimization with
    * bit-identical output (the oracle builds the full graph —
    * deliberately, same as g2's orientation): work scales with
    * |focus|·deg², not corpus size. Shape: explode the per-order part
    * sets → broadcast left-semi against the 1-hop part frame (focus-
    * bounded, so ITS broadcast is the same class as the old
    * broadcast-join build side) → left-semi back on the order key.
    * The reachable-order set that second semi-join probes is
    * data-dependent (it grows with the corpus), so its join strategy
    * is left to AQE — broadcast when the runtime size fits, shuffle
    * when it doesn't (r18 ADVICE: a forced broadcast there risks the
    * 8 GB cap at large SF). */
  private def coPurchaseEdges(s: SparkSession, d: String, minSupport: Long,
      focusPred: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column]
        = None): DataFrame = {
    // ONE exchange keyed on the order replaces the r6–r17 chain
    // (distinct → hot-order groupBy → broadcast anti-join → pinned
    // self-join on ok): the per-order DISTINCT part set and the
    // hot-order guard both read off the same aggregate (collect_set
    // dedups in-row; size > 64 IS df > 64), and the u < v pair fan-out
    // is an in-row combination over the sorted set — ≤ C(64,2) = 2016
    // structs per order by the guard, exactly the pairs the old
    // self-join emitted. Two exchanges total (ok, then (u,v)) and no
    // intermediate checkpoint, where the old shape paid four plus a
    // pin; the exchanged bytes are unchanged (the (ok, pk) set, then
    // the pair occurrences).
    val ops0 = Tables.load(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("pks"))
      .filter(size(col("pks")) <= 64)
    val ops = focusPred match {
      case None => ops0
      case Some(pred) =>
        // g3's focus 2-hop cut: focus orders contain a focus part;
        // their union of parts is the 1-hop set (focus-bounded →
        // broadcast); an order contributes iff it touches a 1-hop
        // part — spelled as explode → broadcast semi-join → semi-join
        // back on ok, so the membership probe is a hash lookup per
        // exploded part. (NOT arrays_overlap against a one-row 1-hop
        // ARRAY: that rebuilds a hash set of the few-thousand-part
        // array PER ROW.) Same preserved-order set as the r17
        // row-grain chain, bit-identical edges.
        // no DISTINCT on either probe frame (r19): both feed semi-join
        // sides, and a semi-join dedups its build/probe key by
        // construction — each distinct paid a full exchange of the
        // exploded rows just to shrink a frame the join would have
        // deduped for free (the broadcast hash set keeps one entry per
        // key either way). Two exchanges gone from the eager edge
        // build; preserved-order set and edges bit-identical.
        val oneHop = ops0.filter(exists(col("pks"), pred))
          .select(explode(col("pks")).as("pk"))
        val reachOks = ops0
          .select(col("ok"), explode(col("pks")).as("pk"))
          .join(broadcast(oneHop), Seq("pk"), "left_semi")
          .select("ok")
        // no broadcast hint on reachOks: the reachable-order set is
        // data-dependent (orders touching any 1-hop part), so AQE
        // picks broadcast vs shuffle from its runtime size
        ops0.join(reachOks, Seq("ok"), "left_semi")
    }
    val pairs = ops.select(explode(expr(
      "flatten(transform(pks, (x, i) -> " +
        "transform(slice(pks, i + 2, size(pks)), y -> struct(x AS u, y AS v))))"))
      .as("uv"))
    Checkpointing.pin(
      pairs.select(col("uv.u").as("u"), col("uv.v").as("v"))
        .groupBy("u", "v")
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= minSupport)
        .select("u", "v"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g1_pagerank" -> { (s, d) =>
      // The message substrate feeds EVERY iteration — pin it ONCE with
      // the out-degree already attached (r19): the BSP round only ever
      // reads (src, dst, outd), so joining deg per round paid one
      // |edges| ⋈ |nodes| join + one |nodes| broadcast build per
      // iteration (3 of each in the unrolled plan) for a column that
      // never changes. Folding deg into the pinned frame makes each
      // round exactly ONE equi-join + ONE hash aggregate — the minimal
      // Pregel shape — and the per-edge message r div outd is
      // bit-identical (same integer division, same operands).
      // (localCheckpoint truncates lineage; Bench's registry sweep
      // frees the blocks after the run, same pattern as d5/s11)
      val e = Checkpointing.pin(Tables.load(s, d, "lineitem")
        .select((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct())
      val und = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      val undDeg = Checkpointing.pin(
        und.join(und.groupBy("src").agg(count(lit(1)).as("outd")), "src"))
      // rank₀ = 1.0 (micro-units) for every node; the node set is the
      // distinct src of the symmetrized edges, read off the pin
      var rank = undDeg.select(col("src").as("nid")).distinct()
        .withColumn("r", lit(1000000L))
      for (_ <- 1 to 3) {
        rank = undDeg
          .join(rank.withColumnRenamed("nid", "src"), "src")
          .select(col("dst"), expr("r div outd").as("m"))
          .groupBy("dst").agg(sum("m").as("acc"))
          .select(col("dst").as("nid"),
            expr("CAST(150000 AS BIGINT) + (CAST(850000 AS BIGINT) * acc) div 1000000")
              .as("r"))
      }
      rank
        .select(
          when(col("nid") % 2 === 0, "part").otherwise("supplier").as("node_type"),
          expr("nid div 2").as("node_id"),
          col("r").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("node_type"), col("node_id"))
        .limit(20)
    },

    // ── g2: exact triangle count + global clustering coefficient over
    // the part co-purchase graph (parts adjacent iff they co-occur in
    // ≥ 2 orders). Graph choice matters as much as the join shape:
    // the supplier co-supply graph (r6's spelling) DENSIFIES with
    // scale — at sf0.1 it is literally complete (K₁₀₀₀, 499 500
    // edges, ~5·10⁸ wedges, 69 s of wedge join for a clustering
    // coefficient that is trivially 1) because supplier count grows
    // far slower than part-pair draws. The co-purchase graph with a
    // SUPPORT ≥ 2 threshold (the frequent-itemset cut: one shared
    // order is noise, two is signal) stays sparse at every SF —
    // ~3.5 k edges from sf0.001 to sf0.1 — so the wedge join is
    // bounded by real co-occurrence structure, not corpus size. The
    // classic MapReduce-era scale trap is wedge enumeration from
    // high-degree vertices; the fix here is the standard
    // degree-ordered orientation: each undirected edge points from
    // the (degree, id)-smaller endpoint to the larger, so every wedge
    // is enumerated at its LOWEST-degree vertex — out-degrees are
    // O(√m)-bounded and the wedge self-join never explodes on hubs.
    // Each triangle is counted exactly once (at its unique minimum
    // vertex). Edge building has its own guard: an order with > 64
    // distinct parts would emit C(df,2) pairs, so hot orders are
    // dropped via broadcast anti-join (d2's stop-shingle pattern;
    // none trip at TPC-H shape — it is the 100 TB insurance, mirrored
    // in the oracle). Wedge totals come from the degree table in closed form
    // (Σ d·(d−1)/2), and the coefficient is integer micro-units — the
    // whole query is exact at any parallelism. The oracle skips the
    // orientation (DuckDB just 3-way-joins u<v<w) — same count, which
    // is exactly the point: orientation is a physical optimization,
    // not a semantic one.
    "g2_triangles" -> { (s, d) =>
      // feeds degrees, orientation AND the closing join
      val edges = coPurchaseEdges(s, d, minSupport = 2)
      val deg = edges.select(col("u").as("n"))
        .union(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val e2 = edges
        .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      val lowFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val oriented = e2.select(
        when(lowFirst, col("u")).otherwise(col("v")).as("src"),
        when(lowFirst, col("v")).otherwise(col("u")).as("dst"))
      val wedges = oriented.as("o1")
        .join(oriented.as("o2"), col("o1.src") === col("o2.src"))
        .where(col("o1.dst") < col("o2.dst"))
        .select(col("o1.dst").as("u"), col("o2.dst").as("v"))
      val tri = wedges.join(edges, Seq("u", "v"))
        .agg(count(lit(1)).as("n_triangles"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      val ecnt = edges.agg(count(lit(1)).as("n_edges"))
      stats.crossJoin(ecnt).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          expr("CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE (CAST(3000000 AS BIGINT) * n_triangles) div n_wedges END")
            .as("cc_micro"))
    },

    // ── g3: co-purchase recommendations — item-to-item collaborative
    // filtering over the part co-purchase graph (parts adjacent iff
    // they appear in a common order): for each FOCUS part, the top-5
    // non-adjacent parts ranked by the resource-allocation link-
    // prediction index (Zhou–Lü–Zhang: Σ 1/deg(w) over shared
    // neighbors w), plus the raw common-neighbor count. RA stays in
    // exact integer micros (1000000 div deg — no log, no float), so
    // the ranking is bit-stable. The scale story is the FOCUS SET:
    // full all-pairs link prediction is Θ(Σ deg²) wedges (~150 M at
    // sf0.1 and growing with the corpus), but recommendations are
    // served per seed item, and restricting wedge enumeration to
    // centers adjacent to a focus part bounds the work at
    // |focus|·deg² regardless of corpus size. Guards mirror g2: hot
    // orders (> 64 distinct parts) are cut from edge building, and
    // hub centers (degree > 256) contribute no wedges — RA weight
    // ≤ 1/256 is noise at exactly the point where C(deg,2) explodes.
    // Weights still use TRUE degrees; both guards live in the oracle
    // too. The per-focus top-5 is a window PARTITIONED by the focus
    // part — never a global sort.
    "g3_copurchase_recs" -> { (s, d) =>
      // feeds adjacency twice + the novelty anti-join; minSupport = 1
      // (full co-occurrence signal) with the edge build semi-joined
      // down to the focus 2-hop reachable orders — see coPurchaseEdges
      val edges = coPurchaseEdges(s, d, minSupport = 1,
        focusPred = Some(_ < 50))
      val und = edges.select(col("u").as("w"), col("v").as("n"))
        .union(edges.select(col("v").as("w"), col("u").as("n")))
      // deg is PART-DIMENSION-sized (one row per part), broadcastable
      // until the part dim itself outgrows executor memory — at that
      // point drop the hint and AQE falls back to sort-merge; the
      // load-bearing broadcast is fromFocus (focus-bounded,
      // ≤ |focus|·maxdeg rows): with both broadcast, the corpus-sized
      // adjacency streams through hash probes with NO wide shuffle
      // until the 6k-center wedge output hits its partial-agg groupBy
      val deg = und.groupBy("w").agg(count(lit(1)).as("deg"))
      val ctr = und.join(broadcast(deg), "w").filter(col("deg") <= 256)
      val fromFocus = ctr.filter(col("n") < 50)
        .select(col("w"), col("n").as("seed"), col("deg").as("degw"))
      val scored = broadcast(fromFocus)
        .join(ctr.select(col("w"), col("n").as("rec")), "w")
        .where(col("seed") =!= col("rec"))
        .groupBy("seed", "rec")
        .agg(count(lit(1)).as("cn"),
          sum(expr("1000000 div degw")).as("ra_micro"))
      // novelty: every seed in `scored` is a focus part (< 50), so
      // only focus-incident adjacency can ever match the anti-join —
      // that slice is ≤ |focus|·maxdeg rows, broadcast it instead of
      // shuffling the corpus-sized adjacency against the tiny scored
      val adjacent = und.filter(col("w") < 50)
        .select(col("w").as("seed"), col("n").as("rec"))
      scored.join(broadcast(adjacent), Seq("seed", "rec"), "left_anti")
        .withColumn("rk", row_number().over(
          Window.partitionBy("seed")
            .orderBy(col("ra_micro").desc, col("rec"))))
        .filter(col("rk") <= 5)
        .select(col("seed").as("part_id"), col("rec").as("rec_part_id"),
          col("cn"), col("ra_micro"), col("rk"))
        .orderBy("part_id", "rk")
    },

    // ── g4: BOUNDED BFS REACHABILITY — hop-distance levels from a
    // seed set over g2's support-thresholded co-purchase graph (the
    // "how far does influence spread" primitive under product-affinity
    // exploration, blast-radius analysis, neighborhood sampling).
    // Pregel-as-dataflow: each round joins the FRONTIER (previous
    // level only, never the whole visited set) against the adjacency,
    // anti-joins out already-visited nodes (BFS's dedup — this is what
    // keeps the dataflow node-bounded where a naive path recursion is
    // exponential); Fixpoint pins each level. Output is the per-level
    // summary (exact counts + id range), so result size is O(depth) at
    // any graph size. The oracle replays min-hop BFS as a recursive CTE
    // with UNION (not UNION ALL) recursion — DuckDB's row dedup is
    // the visited-set analogue, keeping the recursion node-bounded
    // too. 100 TB shape: per-round cost is |frontier|·avg-degree
    // through one equi-join; depth bounds total rounds.
    "g4_reach" -> { (s, d) =>
      val maxHops = 4
      val edges = coPurchaseEdges(s, d, minSupport = 2)
      val und = Checkpointing.pin(
        edges.select(col("u").as("src"), col("v").as("dst"))
          .union(edges.select(col("v").as("src"), col("u").as("dst"))))
      val seeds = und.select(col("src").as("id")).distinct()
        .filter(col("id") < 10)
      // the row-count measure ends the walk at an exhausted frontier:
      // an empty level leaves `visited` unchanged, so every later
      // round is a no-op (identical output within the maxHops bound)
      val visited = Fixpoint.run(seeds.withColumn("hops", lit(0)),
          maxRounds = maxHops, measure = Some(Fixpoint.Rows)) { (h, visited) =>
        val frontier = visited.filter(col("hops") === h - 1)
          .select(col("id").as("src"))
        val next = und.join(frontier, "src")
          .select(col("dst").as("id")).distinct()
          .join(visited.select("id"), Seq("id"), "left_anti")
          .withColumn("hops", lit(h))
        Some(visited.unionByName(next))
      }
      visited.groupBy("hops")
        .agg(count(lit(1)).as("n_parts"),
          min("id").as("min_part"), max("id").as("max_part"))
        .orderBy("hops")
    },

    // ── g5: k-core decomposition (bounded peeling) over the same
    // support-≥2 co-purchase graph as g2 — the standard "dense
    // engagement core" extraction (community seeding, spam-ring
    // triage, graph sparsification before expensive analytics). The
    // 3-core = the maximal subgraph where every part retains ≥ 3
    // co-purchase neighbors INSIDE the subgraph; peeling removes
    // under-degree nodes and repeats, because each removal can expose
    // new under-degree nodes. Rounds are FIXED at 6 — a bounded-
    // iteration contract like g1's 3 BSP rounds, pinned identically
    // in the oracle (each extra round past the fixpoint is a no-op,
    // so on graphs that converge early — this one converges in 2–3 —
    // the bound is invisible; a full decomposition loops the same
    // round body until no row count change). Per round: ONE hash
    // aggregate for degrees + two semi-joins to drop edges touching a
    // peeled endpoint — all shuffles on the node key, nothing global,
    // frontier shrinks monotonically. Fixpoint pins each round's edge
    // set: 6 rounds of lazy lineage would replay the whole peel
    // history per action and defeat AQE's per-round stats.
    "g5_kcore" -> { (s, d) =>
      val k = 3
      val rounds = 6
      val e0 = coPurchaseEdges(s, d, minSupport = 2)
      // peeling only ever REMOVES edges, so an unchanged edge count
      // means the round was a no-op and so would every later one be:
      // the row-count measure stops there (this graph converges in
      // 2–3 rounds; output identical to running all 6)
      val und = Fixpoint.run(
          e0.select(col("u").as("src"), col("v").as("dst"))
            .union(e0.select(col("v").as("src"), col("u").as("dst"))),
          maxRounds = rounds, measure = Some(Fixpoint.Rows)) { (_, und) =>
        val keep = und.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("src")
        Some(und.join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi"))
      }
      und.groupBy("src").agg(count(lit(1)).as("core_deg"))
        .select(col("src").as("part_id"), col("core_deg"))
        .orderBy("part_id")
    }
  )

  def oracles: Map[String, String] = {
    // one unrolled BSP round: identical integer message/damp math
    def round(prev: String, out: String): String =
      s"""$out AS (
            SELECT dst AS nid,
              CAST(150000 + (850000 * CAST(SUM(r // outd) AS BIGINT)) // 1000000
                AS BIGINT) AS r
            FROM und JOIN $prev ON und.src = $prev.nid
                     JOIN deg ON und.src = deg.src
            GROUP BY dst)"""
    Map(
      "g1_pagerank" ->
        s"""WITH e AS (
              SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
              FROM lineitem),
            und AS (
              SELECT a AS src, b AS dst FROM e
              UNION ALL
              SELECT b AS src, a AS dst FROM e),
            deg AS (SELECT src, COUNT(*) AS outd FROM und GROUP BY 1),
            r0 AS (SELECT src AS nid, CAST(1000000 AS BIGINT) AS r FROM deg),
            ${round("r0", "r1")},
            ${round("r1", "r2")},
            ${round("r2", "r3")}
            SELECT CASE WHEN nid % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
              nid // 2 AS node_id, r AS rank_micro
            FROM r3
            ORDER BY rank_micro DESC, node_type, node_id LIMIT 20""",
      "g2_triangles" ->
        """WITH op AS (
             SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           hot AS (SELECT ok FROM op GROUP BY ok HAVING COUNT(*) > 64),
           cold AS (SELECT * FROM op WHERE ok NOT IN (SELECT ok FROM hot)),
           e AS (
             SELECT u, v FROM (
               SELECT x.pk AS u, y.pk AS v, COUNT(*) AS support
               FROM cold x JOIN cold y ON x.ok = y.ok AND x.pk < y.pk
               GROUP BY 1, 2)
             WHERE support >= 2),
           deg AS (
             SELECT n, COUNT(*) AS deg
             FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
             GROUP BY 1),
           tri AS (
             SELECT COUNT(*) AS n_triangles
             FROM e e1
             JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
             JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
           st AS (
             SELECT COUNT(*) AS n_nodes,
               CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
             FROM deg),
           ec AS (SELECT COUNT(*) AS n_edges FROM e)
           SELECT n_nodes, n_edges, n_wedges, n_triangles,
             CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST((3000000 * n_triangles) // n_wedges AS BIGINT) END
               AS cc_micro
           FROM st, ec, tri""",
      "g3_copurchase_recs" ->
        """WITH op AS (
             SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           hot AS (SELECT ok FROM op GROUP BY ok HAVING COUNT(*) > 64),
           cold AS (SELECT * FROM op WHERE ok NOT IN (SELECT ok FROM hot)),
           e AS (
             SELECT DISTINCT x.pk AS u, y.pk AS v
             FROM cold x JOIN cold y ON x.ok = y.ok AND x.pk < y.pk),
           und AS (
             SELECT u AS w, v AS n FROM e
             UNION ALL
             SELECT v AS w, u AS n FROM e),
           deg AS (SELECT w, COUNT(*) AS deg FROM und GROUP BY 1),
           ctr AS (
             SELECT und.w, n, deg FROM und JOIN deg ON und.w = deg.w
             WHERE deg <= 256),
           ff AS (SELECT w, n AS seed, deg AS degw FROM ctr WHERE n < 50),
           sc AS (
             SELECT seed, b.n AS rec, COUNT(*) AS cn,
               CAST(SUM(1000000 // degw) AS BIGINT) AS ra_micro
             FROM ff JOIN ctr b ON ff.w = b.w AND ff.seed <> b.n
             GROUP BY 1, 2),
           nov AS (
             SELECT sc.seed, sc.rec, cn, ra_micro
             FROM sc LEFT JOIN und ON sc.seed = und.w AND sc.rec = und.n
             WHERE und.w IS NULL),
           rk AS (
             SELECT seed, rec, cn, ra_micro,
               row_number() OVER (PARTITION BY seed
                 ORDER BY ra_micro DESC, rec) AS rk
             FROM nov)
           SELECT seed AS part_id, rec AS rec_part_id, cn, ra_micro, rk
           FROM rk WHERE rk <= 5 ORDER BY part_id, rk""",
      // g4 — min-hop BFS as a recursive CTE; UNION (not UNION ALL)
      // recursion is the visited-set analogue that keeps the state
      // node-bounded instead of path-exponential
      "g4_reach" ->
        """WITH RECURSIVE op AS (
             SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           hot AS (SELECT ok FROM op GROUP BY ok HAVING COUNT(*) > 64),
           cold AS (SELECT * FROM op WHERE ok NOT IN (SELECT ok FROM hot)),
           e AS (
             SELECT u, v FROM (
               SELECT x.pk AS u, y.pk AS v, COUNT(*) AS support
               FROM cold x JOIN cold y ON x.ok = y.ok AND x.pk < y.pk
               GROUP BY 1, 2)
             WHERE support >= 2),
           und AS (
             SELECT u AS src, v AS dst FROM e
             UNION ALL SELECT v, u FROM e),
           seeds AS (SELECT DISTINCT src AS id FROM und WHERE src < 10),
           walk AS (
             SELECT id, 0 AS hops FROM seeds
             UNION
             SELECT und.dst, walk.hops + 1
             FROM walk JOIN und ON und.src = walk.id
             WHERE walk.hops < 4),
           mh AS (SELECT id, MIN(hops) AS hops FROM walk GROUP BY 1)
           SELECT hops, COUNT(*) AS n_parts, MIN(id) AS min_part,
             MAX(id) AS max_part
           FROM mh GROUP BY 1 ORDER BY 1""",
      // g5 — the same 6 peel rounds unrolled; each round drops edges
      // whose endpoint fell under degree 3 in the PREVIOUS round's
      // edge set, exactly the engine's semi-join pair. Every round CTE
      // is MATERIALIZED: each is referenced 3× by its successor, and
      // inlining would re-evaluate the whole peel history per
      // reference — 3⁶ rebuilds of the pair join (the SQL analogue of
      // the engine-side Checkpointing.pin on each round)
      "g5_kcore" -> {
        def peel(prev: String, out: String): String =
          s"""k_$out AS MATERIALIZED (
                SELECT src FROM $prev GROUP BY src HAVING COUNT(*) >= 3),
              $out AS MATERIALIZED (
                SELECT src, dst FROM $prev
                WHERE src IN (SELECT src FROM k_$out)
                  AND dst IN (SELECT src FROM k_$out))"""
        val roundsSql = (1 to 6)
          .map(i => peel(s"und${i - 1}", s"und$i")).mkString(",\n")
        s"""WITH op AS (
              SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            hot AS (SELECT ok FROM op GROUP BY ok HAVING COUNT(*) > 64),
            cold AS (SELECT * FROM op WHERE ok NOT IN (SELECT ok FROM hot)),
            e AS MATERIALIZED (
              SELECT u, v FROM (
                SELECT x.pk AS u, y.pk AS v, COUNT(*) AS support
                FROM cold x JOIN cold y ON x.ok = y.ok AND x.pk < y.pk
                GROUP BY 1, 2)
              WHERE support >= 2),
            und0 AS MATERIALIZED (
              SELECT u AS src, v AS dst FROM e
              UNION ALL SELECT v, u FROM e),
            $roundsSql
            SELECT src AS part_id, COUNT(*) AS core_deg
            FROM und6 GROUP BY 1 ORDER BY 1"""
      })
  }
}
