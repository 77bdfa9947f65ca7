package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupQueries, Erasure, IndexStore}
import graft.streaming.{CdcPipeline, KeyedParquetStore}

/** Right-to-be-forgotten — the contract is the CASCADE: after
  * [[Erasure.forget]], neither the table nor any persisted derived
  * artifact (here the shared simhash64 signature sidecar behind
  * d6/d13) may keep serving the tombstoned rows. */
class ErasureSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("corpus forget: residue 0; the warm signature sidecar is forced " +
    "through a FULL rebuild and serves no forgotten id") {
    val work = indexedTempDir("graft_erasure")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$work/documents.parquet"))
    val q = DedupQueries.queries("d13_simhash64_lookup")
    q(spark, work).collect() // builds the sidecar
    val warmBuilds = IndexStore.buildsPerformed
    q(spark, work).collect()
    assert(IndexStore.buildsPerformed == warmBuilds,
      "sidecar must be warm before the erasure")

    val ids = Seq(0L, 7L, 13L)
    val rep = Erasure.forget(spark, work, "documents", "doc_id", ids)
    assert(rep == Erasure.Report("documents", 500L, 497L, 0L), s"got $rep")

    // the rewrite replaced indexed files → next access is a FULL
    // rebuild (never a delta over mutated data), serving zero
    // tombstoned rows
    q(spark, work).collect()
    assert(IndexStore.buildsPerformed == warmBuilds + 1,
      "table rewrite must force exactly one full sidecar rebuild")
    val served = IndexStore.getOrBuildIncremental(
      spark, work, "simhash64", "documents")(_ =>
      fail("sidecar must be warm after the post-erasure rebuild"))
    assert(served.count() == 497L)
    assert(served.filter(col("doc_id").isin(ids: _*)).count() == 0L,
      "no derived signature may survive for a forgotten id")

    // a crashed prior attempt's leftovers are swept, not tripped over
    Files.createDirectories(Paths.get(s"$work/documents.parquet._forget_scratch"))
    val rep2 = Erasure.forget(spark, work, "documents", "doc_id", Seq(21L))
    assert(rep2 == Erasure.Report("documents", 497L, 496L, 0L), s"got $rep2")

    // the WORST crash point — between the two swap renames, src absent
    // and _old holding the only copy — must RESTORE, never sweep
    Files.move(Paths.get(s"$work/documents.parquet"),
      Paths.get(s"$work/documents.parquet._forget_old"))
    val rep3 = Erasure.forget(spark, work, "documents", "doc_id", Seq(22L))
    assert(rep3 == Erasure.Report("documents", 496L, 495L, 0L), s"got $rep3")

    // the RETAINED previous index version still holds the forgotten
    // rows' signatures on disk (reader-isolation keeps new+previous) —
    // after the post-erasure rebuild, the purge destroys the residue
    // and the served index keeps working
    q(spark, work).collect() // rebuild over the 495-row corpus
    assert(IndexStoreSpec.unserved(work, "simhash64").nonEmpty,
      "precondition: a previous version must be retained")
    val dropped = IndexStore.pruneUnservedVersions(spark, work)
    assert(dropped >= 1, s"got $dropped")
    assert(IndexStoreSpec.unserved(work, "simhash64").isEmpty,
      "only the served version may survive the purge")
    val postPurge = IndexStore.getOrBuildIncremental(
      spark, work, "simhash64", "documents")(_ =>
      fail("purge must not invalidate the served version"))
    assert(postPurge.count() == 495L)
  }

  test("cascade forget: child tombstones derived by semi-join, erased " +
    "bottom-up (lineitem, orders, customer), zero FK orphans, residue 0") {
    val work = tempDir("graft_erasure_cascade")
    Seq("customer", "orders", "lineitem").foreach(t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(s"$work/$t.parquet")))
    val orders = spark.read.parquet(s"$work/orders.parquet")
    val li = spark.read.parquet(s"$work/lineitem.parquet")
    // two subjects that actually HAVE orders (the cascade must walk)
    val subjects = orders.select("o_custkey").distinct()
      .orderBy("o_custkey").limit(2).collect().map(_.getLong(0)).toSeq
    val doomedOrders = orders.filter(col("o_custkey").isin(subjects: _*))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val nOrders = doomedOrders.size.toLong
    val nLi = li.filter(col("l_orderkey").isin(doomedOrders.toSeq: _*)).count()
    assert(nOrders > 0 && nLi > 0, "subjects must have cascade depth")

    val reps = graft.operators.Erasure.forgetCascade(spark, work,
      "customer", "c_custkey", subjects,
      edges = Seq(
        "customer" -> graft.operators.Erasure.CascadeEdge(
          "orders", "o_custkey", "o_orderkey"),
        "orders" -> graft.operators.Erasure.CascadeEdge(
          "lineitem", "l_orderkey", "l_orderkey")))
    assert(reps.map(_.table) == Seq("lineitem", "orders", "customer"),
      s"bottom-up order: got ${reps.map(_.table)}")
    assert(reps.forall(_.residue == 0L), s"got $reps")
    val byTable = reps.map(r => r.table -> (r.rowsBefore - r.rowsAfter)).toMap
    assert(byTable("customer") == 2L && byTable("orders") == nOrders &&
      byTable("lineitem") == nLi, s"got $byTable (want 2/$nOrders/$nLi)")

    // referential integrity after the cascade: nothing dangles
    val c2 = spark.read.parquet(s"$work/customer.parquet")
    val o2 = spark.read.parquet(s"$work/orders.parquet")
    val l2 = spark.read.parquet(s"$work/lineitem.parquet")
    assert(o2.join(c2, o2("o_custkey") === c2("c_custkey"), "left_anti")
      .count() == 0L, "no order may reference an erased customer")
    assert(l2.join(o2, l2("l_orderkey") === o2("o_orderkey"), "left_anti")
      .count() == 0L, "no line item may reference an erased order")
  }

  test("cascade over a multi-parent FK DAG: the fixpoint erases every " +
    "reachable key, and leaves at most one pinned frame per table") {
    val work = tempDir("graft_erasure_dag")
    // A→X, X→Y, A→B, B→X in this order: one ordered pass would miss
    // the X keys B→X adds after X→Y ran, and Y's keys behind them
    spark.range(10).select(col("id").as("a_id"))
      .write.parquet(s"$work/a.parquet")
    spark.range(40).select(col("id").as("b_id"), (col("id") % 10).as("b_a"))
      .write.parquet(s"$work/b.parquet")
    spark.range(200).select(col("id").as("x_id"), (col("id") % 10 + 100).as("x_a"),
      (col("id") % 40).as("x_b")).write.parquet(s"$work/x.parquet")
    spark.range(1000).select(col("id").as("y_id"), (col("id") % 200).as("y_x"))
      .write.parquet(s"$work/y.parquet")
    def read(t: String) = spark.read.parquet(s"$work/$t.parquet")
    // x_a never matches an a_id: every X key reaches it through B
    val doomedB = read("b").filter(col("b_a").isin(0L, 1L)).select("b_id")
      .collect().map(_.getLong(0)).toSet
    val doomedX = read("x").filter(col("x_b").isin(doomedB.toSeq: _*))
      .select("x_id").collect().map(_.getLong(0)).toSet
    val nY = read("y").filter(col("y_x").isin(doomedX.toSeq: _*)).count()
    assert(doomedX.nonEmpty && nY > 0)

    val before = spark.sparkContext.getPersistentRDDs.keySet
    var reps = Seq.empty[Erasure.Report]
    val jobs = JobCount.of(spark, "erasure_dag") {
      reps = Erasure.forgetCascade(spark, work, "a", "a_id", Seq(0L, 1L),
        edges = Seq(
          "a" -> Erasure.CascadeEdge("x", "x_a", "x_id"),
          "x" -> Erasure.CascadeEdge("y", "y_x", "y_id"),
          "a" -> Erasure.CascadeEdge("b", "b_a", "b_id"),
          "b" -> Erasure.CascadeEdge("x", "x_b", "x_id")))
    }
    val added = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    assert(added == 0, s"the cascade left $added persistent RDDs")
    // measured: 77 in each of 3 runs; the previous shape ran 89, re-pinning
    // every table's already pinned tombstones in forget and inferring
    // the table's schema with a footer-reading job on each of its two
    // reads
    assert(jobs <= 77, s"the cascade ran $jobs jobs")
    assert(reps.forall(_.residue == 0L), s"got $reps")
    val byTable = reps.map(r => r.table -> (r.rowsBefore - r.rowsAfter)).toMap
    assert(byTable == Map("a" -> 2L, "b" -> doomedB.size.toLong,
      "x" -> doomedX.size.toLong, "y" -> nY), s"got $byTable")
    assert(read("y").filter(col("y_x").isin(doomedX.toSeq: _*)).count() == 0L)
    assert(read("x").count() == 200L - doomedX.size)
  }

  test("forgetPartitioned, forgetFromFeed and certificate free the pin " +
    "they make: no call leaves a persistent RDD") {
    import spark.implicits._
    val work = tempDir("graft_erasure_pins")
    spark.range(40).select(col("id").as("k"), (col("id") % 4).as("p"))
      .write.partitionBy("p").parquet(s"$work/pt.parquet")
    graft.streaming.ChangeFeed.publish((0L until 10L).map { i =>
      (i, new java.sql.Timestamp(1700000000000L + i * 1000L), "I", "t", i,
        s"""{"id":$i}""")
    }.toDF("lsn", "commitTs", "op", "table", "key", "after").coalesce(1), s"$work/feed")
    val calls = Seq[(String, () => Any)](
      "forgetPartitioned" -> (() =>
        Erasure.forgetPartitioned(spark, work, "pt", "k", Seq(1L, 2L).toDF("k"))),
      "forgetFromFeed" -> (() =>
        Erasure.forgetFromFeed(spark, s"$work/feed", "t", Seq(3L).toDF("key"))),
      "certificate" -> (() =>
        Erasure.certificate(spark, Seq(1L, 3L).toDF("key"),
          corpus = Seq((work, "pt", "k")), feeds = Seq(s"$work/feed" -> "t")).collect()))
    calls.foreach { case (name, call) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      call()
      val added = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      assert(added == 0, s"$name left $added persistent RDDs")
    }
  }

  test("cascade at scale: 100k derived child keys stay a DataFrame — " +
    "no isin literal list in the rewrite plan, residue 0") {
    import spark.implicits._
    val work = tempDir("graft_erasure_big")
    // 3 subjects, each deriving ~33k child rows: the DERIVED set is
    // 100k — far beyond any sane driver literal list
    spark.range(5).select(col("id").as("c_id"))
      .write.parquet(s"$work/cust.parquet")
    spark.range(100000)
      .select(col("id").as("o_id"), (col("id") % 3).as("o_cust"))
      .write.parquet(s"$work/ord.parquet")

    // plan gate on the exact rewrite frame forget() executes: the
    // tombstone side must appear as a JOIN, never an In/InSet literal
    val tomb100k = spark.range(100000).select(col("id").as("o_id"))
    val plan = Erasure.survivors(spark, s"$work/ord.parquet", "o_id", tomb100k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Join") && !plan.contains("o_id IN") &&
      !plan.contains("InSet"), s"rewrite must join, not inline keys:\n$plan")

    // subjects 0 and 1 derive every o_id with o_cust in {0,1}: ~67k
    val expectedOrd = 100000L - (100000L / 3L) // ids with id%3 != 2
    val reps = Erasure.forgetCascade(spark, work, "cust", "c_id",
      ids = Seq(0L, 1L),
      edges = Seq("cust" -> Erasure.CascadeEdge("ord", "o_cust", "o_id")))
    assert(reps.map(_.table) == Seq("ord", "cust"))
    assert(reps.forall(_.residue == 0L), s"got $reps")
    val byTable = reps.map(r => r.table -> (r.rowsBefore - r.rowsAfter)).toMap
    assert(byTable("ord") == expectedOrd && byTable("cust") == 2L,
      s"got $byTable (want $expectedOrd/2)")
    assert(spark.read.parquet(s"$work/ord.parquet")
      .filter(col("o_cust") < 2).count() == 0L)
    assert(spark.read.parquet(s"$work/cust.parquet").count() == 3L)
  }

  test("feed forget: change history redacted in place under the original " +
    "leaf names; fresh replay and asOf no longer resurrect the keys; " +
    "unaffected files byte-identical") {
    import spark.implicits._
    val work = tempDir("graft_erasure_feed")
    val feed = s"$work/feed"
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def publish(ids: Range): Unit =
      graft.streaming.ChangeFeed.publish(
        ids.map { i =>
          (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L),
            "I", "t", i.toLong, s"""{"id":$i,"v":"v$i"}""")
        }.toDF("lsn", "commitTs", "op", "table", "key", "after")
          .coalesce(1), feed)
    publish(0 until 10); publish(10 until 20); publish(20 until 30)
    val feedFiles = new java.io.File(feed).listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    assert(feedFiles.length == 3)
    // keys 5 and 15 live in files 1 and 2; file 3 must stay untouched
    val untouched = feedFiles.find { f =>
      !new String(Files.readAllBytes(f.toPath), "UTF-8").contains("\"key\":5") &&
        !new String(Files.readAllBytes(f.toPath), "UTF-8").contains("\"key\":15")
    }.get
    val untouchedBytes = Files.readAllBytes(untouched.toPath)

    val (files, removed) = graft.operators.Erasure
      .forgetFromFeed(spark, feed, "t", Seq(5L, 15L))
    assert((files, removed) == ((2L, 2L)), s"got ($files, $removed)")
    // same leaf names, nothing new in the directory
    val after = new java.io.File(feed).listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).sorted
    assert(after.toSeq == feedFiles.map(_.getName).toSeq.sorted)
    assert(java.util.Arrays.equals(
      untouchedBytes, Files.readAllBytes(untouched.toPath)),
      "files without tombstoned events must be byte-identical")

    // a FRESH full replay can no longer resurrect the keys
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    val q = graft.streaming.CdcPipeline.start(
      graft.streaming.ChangeFeed.stream(spark, feed),
      store, Map("t" -> rowSchema), Map("t" -> "id"),
      mirrorName = "redact_mirror", checkpointDir = s"$work/ckpt")
    q.processAllAvailable(); q.stop()
    val rows = store.read(spark, "t")
    assert(rows.count() == 28L &&
      rows.filter(col("id").isin(5L, 15L)).count() == 0L)
    // and neither can a point-in-time read over the retained feed
    val cut = graft.streaming.CdcPipeline.asOf(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        rowSchema),
      graft.streaming.ChangeFeed.readAll(spark, feed),
      rowSchema, "id", lsn = 29L)
    assert(cut.count() == 28L &&
      cut.filter(col("id").isin(5L, 15L)).count() == 0L)

    // worst crash point: a feed file parked in its _redact_old_ twin
    // (original ABSENT — invisible to discovery) must be restored by
    // the up-front orphan sweep, then redacted like any other
    val victim = new java.io.File(feed).listFiles()
      .filter(_.getName.endsWith(".json")).minBy(_.getName)
    Files.move(victim.toPath,
      victim.toPath.resolveSibling(s"_redact_old_${victim.getName}"))
    val (files2, removed2) = graft.operators.Erasure
      .forgetFromFeed(spark, feed, "t", Seq(7L))
    assert((files2, removed2) == ((1L, 1L)), s"got ($files2, $removed2)")
    assert(graft.streaming.ChangeFeed.readAll(spark, feed).count() == 27L,
      "restored file's surviving events must be back on the feed")
  }

  test("partitioned forget: only partitions holding tombstoned keys are " +
    "rewritten; untouched partitions byte-identical; worst crash point restored") {
    import spark.implicits._
    val work = tempDir("graft_erasure_part")
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("d", to_date(col("ts")))
      .select(col("event_id"), col("user_id"), col("value"), col("d"))
    graft.sources.Tables.savePartitioned(ev, s"$work/ev.parquet", "d")
    val total = ev.count()

    // tombstone the event_ids of ONE day — locality guarantees only
    // that day's partition is affected
    val days = ev.select(date_format(col("d"), "yyyy-MM-dd"))
      .distinct().collect().map(_.getString(0)).sorted
    assert(days.length > 2, "need several partitions")
    val victimDay = days(days.length / 2)
    val doomed = ev.filter(date_format(col("d"), "yyyy-MM-dd") === victimDay)
      .select("event_id")
    val nDoomed = doomed.count()
    assert(nDoomed > 0)

    // snapshot every other partition's file inventory (name, len, mtime)
    def inventory(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$work/ev.parquet"))
        .filterNot(_.getPath.contains(s"d=$victimDay"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = inventory()

    val rep = Erasure.forgetPartitioned(spark, work, "ev", "event_id", doomed)
    assert(rep.partitionsRewritten == 1L, s"got $rep")
    assert(rep.partitionsUntouched == days.length - 1L, s"got $rep")
    assert(rep.rowsBefore == total && rep.rowsAfter == total - nDoomed &&
      rep.residue == 0L, s"got $rep")
    assert(inventory() == before,
      "untouched partitions must keep their files byte-identical")

    // worst crash point: a partition dir parked in _forget_old_ with
    // the original absent must be restored before discovery
    val k = spark.read.parquet(s"$work/ev.parquet")
      .agg(min("event_id")).collect().head.getLong(0)
    val anyDay = new java.io.File(s"$work/ev.parquet").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("d=")).head
    Files.move(anyDay.toPath,
      anyDay.toPath.resolveSibling(s"_forget_old_${anyDay.getName}"))
    val rep2 = Erasure.forgetPartitioned(spark, work, "ev", "event_id",
      Seq(k).toDF("event_id"))
    assert(rep2.rowsBefore == total - nDoomed, s"recovery lost rows: $rep2")
    assert(rep2.rowsAfter == total - nDoomed - 1 && rep2.residue == 0L,
      s"got $rep2")

    // misuse guard: an unpartitioned table is told to use forget()
    ev.select("event_id", "user_id", "value")
      .write.parquet(s"$work/flat.parquet")
    val e = intercept[IllegalArgumentException] {
      Erasure.forgetPartitioned(spark, work, "flat", "event_id",
        Seq(1L).toDF("event_id"))
    }
    assert(e.getMessage.contains("forget"), e.getMessage)
  }

  test("jdbc forget: a feed-fed Derby mirror target forgets too — " +
    "residue 0, idempotent, and a post-redaction replay stays clean") {
    import spark.implicits._
    val url = "jdbc:derby:memory:grafterasure;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(32))")
      st.close()
    } finally conn.close()
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def envelope(ids: Seq[Long]) = ids.map { i =>
      (i, new java.sql.Timestamp(0L), "I", "t", i, s"""{"id":$i,"v":"v$i"}""")
    }.toDF("lsn", "commitTs", "op", "table", "key", "after")
    graft.streaming.JdbcMirror.applyEnvelopeBatch(
      envelope(1L to 10L), url, Map("t" -> rowSchema), Map("t" -> "id"), props)
    def residue(ids: Seq[Long]): Long = graft.sources.Tables
      .jdbc(spark, url, "t", props)
      .filter(col("ID").isin(ids: _*)).count()
    assert(residue(1L to 10L) == 10L)

    Erasure.forgetFromJdbc(spark, url, "t", "id", Seq(3L, 7L), props)
    assert(residue(Seq(3L, 7L)) == 0L, "forgotten keys must leave the mirror")
    assert(residue(1L to 10L) == 8L, "other rows must survive")
    // idempotent: the same sweep again is absorbed by the same path
    Erasure.forgetFromJdbc(spark, url, "t", "id", Seq(3L, 7L), props)
    assert(residue(1L to 10L) == 8L)

    // replay after feed redaction (the composition contract): the
    // redacted envelope no longer carries the keys, so a full replay
    // reconverges WITHOUT resurrecting them
    graft.streaming.JdbcMirror.applyEnvelopeBatch(
      envelope((1L to 10L).filterNot(Set(3L, 7L))),
      url, Map("t" -> rowSchema), Map("t" -> "id"), props)
    assert(residue(Seq(3L, 7L)) == 0L)
    assert(residue(1L to 10L) == 8L)
  }

  test("erasing EVERY row leaves a readable empty table (explicit-schema " +
    "read), residue 0") {
    import spark.implicits._
    val work = tempDir("graft_erasure_all")
    (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.parquet(s"$work/t.parquet")
    val rep = Erasure.forget(spark, work, "t", "id", (1L to 20L))
    assert(rep == Erasure.Report("t", 20L, 0L, 0L), s"got $rep")
    // still a readable table for downstream readers with the schema
    assert(spark.read.schema("id BIGINT, v STRING")
      .parquet(s"$work/t.parquet").count() == 0L)
  }

  test("certificate: residue audit across corpus + store + feed + jdbc — " +
    "names the dirty surface before the sweeps, all-clean after") {
    import spark.implicits._
    val work = tempDir("graft_erasure_cert")
    val doomed = Seq(3L, 7L)
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    // corpus surface
    (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.parquet(s"$work/t.parquet")
    // store surface
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    store.snapshot(spark, "t",
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), "id")
    // feed surface
    val feed = s"$work/feed"
    graft.streaming.ChangeFeed.publish(
      (1L to 10L).map(i => (i, new java.sql.Timestamp(0L), "I", "t", i,
        s"""{"id":$i,"v":"v$i"}""")).toDF(
        "lsn", "commitTs", "op", "table", "key", "after").coalesce(1), feed)
    // jdbc surface (embedded Derby)
    val url = "jdbc:derby:memory:graftcert;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(32))")
      st.close()
    } finally conn.close()
    graft.streaming.JdbcMirror.applyEnvelopeBatch(
      graft.streaming.ChangeFeed.readAll(spark, feed),
      url, Map("t" -> rowSchema), Map("t" -> "id"), props)

    def cert() = Erasure.certificate(spark, doomed.toDF("key"),
      corpus = Seq((work, "t", "id")),
      store = Seq((store, "t", "id")),
      feeds = Seq((feed, "t")),
      jdbc = Seq((url, "t", "id", props)))

    val before = cert().collect()
    assert(before.length == 4)
    assert(before.forall(r => r.getLong(2) == 2L && !r.getBoolean(3)),
      s"every surface must report the planted residue: ${before.mkString(";")}")

    // the four sweeps
    Erasure.forget(spark, work, "t", "id", doomed)
    Erasure.forgetFromStore(spark, store, "t", "id", rowSchema, doomed)
    Erasure.forgetFromFeed(spark, feed, "t", doomed)
    Erasure.forgetFromJdbc(spark, url, "t", "id", doomed, props)

    val after = cert().collect()
    assert(after.forall(r => r.getLong(2) == 0L && r.getBoolean(3)),
      s"certificate must read clean after the sweeps: ${after.mkString(";")}")
  }

  test("store forget: delete tombstones ride the product merge path, " +
    "idempotently, WITHOUT touching the applied-LSN watermark") {
    import spark.implicits._
    val work = tempDir("graft_erasure_store")
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    store.snapshot(spark, "t",
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), "id")
    // a real stream position the erasure must not run past: rotation
    // prunes at this watermark, and synthetic LSNs above it would let
    // feed files the store never read be deleted
    store.recordAppliedLsn(spark, 41L)
    // measured: 4 jobs in each of 3 runs (the merge's touched-bucket
    // collect, its shuffle map stage and its write); the synthetic
    // envelope and its window dedup made it 6
    val jobs = JobCount.of(spark, "forget_from_store") {
      Erasure.forgetFromStore(spark, store, "t", "id", rowSchema, Seq(5L, 6L))
    }
    assert(jobs <= 4, s"forgetFromStore ran $jobs jobs (expected 4)")
    val rows = store.read(spark, "t")
    assert(rows.count() == 98L &&
      rows.filter(col("id").isin(5L, 6L)).count() == 0L)
    assert(store.appliedLsn(spark).contains(41L),
      "out-of-band erasure must not move the stream watermark")
    // idempotent: the same erasure again is absorbed
    Erasure.forgetFromStore(spark, store, "t", "id", rowSchema, Seq(5L, 6L))
    assert(store.read(spark, "t").count() == 98L)
    assert(store.appliedLsn(spark).contains(41L))
  }

  test("store forget leaves no copy of the keys in any file under the table") {
    import spark.implicits._
    val work = tempDir("graft_erasure_retained")
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    store.snapshot(spark, "t", (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), "id")
    // an update retires the files holding the keys; readers keep them
    store.merge(spark, "t", Seq(("U", 5L, "u5"), ("U", 6L, "u6")).toDF("op", "id", "v"), "id")
    def rawResidue(): Long = {
      val files = Files.walk(Paths.get(s"$work/store/t")).toArray.map(_.toString)
        .filter(f => f.endsWith(".parquet") && !Paths.get(f).getFileName.toString.startsWith("."))
      spark.read.schema(rowSchema).parquet(files.toSeq: _*)
        .filter(col("id").isin(5L, 6L)).count()
    }
    assert(rawResidue() > 2L, "precondition: retired files still hold the keys")
    Erasure.forgetFromStore(spark, store, "t", "id", rowSchema, Seq(5L, 6L))
    assert(rawResidue() == 0L)
    assert(store.read(spark, "t").count() == 98L)
    assert(Erasure.certificate(spark, Seq(5L, 6L).toDF("key"), store = Seq((store, "t", "id")))
      .collect().forall(r => r.getLong(2) == 0L && r.getBoolean(3)))
  }

  test("soft-delete store forget: right-to-be-forgotten HARD-purges rows " +
    "the soft mode retained — even already-flagged tombstones") {
    import spark.implicits._
    import java.sql.Timestamp
    val work = tempDir("graft_erasure_soft")
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    CdcPipeline.snapshotSoft(spark, store,
      Map("t" -> (0L until 20L).map(i => (i, s"pii$i")).toDF("id", "v")),
      Map("t" -> "id"))
    // soft-delete key 5: the row STAYS, flagged, image retained — the
    // audit-mode behavior that is exactly wrong for erasure
    val del = Seq((100L, new Timestamp(0), "D", "t", 5L,
      null.asInstanceOf[String])).toDF("lsn", "commitTs", "op", "table", "key", "after")
    CdcPipeline.applyBatchSoft(del, store,
      Map("t" -> rowSchema), Map("t" -> "id"))
    val flagged = store.read(spark, "t").filter(col("id") === 5L).collect()
    assert(flagged.length == 1 && flagged.head.getBoolean(2) &&
      flagged.head.getString(1) == "pii5",
      "precondition: soft delete retains the flagged image")

    // erasure must remove the rows outright — a flagged tombstone
    // still carries the image (and the key is itself an identifier)
    Erasure.forgetFromStore(spark, store, "t", "id", rowSchema, Seq(5L, 6L))
    val after = store.read(spark, "t")
    assert(after.filter(col("id").isin(5L, 6L)).count() == 0L,
      "forgotten keys must not survive as soft tombstones")
    assert(after.count() == 18L)
    // and the certificate counts a soft tombstone as residue (it IS a
    // row): clean only after the hard purge
    val cert = Erasure.certificate(spark, Seq(5L, 6L).toDF("key"),
      store = Seq((store, "t", "id")))
    assert(cert.collect().forall(r => r.getLong(2) == 0L && r.getBoolean(3)))
  }
}
