package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Engine-side half of the differential fuzz harness
  * ([[graft.tools.Fuzz]]): the DuckDB replay (`tools/fuzz_diff.py`, 20
  * seeds × 88 families, archived in FUZZ_r{N}.json) is the cross-engine
  * leg; this spec holds the legs that don't need a second engine —
  *
  *   - generator determinism (a fuzz harness whose corpora aren't
  *     reproducible can't pin a found divergence as a regression case);
  *   - boundary coverage floors (the generator's entire value is its
  *     concentration on the cut/tolerance/tie edges — if a refactor
  *     dilutes that, the harness keeps "passing" while testing nothing);
  *   - the sessionization TRIPLE PARITY on every corpus: q45 (window
  *     lag/running-sum), q122 (typed flatMapGroups state machine) and
  *     q149 (Spark's native session_window) are three independent
  *     implementations of the same `diff > gap` cut rule, and on every
  *     generated corpus all three must agree on the session set;
  *   - the STREAMING-PARITY block (round 12): the MemoryStream twins of
  *     q59/q147 (stream-stream inner/outer attribution incl. the
  *     expiry-emitted null rows), q136 (watermark dedup — conditional
  *     agreement plus the one-sided first-divergence law) and the
  *     fenced streaming IVM chain, each driven by all 20 seeded
  *     corpora and compared against its batch twin.
  */
class FuzzSpec extends SparkSpec {

  import graft.tools.Fuzz

  private val seeds = Seq(0, 7, 19)

  // one fresh corpus root per suite run, so two runs never share corpora
  private val root =
    java.nio.file.Files.createTempDirectory("graft-fuzz-spec").toFile

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(root)
    finally super.afterAll()

  test("generator is seed-deterministic and seed-sensitive") {
    val a = Fuzz.genEvents(spark, 5).collect().toSeq
    val b = Fuzz.genEvents(spark, 5).collect().toSeq
    assert(a == b, "same seed must reproduce the identical events corpus")
    val c = Fuzz.genEvents(spark, 6).collect().toSeq
    assert(a != c, "different seeds must differ")
    val oa = Fuzz.genOrders(spark, 5).collect().toSeq
    val ob = Fuzz.genOrders(spark, 5).collect().toSeq
    assert(oa == ob, "same seed must reproduce the identical orders corpus")
  }

  test("corpora stay boundary-concentrated") {
    val gapUs = 30L * 60L * 1000000L
    val e = Fuzz.genEvents(spark, 0)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val d = e.withColumn("d", col("t") - lag(col("t"), 1).over(w))
    def n(cond: org.apache.spark.sql.Column): Long = d.filter(cond).count()
    assert(n(col("d") === gapUs) > 50, "exact-gap increments must be dense")
    assert(n(col("d") === gapUs + 1L) > 20, "gap+1µs increments must exist")
    assert(n(col("d") === 0L) > 20, "duplicate timestamps must exist")
    val o = Fuzz.genOrders(spark, 0)
    val lattice = o.as("a").join(o.as("b"),
      col("a.o_custkey") === col("b.o_custkey") &&
        col("b.o_orderdate") === col("a.o_orderdate") + expr("INTERVAL 7 DAYS") &&
        col("a.o_orderkey") < col("b.o_orderkey")).count()
    assert(lattice > 5, "exact 7-day interval-lattice pairs must exist")
    assert(o.filter(to_date(col("o_orderdate")) < lit("1998-06-01").cast("date"))
      .count() > 20, "q104's snapshot cut must split the corpus")
  }

  test("sessionization triple parity holds on every fuzz corpus") {
    for (seed <- seeds) {
      val dir = s"$root/s$seed"
      Fuzz.writeCorpus(spark, seed, dir)
      val q45 = graft.analytics.CoreQueries.eventSessions(spark, dir)
        .select("user_id", "session_id", "n_events", "start_us", "end_us",
          "duration_sec").collect().toSet
      val q122 = graft.stream.Sessionize.typedSessionsQuery(spark, dir)
        .select("user_id", "session_id", "n_events", "start_us", "end_us",
          "duration_sec").collect().toSet
      assert(q45 == q122, s"seed $seed: window-lag vs typed state machine")
      val q149 = graft.stream.WindowedAggs.sessionWindowQuery(spark, dir)
        .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
          col("n_events")).collect().toSet
      val q45k = graft.analytics.CoreQueries.eventSessions(spark, dir)
        .select(col("user_id"), col("start_us"), col("n_events"))
        .collect().toSet
      assert(q45k == q149, s"seed $seed: window-lag vs native session_window")
      spark.catalog.clearCache()
    }
  }

  test("the seed-3 q199 round-boundary find stays pinned: the adjusted " +
    "ATE lands EXACTLY on a shortest-string half grid, where Spark and " +
    "DuckDB round() legitimately part") {
    // The round-11 64-family sweep's single divergence (found at
    // 1279/1280, then FIXED): the unrounded quotient's binary value is
    // 155.733749999999986..., BELOW the 4-dp half — but its SHORTEST
    // decimal string is "155.73375". Spark's round() rounds the
    // shortest-string decimal (HALF_UP → 155.7338); DuckDB's rounds the
    // (approximate) exact value (→ 155.7337). Neither engine is wrong;
    // they implement different round semantics that differ only on this
    // knife edge. The q199 oracle now replicates Spark's semantics via a
    // VARCHAR→DECIMAL round-trip (re-swept 20/20); this pin reproduces
    // the CONDITION so the find and its analysis cannot silently rot.
    val dir = s"$root/s3-pin"
    Fuzz.genEvents(spark, 3).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val events = spark.read.parquet(s"$dir/events.parquet")
    val cutoff = lit("2024-01-16").cast("timestamp")
    val units = events.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("ts") < cutoff, 1L)), lit(0L)).as("score"),
        coalesce(sum(when(col("ts") >= cutoff,
          round(col("value") * 100).cast("long"))), lit(0L)).as("cents"))
      .select(col("user_id").as("unit_id"), col("score"),
        (col("user_id") % 2L === 1L).as("treated"), col("cents"))
    val cells = graft.analytics.Uplift.withDeciles(units)
      .groupBy(col("decile"))
      .agg(coalesce(sum(when(col("treated"), 1L)), lit(0L)).as("n_t"),
        coalesce(sum(when(col("treated"),
          col("cents").cast("decimal(38,0)"))),
          lit(0L).cast("decimal(38,0)")).as("s_t"),
        coalesce(sum(when(!col("treated"), 1L)), lit(0L)).as("n_c"),
        coalesce(sum(when(!col("treated"),
          col("cents").cast("decimal(38,0)"))),
          lit(0L).cast("decimal(38,0)")).as("s_c"))
      .filter(col("n_t") > 0L && col("n_c") > 0L)
      .collect().sortBy(_.getLong(0))
    var (swg, ns) = (0.0, 0.0)
    cells.foreach { r =>
      val nt = r.getLong(1); val st = r.getDecimal(2).doubleValue
      val nc = r.getLong(3); val sc = r.getDecimal(4).doubleValue
      swg += (nt + nc).toDouble * (st / nt - sc / nc)
      ns += (nt + nc).toDouble
    }
    val unrounded = swg / ns / 100.0
    // the shortest string terminates on the 4-dp half grid...
    assert(java.lang.Double.toString(unrounded) === "155.73375")
    // ...while the exact binary value sits BELOW it
    assert(new java.math.BigDecimal(unrounded)
      .compareTo(new java.math.BigDecimal("155.73375")) < 0)
  }

  // ==== streaming-parity block (round 12): the MemoryStream twins
  // driven by the SAME 20 seeded corpora as the cross-engine sweep.
  // The batch legs of these families are DuckDB-verified per seed; the
  // tests below close the remaining gap — that the STREAMING paths
  // (stream-stream outer join expiry emission, watermark dedup state,
  // the fenced IVM chain) compute the same answer from the same data.

  private val allSeeds = 0 until 20

  test("q59/q147 streaming parity on every fuzz corpus: the outer " +
    "attribution stream (expiry-emitted nulls included) equals the " +
    "batch twin once sentinels close every horizon") {
    import spark.implicits._
    import graft.stream.StreamJoins
    import graft.stream.StreamJoins.{Click, Impression}
    implicit val sqlCtx = spark.sqlContext
    for (seed <- allSeeds) {
      val ev = Fuzz.genEvents(spark, seed)
        .select("event_id", "ts", "user_id", "event_type").collect()
      val imps = ev.filter(_.getString(3) == "view")
        .map(r => Impression(r.getLong(0), r.getLong(2), r.getTimestamp(1)))
      val clicks = ev.filter(_.getString(3) == "click")
        .map(r => Click(r.getLong(0), r.getLong(2), r.getTimestamp(1)))
      val maxTs = ev.map(_.getTimestamp(1).getTime).max
      def sentinel(id: Long, plusH: Int) = // user -1 never joins corpus rows
        new java.sql.Timestamp(maxTs + plusH * 3600L * 1000L)
      val impStream = MemoryStream[Impression]
      val clickStream = MemoryStream[Click]
      val joined = StreamJoins.attributionOuter(
        impStream.toDF(), clickStream.toDF(), "1 hour")
      val q = joined.writeStream.format("memory")
        .queryName(s"sfz_attr_$seed").outputMode("append").start()
      try {
        impStream.addData(imps.toSeq)
        clickStream.addData(clicks.toSeq)
        q.processAllAvailable()
        // sentinel pushes the watermark past every corpus horizon;
        // outer-state eviction runs a batch behind -> nudge again
        for (h <- Seq(3, 4)) {
          impStream.addData(Impression(-h.toLong, -1L, sentinel(-h, h)))
          clickStream.addData(Click(-h.toLong, -1L, sentinel(-h, h)))
          q.processAllAvailable()
        }
        def key(r: org.apache.spark.sql.Row) =
          (r.getAs[Long]("imp_id"),
            Option(r.getAs[java.lang.Long]("click_id")).map(_.toLong),
            r.getAs[java.sql.Timestamp]("imp_ts").getTime)
        val streamed = spark.table(s"sfz_attr_$seed").collect()
          .map(key).filter(_._1 >= 0L).toSet
        val batch = StreamJoins.attributionOuter(
            imps.toSeq.toDF(), clicks.toSeq.toDF(), "1 hour")
          .collect().map(key).toSet
        assert(batch.nonEmpty, s"seed $seed produced no impressions")
        assert(streamed == batch, s"seed $seed: stream-only " +
          s"${streamed.diff(batch).take(3)}; batch-only ${batch.diff(streamed).take(3)}")
        // q59 inner parity rides along: matched rows are the inner join
        assert(streamed.count(_._2.isDefined) == batch.count(_._2.isDefined))
      } finally q.stop()
      spark.catalog.clearCache()
    }
  }

  test("q136 streaming contract on every fuzz corpus: groups the " +
    "watermark provably clears agree exactly; every disagreeing " +
    "group's FIRST divergence is a streaming drop of a batch-kept row") {
    import spark.implicits._
    import graft.stream.DedupWithin
    import graft.stream.DedupWithin.KEv
    implicit val sqlCtx = spark.sqlContext
    val delayUs = 6L * 3600L * 1000000L // 6-hour horizon for the fuzz walks
    var agreeTotal = 0; var groupTotal = 0
    for (seed <- allSeeds) {
      val evs = Fuzz.genEvents(spark, seed)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("t")).as[KEv].collect()
        .sortBy(e => (e.t, e.event_id))
      val batch = DedupWithin.dedupWithin(evs.toSeq.toDS(), delayUs)
        .collect().map(_.event_id).toSet
      val input = MemoryStream[(Long, String, Long, java.sql.Timestamp)](spark)
      val q = DedupWithin.streamingDedup(
          input.toDF().toDF("user_id", "event_type", "event_id", "ts"),
          "6 hours")
        .writeStream.format("memory").queryName(s"sfz_ddw_$seed")
        .outputMode("append").start()
      try {
        // feed in 8 global-time-ordered chunks so the watermark advances
        evs.grouped(math.max(1, evs.length / 8 + 1)).foreach { chunk =>
          input.addData(chunk.toSeq.map(e => (e.user_id, e.event_type,
            e.event_id, new java.sql.Timestamp(e.t / 1000L))))
          q.processAllAvailable()
        }
      } finally q.stop()
      val streamed = spark.table(s"sfz_ddw_$seed")
        .select("event_id").as[Long].collect().toSet
      evs.groupBy(e => (e.user_id, e.event_type)).foreach { case (k, g) =>
        val ordered = g.sortBy(e => (e.t, e.event_id))
        groupTotal += 1
        if (ordered.forall(e => batch(e.event_id) == streamed(e.event_id)))
          agreeTotal += 1
        else {
          val first = ordered.find(e => batch(e.event_id) != streamed(e.event_id)).get
          assert(batch(first.event_id) && !streamed(first.event_id),
            s"seed $seed group $k: first divergence event ${first.event_id} " +
              "is streaming-kept but batch-dropped — the one-sided law broke")
        }
      }
      spark.catalog.clearCache()
    }
    // the contract must be exercised from BOTH sides: a healthy share of
    // groups agrees outright (measured 1110/3168 = 0.35 across the 20
    // seeds — the boundary generator deliberately parks most gaps inside
    // the late-eviction window), and the disagreeing tail must exist or
    // the one-sided law above was never tested
    assert(agreeTotal.toDouble / groupTotal >= 0.25,
      s"agreement collapsed: $agreeTotal/$groupTotal")
    assert(agreeTotal < groupTotal,
      "no group ever diverged — the boundary generator lost its teeth")
  }

  test("fenced streaming IVM on every fuzz corpus: two JSON delta " +
    "drains through the epoch-fenced chain equal a from-scratch batch " +
    "rebuild (integer-valued totals, so float order cannot mask a miss)") {
    import graft.etl.Ivm
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("key", LongType),
      StructField("sign", LongType), StructField("value", DoubleType)))
    for (seed <- allSeeds) {
      val root = java.nio.file.Files
        .createTempDirectory(s"ivm-fuzz-$seed").toString
      val in = s"$root/in"; val table = s"$root/view"; val ckpt = s"$root/ckpt"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val orders = Fuzz.genOrders(spark, seed)
        .select(col("o_orderkey").as("okey"), col("o_custkey").as("key"),
          round(col("o_totalprice")).as("value")) // whole doubles: exact sums
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      def drop(name: String, rows: Seq[(Long, Long, Double)], sign: Long): Unit =
        java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
          rows.map { case (_, k, v) =>
            s"""{"key":$k,"sign":$sign,"value":$v}"""
          }.mkString("\n"))
      def drain(): String =
        Ivm.maintainStream(
          spark.readStream.schema(schema).json(in), table, ckpt)
          .getOrElse(sys.error(s"seed $seed: no committed snapshot"))
      drop("b1.json", orders.toSeq, sign = 1L)
      drain()
      val dels = orders.filter(_._1 % 7L == 0L)
      drop("b2.json", dels.toSeq, sign = -1L)
      val finalPath = drain()
      val got = spark.read.parquet(finalPath).collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Long]("n"),
          r.getAs[Double]("total"))).toSet
      val want = orders.filter(_._1 % 7L != 0L)
        .groupBy(_._2).map { case (k, rows) =>
          (k, rows.length.toLong, rows.map(_._3).sum)
        }.toSet
      assert(got == want, s"seed $seed: maintained view != batch rebuild; " +
        s"stream-only ${got.diff(want).take(3)}, batch-only ${want.diff(got).take(3)}")
    }
  }

  test("streaming dedup-index maintenance on every fuzz corpus: seeded " +
    "document batch splits drained through the fenced chain equal the " +
    "from-scratch pair set of everything ingested (all-integer rows)") {
    import graft.dedup.{Dedup, DedupMaintain}
    for (seed <- allSeeds) {
      val root = java.nio.file.Files
        .createTempDirectory(s"dedup-stream-fuzz-$seed").toString
      val in = s"$root/in"; val table = s"$root/state"
      val ckpt = s"$root/ckpt"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val docs = Fuzz.genDocuments(spark, seed)
        .select(col("doc_id"), col("text")).localCheckpoint()
      // seed-varied split: 2–4 batches by doc_id residue, so batch
      // boundaries land differently against the planted dup structure
      val nSplits = 2 + seed % 3
      def drop(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val tmp = s"$root/tmp_$name"
        df.coalesce(1).write.json(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".json")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(in, s"$name.json"))
      }
      def drain(): String = {
        val s = spark.readStream
          .schema("doc_id LONG, text STRING").json(in)
        DedupMaintain.maintainStream(s, table, ckpt)
          .getOrElse(sys.error(s"seed $seed: no committed snapshot"))
      }
      var last: String = null
      (0 until nSplits).foreach { b =>
        drop(s"b$b", docs.filter(col("doc_id") % nSplits === b))
        last = drain()
      }
      val got = DedupMaintain.pairsOf(spark.read.parquet(last))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = DedupMaintain.pairsFromShingles(Dedup.cappedShingles(
          spark.read.schema("doc_id LONG, text STRING").json(in),
          DedupMaintain.K, DedupMaintain.MaxDf))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == want, s"seed $seed ($nSplits splits): maintained " +
        s"pair set != scratch; stream-only ${got.diff(want).take(3)}, " +
        s"scratch-only ${want.diff(got).take(3)}")
    }
  }

  test("streaming CRUD index maintenance on every fuzz corpus: seeded " +
    "insert batches with interleaved delete waves and a one-batch " +
    "update wave drain through the fenced chain — the final state " +
    "equals the from-scratch build of the surviving corpus") {
    import graft.dedup.{Dedup, DedupMaintain}
    for (seed <- allSeeds) {
      val root = java.nio.file.Files
        .createTempDirectory(s"dedup-crud-fuzz-$seed").toString
      val in = s"$root/in"; val table = s"$root/state"
      val ckpt = s"$root/ckpt"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val docs = Fuzz.genDocuments(spark, seed)
        .select(col("doc_id"), col("text")).localCheckpoint()
      val nSplits = 2 + seed % 3
      val kill = seed % 5
      val killCond = col("doc_id") % 5 === kill
      val updCond = col("doc_id") % 7 === 3 && col("doc_id") % 5 =!= kill
      def drop(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val tmp = s"$root/tmp_$name"
        df.coalesce(1).write.json(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".json")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(in, s"$name.json"))
      }
      def drain(): String = {
        val s = spark.readStream
          .schema("op STRING, doc_id LONG, text STRING").json(in)
        DedupMaintain.maintainStreamCrud(s, table, ckpt)
          .getOrElse(sys.error(s"seed $seed: no committed snapshot"))
      }
      def ins(df: org.apache.spark.sql.DataFrame) =
        df.select(lit("insert").as("op"), col("doc_id"), col("text"))
      def del(df: org.apache.spark.sql.DataFrame) =
        df.select(lit("delete").as("op"), col("doc_id"),
          lit("").as("text"))
      var last: String = null
      // batch b inserts slice b and deletes the kill residue of the
      // PREVIOUS slice — each delete lands after its insert committed,
      // and the df decrements can resurrect pairs later inserts then
      // re-retract (both directions of the cap per seed)
      (0 until nSplits).foreach { b =>
        val slice = docs.filter(col("doc_id") % nSplits === b)
        val prev = docs.filter(col("doc_id") % nSplits === b - 1)
        val batch = if (b == 0) ins(slice)
          else ins(slice).unionByName(del(prev.filter(killCond)))
        drop(s"b$b", batch)
        last = drain()
      }
      // trailing waves: the LAST slice's kill residue, then a one-batch
      // UPDATE of the %7 survivors (delete + re-insert with new text —
      // the in-batch retract+insert contract at fuzz scale)
      drop("bk", del(docs.filter(
        col("doc_id") % nSplits === nSplits - 1 && killCond)))
      last = drain()
      val updated = docs.filter(updCond)
        .select(col("doc_id"),
          concat(col("text"), lit(" upd marker tail")).as("text"))
      drop("bu", del(updated).unionByName(ins(updated)))
      last = drain()
      val survivors = docs.filter(!killCond && !updCond)
        .unionByName(updated)
      val got = DedupMaintain.pairsOf(spark.read.parquet(last))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = DedupMaintain.pairsFromShingles(Dedup.cappedShingles(
          survivors, DedupMaintain.K, DedupMaintain.MaxDf))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == want, s"seed $seed ($nSplits splits, kill %$kill): " +
        s"CRUD-maintained pair set != scratch over survivors; " +
        s"stream-only ${got.diff(want).take(3)}, " +
        s"scratch-only ${want.diff(got).take(3)}")
    }
  }

  test("streaming vector-index maintenance on every fuzz corpus: a " +
    "seeded train/append split drained through the fenced chain " +
    "re-encodes exactly through its own frozen codebooks") {
    import graft.similarity.VectorIndexMaintain._
    for (seed <- allSeeds) {
      val root = java.nio.file.Files
        .createTempDirectory(s"vec-stream-fuzz-$seed").toString
      val in = s"$root/in"; val table = s"$root/state"
      val ckpt = s"$root/ckpt"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val sch = "vec_id LONG, embedding ARRAY<FLOAT>"
      val emb = Fuzz.genEmbeddings(spark, seed)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      // seed-varied train fraction: the append batch is residue m−1 of
      // modulus m ∈ 3..6 — different codebook sample every seed
      val m = 3 + seed % 4
      def drop(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val tmp = s"$root/tmp_$name"
        df.coalesce(1).write.json(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".json")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(in, s"$name.json"))
      }
      def drain(): String =
        maintainStream(spark.readStream.schema(sch).json(in), table, ckpt)
          .getOrElse(sys.error(s"seed $seed: no committed snapshot"))
      drop("b1", emb.filter(col("vec_id") % m =!= m - 1))
      drain()
      drop("b2", emb.filter(col("vec_id") % m === m - 1))
      val v2 = drain()
      val st = spark.read.schema(IndexStateSchema).parquet(v2)
      val ingested = spark.read.schema(sch).json(in)
      val bad = reencodeDiff(st, ingested).collect()
      assert(bad.isEmpty,
        s"seed $seed (m=$m): ${bad.length} code mismatches, e.g. " +
          s"${bad.take(3).toSeq}")
      assert(codesOf(st).select(col("vec_id")).distinct().count()
        == ingested.count(), s"seed $seed: code table lost vectors")
    }
  }

  test("spatial corpus stays boundary-concentrated: offsets straddle the " +
    "radius cut tightly, homes sit on cell corners, keys are unique") {
    val keys = Fuzz.genCustomer(spark, 0).collect().map(_.getLong(0))
    assert(keys.length == keys.distinct.length, "c_custkey must be unique")
    // the two straddling residues of the mod-401 offset lattice: 91 →
    // dist² 39978 (inside r²=40000), 126 → 40042 (outside)
    assert(keys.count(_ % 401L == 91L) > 30, "just-inside offsets must be dense")
    assert(keys.count(_ % 401L == 126L) > 30, "just-outside offsets must be dense")
    val d2 = (k: Long) => {
      val dx = (k * 48271L) % 401L - 200L; val dy = (k * 16807L) % 401L - 200L
      dx * dx + dy * dy
    }
    assert(keys.filter(_ % 401L == 91L).forall(d2(_) == 39978L))
    assert(keys.filter(_ % 401L == 126L).forall(d2(_) == 40042L))
    // cell-corner homes: k ≡ 0 (mod 256) puts BOTH hash coordinates on a
    // multiple of 256 (odd multipliers preserve the 2-adic valuation)
    assert(keys.count(_ % 256L == 0L) > 15, "cell-corner homes must exist")
    assert(keys.exists(_ > 1000000000L), "big-modulus keys must exist")
  }

  test("the round-12 PQ dimension find stays pinned: product quantization " +
    "is dimension-generic — the 16-dim fuzz corpus gets complete codes " +
    "and a full ADC result, not the empty frame the 64-hardcoded slicing " +
    "produced") {
    // found by the 94-family sweep: subspace slicing hardcoded d = 64
    // (s*8+1..s*8+8), so on the 16-dim fuzz embeddings subspaces s >= 2
    // sliced past the vector, l2 folded over null pads, every code row
    // failed the n_s = M completeness filter, and q207/q208 returned 0
    // rows while the oracle returned 40. Subspace width is now d/M on
    // both sides.
    import graft.similarity.ProductQuantization
    val emb = Fuzz.genEmbeddings(spark, 3)
    val dim = emb.select(size(col("embedding"))).collect()(0).getInt(0)
    assert(dim == 16, s"fuzz corpus moved to $dim dims — repin this case")
    val codes = ProductQuantization.assign(
      ProductQuantization.subspaces(emb),
      ProductQuantization.trainCodebook(emb))
    assert(codes.count() === emb.count() * ProductQuantization.M,
      "every vector must carry a code in EVERY subspace")
    val adc = ProductQuantization.adcTopK(emb).collect()
    assert(adc.length ===
      ProductQuantization.NQueries * ProductQuantization.TopK)
    assert(adc.forall(_.getLong(3) >= 0L))
  }
}
