package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SessionDefaults, SparkEntry}
import graft.dedup.DedupMaintain
import graft.etl.{BusinessEtl, ReviewEtl, Schemas, UserEtl, YelpPipeline}
import graft.similarity.VectorIndexMaintain
import graft.stream.Ingest

/** One benchmark run of one workload inside one JVM.
  *
  *   Harness --workload relational|driver_loops|ingest_flow --data DIR
  *     --ingest DIR --work DIR --out FILE --seconds N --trace 0|1 --cpus C
  *
  * Set-up runs the workload `SetupReps` times, each repetition on a fresh
  * copy of the inputs and a fresh state root (`java.io.tmpdir`), so
  * persisted chains and corpus memos are rebuilt every time; the first
  * repetition also writes every query result for the output check. The
  * timed window then runs whole passes, closed loop with one client: query
  * workloads repeat their pass until `--seconds` have elapsed (at least
  * `MinPasses` times); `ingest_flow` runs its fixed batch list once,
  * whatever `--seconds` is, because each batch adds to the state the next
  * one reads. Raw records go to `--out` as JSON; run.py turns them into
  * metrics.
  */
object Harness {

  val SetupReps = 2
  val MinPasses = 2

  /** One query per operator family, the one with the most scan or shuffle
    * volume where several cover it: aggregate over lineitem (q01),
    * three-way join (q02), range window (q46), ranking windows (q54), join
    * plus salted aggregate (q60), grouping sets (q81). */
  val Relational: Seq[String] = Seq("q01", "q02", "q46", "q54", "q60", "q81")

  val DriverLoops: Seq[String] = Seq("q57", "q67", "q213")

  /** Engine module each query function lives in (CoreQueries is
    * `graft.analytics`). */
  private val moduleOf: Map[String, String] = Map(
    "q57" -> "graph", "q67" -> "similarity", "q213" -> "dedup",
    "q60" -> "operators")

  def module(q: String): String = moduleOf.getOrElse(q, "analytics")

  /** Fixed as-of anchor for the user ETL's account age. */
  val AsOf: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")

  final case class Op(pass: Int, name: String, ok: Boolean, err: String,
      seconds: Double, layers: Seq[(String, Double)], span: Long)

  /** Run `body` as one operation: its layer calls add their seconds to
    * `layers`; a throw becomes a failed op with its class and message. */
  def op(spans: Spans, pass: Int, name: String)(
      body: mutable.ArrayBuffer[(String, Double)] => Unit): Op = {
    val layers = mutable.ArrayBuffer[(String, Double)]()
    val t0 = System.nanoTime()
    var spanId = 0L
    try {
      spans.timed("op", name) {
        spanId = spans.current
        body(layers)
      }
      Op(pass, name, ok = true, "", (System.nanoTime() - t0) / 1e9, layers.toSeq, spanId)
    } catch {
      case NonFatal(e) =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        Op(pass, name, ok = false, msg, (System.nanoTime() - t0) / 1e9, layers.toSeq, spanId)
    }
  }

  // ---------------------------------------------------------------------
  // Workloads

  trait Workload {
    /** One set-up repetition on fresh inputs and state; `check` also
      * writes outputs for the correctness check. */
    def setup(spans: Spans, rep: Int, check: Boolean): Seq[Op]
    /** Number of passes in the timed window when it is a fixed list; None
      * when passes repeat until the window's time is up. */
    def fixedPasses: Option[Int]
    /** Timed pass `p` of the window. */
    def pass(spans: Spans, p: Int): Seq[Op]
    /** Untimed end-of-run checks and facts, as JSON fields. */
    def finish(): Seq[(String, Any)]
    /** Directories holding the workload's persisted state. */
    def stateDirs: Seq[Path]
  }

  final class QueryWorkload(spark: SparkSession, names: Seq[String], data: Path,
      work: Path) extends Workload {
    private val byPrefix: Map[String, (String, (SparkSession, String) => DataFrame)] =
      names.map { q =>
        val hits = SparkEntry.queries.filter(_._1.startsWith(q + "_")).toSeq
        require(hits.size == 1, s"$q does not name exactly one engine query")
        q -> hits.head
      }.toMap
    private var dir: Path = data
    private var tmp: Path = work.resolve("tmp")

    def stateDirs: Seq[Path] = Seq(tmp)

    private def runQuery(spans: Spans, pass: Int, q: String, sink: DataFrame => Unit): Op =
      op(spans, pass, q) { layers =>
        val fn = byPrefix(q)._2
        val (cs, df) = spans.timed("construct", q)(fn(spark, dir.toString))
        layers += ("construct" -> cs)
        val (ps, _) = spans.timed("plan", q)(df.queryExecution.executedPlan)
        layers += ("plan" -> ps)
        val (es, _) = spans.timed("exec", q)(sink(df))
        layers += ("exec" -> es)
        spark.catalog.clearCache()
      }

    private val noop: DataFrame => Unit =
      _.write.format("noop").mode("overwrite").save()

    def setup(spans: Spans, rep: Int, check: Boolean): Seq[Op] = {
      dir = work.resolve(s"data_$rep")
      copyTree(data, dir)
      tmp = work.resolve(s"tmp_$rep")
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      val results = work.resolve("results")
      names.map { q =>
        val sink: DataFrame => Unit =
          if (check) _.coalesce(1).write.mode("overwrite").parquet(results.resolve(q).toString)
          else noop
        runQuery(spans, -1 - rep, q, sink)
      }
    }

    def fixedPasses: Option[Int] = None

    def pass(spans: Spans, p: Int): Seq[Op] = names.map(q => runQuery(spans, p, q, noop))

    def finish(): Seq[(String, Any)] = {
      val oracle = names.flatMap { q =>
        val full = byPrefix(q)._1
        SparkEntry.oracleSql.get(full).map(sql => q -> sql)
      }
      Seq("oracle_sql" -> oracle.toMap, "check_data" -> data.toString,
        "results" -> work.resolve("results").toString)
    }
  }

  /** Batch 0 (index training, first stream start) is set-up; the timed
    * window ingests batches 1 .. n-1, once each, on the chain set-up left. */
  final class IngestWorkload(spark: SparkSession, ingest: Path, work: Path)
      extends Workload {
    private val nBatches =
      Files.list(ingest).iterator().asScala.count(_.getFileName.toString.startsWith("batch_"))
    private var root: Path = work.resolve("ingest_0")
    private var next = 0
    private val domains = Seq("business", "user", "review")

    def stateDirs: Seq[Path] = Seq(root.resolve("state"))

    private def transform(d: String): DataFrame => DataFrame = d match {
      case "business" => BusinessEtl.transform
      case "user"     => UserEtl.transform(_, AsOf)
      case "review"   => ReviewEtl.transform
    }
    private def schema(d: String) = d match {
      case "business" => Schemas.business
      case "user"     => Schemas.user
      case "review"   => Schemas.review
    }

    /** Land batch `b`'s files (untimed), then run its steps as one op. */
    private def batch(spans: Spans, pass: Int, b: Int): Op = {
      val src = ingest.resolve(s"batch_$b")
      domains.foreach { d =>
        val landing = root.resolve("landing").resolve(d)
        Files.createDirectories(landing)
        Files.copy(src.resolve(s"$d.json"), landing.resolve(s"batch_$b.json"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      op(spans, pass, s"batch_$b") { layers =>
        domains.foreach { d =>
          val (s, _) = spans.timed(s"ingest.$d", s"batch_$b") {
            Ingest.drainToParquet(spark, schema(d), root.resolve("landing").resolve(d).toString,
              transform(d), root.resolve("processed").resolve(d).toString,
              root.resolve("ckpt").resolve(d).toString)
          }
          layers += (s"ingest.$d" -> s)
        }
        val (us, _) = spans.timed("etl.unified", s"batch_$b") {
          def read(d: String) = spark.read.parquet(root.resolve("processed").resolve(d).toString)
          YelpPipeline.unified(read("review"), read("user"), read("business"))
            .write.mode("overwrite").parquet(root.resolve("unified").toString)
        }
        layers += ("etl.unified" -> us)
        val docs = spark.read.parquet(src.resolve("docs.parquet").toString)
        val (ds, _) = spans.timed("dedup.commit", s"batch_$b") {
          Ingest.advanceSnapshot(spark, root.resolve("state/dedup").toString,
            DedupMaintain.emptyState(spark))(st => DedupMaintain.nextState(st, docs))
        }
        layers += ("dedup.commit" -> ds)
        val vecs = spark.read.parquet(src.resolve("vectors.parquet").toString)
        val (vs, _) = spans.timed("similarity.commit", s"batch_$b") {
          Ingest.advanceSnapshot(spark, root.resolve("state/vectors").toString,
            VectorIndexMaintain.emptyIndexState(spark))(
            st => VectorIndexMaintain.nextIndexState(st, vecs))
        }
        layers += ("similarity.commit" -> vs)
        spark.catalog.clearCache()
      }
    }

    def setup(spans: Spans, rep: Int, check: Boolean): Seq[Op] = {
      root = work.resolve(s"ingest_$rep")
      val tmp = root.resolve("tmp")
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      next = 1
      Seq(batch(spans, -1 - rep, 0))
    }

    def fixedPasses: Option[Int] = Some(nBatches - 1)

    def pass(spans: Spans, p: Int): Seq[Op] = {
      val b = next
      next += 1
      Seq(batch(spans, p, b))
    }

    def finish(): Seq[(String, Any)] = {
      val ingested = (0 until next).map(b => ingest.resolve(s"batch_$b"))
      def all(f: String) = spark.read.parquet(ingested.map(_.resolve(f).toString): _*)
      def latest(t: String) = Ingest.latestSnapshotPath(spark, root.resolve(t).toString)
        .map(spark.read.parquet(_)).getOrElse(sys.error(s"no committed snapshot in $t"))
      def diffCount(a: DataFrame, b: DataFrame) =
        a.exceptAll(b).count() + b.exceptAll(a).count()
      val checks = Seq(
        "dedup_pairs_diff" -> (() => diffCount(DedupMaintain.pairsOf(latest("state/dedup")),
          DedupMaintain.pairsOf(DedupMaintain.buildState(all("docs.parquet"))))),
        "vector_reencode_diff" -> (() => VectorIndexMaintain.reencodeDiff(
          latest("state/vectors"), all("vectors.parquet")).count()),
        "unified_rows" -> (() => spark.read.parquet(root.resolve("unified").toString).count()))
      val results = checks.map { case (k, f) =>
        k -> (try f() catch { case NonFatal(e) => s"${e.getClass.getName}: ${e.getMessage}" })
      }
      Seq("batches_ingested" -> next, "ingest_checks" -> results.toMap)
    }
  }

  // ---------------------------------------------------------------------
  // Host probes

  def copyTree(from: Path, to: Path): Unit = {
    val stream = Files.walk(from)
    try stream.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally stream.close()
  }

  def treeStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val stream = Files.walk(root)
      try {
        val ps = stream.iterator().asScala.toSeq
        (ps.filter(Files.isRegularFile(_)).map(Files.size).sum,
          ps.count(p => Files.isDirectory(p) && p.getFileName.toString.matches("v\\d{6}")).toLong)
      } finally stream.close()
    }

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  /** Median seconds of a fixed pointer chase through a 32 MB random cycle:
    * the host's current memory latency, so a slow run can be told apart from
    * a slow program. Contention from other tenants shows here before it
    * shows as steal time. */
  def calibrationSeconds(): Double = {
    val n = 1 << 23
    val next = new Array[Int](n)
    val order = (0 until n).toArray
    val rnd = new java.util.Random(1L)
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    i = 0
    while (i < n) { next(order(i)) = order((i + 1) % n); i += 1 }
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var p = 0
      var k = 0
      while (k < 500000) { p = next(p); k += 1 }
      if (p == -1) println(p) // keeps the chase from being optimised away
      (System.nanoTime() - t0) / 1e9
    }
    times.sorted.apply(2)
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  // ---------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SessionDefaults.silenceProvenBenignWarnings()
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val wl: Workload = workload match {
      case "relational" => new QueryWorkload(spark, Relational, Paths.get(a("data")), work)
      case "driver_loops" => new QueryWorkload(spark, DriverLoops, Paths.get(a("data")), work)
      case "ingest_flow" => new IngestWorkload(spark, Paths.get(a("ingest")), work)
      case other => sys.error(s"unknown workload $other")
    }

    /** The timed window's passes as (pass, seconds, ops). */
    def window(spans: Spans): Seq[(Int, Double, Seq[Op])] = {
      val w0 = spans.nowMs
      val passes = mutable.ArrayBuffer[(Int, Double, Seq[Op])]()
      def more = wl.fixedPasses match {
        case Some(n) => passes.size < n
        case None => passes.size < MinPasses || spans.nowMs - w0 < seconds * 1000
      }
      while (more) {
        val p0 = spans.nowMs
        val ops = wl.pass(spans, passes.size)
        passes += ((passes.size, (spans.nowMs - p0) / 1000.0, ops))
      }
      passes.toSeq
    }

    // set-up: fresh repetitions, untraced
    val plain = new Spans(sc, None)
    val setup = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val ops = wl.setup(plain, rep, check = rep == 0)
      (rep, (System.nanoTime() - t0) / 1e9, ops)
    }

    // A traced run brackets its window with the same window run untraced,
    // once before and once after: the overhead baseline. One baseline alone
    // would count the JIT still settling (before) or warmer code (after) as
    // tracing overhead. A fixed pass list gets a fresh chain before each
    // later window, so all three see state of the same depth.
    var extraReps = SetupReps
    def freshChain(): Unit = if (wl.fixedPasses.isDefined) {
      wl.setup(plain, extraReps, check = false)
      extraReps += 1
    }
    val baselineBefore = if (trace) window(plain).map(_._2) else Seq.empty
    if (trace) freshChain()

    val tracer = if (trace) Some(new Tracer(sc)) else None
    tracer.foreach { t => t.drain(); sc.addSparkListener(t) }
    val spans = new Spans(sc, tracer)
    val calib = calibrationSeconds()
    val gc0 = gcSeconds()
    val (steal0, total0) = cpuJiffies()
    tracer.foreach(_.windowOpen = true)
    val w0 = spans.nowMs
    val passes = window(spans)
    val w1 = spans.nowMs
    tracer.foreach { t => t.drain(); t.windowOpen = false; sc.removeSparkListener(t) }
    val (steal1, total1) = cpuJiffies()
    val gc = gcSeconds() - gc0
    val baseline = if (trace) {
      freshChain()
      Some(baselineBefore ++ window(plain).map(_._2))
    } else None

    val f0 = System.nanoTime()
    val facts = wl.finish()
    val finishS = (System.nanoTime() - f0) / 1e9
    val (stateBytes, snapshots) = wl.stateDirs.map(treeStats)
      .foldLeft((0L, 0L)) { case ((b, s), (b2, s2)) => (b + b2, s + s2) }

    def opJson(o: Op): Map[String, Any] = Map(
      "pass" -> o.pass, "name" -> o.name, "module" -> module(o.name.takeWhile(_ != '_')),
      "ok" -> o.ok, "err" -> o.err, "s" -> o.seconds, "span" -> o.span,
      "layers" -> o.layers.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum })

    val traceJson: Any = tracer.map { t =>
      Map(
        "run" -> Map("start" -> w0, "end" -> w1),
        "spans" -> spans.closed.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start" -> s.startMs, "end" -> s.endMs)),
        "jobs" -> t.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map("id" -> j.id,
          "span" -> j.span, "start" -> j.startMs, "end" -> j.endMs, "site" -> j.site)),
        "counters" -> t.allCounters.map { case (k, c) => k.toString -> Map(
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_run_ms" -> c.taskRunMs, "task_cpu_ns" -> c.taskCpuNs,
          "shuffle_write" -> c.shuffleWrite, "shuffle_read" -> c.shuffleRead,
          "spill" -> c.spill, "input" -> c.input, "input_rows" -> c.inputRows,
          "output" -> c.output) })
    }.orNull

    val out = Map(
      "workload" -> workload, "cpus" -> cpus.toInt,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "session_s" -> sessionS, "finish_s" -> finishS,
      "setup" -> setup.map { case (rep, s, ops) =>
        Map("rep" -> rep, "s" -> s, "ops" -> ops.map(opJson)) },
      "baseline_passes_s" -> baseline,
      "window" -> Map("wall_s" -> (w1 - w0) / 1000.0, "gc_s" -> gc,
        "calib_s" -> calib, "steal_frac" -> (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0),
        "passes" -> passes.map { case (p, s, _) => Map("pass" -> p, "s" -> s) }),
      "ops" -> passes.flatMap(_._3).map(opJson),
      "state" -> Map("bytes" -> stateBytes, "snapshots" -> snapshots),
      "peak_rss_mb" -> peakRssMb(),
      "trace" -> traceJson) ++ facts
    Files.writeString(Paths.get(a("out")), Json.write(out))
    spark.stop()
  }
}

/** Minimal JSON writer for the harness's raw records. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
