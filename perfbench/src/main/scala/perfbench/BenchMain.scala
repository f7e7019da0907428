package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{BenchMemoAudit, GraftQuery, Registry, SessionMemo, T}
import graft.parity.{Annotate, Dashboard, ReportSink}

/** The benchmark's JVM side. `perfbench/run.py` builds it, generates the
  * inputs, launches it and turns what it prints into the benchmark's
  * metrics. Modes:
  *
  *  - `run`: start up, then run one workload for `--seconds` and print
  *    one `RESULT {...}` line of raw samples;
  *  - `record`: run the registry sample once and write the row counts and
  *    content hashes that the `registry` workload checks against.
  *
  * A run is: one warm-up pass (checked, not timed), then measured
  * passes until `--seconds` have passed and at least three have run. With
  * `--trace 1` the measured passes alternate untraced and traced, so a run
  * reports its own tracing overhead; per-layer numbers come from the
  * traced passes only. Every operation is checked; a wrong answer or an
  * exception counts as failed.
  */
object BenchMain {
  val WarmUpPasses = 1
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val spark = ready(need("work"))
    try need("mode") match {
      case "record" => Record(spark, need("data"), need("expected"))
      case "run" =>
        val workload = need("workload")
        val w = new Workload(spark, workload, need("data"), need("expected"), need("work"),
          seed = need("seed").toLong, traced = need("trace") == "1")
        val result = w.run(need("seconds").toDouble, need("spans"))
        println("RESULT " + result)
      case m => sys.error(s"unknown mode $m")
    } finally {
      SessionMemo.clear(spark)
      spark.stop()
    }
  }

  /** Start-up: the session, and the program's query registry loaded.
    * Prints READY when done; run.py times a process from its start to
    * that line. */
  def ready(work: String): SparkSession = {
    val spark = session(work)
    Registry.all.size
    println("READY")
    System.out.flush()
    spark
  }

  /** The session every workload runs on: all local cores, the same
    * settings as the program's own bench harness, scratch inside `work`. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", T.warehouseDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs a query into the noop sink and returns its row count and an
    * order-insensitive content hash, observed on the same job (no extra
    * job): the sum, split in two 32-bit halves so it cannot overflow, of a
    * 64-bit hash of each row's JSON rendering. */
  def runNoop(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val obs = Observation()
    val h = xxhash64(to_json(struct(col("*"))))
    df.observe(obs, count(lit(1)).as("rows"),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
        coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)).as("lo"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], f"${m("hi").asInstanceOf[Long]}%x:${m("lo").asInstanceOf[Long]}%x")
  }
}

/** `record` mode: the expected answers of the registry sample on `data`. */
object Record {
  def apply(spark: SparkSession, data: String, out: String): Unit = {
    val entries = Workload.RegistrySample.map { case (name, _) =>
      val q = Registry.byName(name)
      val check = if (q.oracle.isEmpty && q.oracleGen.isEmpty) "rows" else "content"
      val (rows, hash) = BenchMain.runNoop(q.run(spark, data))
      System.err.println(s"[record] $name rows=$rows")
      name -> Json.obj(Seq("rows" -> rows.toString, "hash" -> Json.str(hash), "check" -> Json.str(check)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (Json.obj(entries).replace("},", "},\n") + "\n").getBytes("UTF-8"))
  }
}

final class Workload(spark: SparkSession, name: String, data: String, expectedPath: String,
    work: String, seed: Long, traced: Boolean) {

  private val tracer = new Tracer(spark)
  private val cores = spark.sparkContext.defaultParallelism
  private val expected = Json.read(expectedPath)

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()
  /** Latency samples (ms) of the measured untraced passes: registry
    * queries and dashboard interactions. A failed operation is +Inf,
    * beyond every percentile. */
  private val opMs = mutable.ArrayBuffer[Double]()
  private val refreshMs = mutable.ArrayBuffer[Double]()
  private val pipelineS = mutable.ArrayBuffer[Double]()
  private var measuring = false

  /** T's table memo in the traced pass, which the audit logs leave out:
    * entries built (created or replaced) by any call, and the reads of the
    * documents table the benchmark sees: its own T calls and Dashboard's
    * Refresh, which reloads through T. A read after which the entry is
    * the same object as before built nothing. */
  private var tableBuilds = 0
  private var tableBuildS = 0.0
  private var tableReads = 0
  private var tableHits = 0

  /** One checked operation: `call` is timed (as a span when tracing),
    * `check` is not. `latency` puts the time, less `excludedMs` (evaluated
    * right after the call), among the latency samples. Returns the call's
    * value unless it threw. */
  private def op[A](span: String, attr: String = "", latency: Boolean = true,
      excludedMs: => Double = 0.0)(call: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    val tables = if (tracer.tracing) BenchMemoAudit.tableEntries(spark) else Map.empty[String, AnyRef]
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(span, attr)(call)) catch { case NonFatal(e) => Left(e) }
    val callS = (System.nanoTime() - t0) / 1e9
    val ms = callS * 1e3 - excludedMs
    if (tracer.tracing) {
      val built = BenchMemoAudit.tableEntries(spark).count { case (k, v) => !tables.get(k).exists(_ eq v) }
      tableBuilds += built
      if (span == "T.apply") tableBuildS += (if (built > 0) callS else 0.0)
      if (Workload.TableReads.contains(span)) {
        tableReads += 1
        if (built == 0) tableHits += 1
      }
    }
    val err = res match {
      case Left(e) => Some(s"$span $attr threw ${e.toString.take(300)}")
      case Right(a) => try check(a) catch { case NonFatal(e) => Some(s"$span $attr check threw $e") }
    }
    err.foreach { m =>
      failed += 1
      if (failures.size < 20) failures += m
      System.err.println(s"[perfbench] FAILED: $m")
    }
    if (measuring && latency) opMs += (if (err.isEmpty) ms else Double.PositiveInfinity)
    res.toOption
  }

  private def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  // ------------------------------------------------------------ registry

  private lazy val registryQueries: Seq[(GraftQuery, String)] =
    Workload.RegistrySample.map { case (q, module) => Registry.byName(q) -> module }

  /** SessionMemo builds seen this pass, drained after every query so each
    * query's latency sample is its marginal cost: a shared index is built
    * by whichever query the seeded order puts first, and counting the
    * build there would make the latency percentiles depend on the order
    * (the program's own bench harness subtracts builds the same way). The
    * pass time keeps the builds. */
  private val passBuilds = mutable.ArrayBuffer[(String, Double)]()

  private def drainBuildsMs(): Double = {
    val b = BenchMemoAudit.drainBuilds()
    passBuilds ++= b
    b.map(_._2).sum * 1e3
  }

  private def registryPass(pass: Int): Int = {
    SessionMemo.clear(spark)
    val order = new scala.util.Random(seed * 7919 + pass).shuffle(registryQueries)
    order.foreach { case (q, module) =>
      val want = expected.get(q.name)
      op("query", module, excludedMs = drainBuildsMs()) {
        val df = tracer.span("GraftQuery.run", module)(q.run(spark, data))
        tracer.span("noop.write", module)(BenchMain.runNoop(df))
      } { case (rows, hash) =>
        mismatch(s"${q.name} rows", rows, want.get("rows").asLong).orElse(
          if (want.get("check").asText == "rows") None
          else mismatch(s"${q.name} hash", hash, want.get("hash").asText))
      }
    }
    order.size
  }

  // --------------------------------------------------- dashboard: pipeline

  private def pairs(node: com.fasterxml.jackson.databind.JsonNode): Seq[(String, Long)] =
    node.elements.asScala.map(p => p.get(0).asText -> p.get(1).asLong).toSeq

  private def rowsOf(rs: Array[Row]): Seq[(String, Long)] =
    rs.toSeq.map(r => String.valueOf(r.get(0)) -> r.getLong(1))

  private def outDir(sub: String) = s"$work/out/$sub"

  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toList finally s.close()
    }
  }

  private def lineCount(files: Seq[java.nio.file.Path]): Long =
    files.map { f =>
      val lines = java.nio.file.Files.lines(f)
      try lines.count() finally lines.close()
    }.sum

  /** The reference batch job over the generated corpus: read, annotate,
    * per-source JSON results, flatten + A1, A2/A3, A4, flagged reports. */
  private def pipeline(): Unit = {
    val p0 = System.nanoTime()
    val docs = op("T.apply", latency = false)(T(spark, data, "documents"))(_ => None)
    val ann = docs.flatMap(d => op("Annotate.annotated", latency = false)(Annotate.annotated(d))(_ => None))
    ann.foreach { a =>
      // S4 result shape: one JSON document per source file
      op("results.write", latency = false) {
        a.select(col("source"), struct(col("doc_id"), col("lang").as("language"),
            col("text").as("literal"), col("tags")).as("result"))
          .groupBy(col("source"))
          .agg(sort_array(collect_list(col("result"))).as("results"))
          .write.mode("overwrite").json(outDir("results"))
      } { _ =>
        mismatch("result documents", lineCount(dataFiles(outDir("results"))),
          expected.get("sources").asLong)
      }
      op("parity.flatten_agg", latency = false) {
        def run(q: String) = Registry.byName(q).run(spark, data).collect()
        (rowsOf(run("parity_a1_issue_distribution")),
          rowsOf(run("parity_a2a3_tag_histogram")),
          run("parity_a4_language_list").toSeq.map(_.getString(0)))
      } { case (a1, a2a3, a4) =>
        mismatch("A1", a1, pairs(expected.get("a1").get(Dashboard.All)))
          .orElse(mismatch("A2/A3", a2a3, pairs(expected.get("a2a3").get(Dashboard.All))))
          .orElse(mismatch("A4", a4, languages))
      }
      op("ReportSink.writeFlaggedReports", latency = false)(
          ReportSink.writeFlaggedReports(a, outDir("reports"))) { n =>
        val files = dataFiles(outDir("reports"))
        val tags = expected.get("total_tags").asLong
        val flagged = expected.get("flagged_sources").asLong
        mismatch("report tag rows", n, tags)
          .orElse(mismatch("report files", files.map(_.getParent).distinct.size.toLong, flagged))
          .orElse(mismatch("report lines", lineCount(files), tags + flagged))
      }
    }
    if (measuring) pipelineS += (System.nanoTime() - p0) / 1e9
  }

  // ------------------------------------------------ dashboard: interactions

  private lazy val dashboard: Dashboard = tracer.span("Dashboard.new")(new Dashboard(spark, data))
  private lazy val languages: Seq[String] =
    expected.get("languages").elements.asScala.map(_.asText).toSeq

  /** One block of interactions: a fixed mix, shuffled by the seed, so every
    * block does the same kinds of work in a different order. "lang" reads
    * filter on a language the seed picks; "All" reads see every row. */
  private val blockMix: Seq[String] =
    Seq("issue All") ++ Seq.fill(3)("issue lang") ++ Seq("record All") ++
      Seq.fill(2)("record lang") ++ Seq.fill(2)("languages") :+ "refresh"

  private def interactions(block: Int): Int = {
    val rnd = new scala.util.Random(seed * 104729 + block)
    def lang(selector: String): String =
      if (selector == "All") Dashboard.All else languages(rnd.nextInt(languages.size))
    rnd.shuffle(blockMix).map(_.split(" ")).foreach {
      case Array("issue", selector) =>
        val l = lang(selector)
        op("Dashboard.issueDistribution", l)(rowsOf(dashboard.issueDistribution(l).collect())) { got =>
          mismatch(s"A1[$l]", got, pairs(expected.get("a1").get(l)))
        }
      case Array("record", selector) =>
        val l = lang(selector)
        op("Dashboard.recordDistribution", l)(rowsOf(dashboard.recordDistribution(l).collect())) { got =>
          mismatch(s"A2/A3[$l]", got, pairs(expected.get("a2a3").get(l)))
        }
      case Array("languages") =>
        op("Dashboard.languages")(dashboard.languages().collect().toSeq.map(_.getString(0))) { got =>
          mismatch("A4", got, languages)
        }
      case Array("refresh") =>
        val t0 = System.nanoTime()
        op("Dashboard.refresh", latency = false) {
          dashboard.refresh()
          rowsOf(dashboard.issueDistribution(Dashboard.All).collect())
        } { got => mismatch("A1[All] after refresh", got, pairs(expected.get("a1").get(Dashboard.All))) }
        if (measuring) refreshMs += (System.nanoTime() - t0) / 1e6
    }
    blockMix.count(_ != "refresh")
  }

  /** The append-then-refresh check: a new file lands in the documents
    * directory, Refresh is pressed, and the next read must include it. A
    * read that still equals the pre-append answer is the known stale
    * Refresh and is tagged [[Workload.StaleRefresh]]; any other wrong
    * answer is a new failure. */
  private def appendThenRefresh(): Unit = {
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$data/append/part-append.parquet"),
      java.nio.file.Paths.get(s"$data/documents.parquet/part-append.parquet"))
    op("Dashboard.refresh", "after-append") {
      dashboard.refresh()
      rowsOf(dashboard.issueDistribution(Dashboard.All).collect())
    } { got =>
      if (got == pairs(expected.get("a1").get(Dashboard.All)))
        Some(s"${Workload.StaleRefresh}: A1[All] after append + refresh equals the pre-append answer")
      else mismatch("A1[All] after append + refresh", got, pairs(expected.get("after_append").get("a1")))
    }
  }

  // ---------------------------------------------------------------- runs

  /** One pass; returns its number of latency-sampled operations. */
  private def pass(i: Int): Int = name match {
    case "registry" => registryPass(i)
    case "dashboard" =>
      SessionMemo.clear(spark)
      pipeline()
      interactions(i)
    case other => sys.error(s"unknown workload $other")
  }

  private def storageMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Per-layer numbers of one traced pass. */
  private def layers(spans: Seq[Span], wall: Double, ops: Int,
      builds: Seq[(String, Double)], accesses: Seq[String]): Map[String, Double] = {
    val t = tracer.tally
    def dur(names: String*) = spans.filter(s => names.contains(s.name)).map(_.seconds).sum
    val runs = spans.filter(_.name == "GraftQuery.run")
    val accessed = accesses.toSet
    val frameBuilds = builds.count(b => accessed.contains(b._1))
    val perModule = Seq("parity", "relational", "events", "llmops", "sources").map { m =>
      s"registry.${m}_s" -> spans.filter(s => s.name == "query" && s.attr == m).map(_.seconds).sum
    }
    val sinkFiles = dataFiles(outDir("results")) ++ dataFiles(outDir("reports"))
    Map(
      "registry.construct_s" -> tracer.selfSeconds(runs).getOrElse("GraftQuery.run", 0.0),
      "registry.construct_jobs" -> runs.map(s => t.jobsBySpan(s.id)).sum.toDouble,
      "registry.exec_s" -> dur("noop.write"),
      "SessionMemo.builds" -> (builds.size + tableBuilds).toDouble,
      "SessionMemo.build_s" -> (builds.map(_._2).sum + tableBuildS),
      "SessionMemo.hit_ratio" -> (accesses.size - frameBuilds + tableHits).toDouble /
        (accesses.size + tableReads),
      "catalyst.plan_s" -> t.planMs / 1e3,
      "scheduler.jobs" -> t.jobs.toDouble,
      "scheduler.stages" -> t.stages.toDouble,
      "scheduler.tasks" -> t.tasks.toDouble,
      "scheduler.jobs_per_query" -> (if (name == "registry") t.jobs.toDouble / ops else 0.0),
      "scheduler.jobs_per_interaction" ->
        (if (name == "dashboard") spans.filter(s => Workload.Reads.contains(s.name))
          .map(s => t.jobsBySpan(s.id)).sum.toDouble / ops else 0.0),
      "executor.task_s" -> t.runMs / 1e3,
      "executor.core_util" -> t.runMs / 1e3 / (wall * cores),
      "executor.gc_s" -> t.gcMs / 1e3,
      "shuffle.write_mb" -> t.shuffleWrite / 1e6,
      "shuffle.read_mb" -> t.shuffleRead / 1e6,
      "shuffle.spill_mb" -> t.spill / 1e6,
      "shuffle.skew" -> t.skew,
      "sources.input_mb" -> t.inputBytes / 1e6,
      "sources.input_records" -> t.inputRecords.toDouble,
      "parity.annotate_write_s" -> dur("T.apply", "Annotate.annotated", "results.write"),
      "parity.flatten_agg_s" -> dur("parity.flatten_agg"),
      "ReportSink.write_s" -> dur("ReportSink.writeFlaggedReports"),
      "sink.output_mb" -> sinkFiles.map(java.nio.file.Files.size(_)).sum / 1e6,
      "sink.files" -> sinkFiles.size.toDouble,
      "Dashboard.cache_mb" -> (if (name == "dashboard") storageMb else 0.0),
      "Dashboard.load_s" -> dur("Dashboard.refresh")
    ) ++ perModule
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  def run(seconds: Double, spansPath: String): String = {
    val probesPre = Probes.all(cores, work)
    (1 to BenchMain.WarmUpPasses).foreach(w => pass(-w)) // checked, not timed
    val untraced = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val overheads = mutable.ArrayBuffer[Double]()
    val layerSamples = mutable.ArrayBuffer[Map[String, Double]]()
    var opsPerPass = 0
    val t0 = System.nanoTime()
    var i = 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    // At least three measured passes, and `--seconds` set below what three
    // take: the JIT is still warming after the warm-up pass, so a mean
    // over a number of passes that depended on machine speed would move
    // with it. A traced run alternates untraced and traced passes and ends
    // untraced, so every traced pass has an untraced one on each side.
    while (elapsed < seconds || i <= BenchMain.MinPasses || (traced && i % 2 == 1 && i > 1)) {
      val tracedPass = traced && i % 2 == 0
      BenchMemoAudit.drainBuilds(); BenchMemoAudit.drainFrameAccesses(); passBuilds.clear()
      tableBuilds = 0; tableBuildS = 0.0; tableReads = 0; tableHits = 0
      if (tracedPass) tracer.start()
      measuring = !tracedPass
      val firstSpan = tracer.spans.size
      val p0 = System.nanoTime()
      val n = tracer.span("pass", name)(pass(i))
      val wall = (System.nanoTime() - p0) / 1e9
      measuring = false
      drainBuildsMs()
      if (tracedPass) {
        tracer.stop()
        tracedWalls += wall
        layerSamples += layers(tracer.spans.drop(firstSpan).toSeq, wall, n,
          passBuilds.toSeq, BenchMemoAudit.drainFrameAccesses())
      } else {
        if (traced && i > 1) overheads += tracedWalls.last - (untraced.last + wall) / 2
        untraced += wall
      }
      opsPerPass = n
      i += 1
    }
    if (name == "dashboard") { measuring = true; appendThenRefresh(); measuring = false }
    val probesPost = Probes.all(cores, work)
    if (traced) tracer.writeJson(java.nio.file.Paths.get(spansPath))

    val layerOut =
      if (!traced) Map.empty[String, Double]
      else layerSamples.head.keys.map(k => k -> median(layerSamples.map(_(k)).toSeq)).toMap +
        ("trace.overhead_s" -> median(overheads.toSeq)) +
        ("jvm.peak_rss_mb" -> Probes.peakRssMb)
    Json.obj(Seq(
      "workload" -> Json.str(name),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "ops_per_pass" -> opsPerPass.toString,
      "passes_s" -> Json.arr(untraced.toSeq.map(Json.num)),
      "traced_passes_s" -> Json.arr(tracedWalls.toSeq.map(Json.num)),
      "op_ms" -> Json.arr(opMs.toSeq.map(v => if (v.isInfinite) "\"inf\"" else Json.num(v))),
      "refresh_ms" -> Json.arr(refreshMs.toSeq.map(Json.num)),
      "pipeline_s" -> Json.arr(pipelineS.toSeq.map(Json.num)),
      "layers" -> Json.obj(layerOut.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "probes" -> Json.obj(probesPre.map { case (k, v) => s"${k}_pre" -> Json.num(v) } ++
        probesPost.map { case (k, v) => s"${k}_post" -> Json.num(v) }),
      "peak_rss_mb" -> Json.num(Probes.peakRssMb)))
  }
}

object Workload {
  /** Tag of the one known failure: Refresh re-reads through T's memoized
    * loader and misses an appended file. */
  val StaleRefresh = "stale-refresh"

  /** A fixed sample of the registry, with each query's module. The full
    * 166-query pass takes about two minutes warm on 4 cores; the time
    * budget for all of the benchmark's runs leaves a registry pass of
    * about six seconds. It is a systematic sample by cost: of the 145 queries that
    * share no SessionMemo frame, ranked by warm wall time, every 24th, at
    * the offset whose traced construction, planning and job shares came
    * closest to the full pass's while covering all five modules; plus one
    * frame family (the repeated-span index), so that one query builds a
    * shared frame and the other reuses it. The list never changes with
    * the seed. */
  val RegistrySample: Seq[(String, String)] = Seq(
    "mm_frame_sample" -> "llmops", "parity_a5_payload_build" -> "parity",
    "q_jsonl_permissive" -> "sources", "q_listagg_nations" -> "relational",
    "e5_range_join_sessions" -> "events", "llm_e4_tfidf_topterms" -> "llmops",
    "llm_e2_repeated_spans" -> "llmops", "llm_e2_long_repeats" -> "llmops")

  /** The calls that read the documents table through T's memo. */
  val TableReads = Set("T.apply", "Dashboard.refresh")

  /** The dashboard interactions sampled for latency (Refresh is not). */
  val Reads = Set("Dashboard.issueDistribution", "Dashboard.recordDistribution", "Dashboard.languages")
}

/** Machine-load context recorded beside every run (never used to drop or
  * rescale one): a fixed CPU loop on every core and a disk round trip,
  * the same probes as the program's bench harness, made smaller. */
object Probes {
  def cpu(threads: Int): Double = {
    val t0 = System.nanoTime()
    val sink = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (1 to threads).map { seed =>
      new Thread(() => {
        var x = seed.toLong; var i = 0
        while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        sink.addAndGet(x); ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (sink.get() == 42L) print("")
    (System.nanoTime() - t0) / 1e9
  }

  def io(dir: String): Double = {
    val path = java.nio.file.Paths.get(dir, "io-probe.bin")
    val block = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val t0 = System.nanoTime()
    try {
      val ch = java.nio.channels.FileChannel.open(path,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try { (1 to 16).foreach(_ => ch.write(java.nio.ByteBuffer.wrap(block))); ch.force(false) }
      finally ch.close()
      java.nio.file.Files.readAllBytes(path)
    } finally java.nio.file.Files.deleteIfExists(path)
    (System.nanoTime() - t0) / 1e9
  }

  def all(threads: Int, dir: String): Seq[(String, Double)] =
    Seq("calib_cpu_s" -> cpu(threads), "calib_io_s" -> io(dir))

  /** High-water resident set of this JVM, from the kernel. */
  def peakRssMb: Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
