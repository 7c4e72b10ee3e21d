package longdocbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.GraftExtensions

/** End-to-end benchmark of the long-document pipeline.
  *
  * {{{
  * longdocbench.Bench --workload ds1_inproc|mixed_http --seed N
  *   --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * One JVM per workload, `local[<cores>]`, one client thread submitting
  * one pass at a time (a closed loop with one client). A pass is what the
  * `pipeline` and `evaluate` commands do for the workload, minus session
  * set-up. The corpus is generated and written before anything is timed;
  * `setup_s` is the cold set-up a CLI invocation pays (session build,
  * register, the first step over one doc). Then about `S` seconds of
  * passes are measured (a fixed count per workload, at least
  * [[MinPasses]]); every pass's outputs are checked. The last stdout line
  * is one JSON object with the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics of traced passes, which alternate with untraced ones
  * (`--trace 1`).
  */
object Bench {
  /** Measured passes per run, at least; `items_per_s`, `cpu_s_per_item`
    * and `peak_heap_mb` are medians over passes.
    */
  val MinPasses = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload} (${Workloads.names.mkString("|")})")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  // ---- state shared by the workloads of one run -------------------------
  var chunkCounts: Array[Long] = Array.empty
  var treeNodes: Array[Long] = Array.empty
  /** Items (docs or pairs) a check found missing, empty or null. */
  var failedItems = 0L
  private val digests = mutable.LinkedHashMap.empty[String, String]

  /** Every pass must commit the same outputs; prints the first digest. */
  def recordDigest(checks: Checks, workload: String, seed: Long, step: String, d: String): Unit =
    digests.get(step) match {
      case None =>
        digests(step) = d
        println(s"[longdoc-bench] digest workload=$workload seed=$seed $step $d")
      case Some(prev) =>
        checks.require(prev == d, s"$workload/$step: outputs changed between passes ($prev -> $d)")
    }

  /** Process CPU seconds, less the JIT compiler's: the work the program
    * did, not the JVM warming up to it.
    */
  def processCpu(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9 -
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def progress(what: String): Unit =
    System.err.println(f"[longdoc-bench] t=${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s $what")

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Peak heap outside the young allocation area (eden) inside [[during]]
    * blocks: old generation plus survivors, the part of the heap that
    * holds what survives collection, and where very large arrays are
    * allocated directly. Each block starts from a full collection, made
    * before its peaks are reset, so garbage promoted by earlier blocks
    * does not carry into its figure.
    */
  private final class HeapPeak {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toVector
      .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))
    private val peaks = mutable.ArrayBuffer.empty[Double]

    def during[T](f: => T): T = {
      System.gc()
      pools.foreach(_.resetPeakUsage())
      try f finally peaks += pools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    }

    /** Per block, in MB. */
    def peaksMb: Vector[Double] = peaks.toVector
  }

  /** On traced passes, materializes `df` inside its own span. */
  def evalStep(ctx: PassCtx, span: String)(df: => DataFrame): DataFrame = ctx.tracer match {
    case None => df
    case Some(t) => t.span(span) { val d = df.persist(StorageLevel.MEMORY_AND_DISK); d.count(); d }
  }

  def evalStep2(ctx: PassCtx, span: String)(a: => DataFrame, b: => DataFrame): (DataFrame, DataFrame) =
    ctx.tracer match {
      case None => (a, b)
      case Some(t) => t.span(span) {
        val x = a.persist(StorageLevel.MEMORY_AND_DISK); x.count()
        val y = b.persist(StorageLevel.MEMORY_AND_DISK); y.count()
        (x, y)
      }
    }

  def unpersistAll(dfs: DataFrame*): Unit = dfs.foreach(_.unpersist())

  /** Checks a `writeJsonReport` file: `rows` detail rows, every `cols`
    * value present, `statCols` in [0, 1], other scores in [-1, 1], and
    * summary statistics of `statCols` equal to a plain-Scala recomputation
    * over the detail rows (to the report's 4 decimal places).
    */
  def checkReport(checks: Checks, what: String, path: Path, rows: Int, cols: Seq[String],
      statCols: Seq[String]): Unit = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    val details = root.get("detailed_results").elements().asScala.toVector
    checks.require(details.size == rows, s"$what: ${details.size} detail rows, expected $rows")
    var nulls = 0
    val values = cols.map { c =>
      c -> details.flatMap { d =>
        val v = d.get(c)
        if (v == null || v.isNull) { nulls += 1; None } else Some(v.asDouble)
      }
    }.toMap
    checks.require(nulls == 0, s"$what: $nulls null metric values or verdicts")
    failedItems += math.min(nulls, rows)
    values.foreach { case (c, xs) =>
      val (lo, hi) = if (statCols.contains(c)) (0.0, 1.0) else (-1.0, 1.0)
      xs.foreach(x => checks.in(s"$what $c", x, lo, hi))
    }
    val stats = root.get("summary_statistics").elements().asScala.map(n => n.get("metric").asText -> n).toMap
    statCols.foreach { c =>
      val xs = values(c)
      stats.get(c) match {
        case None => checks.fail(s"$what: no summary statistics for $c")
        case Some(_) if xs.isEmpty => ()
        case Some(n) =>
          val (mean, std, mn, mx) = Checks.stats(xs)
          Seq("mean" -> mean, "std" -> std, "min" -> mn, "max" -> mx).foreach { case (k, want) =>
            val got = n.get(k).asDouble
            checks.require(math.abs(got - want) <= 1.0001e-4,
              s"$what: $c $k = $got, recomputed $want")
          }
      }
    }
  }

  private def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("longdoc-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** What the traced passes saw outside Spark: scalar calls, fixture
    * traffic, JVM GC time and bytes written, summed over traced passes.
    */
  private final class TraceAcc {
    var calls = Vector.empty[LlmCall]
    var requests, s429, s503, retries = 0L
    var serviceS, inflightS, gcS = 0.0
    var sinkBytes = 0L
  }

  def run(args: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val work = args.work
    Files.createDirectories(work)
    deleteTree(work.resolve("out"))
    deleteTree(work.resolve("spark-local"))
    val backend = if (args.workload == "mixed_http") Some(new Backend(cores)) else None
    var spark: SparkSession = null
    try {
      val w: Workload = args.workload match {
        case "ds1_inproc" => new Ds1InProc(args.seed, work, Workloads.Ds1Docs)
        case "mixed_http" => new MixedHttp(args.seed, work, Workloads.MixedDocs, backend.get)
      }
      // the corpus is generated and written before anything is timed, and
      // without Spark, so the set-up below starts in a cold JVM
      val shape = Corpus.recorded(w.corpus).getOrElse(Corpus.record(w.corpus, w.generate(cores)))
      println(s"[longdoc-bench] corpus workload=${w.name} seed=${args.seed}: $shape")
      progress("corpus ready")

      // set-up, once per JVM as a CLI invocation pays it: session build,
      // register, and the workload's first step over one doc
      val t0 = System.nanoTime()
      spark = session(work, cores)
      w.pass(PassCtx(spark, None, setup = true))
      val setup = (System.nanoTime() - t0) / 1e9
      progress("set up")

      val tracer = if (args.trace) Some(new Tracer(spark)) else None
      val checks = new Checks
      val plain = mutable.ArrayBuffer.empty[PassOut]
      val traced = mutable.ArrayBuffer.empty[PassOut]
      val busyFracs = mutable.ArrayBuffer.empty[Double]
      val acc = new TraceAcc
      val heap = new HeapPeak
      var attempted = 0L
      var fixtureCpu = 0.0

      /** Runs one measured pass over the corpus and checks its outputs;
        * the first pass is also checked against plain-Scala replays.
        */
      def onePass(useTrace: Boolean): PassOut = {
        val b0 = backend.map(b => (b.requests.get, b.status429.get, b.status503.get, b.retries.get,
          b.serviceNanos.get, b.inflightSeconds, b.cpuSeconds))
        backend.foreach(_.newPass())
        val gc0 = gcSeconds()
        LlmLog.drain()
        val p = heap.during {
          tracer.filter(_ => useTrace) match {
            case Some(t) => t.span("pass")(w.pass(PassCtx(spark, Some(t))))
            case None => w.pass(PassCtx(spark, None))
          }
        }
        backend.zip(b0).foreach { case (b, (r, a, c, d, s, f, cpu)) =>
          busyFracs += (b.serviceNanos.get - s) / 1e9 / (cores * p.wall)
          fixtureCpu += b.cpuSeconds - cpu
          if (useTrace) {
            acc.requests += b.requests.get - r; acc.s429 += b.status429.get - a
            acc.s503 += b.status503.get - c; acc.retries += b.retries.get - d
            acc.serviceS += (b.serviceNanos.get - s) / 1e9; acc.inflightS += b.inflightSeconds - f
          }
        }
        if (useTrace) {
          acc.calls ++= LlmLog.drain()
          acc.gcS += gcSeconds() - gc0
          acc.sinkBytes += dirBytes(w.out)
        }
        progress(f"${if (useTrace) "traced" else "plain"} pass ${p.wall}%.3f s, cpu ${p.cpu}%.2f s, gc ${gcSeconds() - gc0}%.2f s" +
          backend.fold("")(b => s", ${b.status503.get - b0.get._3} status 503"))
        w.check(spark, checks, replay = plain.isEmpty && traced.isEmpty)
        progress("checked")
        attempted += p.items
        p
      }

      // a fixed number of passes, about `--seconds` worth, is measured (a
      // time-based count would measure fewer, less warm passes on a slower
      // machine); the first runs most steps cold, and the medians over
      // three or more passes leave it out
      val passes = math.max(MinPasses, math.round(args.seconds / w.nominalPassSeconds).toInt)
      for (_ <- 1 to passes) {
        plain += onePass(useTrace = false)
        if (args.trace) traced += onePass(useTrace = true)
      }
      // untraced and traced passes alternate, in that order
      val heapPeaks = heap.peaksMb.grouped(if (args.trace) 2 else 1).map(_.head).toVector
      println(s"[longdoc-bench] ${w.name} pass heap peaks ${heapPeaks.map(x => f"$x%.1f").mkString(" ")} MB")

      println(f"[longdoc-bench] set-up $setup%.3f s")
      report(w, plain.toVector, busyFracs.toVector, fixtureCpu, attempted, cores)

      val metrics: Seq[(String, Double, String)] =
        if (!args.trace) Seq(
          ("setup_s", setup, "s"),
          ("items_per_s", median(plain.map(p => p.items / p.wall).toSeq), "items/s"),
          ("cpu_s_per_item", median(plain.map(p => p.cpu / p.items).toSeq), "s/item"),
          ("peak_heap_mb", median(heapPeaks), "MB"))
        else {
          val t = tracer.get
          val layers = layerMetrics(w, t, acc, traced.toVector, plain.toVector, backend, cores)
          val r = layers.collectFirst { case ("strategy.mapreduce.collapse_rounds", v, _) => v }.get
          checks.require(math.abs(r - w.replayRounds) < 1e-9,
            s"${w.name}: traced mapreduce ran $r collapse rounds, the replay needs ${w.replayRounds}")
          t.write(work.resolve("trace").resolve(s"${w.name}-seed${args.seed}.jsonl"))
          t.close()
          layers
        }
      val json = metrics.map { case (k, v, u) => s""""$k":{"value":${jsonNum(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
      println(s"""{"correct":${checks.ok},"attempted":$attempted,"failed":$failedItems,"metrics":$json}""")
      if (checks.ok) 0 else 1
    } finally {
      if (spark != null) spark.stop()
      backend.foreach(_.close())
    }
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The headline figures of the run, one per line, before the result. */
  private def report(w: Workload, plain: Vector[PassOut], busy: Vector[Double],
      fixtureCpu: Double, attempted: Long, cores: Int): Unit = {
    def line(name: String, v: Double, unit: String): Unit =
      println(f"[longdoc-bench] ${w.name}%-11s $name%-26s ${v}%14.6f $unit")
    val steps = plain.flatMap(_.steps).groupBy(_._1)
    steps.toSeq.sortBy(_._1).foreach { case (s, xs) =>
      val name = if (s == "eval") "eval_pairs_per_s" else s"${s}_docs_per_s"
      line(name, median(xs.map(x => x._2 / x._3)), if (s == "eval") "pairs/s" else "docs/s")
    }
    if (busy.nonEmpty) {
      line("backend_busy_frac", median(busy), "fraction")
      // charged to the fixture, not to cpu_s_per_item
      line("fixture_cpu_s_per_item", fixtureCpu / math.max(attempted, 1L), "s/item")
    }
    line("failed_frac", failedItems.toDouble / math.max(attempted, 1L), "fraction")
    line("measured_passes", plain.size, "count")
    // the first pass is the cold one; drift is measured between warm passes
    line("warm_first_vs_last_drift", plain.last.wall / plain(1).wall - 1, "fraction")
    println(s"[longdoc-bench] ${w.name} pass walls ${plain.map(p => f"${p.wall}%.3f").mkString(" ")} s")
    line("cores", cores, "count")
  }

  /** Per-layer figures of the traced passes, per pass. Every name is
    * reported on every workload; a layer that does not run there reads 0.
    */
  private def layerMetrics(w: Workload, t: Tracer, acc: TraceAcc, traced: Vector[PassOut],
      plain: Vector[PassOut], backend: Option[Backend], cores: Int): Seq[(String, Double, String)] = {
    val p = traced.size.toDouble
    val spans = t.spans
    def secs(pred: String => Boolean): Double = spans.filter(s => pred(s.name)).map(_.seconds).sum
    def tot(g: String) = t.totals(g)
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def m(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))

    m("scan.wall_s", secs(_ == "scan") / p, "s")
    m("scan.rows", tot("scan").inputRecords / p, "rows")

    val chunks = chunkCounts.map(_.toDouble)
    m("chunk.wall_s", secs(_ == "chunk") / p, "s")
    m("chunk.cpu_s", tot("chunk").cpuNs / 1e9 / p, "s")
    m("chunk.chunks_per_doc", if (chunks.isEmpty) 0 else chunks.sum / chunks.length, "chunks/doc")
    m("chunk.max_chunks_per_doc", if (chunks.isEmpty) 0 else chunks.max, "chunks/doc")
    m("chunk.tasks", tot("chunk").tasks / p, "tasks")

    m("tree.wall_s", secs(_ == "tree") / p, "s")
    m("tree.nodes_per_doc", if (treeNodes.isEmpty) 0 else treeNodes.sum.toDouble / treeNodes.length, "nodes/doc")

    val strategySpans = spans.filter(_.name.startsWith("strategy."))
    val strategyWall = strategySpans.map(_.seconds).sum
    val calls = acc.calls.filter(_.call)
    val busy = strategySpans.map(s => Intervals.busy(acc.calls, s.start, s.end)).sum
    val covered = strategySpans.map(s => Intervals.covered(acc.calls, s.start, s.end)).sum
    m("llm.calls", calls.size / p, "calls")
    m("llm.calls_per_doc", calls.size / p / (w.docs * w.strategies.size), "calls/doc")
    m("llm.busy_s", busy / p, "s")
    m("llm.covered_s", covered / p, "s")
    m("llm.mean_inflight", if (strategyWall > 0) busy / strategyWall else 0, "calls")
    m("llm.prompt_tokens_per_call", if (calls.isEmpty) 0 else calls.map(_.promptTokens.toDouble).sum / calls.size, "tokens")
    m("llm.empty_outputs", calls.count(_.empty) / p, "calls")

    m("backend.requests", acc.requests / p, "requests")
    m("backend.status_429", acc.s429 / p, "requests")
    m("backend.status_503", acc.s503 / p, "requests")
    m("backend.retries", acc.retries / p, "requests")
    m("backend.peak_inflight", backend.map(_.peakInflight.get.toDouble).getOrElse(0), "requests")
    m("backend.mean_inflight", if (strategyWall > 0) acc.inflightS / strategyWall else 0, "requests")
    m("backend.busy_frac", if (strategyWall > 0) acc.serviceS / (cores * strategyWall) else 0, "fraction")

    Seq("truncated", "mapreduce", "critique", "iterative", "hierarchical").foreach { s =>
      val g = s"strategy.$s"
      val ss = spans.filter(_.name == g)
      val wall = ss.map(_.seconds).sum
      val cov = ss.map(x => Intervals.covered(acc.calls, x.start, x.end)).sum
      val tt = tot(g)
      val ran = ss.nonEmpty
      m(s"$g.wall_s", wall / p, "s")
      m(s"$g.self_s", (wall - cov) / p, "s")
      m(s"$g.jobs", tt.jobs / p, "jobs")
      m(s"$g.tasks", tt.tasks / p, "tasks")
      m(s"$g.min_stage_tasks", if (tt.minStageTasks == Long.MaxValue) 0 else tt.minStageTasks.toDouble, "tasks")
      m(s"$g.parallelism", if (wall > 0) tt.runMs / 1e3 / wall else 0, "cores")
      m(s"$g.executor_cpu_s", tt.cpuNs / 1e9 / p, "s")
      m(s"$g.shuffle_bytes", tt.shuffleBytes / p, "bytes")
      val sinkWall = secs(_ == s"sink.$s")
      m(s"$g.docs_per_s", if (ran) w.docs * p / (wall + sinkWall) else 0, "docs/s")
      if (s == "mapreduce" || s == "critique")
        m(s"$g.collapse_rounds", if (ran) t.listener.executionsAt(g, "count at Strategies.scala") / p - 1 else 0, "rounds")
      if (s == "hierarchical")
        m(s"$g.levels", if (ran) t.listener.executionsAt(g, "count at Hierarchical.scala") / p else 0, "levels")
    }

    m("sink.wall_s", secs(_.startsWith("sink.")) / p, "s")
    m("sink.bytes", acc.sinkBytes / p, "bytes")

    val evalGroups = Seq("eval.pair_metrics", "eval.bertscore_tx", "eval.judge", "eval.stats")
    evalGroups.foreach(g => m(s"$g.wall_s", secs(_ == g) / p, "s"))
    m("eval.cpu_s", evalGroups.map(tot(_).cpuNs).sum / 1e9 / p, "s")
    m("eval.tasks", evalGroups.map(tot(_).tasks).sum / p, "tasks")
    val evalPairs = traced.flatMap(_.steps).filter(_._1 == "eval").map(_._2).sum
    val evalWall = secs(n => evalGroups.contains(n) || n == "sink.report")
    m("eval.pairs_per_s", if (evalWall > 0) evalPairs / evalWall else 0, "pairs/s")

    val groups = t.allTotals
    m("runtime.gc_s", acc.gcS / p, "s")
    m("runtime.spill_bytes", groups.map(_.spillBytes).sum / p, "bytes")
    m("runtime.shuffle_bytes", groups.map(_.shuffleBytes).sum / p, "bytes")
    val probes = secs(n => n == "scan" || n == "chunk" || n == "tree")
    val tracedOwn = traced.map(_.wall).sum - probes
    m("trace.overhead_frac",
      if (plain.isEmpty) 0 else (tracedOwn / p) / median(plain.map(_.wall)) - 1, "fraction")
    out.toSeq
  }
}
