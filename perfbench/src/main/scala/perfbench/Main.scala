package perfbench

import graft.etl.SalesEtl
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark harness. It drives the engine only through its public
  * entry points (`SalesEtl.runPipeline`, `SparkEntry.queries` and the
  * modules behind them), in a closed loop with one client: the next
  * operation starts when the previous one has finished.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <benchDir> <workDir>
  *
  * Prints one JSON object as the last line of standard output.
  */
object Main {

  /** Spark runs with as many task slots as the reference host has cores. */
  val Cores = 4
  /** An etl_ingest pass ingests this many CSV drops of EtlLines lines
    * each, one pipeline run per drop: about ten seconds cold. */
  val EtlDrops = 3
  val EtlLines = 100000
  /** Per-operation watchdog; a timeout counts as a failed operation. */
  val OpTimeoutSec = 30
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  val Modules = Seq("analytics", "dedup", "graph")

  final case class Op(name: String, module: String, run: OpContext => Long)

  /** What one operation sees: the session, the span recorder, and its
    * own span, under which it records its calls into the engine. */
  final case class OpContext(spark: SparkSession, spans: Spans, op: Int, span: Int) {
    def call[A](layer: String)(body: => A): A = spans.span(layer, op, span)(body)
  }

  final case class OpRun(pass: Int, op: Int, name: String, module: String,
                         start: Double, end: Double, rows: Long, error: Option[String]) {
    def seconds: Double = (end - start) / 1000
  }

  /** A prepared workload: its operations, the bytes of the input files
    * they read, a first small job over the same inputs, and a check of
    * what the last operation left on disk. */
  final case class Prepared(ops: Seq[Op], inputBytes: Long, firstJob: () => Unit,
                            finalCheck: Option[() => Option[String]])

  def main(args: Array[String]): Unit = {
    if (args.length != 6) {
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <benchDir> <workDir>")
      sys.exit(2)
    }
    val Array(workload, seedS, secondsS, traceS, benchDir, workDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val trace = traceS == "1"
    val bench = new Bench(workload, seed, new File(benchDir), new File(workDir))
    val result = bench.run(seconds, trace)
    println(result)
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(work, "checkpoints").getAbsolutePath)
    s
  }

  /** Drops what an operation left persisted, as graft.Bench does between
    * queries: cached plans and the blocks behind local checkpoints. */
  def reset(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = (s.size - 1) * p / 100
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length
}

/** JVM-wide garbage collection: its total time, and a full collection
  * whose result is the heap the run still holds. */
object Heap {
  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** Collects and returns the heap in use afterwards, in bytes. The
    * second collection takes what the first one's reference processing
    * (Spark's context cleaner among it) released in between. */
  def usedAfterGc(): Long = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

final class Bench(workload: String, seed: Long, benchDir: File, work: File) {
  import Main._

  private val spans = new Spans
  private var spark: SparkSession = _
  private val dataDir = new File(benchDir, "data/sf0.01")
  private lazy val expected = Expected.load(new File(benchDir, "expected/ops.tsv"))

  /** Operations of a query workload, from the expected-output table. */
  private def queryOps(): Seq[Op] = {
    val queries = graft.SparkEntry.queries
    expected.values.filter(_.workload == workload).toSeq.sortBy(_.name).map { e =>
      val fn = queries.getOrElse(e.name, sys.error(s"no SparkEntry query ${e.name}"))
      Op(e.name, e.module, ctx => {
        val df: DataFrame = ctx.call("construct")(fn(ctx.spark, dataDir.getAbsolutePath))
        val got = ctx.call("action")(Digest.of(df))
        if (got.schema != e.schema) throw new Mismatch(s"schema ${got.schema} != ${e.schema}")
        if (got.rows != e.rows) throw new Mismatch(s"rows ${got.rows} != ${e.rows}")
        if (got.digest != e.digest) throw new Mismatch(s"digest ${got.digest} != ${e.digest}")
        got.rows
      })
    }
  }

  private def etlOps(): Prepared = {
    val dir = new File(work, "etl")
    dir.mkdirs()
    val drops = (1 to EtlDrops).map { i =>
      val csv = new File(dir, s"sales-$i.csv")
      (i, csv, new File(dir, s"out-$i"), SalesGen.write(csv, EtlLines, seed * EtlDrops + i))
    }
    val ops = drops.map { case (i, csv, out, truth) =>
      Op(s"etl_drop$i", "etl", ctx => {
        val (clean, errors) = ctx.call("pipeline")(
          SalesEtl.runPipeline(ctx.spark, csv.getAbsolutePath, out.getAbsolutePath))
        if (clean != truth.clean || errors != truth.errorRows)
          throw new Mismatch(s"clean/errors $clean/$errors != ${truth.clean}/${truth.errorRows}")
        truth.lines
      })
    }
    val firstJob = () => {
      val csv = drops.head._2.getAbsolutePath
      SalesEtl.parseAndValidate(spark.read.text(csv).limit(2000))._2.count(); ()
    }
    val finalCheck = () =>
      drops.flatMap { case (_, _, out, truth) => EtlCheck.against(spark, out, truth) }.headOption
    Prepared(ops, drops.map(_._2.length).sum, firstJob, Some(finalCheck))
  }

  private def prepare(): Prepared = workload match {
    case "etl_ingest" => etlOps()
    case "analytics_mix" | "dedup_graph" =>
      val ops = queryOps()
      require(ops.nonEmpty, s"no operations for $workload in the expected table")
      // the first operation by name, unchecked: it also loads the classes
      // and functions its module registers, which the workload's first
      // timed operation would otherwise pay for, whichever the seed puts first
      val first = graft.SparkEntry.queries(ops.head.name)
      val firstJob = () => { Digest.of(first(spark, dataDir.getAbsolutePath)); () }
      Prepared(ops, dirBytes(dataDir), firstJob, None)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Runs one operation under its own job group, bounded by the
    * watchdog; a wrong output or an exception is its error. */
  private def runOp(pass: Int, index: Int, op: Op, passSpan: Int): OpRun = {
    val id = spans.open()
    val t0 = spans.nowMs()
    var rows = 0L
    val r = graft.Bench.runWithWatchdog(spark, s"op-$index", OpTimeoutSec) {
      rows = op.run(OpContext(spark, spans, index, id))
    }
    val s = spans.close(id, "op", index, passSpan, t0)
    spans.span("reset", index, passSpan)(reset(spark))
    host.sample()
    OpRun(pass, index, op.name, op.module, s.start, s.end, rows, r.left.toOption)
  }

  private val host = new HostSpeed
  private var nextOp = 0
  /** Post-GC heap before each pass: a pass starts with a collected
    * heap, so a full collection rarely lands inside one. */
  private val heapBeforePass = mutable.ArrayBuffer.empty[Long]
  private def runPass(pass: Int, ops: Seq[Op]): (Seq[OpRun], Double) = {
    heapBeforePass += Heap.usedAfterGc()
    host.sample()
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
    val id = spans.open()
    val t0 = spans.nowMs()
    val runs = order.map { op => nextOp += 1; runOp(pass, nextOp, op, id) }
    val s = spans.close(id, "pass", 0, 0, t0)
    System.err.println(f"[perfbench] pass $pass ${s.dur / 1000}%.2f s: " +
      runs.map(r => f"${r.name} ${r.seconds}%.2f").mkString(", "))
    (runs, s.dur / 1000)
  }

  /** One set-up: a fresh session, the workload's inputs, and a first
    * small job over them, which loads and initializes the engine's
    * readers, planner, code generator and scheduler. The first set-up
    * counts from JVM start. */
  private def setUp(first: Boolean): (Prepared, Double) = {
    if (spark != null) spark.stop()
    val t0 = if (first) ManagementFactory.getRuntimeMXBean.getStartTime.toDouble else spans.nowMs()
    val id = spans.open()
    spark = spans.span("session", 0, id)(session(work))
    val p = spans.span("inputs", 0, id)(prepare())
    spans.span("first_job", 0, id) { p.firstJob(); reset(spark) }
    spans.close(id, "setup", 0, 0, t0)
    val setupS = (spans.nowMs() - t0) / 1000
    if (first) HostSpeed.warm()
    host.sample()
    (p, setupS)
  }

  def run(seconds: Int, trace: Boolean): String = {
    val setups = (1 to Setups).map(i => setUp(first = i == 1))
    val prepared = setups.last._1
    val setupS = median(setups.map(_._2))
    System.err.println(f"[perfbench] set-ups (s): ${setups.map(_._2).mkString(", ")}")

    // Every run is a fresh JVM, as a scheduled batch job is, so the
    // first pass also pays for compiling each query's generated code and
    // for the JIT; on this engine a cold pass repeats better than a
    // half-warm one. Further passes run while one more, as long as the
    // last, still fits in the window; there is always at least one.
    val deadline = spans.nowMs() + seconds * 1000.0
    val traced = if (trace) Some((LayerListener.attach(spark), new StorageSampler(spark.sparkContext)))
      else None
    traced.foreach(_._2.start())
    val gc0 = Heap.gcMillis()
    val passes = mutable.ArrayBuffer(runPass(0, prepared.ops))
    while (spans.nowMs() + passes.last._2 * 1000 <= deadline)
      passes += runPass(passes.size, prepared.ops)
    val gcMs = Heap.gcMillis() - gc0
    traced.foreach(_._2.finish())
    val heapBytes = (heapBeforePass.drop(1) :+ Heap.usedAfterGc()).max
    val finalCheck = prepared.finalCheck.map(_())
    spark.stop()

    val all = passes.toSeq.flatMap(_._1)
    val checks = all.map(_.error) ++ finalCheck
    val failed = checks.count(_.isDefined)
    val attempted = checks.size
    val errors = all.flatMap(r => r.error.map(e => s"${r.name}: $e")) ++ finalCheck.flatten
    errors.distinct.take(20).foreach(e => System.err.println(s"[perfbench] FAILED $e"))

    // Times are scaled to the reference host's speed (HostSpeed); the
    // trace and the per-layer metrics keep the measured wall times.
    val scale = host.scale
    System.err.println(f"[perfbench] host kernel ${host.kernelMs}%.4f ms, time scale $scale%.4f")
    val metrics = traced match {
      case None => endToEnd(setupS, passes.toSeq, heapBytes, scale)
      case Some((listener, sampler)) =>
        // pass_s lets run.py work out the tracing overhead against an untraced run
        ("pass_s", median(passes.map(_._2).toSeq) * scale, "s") +:
          ("op_p50_s", percentile(passes.toSeq.flatMap(_._1).map(_.seconds), 50), "s") +:
          ("op_p90_s", percentile(passes.toSeq.flatMap(_._1).map(_.seconds), 90), "s") +:
          ("bench.pass_wall_s", median(passes.map(_._2).toSeq), "s") +:
          ("bench.host_kernel_ms", host.kernelMs, "ms") +:
          Layers.summary(passes.toSeq, prepared, listener, sampler, gcMs,
            failed.toDouble / attempted, spans.all, new File(work, "trace"), s"$workload-seed$seed")
    }
    Json.result(correct = failed == 0, attempted, failed, metrics)
  }

  private def endToEnd(setupS: Double, passes: Seq[(Seq[OpRun], Double)],
                       heapBytes: Long, scale: Double): Seq[(String, Double, String)] = {
    val rowsPerS = passes.map { case (runs, wall) => runs.map(_.rows).sum / wall }
    Seq(
      ("setup_s", setupS * scale, "s"),
      ("pass_s", median(passes.map(_._2)) * scale, "s"),
      ("rows_per_s", median(rowsPerS) / scale, "rows/s"),
      ("peak_heap_mb", heapBytes / 1048576.0, "MB"))
  }
}

final class Mismatch(msg: String) extends RuntimeException(msg)
