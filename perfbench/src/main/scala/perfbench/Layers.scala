package perfbench

import perfbench.Main.{OpRun, Prepared}

import java.io.File
import java.nio.file.Files

/** Per-layer metrics of a traced run, and its trace file.
  *
  * Counters and times are per pass: their total over the run's passes
  * divided by the number of passes. Peaks are the largest value seen.
  * The layers are named after the repository's modules (`analytics`,
  * `dedup`, `graph`, `sources`), the `plans` helpers they share, and
  * `spark` for the engine they drive.
  */
object Layers {

  def summary(passes: Seq[(Seq[OpRun], Double)], prepared: Prepared, l: LayerListener,
              sampler: StorageSampler, gcMs: Long, failRatio: Double,
              spans: Seq[Span], traceDir: File, tag: String): Seq[(String, Double, String)] = {
    val n = passes.size.toDouble
    val runs = passes.flatMap(_._1)
    val opIds = runs.map(_.op).toSet
    val c = runs.map(r => r.op -> l.ops.getOrElse(r.op, new OpCounters)).toMap
    def total(f: OpCounters => Double): Double = c.values.map(f).sum
    def perPass(f: OpCounters => Double): Double = total(f) / n
    val wall = passes.map(_._2).sum

    // planning phases belong to the operation whose span holds their end
    val planningMs = l.planning.filter { case (end, _) =>
      runs.exists(r => end >= r.start && end <= r.end)
    }.map(_._2).sum
    val driverGapMs = runs.map { r =>
      (r.end - r.start) - Intervals.union(c(r.op).stageIntervals, r.start, r.end)
    }.sum
    val jobSumMs = total(_.jobIntervals.map(i => i._2 - i._1).sum)
    val jobUnionMs = runs.map(r => Intervals.union(c(r.op).jobIntervals, r.start, r.end)).sum

    val children = spans.filter(s => opIds(s.op)).groupBy(s => (s.op, s.name))
    def module(m: String): Seq[(String, Double, String)] = {
      val ops = runs.filter(_.module == m)
      def spanMs(name: String) = ops.flatMap(r => children.getOrElse((r.op, name), Nil)).map(_.dur).sum
      val constructJobs = ops.map { r =>
        val cs = children.getOrElse((r.op, "construct"), Nil)
        c(r.op).jobIntervals.count(j => cs.exists(s => j._1 >= s.start && j._1 <= s.end))
      }.sum
      Seq((s"$m.construct_s", spanMs("construct") / 1000 / n, "s"),
        (s"$m.action_s", spanMs("action") / 1000 / n, "s"),
        (s"$m.construct_jobs", constructJobs / n, "count"))
    }

    val taskRunS = total(_.taskRunMs.toDouble) / 1000
    val inputBytes = total(_.inputBytes.toDouble)
    val outputBytes = total(_.outputBytes.toDouble)
    val metrics = Seq(
      ("spark.planning_s", planningMs / 1000 / n, "s"),
      ("spark.sql_executions", perPass(_.sqlExecutions.toDouble), "count"),
      ("spark.jobs", perPass(_.jobs.toDouble), "count"),
      ("spark.stages", perPass(_.stages.toDouble), "count"),
      ("spark.tasks", perPass(_.tasks.toDouble), "count"),
      ("spark.driver_gap_s", driverGapMs / 1000 / n, "s"),
      ("plans.job_overlap", if (jobUnionMs > 0) jobSumMs / jobUnionMs else 0.0, "ratio"),
      ("spark.task_run_s", taskRunS / n, "s"),
      ("spark.task_cpu_s", perPass(_.taskCpuNs / 1e9), "s"),
      ("spark.gc_s", gcMs / 1000.0 / n, "s"),
      ("spark.core_busy", taskRunS / (Main.Cores * wall), "ratio"),
      ("spark.shuffle_write_bytes", perPass(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.shuffle_read_bytes", perPass(_.shuffleReadBytes.toDouble), "bytes"),
      ("spark.shuffle_fetch_wait_s", perPass(_.fetchWaitMs / 1000.0), "s"),
      ("spark.spill_bytes", perPass(_.spillBytes.toDouble), "bytes"),
      ("spark.peak_execution_bytes", c.values.map(_.peakExecutionBytes).maxOption.getOrElse(0L).toDouble, "bytes"),
      ("spark.storage_peak_bytes", sampler.peakBytes.toDouble, "bytes"),
      ("spark.persisted_rdds_peak", sampler.peakRdds.toDouble, "count"),
      ("sources.input_bytes", inputBytes / n, "bytes"),
      ("sources.input_records", perPass(_.inputRecords.toDouble), "count"),
      ("sources.output_bytes", outputBytes / n, "bytes"),
      ("sources.output_records", perPass(_.outputRecords.toDouble), "count"),
      ("sources.read_amplification", inputBytes / n / prepared.inputBytes, "ratio"),
      ("sources.bytes_written_per_input_byte", outputBytes / n / prepared.inputBytes, "ratio"),
    ) ++ Main.Modules.flatMap(module) ++ Seq(
      ("bench.fail_ratio", failRatio, "ratio"))

    traceDir.mkdirs()
    Files.writeString(new File(traceDir, s"$tag.json").toPath,
      traceJson(spans, runs, c, l.unattributedJobs, metrics))
    metrics
  }

  /** Self time of a span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val byParent = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val dur = ss.map(_.dur).sum
      val self = ss.map { s =>
        s.dur - Intervals.union(byParent.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)
      }.sum
      (name, ss.size, dur, self)
    }
  }

  private def traceJson(spans: Seq[Span], runs: Seq[OpRun], c: Map[Int, OpCounters],
                        unattributed: Long, metrics: Seq[(String, Double, String)]): String = {
    import Json._
    val spanList = spans.map(s => obj("id" -> num(s.id), "name" -> str(s.name), "op" -> num(s.op),
      "parent" -> num(s.parent), "start_ms" -> num(s.start), "end_ms" -> num(s.end)))
    val ops = runs.map { r =>
      val k = c(r.op)
      obj("op" -> num(r.op), "name" -> str(r.name), "module" -> str(r.module), "pass" -> num(r.pass),
        "seconds" -> num(r.seconds), "rows" -> num(r.rows), "error" -> r.error.map(str).getOrElse("null"),
        "sql_executions" -> num(k.sqlExecutions), "jobs" -> num(k.jobs), "stages" -> num(k.stages),
        "tasks" -> num(k.tasks), "task_run_ms" -> num(k.taskRunMs), "task_cpu_ns" -> num(k.taskCpuNs),
        "shuffle_write_bytes" -> num(k.shuffleWriteBytes), "shuffle_read_bytes" -> num(k.shuffleReadBytes),
        "input_bytes" -> num(k.inputBytes), "output_bytes" -> num(k.outputBytes),
        "stage_busy_ms" -> num(Intervals.union(k.stageIntervals, r.start, r.end)),
        "job_busy_ms" -> num(Intervals.union(k.jobIntervals, r.start, r.end)))
    }
    val self = selfTimes(spans).map { case (name, count, dur, s) =>
      obj("layer" -> str(name), "spans" -> num(count), "total_ms" -> num(dur), "self_ms" -> num(s))
    }
    obj("spans" -> arr(spanList), "ops" -> arr(ops), "self_time" -> arr(self),
      "unattributed_jobs" -> num(unattributed),
      "metrics" -> obj(metrics.map { case (k, v, u) => k -> obj("value" -> num(v), "unit" -> str(u)) }: _*))
  }
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    obj("correct" -> correct.toString, "attempted" -> num(attempted), "failed" -> num(failed),
      "metrics" -> obj(metrics.map { case (k, v, u) => k -> obj("value" -> num(v), "unit" -> str(u)) }: _*))
}
