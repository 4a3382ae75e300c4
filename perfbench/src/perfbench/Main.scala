package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.GraftListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Verify}
import graft.operators.Lifecycle
import graft.packs.SinksPack
import graft.plans.SingleReducerWindowWarning

/** One closed-loop benchmark run: one JVM, `local[N]`, one
  * query at a time, each result consumed by a `noop` write.
  *
  * A run first sets up `--setups` times. Each set-up starts a Spark
  * context (the first one also pays the JVM start), runs
  * `SinksPack.prewarm` on a fresh input path, and runs one untimed pass
  * whose results are written as parquet for the oracle check. Then it
  * warms up for `--warmup` seconds and runs timed passes for
  * `--seconds` seconds. With `--trace 1` every
  * second timed pass is traced, and the untraced ones around them give
  * the time the tracing overhead is taken against.
  *
  * Everything goes to `--out` as one JSON object; `run.py` turns it into
  * the result line.
  *
  * Args: --workload --queries q1,q2 --fresh session|inputs --seconds --warmup --trace 0|1
  *       --setups --data <seed input dir> --work <run dir> --out <json>
  *       --trace-out <json>
  */
object Main {
  private val Mb = 1048576.0

  final class Run(args: Map[String, String]) {
    val workload: String = args("workload")
    val queries: Seq[String] = args("queries").split(',').toSeq
    /** What every pass gets new: a `newSession()` ("session"), or that
      * and its own input path ("inputs"). */
    val newInputsPerPass: Boolean = args("fresh") == "inputs"
    val seconds: Double = args("seconds").toDouble
    val warmup: Double = args("warmup").toDouble
    val traced: Boolean = args("trace") == "1"
    val setups: Int = args("setups").toInt
    val data: String = args("data")
    val work: String = args("work")
    val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    private val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
    private val tmp = sys.props("java.io.tmpdir")
    private var inputs = 0

    var attempted = 0
    val errors = mutable.ArrayBuffer[String]()

    /** A fresh input path: a directory of hard links to the seed's
      * tables, so path-keyed fixtures and caches start cold. */
    def freshInputs(): String = {
      inputs += 1
      val dir = Paths.get(work, "in", s"p$inputs")
      Files.createDirectories(dir)
      new File(data).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.createLink(dir.resolve(f.getName), f.toPath)
      }
      dir.toString
    }

    /** Remove an input path and everything the program wrote for it. */
    def dropInputs(dir: String): Unit = {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      Option(new File(tmp).listFiles()).toSeq.flatten
        .filter(_.getName.contains(tag)).foreach(f => delete(f.toPath))
      delete(Paths.get(dir))
    }

    /** One pass over the workload; `sink` consumes each result. */
    def pass(s: SparkSession, dir: String, tr: Option[Tracer],
             sink: (String, DataFrame) => Unit): Int = {
      var live = 0
      def phase[T](kind: String, name: String)(body: => T): T = tr match {
        case None => body
        case Some(t) =>
          val span = t.begin(kind, name)
          s.sparkContext.setJobGroup(t.JobGroup + span.id, s"$kind $name",
            interruptOnCancel = false)
          try body
          finally { s.sparkContext.clearJobGroup(); t.end(span) }
      }
      queries.foreach { q =>
        phase("query", q) {
          attempted += 1
          try {
            val df = phase("build", q)(fns(q)(s, dir))
            phase("exec", q)(sink(q, df))
          } catch {
            case NonFatal(e) =>
              errors += q
              System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
          }
          phase("release", q) {
            live += Lifecycle.liveCount
            Lifecycle.releaseAll()
          }
        }
      }
      live
    }
  }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally walk.close()
    }

  /** Files (and their bytes) under `root` modified at or after `sinceMs`. */
  private def written(root: String, skip: String, sinceMs: Long): (Long, Long) = {
    val walk = Files.walk(Paths.get(root))
    try {
      val fs = walk.iterator().asScala
        .filter(p => !p.startsWith(skip) && Files.isRegularFile(p))
        .filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally walk.close()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def jitSeconds(): Double =
    Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1000.0).getOrElse(0.0)

  /** (seconds, count) of whole-stage and expression code compiled so far. */
  private def codegen(): (Double, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val r = new Run(args)
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    def now() = System.currentTimeMillis() / 1000.0

    // Set-ups: each pays a Spark context, the prewarm and one pass over
    // a fresh input path; that pass's results are the ones checked.
    val setupS = mutable.ArrayBuffer[Double]()
    val setupJit = mutable.ArrayBuffer[Double]()
    val setupParts = mutable.ArrayBuffer[Seq[Double]]()
    var spark: SparkSession = null
    var watch: StorageWatch = null
    var dir = ""
    for (i <- 0 until r.setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) jvmStartS else now()
      val jit0 = if (i == 0) 0.0 else jitSeconds()
      spark = Verify.session("perfbench")
      watch = new StorageWatch
      spark.sparkContext.addSparkListener(watch)
      dir = r.freshInputs()
      val t1 = now()
      SinksPack.prewarm(spark, dir)
      val t2 = now()
      val outDir = s"${r.work}/out/setup$i"
      r.pass(spark, dir, None, (q, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/$q"))
      setupS += now() - t0
      setupParts += Seq(t1 - t0, t2 - t1, now() - t2)
      setupJit += jitSeconds() - jit0
    }

    val tracer = if (r.traced) Some(new Tracer) else None
    tracer.foreach(t => spark.sparkContext.addSparkListener(t))
    val localDir = spark.sparkContext.getConf.get("spark.local.dir", "")
    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    // Timed passes, closed loop, until the measuring window is spent.
    // Passes warm up for `--warmup` seconds first (at least one pass),
    // run like the others but are not recorded: every pass still loads
    // and compiles new classes (generated code above all), and a fresh
    // JVM keeps compiling a long tail of Spark methods for tens of
    // seconds after its set-ups. Before every pass a full GC runs
    // outside the timed window, so collections (and the Spark cleanups
    // they trigger) of one pass's garbage do not land at random in a
    // later pass. Every pass runs on a new session, as a daily job
    // would: Spark keys its generated-code cache by the session's class
    // loader, and passes that reuse one session hit that cache in a
    // pattern that differs from JVM to JVM (0 to 40 compiles a pass on
    // the same inputs), which moved pass times by up to 40% between
    // runs; a new session misses it on every pass. A traced run puts
    // each traced pass between two untraced ones, so the overhead
    // estimate does not absorb drift.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var deadline = Double.MaxValue
    val minPasses = 3
    val warmUntil = now() + r.warmup
    var p = -1
    while (p < minPasses || now() < deadline || (r.traced && p % 2 == 0)) {
      if (p == 0 && deadline == Double.MaxValue) deadline = now() + r.seconds
      val tr = tracer.filter(_ => p % 2 == 1)
      val (s, d) =
        (spark.newSession(), if (r.newInputsPerPass) r.freshInputs() else dir)
      tr.foreach(_.attach(s))
      System.gc()
      GraftListenerDrain.waitUntilEmpty(spark.sparkContext, 10000)
      watch.reset()
      tr.foreach { t => t.Counts.take(); t.on = true }
      val (gc0, windows0) = (gcSeconds(), SingleReducerWindowWarning.hits.get)
      val passSpan = tr.map(_.begin("pass", s"pass $p"))
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (cg0, cgN0) = codegen()
      val jit0 = jitSeconds()
      val cpu0 = os.getProcessCpuTime / 1e9 - jit0
      val live = r.pass(s, d, tr, noop)
      val jit = jitSeconds() - jit0
      val cpu = os.getProcessCpuTime / 1e9 - jit0 - jit - cpu0
      val wall = (System.nanoTime() - t0) / 1e9
      val (cg1, cgN1) = codegen()
      tr.zip(passSpan).foreach { case (t, ps) => t.end(ps) }
      GraftListenerDrain.waitUntilEmpty(spark.sparkContext, 10000)
      tr.foreach(_.on = false)
      val (peak, held, blocks) = watch.reset()
      val m = mutable.LinkedHashMap[String, Any](
        "traced" -> tr.isDefined, "wall_s" -> wall, "cpu_s" -> cpu, "jvm.pass_jit_s" -> jit,
        "plans.codegen_s" -> (cg1 - cg0), "plans.codegen_compiles" -> (cgN1 - cgN0).toDouble,
        "peak_storage_mb" -> peak / Mb)
      tr.zip(passSpan).foreach { case (t, ps) =>
        val c = t.Counts.take()
        def sum(k: String) = c.getOrElse(k, 0.0)
        val self = t.selfTimes(ps)
        val under = t.spans.asScala.filter(_.start >= ps.start).toSeq
        def spanS(kind: String) =
          under.filter(x => x.kind == kind && x.end >= 0).map(x => (x.end - x.start) / 1e6).sum
        val (files, bytes) = written(sys.props("java.io.tmpdir"), localDir, startMs)
        m ++= Seq(
          "packs.build_s" -> spanS("build"),
          "packs.build_jobs" -> sum("packs.build_jobs"),
          "spark.exec_s" -> spanS("exec"),
          "spark.jobs" -> sum("spark.jobs"),
          "spark.stages" -> sum("spark.stages"),
          "spark.tasks" -> sum("spark.tasks"),
          "spark.task_s" -> sum("spark.task_s"),
          "spark.busy_share" -> sum("spark.task_s") / (wall * r.cores),
          "spark.stage_skew" -> t.skew(c),
          "spark.shuffle_read_mb" -> sum("spark.shuffle_read_mb"),
          "spark.shuffle_write_mb" -> sum("spark.shuffle_write_mb"),
          "spark.spill_mb" -> sum("spark.spill_mb"),
          "spark.input_mb" -> sum("spark.input_mb"),
          "spark.output_mb" -> sum("spark.output_mb"),
          "spark.failed_tasks" -> sum("spark.failed_tasks"),
          "plans.analysis_s" -> sum("plans.analysis_s"),
          "plans.optimizer_s" -> sum("plans.optimizer_s"),
          "plans.planning_s" -> sum("plans.planning_s"),
          "plans.single_reducer_windows" ->
            (SingleReducerWindowWarning.hits.get - windows0).toDouble,
          "operators.lifecycle.blocks_cached" -> blocks.toDouble,
          "operators.lifecycle.live_after" -> live.toDouble,
          "operators.lifecycle.release_s" -> spanS("release"),
          "operators.lifecycle.held_after_mb" -> held / Mb,
          "sources.scan_tasks" -> sum("sources.scan_tasks"),
          "sources.files_written" -> files.toDouble,
          "sources.bytes_written" -> bytes.toDouble,
          "streaming.batches" -> sum("streaming.batches"),
          "streaming.rows" -> sum("streaming.rows"),
          "streaming.batch_s" -> sum("streaming.batch_s"),
          "jvm.gc_s" -> (gcSeconds() - gc0),
          "self.build_s" -> self.getOrElse("build", 0.0),
          "self.exec_s" -> self.getOrElse("exec", 0.0),
          "self.job_s" -> self.getOrElse("job", 0.0))
      }
      if (p >= 0) passes += m.toMap
      if (r.newInputsPerPass) r.dropInputs(d)
      if (p >= 0 || now() >= warmUntil) p += 1
    }

    // Oracle SQL for the checked outputs; the comparison runs in run.py.
    Files.writeString(Paths.get(r.work, "oracle_sql.json"),
      Json.obj(r.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))))
    val result = Json.obj(Seq(
      "workload" -> r.workload, "cores" -> r.cores,
      "attempted" -> r.attempted, "errors" -> r.errors.toSeq,
      "setup_s" -> setupS.toSeq, "setup_jit_s" -> setupJit.toSeq,
      "setup_parts_s" -> setupParts.toSeq,
      "passes" -> passes.toSeq))
    Files.writeString(Paths.get(args("out")), result)
    // The spans are an artifact: losing them must not lose the result.
    tracer.foreach { t =>
      try Files.writeString(Paths.get(args("trace-out")), Json.obj(Seq(
        "spans" -> t.spans.asScala.toSeq.filter(_.end >= 0).map(x =>
          Json.obj(Seq("id" -> x.id, "parent" -> x.parent, "kind" -> x.kind,
            "name" -> x.name, "start_us" -> x.start, "end_us" -> x.end)))
          .map(Json.Raw))))
      catch { case NonFatal(e) => System.err.println(s"[perfbench] trace not written: $e") }
    }
    spark.stop()
  }
}

/** Just enough JSON for the run's own output. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
