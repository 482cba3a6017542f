package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.sources.Tables
import graft.streaming.StreamingOps

/** One operation: a query on the batch workloads, one micro-batch commit
  * on `cdc_stream` (a stream's start and stop are operations with
  * `sample = false`: they count in the pass wall time, not in latency). */
final case class OpRec(id: Int, pass: Int, name: String, sample: Boolean,
                       startUs: Long, endUs: Long, error: Option[String],
                       output: Option[String], rows: Long,
                       cacheMem: Long, cacheDisk: Long, rddsLeft: Int, codegens: Long) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** A pass over the workload; `kind` is warmup, check, untraced or traced.
  * `jitS` is the JVM's JIT compilation time over the pass, `codegens` the
  * Spark code generator's compilations (its cache misses) in it. */
final case class PassRec(pass: Int, kind: String, wallS: Double, jitS: Double, codegens: Long)

object Runner {
  /** Overhead-bound board: lighter `graft.Bench` headline queries, one per
    * operator family, on sf0.1. */
  val Board: Seq[String] = Seq(
    "q1_pricing_summary", "asof_join_custom_operator", "cdc_latest_state",
    "stateful_ema_series", "x2_similarity_topk", "x2_kmeans_fit")

  /** Self-test operations, each of which must be counted as failed. */
  val Injected: Seq[String] = Seq("selftest_throws", "selftest_wrong_rows")

  /** Streams of `cdc_stream`, in replay order. */
  val Streams: Seq[String] = Seq("scd2", "changelog")

  /** Untimed warm-up passes before the timed ones: the cold pass, which on
    * the batch workloads is the check pass, and on the board one more, as
    * JIT compilation keeps speeding its short queries up after the cold
    * pass (the second pass is about 40% faster than the cold one, the third
    * up to 15% faster again). A stream pass is longer and flattens after
    * the cold one. */
  val WarmupPasses: Map[String, Int] = Map("board_sf0.1" -> 2, "cdc_stream" -> 1)

  /** Fewest timed passes of an untraced run: an operation's latency is its
    * best over the timed passes, which should never rest on one or two.
    * The board still speeds up from pass to pass (its queries compile new
    * code on every pass, see README.md), so it takes five, a few more than
    * `--seconds 16` holds: on a slow host it then measures longer, not
    * fewer and colder passes. */
  val MinTimedPasses: Map[String, Int] = Map("board_sf0.1" -> 5, "cdc_stream" -> 3)

  /** Passes of a traced run after the warm-up passes: traced and untraced
    * alternate, so the traced passes' mean minus the untraced pass between
    * them is the tracing overhead with any warming trend cancelled. */
  val TracePlan: Seq[String] = Seq("traced", "untraced", "traced")
}

final class Runner(spark: SparkSession, args: Main.Args, data: String, work: String) {
  import Runner._

  private val workload = args("workload")
  private val traceMode = args("trace") == "1"
  private val tracer = new Tracer
  private val execL = new ExecListener
  private val planL = new PlanListener
  private val streamL = new StreamListener
  private val ops = ArrayBuffer.empty[OpRec]
  private val passes = ArrayBuffer.empty[PassRec]
  private val stateBytes = ArrayBuffer.empty[Long]
  /** Analysis phases of the built DataFrames (epoch ms), recorded while
    * tracing: a DataFrame is analysed as it is built, not in the query
    * execution of its action that the listener reports. */
  private val builtAnalysis = ArrayBuffer.empty[(String, Long, Long)]
  private var nextOp = 0

  private val batchOps: Seq[String] = (workload match {
    case "board_sf0.1" => Board
    case "cdc_stream"  => Nil
    case w             => sys.error(s"unknown workload $w")
  }) ++ (if (args.flags("inject-failure")) Injected else Nil)
  private val queries = SparkEntry.queries

  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Warm-up passes first (`WarmupPasses`): the same operations at full
    * size, times not reported (JIT and codegen warm up along the first
    * passes, so a cold pass times the warming, not the operations). On the
    * batch workloads the first of them is the check pass, which writes each
    * query's output as parquet for the output check; the timed passes run
    * the same queries through the `noop` sink only; on `cdc_stream` the
    * batch operators' results are written once after them. Then,
    * untraced: timed passes until their wall times add up to `--seconds`,
    * at least `MinTimedPasses`; traced: `TracePlan`. */
  def run(): Unit = {
    val order = new scala.util.Random(args("seed").toLong).shuffle(batchOps)
    def pass(kind: String): Unit = {
      val traced = kind == "traced"
      if (traced) listen(true)
      tracer.enabled = traced
      val p = passes.size
      val (jit0, cg0) = (jitS, codegens)
      if (workload == "cdc_stream") cdcPass(p)
      else batchPass(p, order, write = kind == "check")
      tracer.enabled = false
      if (traced) listen(false)
      passes += PassRec(p, kind, ops.filter(_.pass == p).map(_.seconds).sum,
        jitS - jit0, codegens - cg0)
    }
    val warm = WarmupPasses.getOrElse(workload, 1)
    if (workload == "cdc_stream") { (1 to warm).foreach(_ => pass("warmup")); writeExpected() }
    else { pass("check"); (1 until warm).foreach(_ => pass("warmup")) }
    if (traceMode) TracePlan.foreach(pass)
    else {
      val budget = args("seconds").toDouble
      def timed = passes.filter(_.kind == "untraced")
      do pass("untraced") while (timed.map(_.wallS).sum < budget ||
        timed.size < MinTimedPasses.getOrElse(workload, 3))
    }
  }

  /** JIT compilation time of the JVM so far, and compilations of the Spark
    * code generator so far (it compiles only on a miss of its cache). */
  private def jitS: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def codegens: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Registers or removes the listeners. Before removal, a marker query
    * is run and awaited, so every event of the traced pass has reached
    * the listeners (each queue delivers in order). */
  private def listen(on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(execL)
      spark.listenerManager.register(planL)
      spark.streams.addListener(streamL)
    } else {
      val (jobs, phases) = (execL.jobs.size, planL.phases.size)
      spark.range(1).count()
      val deadline = System.nanoTime() + 10000000000L
      while ((execL.jobs.size == jobs || planL.phases.size == phases) &&
        System.nanoTime() < deadline) Thread.sleep(5)
      spark.sparkContext.removeSparkListener(execL)
      spark.listenerManager.unregister(planL)
      spark.streams.removeListener(streamL)
    }

  private def op(name: String, pass: Int, sample: Boolean = true,
                 output: Option[String] = None, rows: Long = 0)(body: Int => Unit): Int = {
    val id = nextOp; nextOp += 1
    var err: Option[String] = None
    val cg0 = codegens
    val t0 = tracer.nowUs
    tracer.span(s"op:$name", id) {
      try body(id)
      catch { case e: Throwable => err = Some(describe(e)) }
    }
    val t1 = tracer.nowUs
    val (mem, disk, left) =
      if (!tracer.enabled) (0L, 0L, 0)
      else {
        val info = spark.sparkContext.getRDDStorageInfo
        (info.map(_.memSize).sum, info.map(_.diskSize).sum,
          spark.sparkContext.getPersistentRDDs.size)
      }
    ops += OpRec(id, pass, name, sample, t0, t1, err, output, rows, mem, disk, left,
      codegens - cg0)
    id
  }

  // ---------------------------------------------------------------- batch

  /** Each query is built (`q.run`) and run through the `noop` sink, as
    * `graft.Bench` does; caches are cleared before each, as it also does.
    * With `write` (the untimed check pass), the action writes the output
    * as parquet for the output check instead. */
  private def batchPass(pass: Int, order: Seq[String], write: Boolean): Unit =
    order.foreach { name =>
      clearCaches()
      val dir = s"$work/out/$name"
      op(name, pass, output = if (write) Some(dir) else None) { id =>
        val df = tracer.span("queries.build", id)(build(name))
        if (tracer.enabled) df.queryExecution.tracker.phases.get("analysis")
          .foreach(p => builtAnalysis += (("catalyst.analysis", p.startTimeMs, p.endTimeMs)))
        tracer.span("exec.action", id) {
          if (write) df.write.mode("overwrite").parquet(dir)
          else df.write.format("noop").mode("overwrite").save()
        }
      }
    }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def build(name: String): DataFrame = name match {
    case "selftest_throws"     => sys.error("injected failure")
    case "selftest_wrong_rows" => queries("q1_pricing_summary")(spark, data).limit(1)
    case q                     => queries(q)(spark, data)
  }

  // ---------------------------------------------------------------- cdc

  private lazy val eventSchema = spark.read.parquet(s"$data/events.parquet").schema

  /** Replays the seeded micro-batch files (`<work>/batches/events`, named
    * `batch-<i>-<rows>.parquet`) through each stream in turn. One
    * operation lands one file in the stream's input directory and waits
    * for its commit. */
  private def cdcPass(pass: Int): Unit = {
    import spark.implicits._
    val root = s"$work/cdc/p$pass"
    def events(in: String): DataFrame = Tables.normalizeEvents(
      spark.readStream.schema(eventSchema).option("maxFilesPerTrigger", 1).parquet(in))
    def start(stream: String, in: String): StreamingQuery = stream match {
      case "scd2" => StreamingOps.incrementalScd2(
        events(in).select("user_id", "event_id", "ts", "value"), "user_id",
        s"$root/scd2/current", s"$root/scd2/history", s"$root/scd2/ckpt")
      case "changelog" => StreamingOps.changelogStream(
        events(in).select(col("user_id").as("key"), col("event_id").as("eventId"),
          col("ts"), col("value")).as[StreamingOps.ChangeEvent])
        .writeStream.format("parquet").queryName("changelog")
        .option("checkpointLocation", s"$root/changelog/ckpt")
        .option("path", s"$root/changelog/out").start()
    }
    Streams.foreach { stream =>
      val in = new File(s"$root/$stream/in"); in.mkdirs()
      val staged = new File(s"$root/$stream/stage"); staged.mkdirs()
      val files = new File(s"$work/batches/events").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq.map { f =>
          val t = new File(staged, f.getName)
          Files.copy(f.toPath, t.toPath, StandardCopyOption.REPLACE_EXISTING)
          t
        }
      var q: StreamingQuery = null
      op(s"$stream:start", pass, sample = false) { id =>
        q = tracer.span("queries.build", id)(start(stream, in.getPath))
      }
      files.zipWithIndex.foreach { case (f, i) =>
        val rows = f.getName.stripSuffix(".parquet").split("-").last.toLong
        op(s"$stream:b$i", pass, rows = rows) { id =>
          Files.move(f.toPath, Paths.get(in.getPath, f.getName), StandardCopyOption.ATOMIC_MOVE)
          tracer.span("exec.action", id)(q.processAllAvailable())
        }
      }
      op(s"$stream:stop", pass, sample = false)(_ => if (q != null) q.stop())
    }
    // durable state the streams keep beside their reads
    stateBytes += Seq("scd2/current", "scd2/history", "changelog/ckpt/state")
      .map(p => dirBytes(new File(s"$root/$p"))).sum
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** The batch operators over all micro-batch rows, written once as
    * parquet (`<work>/expected/<stream>`, with the stream's output
    * columns) for the output check: each stream's final state must equal
    * them, the equalities `StreamingSpec` asserts. A result that cannot be
    * written is missing, and the check fails every batch of its stream. */
  private def writeExpected(): Unit = {
    val ev = Tables.normalizeEvents(spark.read.parquet(s"$work/batches/events"))
    def write(stream: String, df: => DataFrame): Unit =
      try df.write.mode("overwrite").parquet(s"$work/expected/$stream")
      catch { case e: Throwable => System.err.println(s"expected $stream: ${describe(e)}") }
    write("scd2", StreamingOps.scd2History(ev.select("user_id", "event_id", "ts", "value"))
      .select("user_id", "event_id", "valid_from", "valid_to", "state_value", "version"))
    write("changelog", StreamingOps.changelogOps(ev).select(col("user_id").as("key"),
      col("event_id").as("eventId"), col("ts"), col("op"), col("old_value").as("oldValue"),
      col("value").as("newValue")))
    clearCaches()
  }

  // ---------------------------------------------------------------- report

  /** Whether a listener timestamp (epoch ms) falls in the operation. */
  private def within(o: OpRec, ms: Long): Boolean =
    o.startUs - 1000 <= ms * 1000 && ms * 1000 < o.endUs + 1000

  def report(): Map[String, Any] = {
    // the wrong-rows self-test op is checked against the query it truncates
    def oracleOf(q: String) =
      SparkEntry.oracleSql.get(if (q == "selftest_wrong_rows") "q1_pricing_summary" else q)
    Map(
      "passes" -> passes.map(p => Map("pass" -> p.pass, "kind" -> p.kind, "wall_s" -> p.wallS,
        "jit_s" -> p.jitS, "codegens" -> p.codegens)),
      "ops" -> ops.map { o =>
        Map("id" -> o.id, "pass" -> o.pass, "name" -> o.name, "sample" -> o.sample,
          "latency_s" -> o.seconds, "rows" -> o.rows, "error" -> o.error, "codegens" -> o.codegens,
          "output" -> o.output)
      },
      "oracle_sql" -> batchOps.flatMap(q => oracleOf(q).map(q -> _)).toMap
    ) ++ (if (traceMode) Map("layers" -> layers()) else Map.empty)
  }

  /** Per-layer metrics of the traced passes (mean per traced pass), and
    * the spans, written to `<work>/spans.json`. */
  private def layers(): ListMap[String, Double] = {
    val extern = execL.jobs.map { case (s, e) => ("exec.job", s, e) } ++
      planL.phases.map { case (p, s, e) => (s"catalyst.$p", s, e) } ++ builtAnalysis
    val spans = tracer.assemble(extern.toSeq)
    // name, start and end (epoch µs), parent and operation of every span
    Main.json.writeValue(new File(s"$work/spans.json"), spans.sortBy(s => (s.start, s.id)).map(s =>
      ListMap("id" -> s.id, "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end,
        "parent" -> s.parent, "op" -> s.op)))
    val traced = passes.filter(_.kind == "traced")
    val tOps = ops.filter(o => traced.exists(_.pass == o.pass))
    val n = math.max(1, traced.size).toDouble
    val inOps = spans.filter(s => tOps.exists(_.id == s.op))
    def sumS(layer: String) = inOps.filter(Tracer.layer(_) == layer).map(_.dur).sum / 1e6 / n
    // listener records are attributed to the operation whose interval
    // holds them; records between operations (checks, clean-up) are not
    def inOp(ms: Long) = tOps.exists(within(_, ms))
    val tasks = execL.tasks.filter(t => inOp(t.finishMs))
    def tsum(f: TaskRec => Long) = tasks.map(f).sum / n
    val buildIds = inOps.filter(_.name == "queries.build").map(_.id).toSet
    val jobSpans = inOps.filter(_.name == "exec.job")
    val gaps = tOps.map { o =>
      (o.endUs - o.startUs) - Tracer.unionLength(jobSpans.filter(_.op == o.id).map(s => (s.start, s.end)))
    }
    val self = Tracer.selfTimes(inOps)
    def selfS(layer: String) =
      inOps.filter(Tracer.layer(_) == layer).map(s => self(s.id)).sum / 1e6 / n
    val prog = streamL.progress.toSeq
    // per stream and traced pass: median latency of the last quarter of
    // batches over the first quarter (at least one batch each)
    val growth = tOps.filter(_.sample).groupBy(o => (o.pass, o.name.takeWhile(_ != ':')))
      .values.map(_.sortBy(_.id).map(_.seconds).toSeq).filter(_.size >= 2)
      .map { l => val q = math.max(1, l.size / 4); median(l.takeRight(q)) / median(l.take(q)) }
      .toSeq
    val streamWall = tOps.filter(_.name.contains(":")).map(_.seconds).sum
    val j = ListMap(
      "queries.build_s" -> sumS("queries.build"),
      "queries.build_jobs" -> jobSpans.count(s => buildIds(s.parent)) / n,
      "catalyst.analysis_s" -> sumS("catalyst.analysis"),
      "catalyst.optimization_s" -> sumS("catalyst.optimization"),
      "catalyst.planning_s" -> sumS("catalyst.planning"),
      "exec.jobs" -> jobSpans.size / n,
      "exec.stages" -> execL.stages.count(inOp) / n,
      "exec.tasks" -> tasks.size / n,
      "exec.driver_gap_s" -> gaps.sum / 1e6 / n,
      "exec.task_s" -> tsum(_.runMs) / 1e3,
      "exec.task_cpu_s" -> tsum(_.cpuNs) / 1e9,
      "exec.gc_s" -> tsum(_.gcMs) / 1e3,
      "codegen.compilations" -> tOps.map(_.codegens).sum / n,
      "jit.compile_s" -> traced.map(_.jitS).sum / n,
      "shuffle.read_bytes" -> tsum(_.shuffleRead),
      "shuffle.write_bytes" -> tsum(_.shuffleWrite),
      "spill.disk_bytes" -> tsum(_.spillDisk),
      "spill.memory_bytes" -> tsum(_.spillMem),
      "cache.mem_bytes" -> tOps.map(_.cacheMem).sum / n,
      "cache.disk_bytes" -> tOps.map(_.cacheDisk).sum / n,
      "cache.rdds_left" -> tOps.map(_.rddsLeft).sum / n,
      "sources.input_rows" -> tsum(_.inRows),
      "sources.input_bytes" -> tsum(_.inBytes),
      "stream.add_batch_s" -> prog.map(_.addBatchMs).sum / 1e3 / n,
      "stream.query_planning_s" -> prog.map(_.planningMs).sum / 1e3 / n,
      "stream.wal_commit_s" -> prog.map(_.walCommitMs).sum / 1e3 / n,
      "stream.state_rows" -> prog.groupBy(_.query).values.map(_.last.stateRows).sum.toDouble,
      "stream.ledger_bytes" -> (if (stateBytes.isEmpty) 0.0 else stateBytes.last.toDouble),
      "stream.latency_growth" -> median(growth),
      "stream.rows_per_s" -> (if (streamWall > 0) tOps.map(_.rows).sum / streamWall else 0.0))
    j ++ Seq("op", "queries.build", "exec.action", "exec.job", "catalyst.analysis",
      "catalyst.optimization", "catalyst.planning").map { l =>
      s"self.${l.replace('.', '_')}_s" -> selfS(l)
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
