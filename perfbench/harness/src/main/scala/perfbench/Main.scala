package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Queries

/** Benchmark harness: drives the engine from outside, one operation at a
  * time (closed loop, one client) in one JVM at `local[<cores>]`.
  *
  * Usage: perfbench.Main --workload <name> --data <dir> --warmup-data <dir>
  *   --work <dir> --seed <n> --seconds <s> --trace <0|1> --out <file.json>
  *   [--inject-failure]
  *
  * Writes every raw measurement to `--out`; `perfbench/run.py` checks the
  * outputs and turns the measurements into the reported metrics. */
object Main {
  /** Serializes the results (Scala maps, sequences, options, numbers). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(m: Map[String, String], flags: Set[String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def parse(a: Array[String]): Args = {
    val m = scala.collection.mutable.Map.empty[String, String]
    val flags = scala.collection.mutable.Set.empty[String]
    var i = 0
    while (i < a.length) {
      val k = a(i).stripPrefix("--")
      if (i + 1 < a.length && !a(i + 1).startsWith("--")) { m(k) = a(i + 1); i += 2 }
      else { flags += k; i += 1 }
    }
    Args(m.toMap, flags.toSet)
  }

  /** `graft.Bench`'s session conf, shuffle partitions = core count. The
    * local, warehouse and Hadoop temp dirs keep the run's files in `work`. */
  def conf(work: String): Seq[(String, String)] = {
    val cpus = Runtime.getRuntime.availableProcessors()
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.hadoop.hadoop.tmp.dir" -> s"$work/hadoop-tmp")
  }

  /** Builds the session and warms it up as `graft.Bench` does, with the
    * flagship query on the smallest data set (JIT, codegen, file listing),
    * forced through the `noop` sink like every measured query. */
  def setUp(work: String, warmupData: String): SparkSession = {
    val spark = conf(work)
      .foldLeft(SparkSession.builder().appName("perfbench")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    Queries.flagship(spark, warmupData).write.format("noop").mode("overwrite").save()
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = new File(args("work")).getAbsolutePath
    val spark = setUp(work, new File(args("warmup-data")).getAbsolutePath)
    // cold set-up: JVM start until the session is ready and warmed up
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val runner = new Runner(spark, args, new File(args("data")).getAbsolutePath, work)
    runner.run()
    // retained heap: what the session still holds after full collections,
    // with pauses for the context cleaner to drop what the first one freed
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    spark.stop() // drains the listener buses before the listeners are read
    json.writeValue(new File(args("out")), Map(
      "workload" -> args("workload"), "conf" -> conf(work).toMap, "setup_s" -> setupS,
      "retained_heap_mb" -> heapMb) ++ runner.report())
  }
}
