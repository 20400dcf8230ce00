package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * starts this main, checks the outputs and prints the result; see
  * perfbench/README.md.
  *
  * {{{
  * graftbench.Main --workload W --seconds S --trace 0|1
  *   --inputs DIR --work DIR --result FILE
  * graftbench.Main --workload W --oracles FILE
  * }}}
  * The second form only writes the workload's oracle SQL to FILE.
  */
object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    if (opts.contains("oracles")) { // only list the oracle SQL, no session
      val ops = Workloads.batch(workload)
      Files.write(Paths.get(opts("oracles")),
        json.writeValueAsBytes(ops.map(o => o.name -> o.oracleSql).toMap))
      return
    }
    val inputs = opts("inputs")
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = opts("work")

    val cores = Runtime.getRuntime.availableProcessors
    val s0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarning()
    val sessionStartS = (System.nanoTime() - s0) / 1e9
    val sessionReadyMs = System.currentTimeMillis()
    // the inputs are generated while the session starts; wait for them
    val ready = Paths.get(s"$inputs/.ready")
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(ready)) {
      if (System.nanoTime() > deadline) sys.error(s"no inputs at $inputs")
      Thread.sleep(20)
    }
    val inputsReadyMs = System.currentTimeMillis()

    def batchRun(ops: Seq[Op], dir: String, checkDir: String,
                 window: Double): Map[String, Any] = {
      val checkStart = System.currentTimeMillis()
      val check = BatchRun.check(spark, ops, dir, checkDir)
      Map("check" -> (check + ("start_ms" -> checkStart)),
        "timed" -> BatchRun.timed(spark, ops, dir, window, trace))
    }
    val ops = Workloads.batch(workload)
    val own = batchRun(ops, inputs, s"$work/check", seconds)
    // a traced run also runs a part of the CDC scenario: `curation` the
    // cdc_* and source ops over the scaled changelog, `analytics` the
    // open-loop stream
    val cdcDir = s"$inputs/cdc"
    val cdc = if (trace && Files.isDirectory(Paths.get(cdcDir)))
      Some(batchRun(Workloads.batch("cdc"), cdcDir, s"$work/check-cdc", seconds / 2.0))
    else None
    val streamDir = s"$inputs/stream"
    val stream = if (trace && Files.isDirectory(Paths.get(streamDir))) {
      val schedule = Files.readAllLines(Paths.get(s"$streamDir/schedule.tsv"))
        .asScala.toSeq.map(_.split("\t")).map { case Array(f, step, off, tr) =>
          Delivery(f, step, off.toLong, tr == "1")
        }
      // the backlog limit is the latency limit of the sustained verdict
      // (LATENCY_LIMIT_MS in streamlog.py)
      Some(StreamRun.run(spark, s"$streamDir/staged", schedule, s"$work/stream",
        drainSeconds = 30, backlogLimitS = 5.0, Some(new Tracer)))
    } else None
    val body = own ++ Map("cdc" -> cdc, "stream" -> stream)

    val env = Map(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    val result = body ++ Map("env" -> env, "session_start_s" -> sessionStartS,
      "session_ready_ms" -> sessionReadyMs, "inputs_ready_ms" -> inputsReadyMs,
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    Files.write(Paths.get(opts("result")), json.writeValueAsBytes(result))
  }
}
