package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs a batch workload: one check pass that writes every result to
  * parquet for the oracle (it doubles as warm-up), then serial timed passes
  * that write every result to the `noop` sink until the time is up.
  *
  * Each operation runs under two job groups, `<pass>/<op>/build` while
  * the DataFrame is built (eager jobs) and `<pass>/<op>/exec` for the
  * write, so a [[Tracer]] can split its cost without a second plan.
  */
object BatchRun {

  private def nowMs: Long = System.currentTimeMillis()

  /** The machine's CPU time counters (the `cpu` line of /proc/stat, in
    * clock ticks: user, nice, system, idle, iowait, irq, softirq, steal). */
  def cpuTicks(): Seq[Long] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .split("\\s+").toSeq.slice(1, 9).map(_.toLong)

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(300)

  /** Check pass: every result to `<checkDir>/<op>` as parquet, one op
    * after another. Returns the oracle SQL per op, the ops that failed to
    * run, and the time of each op. This pass is also the warm-up; it runs
    * serially like the timed passes (with three ops at a time, the first
    * timed pass still ran 10-30% slower than the second). */
  def check(spark: SparkSession, ops: Seq[Op], dir: String,
            checkDir: String): Map[String, Any] = {
    val done = ops.map { op =>
      val t0 = System.nanoTime()
      val err = try {
        op.build(spark, dir).write.mode("overwrite").parquet(s"$checkDir/${op.name}")
        None
      } catch { case e: Throwable => Some(errText(e)) }
      (op.name, (System.nanoTime() - t0) / 1e9, err)
    }
    Map("oracle_sql" -> ops.map(o => o.name -> o.oracleSql).toMap,
      "errors" -> done.collect { case (n, _, Some(e)) => n -> e }.toMap,
      "times_s" -> done.map { case (n, t, _) => n -> t }.toMap)
  }

  /** One timed pass over `ops`; with a tracer, each record carries the
    * counters of its build and exec groups. */
  private def pass(spark: SparkSession, ops: Seq[Op], dir: String, idx: Int,
                   tracer: Option[(Tracer, WritePlanTimes)])
      : (Long, Long, Seq[Map[String, Any]]) = {
    val sc = spark.sparkContext
    val start = nowMs
    val plansBefore = tracer.map(_._2.size).getOrElse(0)
    var writes = 0
    val recs = ops.map { op =>
      val g = s"$idx/${op.name}"
      val t0 = System.nanoTime()
      val s0 = nowMs
      var t1 = t0
      var wrote = false
      val err = try {
        sc.setJobGroup(s"$g/build", op.name)
        val df = op.build(spark, dir)
        t1 = System.nanoTime()
        sc.setJobGroup(s"$g/exec", op.name)
        writes += 1
        wrote = true
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(errText(e)) }
      finally sc.clearJobGroup()
      val t2 = System.nanoTime()
      Map("name" -> op.name, "layer" -> op.layer, "pass" -> idx,
        "start_ms" -> s0, "build_s" -> (t1 - t0) / 1e9,
        "write_s" -> (t2 - t1) / 1e9, "wrote" -> wrote,
        "error" -> err)
    }
    val end = nowMs
    val withStats = tracer match {
      case None => recs
      case Some((t, plans)) =>
        t.quiesce()
        // one noop write per op that got past its build, in op order
        val planS = plans.slice(plansBefore, writes).iterator
        recs.map { r =>
          val g = s"$idx/${r("name")}"
          val plan = if (r("wrote") == true && planS.hasNext) planS.next() else 0.0
          r ++ Map("plan_s" -> plan, "build" -> t.group(s"$g/build").toMap,
            "exec" -> t.group(s"$g/exec").toMap)
        }
    }
    (start, end, withStats)
  }

  /** Timed passes until `seconds` have elapsed, and at least three, so
    * that the median is a whole pass and not the mean of a first pass,
    * still warming up, and a second. With
    * `trace`, passes run untraced, traced, traced, untraced, … (at least
    * four), so the artifact can state the tracing overhead from the same
    * run without the JVM's warm-up favouring either side. */
  def timed(spark: SparkSession, ops: Seq[Op], dir: String, seconds: Double,
            trace: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    // before the clock starts: collect the check pass's garbage, and give
    // Spark's cleaner a moment to drop what that pass left behind
    System.gc()
    Thread.sleep(1000)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer
    val plans = new WritePlanTimes
    while (passes.size < 3 || elapsed < seconds || (trace && passes.size < 4)) {
      val traced = trace && Set(1, 2).contains(passes.size % 4)
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(plans)
      }
      val c0 = cpuTicks()
      val (s, e, recs) = pass(spark, ops, dir, passes.size,
        if (traced) Some((tracer, plans)) else None)
      if (traced) {
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(plans)
      }
      passes += Map("index" -> passes.size, "traced" -> traced,
        "start_ms" -> s, "end_ms" -> e, "ops" -> recs,
        "cpu_ticks" -> cpuTicks().zip(c0).map { case (a, b) => a - b })
    }
    Map("passes" -> passes.toSeq,
      "unscoped" -> (if (trace) Some(tracer.unscoped.toMap) else None))
  }
}
