package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cdc.Changelog
import graft.sources.ChangelogSource
import graft.streaming.{AppendSink, StateTable}

/** One scheduled delivery: move `file` from the staging directory into
  * the watched directory `offsetMs` after the schedule starts. */
final case class Delivery(file: String, step: String, offsetMs: Long,
                          traced: Boolean)

/** The stream of the CDC scenario, run inside traced `analytics` runs:
  * an open loop.
  * A single generator thread moves pre-rendered JSON-line change files
  * into a watched directory on a fixed schedule, whatever the stream is
  * doing. One streaming query reads them with [[ChangelogSource.streamJsonLines]] and, in
  * `foreachBatch`, publishes the FTS and geo messages with
  * [[AppendSink.commitBatch]] and the save-back state with
  * [[StateTable.commitBatch]].
  *
  * The rate ladder (steps named `rate_*`) stops early: when a ladder step
  * ends with a file that was due more than `backlogLimitS` ago and is not
  * yet committed (the files of each committed batch are read from the
  * file-source log, as the harness does afterwards), the rest of the
  * schedule is not delivered, and an overloaded rate never leaves more
  * than the drain can clear.
  *
  * Nothing is measured inside the batches: the harness keeps the
  * generator's log (scheduled and actual move time per file) and the
  * batch log (start and end of each commit call); which file went into
  * which batch is read afterwards from the file-source log under the
  * checkpoint.
  */
object StreamRun {

  private def nowMs: Long = System.currentTimeMillis()

  private val SourcePath = """.*"path":"[^"]*/([^"/]+)".*""".r

  /** The files micro-batch `id` read, from the file-source log under the
    * checkpoint (`sources/0/<id>`, or `<id>.compact`, which lists every
    * file up to that batch). */
  private def sourceFiles(ckpt: String, id: Long): Seq[String] =
    Seq(s"$id", s"$id.compact").map(Paths.get(ckpt, "sources", "0", _))
      .find(Files.exists(_)).toSeq
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case SourcePath(f) => f }

  def run(spark: SparkSession, staged: String, schedule: Seq[Delivery],
          work: String, drainSeconds: Int, backlogLimitS: Double,
          tracer: Option[Tracer]): Map[String, Any] = {
    val in = s"$work/in"
    val ckpt = s"$work/checkpoint"
    val fts = s"$work/fts"
    val geo = s"$work/geo"
    val state = s"$work/state"
    Files.createDirectories(Paths.get(in))

    val batchLog = ArrayBuffer.empty[Map[String, Any]]
    // every micro-batch's progress (the query keeps only the last 100)
    val progress = ArrayBuffer.empty[Map[String, Any]]
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.synchronized {
          progress += Map("batch" -> p.batchId,
            "trigger_ms" -> Option(p.durationMs.get("triggerExecution"))
              .map(_.longValue).getOrElse(0L))
        }
      }
    }
    spark.streams.addListener(progressListener)
    val query = ChangelogSource.streamJsonLines(spark, in)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = nowMs
        AppendSink.commitBatch(Changelog.ftsMessages(batch), id, fts)
        val t1 = nowMs
        AppendSink.commitBatch(Changelog.geoMessages(batch), id, geo)
        val t2 = nowMs
        StateTable.commitBatch(batch, id, state)
        val t3 = nowMs
        batchLog.synchronized {
          batchLog += Map("batch" -> id, "start_ms" -> t0, "fts_end_ms" -> t1,
            "geo_end_ms" -> t2, "end_ms" -> t3)
        }
        ()
      }
      .start()

    // the generator: sleeps to each scheduled instant, then renames
    val genLog = ArrayBuffer.empty[Map[String, Any]]
    val scheduleStart = nowMs + 500
    var tracing = false
    var stoppedBefore: Option[String] = None
    val generator = new Thread(() => {
      // due time of every file moved in and not yet known as committed
      val pending = scala.collection.mutable.Queue.empty[(String, Long)]
      val committed = scala.collection.mutable.Set.empty[String]
      var batchesSeen = 0
      def backlogAgeMs: Long = {
        val done = batchLog.synchronized(batchLog.drop(batchesSeen).map(_("batch")).toSeq)
        batchesSeen += done.size
        done.foreach(id => committed ++= sourceFiles(ckpt, id.asInstanceOf[Long]))
        while (pending.nonEmpty && committed.contains(pending.head._1)) pending.dequeue()
        pending.headOption.map(p => nowMs - p._2).getOrElse(0L)
      }
      val it = schedule.iterator.buffered
      while (it.hasNext && stoppedBefore.isEmpty) {
        val d = it.next()
        val due = scheduleStart + d.offsetMs
        var wait = due - nowMs
        while (wait > 0) { Thread.sleep(wait); wait = due - nowMs }
        if (d.traced && !tracing) {
          tracer.foreach(spark.sparkContext.addSparkListener)
          tracing = true
        }
        Files.move(Paths.get(staged, d.file), Paths.get(in, d.file),
          StandardCopyOption.ATOMIC_MOVE)
        pending.enqueue(d.file -> due)
        genLog += Map("file" -> d.file, "step" -> d.step,
          "scheduled_ms" -> due, "moved_ms" -> nowMs)
        if (d.step.startsWith("rate_") && it.hasNext && it.head.step != d.step) {
          // the step's last file: wait until the step's time is up
          val end = scheduleStart + it.head.offsetMs
          while (nowMs < end) Thread.sleep(math.max(1L, end - nowMs))
          if (backlogAgeMs > backlogLimitS * 1000) stoppedBefore = Some(it.head.step)
        }
      }
    }, "cdc-stream-generator")
    generator.start()
    generator.join()

    // drain: everything moved in must be committed by the deadline
    var drainError: Option[String] = None
    val drainer = new Thread(() =>
      try query.processAllAvailable()
      catch { case e: Throwable => drainError = Some(e.toString) },
      "cdc-stream-drain")
    drainer.start()
    drainer.join(drainSeconds * 1000L)
    val drained = !drainer.isAlive && drainError.isEmpty
    query.stop()
    drainer.join(10000)
    spark.streams.removeListener(progressListener)
    tracer.foreach { t =>
      t.quiesce()
      spark.sparkContext.removeSparkListener(t)
    }
    val endMs = nowMs

    // output check, outside the measured window: the drained state and
    // the published messages against the batch operators over every
    // delivered record
    val delivered = ChangelogSource.fromJsonLines(spark, in)
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    val digestOk = rows(StateTable.digest(spark, state)) ==
      rows(Changelog.stateDigest(delivered))
    def published(dir: String) = AppendSink.read(spark, dir).map(_.count()).getOrElse(0L)
    val ftsGot = published(fts)
    val geoGot = published(geo)
    val ftsWant = Changelog.ftsMessages(delivered).count()
    val geoWant = Changelog.geoMessages(delivered).count()
    val stateRows = StateTable.read(spark, state).count()
    val stateLive = StateTable.readLive(spark, state).count()

    Map("schedule_start_ms" -> scheduleStart, "end_ms" -> endMs,
      "drained" -> drained, "drain_error" -> drainError,
      "gen_log" -> genLog.toSeq, "batch_log" -> batchLog.toSeq,
      "progress" -> progress.synchronized(progress.toSeq), "checkpoint" -> ckpt,
      "ladder_stopped_before" -> stoppedBefore,
      "checks" -> Map(
        "state_digest" -> digestOk,
        "fts_count" -> (ftsGot == ftsWant),
        "geo_count" -> (geoGot == geoWant)),
      "counts" -> Map("fts_got" -> ftsGot, "fts_want" -> ftsWant,
        "geo_got" -> geoGot, "geo_want" -> geoWant,
        "state_rows" -> stateRows, "state_live" -> stateLive),
      "tracer" -> tracer.map(_.total.toMap))
  }
}
