package perfbench

import java.io.FileOutputStream
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.StreamOps
import graft.streaming.StreamOps.OrderImage
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** `cdc_live`: an open-loop appender grows a live binlog file by whole
  * transactions on a fixed schedule while a Structured Streaming query
  * over `binlogcdc` keeps the latest image per key
  * (`StreamOps.latestImageStream`); then a burst appends a backlog at
  * once and its drain is timed. */
object Live {
  /** Transactions per second of the steady phase. */
  val Rate = 25
  /** Transactions in the file when the stream starts. */
  val Initial = 40
  /** Seconds of appending before the measured steady phase. */
  val WarmSeconds = 2
  /** Transactions appended at once after the steady phase. */
  val Burst = 12000
  val Keys = 2000

  final case class Inputs(dir: String, stage: String, ledger: CdcGen.Ledger)

  def setup(seed: Long, dir: String, seconds: Int): Inputs = {
    Files2.mkdirs(dir)
    val stage = s"$dir/stage.000001"
    val n = Initial + Rate * (WarmSeconds + seconds) + Burst
    Inputs(dir, stage, CdcGen.live(seed, stage, n, Keys))
  }

  /** One micro-batch as its progress event reports it, received at
    * `atNanos`. Offsets are byte positions in the single live file. */
  final case class Batch(id: Long, start: Long, end: Long, rows: Long, atNanos: Long,
      progress: StreamingQueryProgress)

  private val PosRe = """"pos"\s*:\s*(\d+)""".r
  private def pos(json: String, default: Long): Long =
    Option(json).flatMap(j => PosRe.findFirstMatchIn(j)).map(_.group(1).toLong).getOrElse(default)

  /** `freshness` of the untraced and, in a traced run, the traced steady
    * transactions; `layers` from the traced half. */
  final case class Pass(freshness: Seq[Double], tracedFreshness: Seq[Double], drainS: Double,
      burstRows: Long, batchesPerS: Double, batches: Seq[Batch], state: Map[Long, OrderImage],
      ckptBytes: Long, layers: Seq[Metric])

  def pass(spark: SparkSession, in: Inputs, seconds: Int, work: String, trace: Boolean): Pass = {
    val l = in.ledger
    val stageBytes = Files.readAllBytes(Paths.get(in.stage))
    val liveDir = Files2.mkdirs(s"$work/live")
    val out = new FileOutputStream(s"$liveDir/binlog.000001")
    def append(from: Long, to: Long): Long = {
      out.write(stageBytes, from.toInt, (to - from).toInt); out.flush(); System.nanoTime()
    }
    append(0, l.txns(Initial - 1).end)
    Files.writeString(Paths.get(liveDir, "binlog.index"), "binlog.000001\n")

    val batches = new ConcurrentLinkedQueue[Batch]
    @volatile var frontier = 0L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val now = System.nanoTime()
        val p = e.progress
        val src = p.sources.head
        val b = Batch(p.batchId, pos(src.startOffset, l.txns.head.start),
          pos(src.endOffset, l.txns.head.start), p.numInputRows, now, p)
        if (b.end > b.start || p.numInputRows > 0) batches.add(b)
        frontier = math.max(frontier, b.end)
      }
    }
    spark.streams.addListener(listener)
    val state = new java.util.concurrent.ConcurrentHashMap[Long, OrderImage]
    // each micro-batch's planning phases, from its QueryExecution's tracker
    val phases = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]
    val cdc = spark.readStream.format("binlogcdc")
      .option("indexFile", s"$liveDir/binlog.index")
      .option("database", CdcGen.Db).option("table", CdcGen.LiveOrders)
      .option("binlogFormat", "mysql").load()
    val query = StreamOps.latestImageStream(cdc).writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (ds: Dataset[OrderImage], id: Long) =>
        ds.collect().foreach(r => state.put(r.o_orderkey, r))
        phases.put(id, ds.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs })
        ()
      }
      .start()
    def awaitFrontier(target: Long, timeoutS: Double): Unit = {
      val until = System.nanoTime() + (timeoutS * 1e9).toLong
      while (frontier < target && System.nanoTime() < until && query.isActive) Thread.sleep(2)
      query.exception.foreach(e => throw e)
      require(frontier >= target,
        s"stream did not reach offset $target within $timeoutS s (at $frontier)")
    }
    /** Appends `txns` open-loop, one every 1/Rate s; returns flush times. */
    def appendAtRate(txns: Seq[CdcGen.TxnRange]): Seq[Long] = {
      val t0 = System.nanoTime()
      val flushed = txns.zipWithIndex.map { case (t, i) =>
        val due = t0 + (i * 1e9 / Rate).toLong
        var now = System.nanoTime()
        while (now < due) { Thread.sleep((due - now) / 1000000L); now = System.nanoTime() }
        append(t.start, t.end)
      }
      awaitFrontier(txns.last.end, 60)
      flushed
    }
    /** Seconds from each transaction's flush to the progress report of
      * the first batch that holds it whole. */
    def freshness(txns: Seq[CdcGen.TxnRange], flushed: Seq[Long]): Seq[Double] = {
      val bs = batches.asScala.toSeq.sortBy(_.id)
      txns.zip(flushed).map { case (t, f) => (bs.find(_.end >= t.end).get.atNanos - f) / 1e9 }
    }
    try {
      awaitFrontier(l.txns(Initial - 1).end, 120)
      Phases.mark("stream started")
      val warmEnd = Initial + Rate * WarmSeconds
      appendAtRate(l.txns.slice(Initial, warmEnd).toSeq)
      val steady = l.txns.slice(warmEnd, warmEnd + Rate * seconds).toSeq
      // a traced run traces the second half of the steady phase only
      val (plainTxns, tracedTxns) = steady.splitAt(if (trace) steady.length / 2 else steady.length)
      val b0 = batches.size
      val t0 = System.nanoTime()
      val plainFresh = freshness(plainTxns, appendAtRate(plainTxns))
      val batchesPerS = (batches.size - b0) / ((System.nanoTime() - t0) / 1e9)
      val (tracedFresh, layers) =
        if (tracedTxns.isEmpty) (Nil, Nil)
        else tracedHalf(spark, batches, phases, tracedTxns, appendAtRate, freshness)
      // burst: the rest of the staged log in one write, timed to its drain
      val burst = l.txns.slice(warmEnd + steady.length, l.txns.length).toSeq
      val tb = append(burst.head.start, burst.last.end)
      awaitFrontier(burst.last.end, 120)
      val drained = batches.asScala.filter(_.end >= burst.last.end).map(_.atNanos).min
      Pass(plainFresh, tracedFresh, (drained - tb) / 1e9, burst.map(_.rows.toLong).sum,
        batchesPerS, batches.asScala.toSeq.sortBy(_.id), state.asScala.toMap,
        Files2.sizeBytes(s"$work/ckpt"), layers)
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
      out.close()
    }
  }

  /** The traced half of the steady phase: a tracer window around it, and
    * the micro-batches' own progress reports, per batch. */
  private def tracedHalf(spark: SparkSession, batches: ConcurrentLinkedQueue[Batch],
      phases: java.util.Map[Long, Map[String, Long]], txns: Seq[CdcGen.TxnRange],
      appendAtRate: Seq[CdcGen.TxnRange] => Seq[Long],
      freshness: (Seq[CdcGen.TxnRange], Seq[Long]) => Seq[Double]): (Seq[Double], Seq[Metric]) = {
    val tracer = new Tracer(spark)
    val acc = new Tracer.Acc
    val seen = batches.asScala.map(_.id).toSet
    val w0 = System.currentTimeMillis()
    val fresh = try freshness(txns, tracer.window(acc)(appendAtRate(txns)))
      finally tracer.close()
    val w1 = System.currentTimeMillis()
    val bs = batches.asScala.toSeq.filterNot(b => seen(b.id))
    val n = math.max(1, bs.length).toDouble
    def dur(k: String): Double =
      bs.map(b => Option(b.progress.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum.toDouble
    val trigger = math.max(1.0, dur("triggerExecution"))
    val states = bs.flatMap(_.progress.stateOperators.headOption)
    val behind = bs.flatMap(b => Option(b.progress.sources.head.metrics.get("behindBytes")))
      .map(_.toDouble)
    // per micro-batch; the driver gap is batch time no job covered, so the
    // idle polling between batches is not counted
    acc.ops = bs.length.toLong
    acc.gapMs = math.max(0.0, trigger - tracer.jobCoveredMs(w0, w1))
    // the batch's own plan: a QueryExecutionListener does not see it
    for (b <- bs; p <- Option(phases.get(b.id)); ph <- Seq("analysis", "optimization", "planning"))
      acc.sum(s"${ph}_ms") += p.getOrElse(ph, 0L)
    val layers = Tracer.sparkLayers(Seq(acc)) ++ Seq(
      Metric("sources.stream.batches", bs.length.toDouble),
      Metric("sources.stream.rows_per_batch", bs.map(_.rows).sum / n),
      Metric("sources.stream.latest_offset_share", dur("latestOffset") / trigger),
      Metric("sources.stream.behind_bytes_max", if (behind.isEmpty) 0.0 else behind.max),
      Metric("streaming.add_batch_share", dur("addBatch") / trigger),
      Metric("streaming.query_planning_share", dur("queryPlanning") / trigger),
      Metric("streaming.wal_commit_share", dur("walCommit") / trigger),
      Metric("streaming.commit_offsets_share", dur("commitOffsets") / trigger),
      // commit time is summed over partitions, so it is a share of task time
      Metric("streaming.state_commit_share",
        states.map(_.commitTimeMs).sum / math.max(1.0, acc.sum("task_run_ms").toDouble)),
      Metric("streaming.state_rows",
        if (states.isEmpty) 0.0 else states.last.numRowsTotal.toDouble),
      Metric("streaming.state_memory_bytes",
        if (states.isEmpty) 0.0 else states.last.memoryUsedBytes.toDouble))
    (fresh, layers)
  }

  def run(spark: SparkSession, work: String, seed: Long, seconds: Int, trace: Boolean): Outcome = {
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val in = setup(seed, s"$work/gen$i", seconds)
      ((System.nanoTime() - t0) / 1e9, in)
    }
    setups.tail.foreach(s => Files2.deleteTree(s._2.dir))
    Phases.mark("setup")
    val in = setups.head._2
    val l = in.ledger
    val checks = new Checks
    val p = pass(spark, in, seconds, s"$work/pass", trace)
    Phases.mark("pass")
    checks.add(LiveChecks.exactlyOnce(p.batches.map(b => (b.start, b.end, b.rows)), l))
    checks.add(LiveChecks.finalState(p.state, l))
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.map(_._1))),
      Metric("latency_s", Stats.median(p.freshness)),
      Metric("latency_alt_s", Stats.quantile(p.freshness, 0.9)),
      Metric("throughput_per_s", p.burstRows / p.drainS),
      Metric("ingest_per_s", p.batchesPerS),
      Metric("stored_mb", p.ckptBytes / 1e6))
    val layers = if (!trace) Nil else p.layers ++
      DecodeProbe.layers(Seq(in.stage), CdcGen.Db, CdcGen.LiveOrders) :+
      Metric("trace.overhead_share",
        Stats.median(p.tracedFreshness) / Stats.median(p.freshness) - 1.0)
    def fresh(label: String, xs: Seq[Double]): Option[String] = if (xs.isEmpty) None else Some(
      f"$label freshness: n=${xs.length} q1=${Stats.quantile(xs, 0.25)}%.4f " +
        f"p50=${Stats.median(xs)}%.4f p90=${Stats.quantile(xs, 0.9)}%.4f s")
    val notes = setups.map(s => f"setup ${s._1}%.3f s") ++
      fresh("untraced", p.freshness) ++ fresh("traced", p.tracedFreshness) :+
      f"burst: ${p.burstRows} rows drained in ${p.drainS}%.3f s; ${p.batches.length} data batches"
    // every appended transaction is one attempted operation
    Outcome(checks.ok, l.txns.length.toLong, 0L, e2e, layers, checks.problems.toSeq, notes)
  }
}

/** The live workload's checks: pure functions of the stream's output and
  * the ledger, so the self-test can feed them corrupted outputs. */
object LiveChecks {
  /** Micro-batches partition the log: each begins where the last ended,
    * the last ends at the log's end, and each batch's input rows equal
    * the ledger's change rows between its offsets — so every appended
    * transaction was read exactly once. `batches` are (start, end, rows). */
  def exactlyOnce(batches: Seq[(Long, Long, Long)], l: CdcGen.Ledger): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val data = batches.filter(b => b._2 > b._1 || b._3 > 0)
    if (data.isEmpty) return Seq("live: no micro-batch read data")
    if (data.head._1 != l.txns.head.start)
      out += s"live: first batch starts at ${data.head._1}, log data at ${l.txns.head.start}"
    data.sliding(2).foreach {
      case Seq(a, b) if b._1 != a._2 => out += s"live: batch at ${b._1} does not start where the last ended (${a._2})"
      case _ =>
    }
    if (data.last._2 != l.txns.last.end)
      out += s"live: last batch ends at ${data.last._2}, log at ${l.txns.last.end}"
    data.foreach { case (s, e, n) =>
      val exp = l.rowEvents.iterator.filter(r => r._1 > s && r._1 <= e).map(_._2.toLong).sum
      if (exp != n) out += s"live: batch ($s, $e] read $n rows, ledger $exp"
    }
    val total = data.map(_._3).sum
    val exp = l.rowEvents.map(_._2.toLong).sum
    if (total != exp) out += s"live: $total rows read in all, ledger $exp"
    out.take(5).toSeq
  }

  /** The stream's final latest images equal the ledger's: live keys with
    * their last transaction and values, deleted keys flagged deleted. */
  def finalState(state: Map[Long, OrderImage], l: CdcGen.Ledger): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    if (state.keySet != l.keyGno.keySet)
      out += s"live: ${state.size} keys in the stream's state, ledger ${l.keyGno.size}"
    state.foreach { case (k, img) =>
      val ok = l.current.get(k) match {
        case Some(e) => !img.deleted && img.gtid == l.keyGno(k) &&
          img.o_custkey == e(1).asInstanceOf[Long] && img.o_totalprice == e(2).asInstanceOf[Double]
        case None => img.deleted && l.keyGno.get(k).contains(img.gtid)
      }
      if (!ok && out.length < 5) out += s"live: key $k image $img vs ledger ${l.current.get(k).map(_.mkString("|"))} at ${l.keyGno.get(k)}"
    }
    out.toSeq
  }
}
