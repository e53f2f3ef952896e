package perfbench

import scala.util.control.NonFatal

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints failure reasons and check
  * findings as lines, then, as the last line of standard output, one
  * JSON object: correct, attempted, failed and the metrics — every
  * end-to-end metric untraced, every per-layer metric traced. */
object Main {
  /** Every per-layer metric, in print order. A workload that does not run
    * a layer reports it as 0: it did no work there. */
  val LayerNames: Seq[String] = Seq(
    "spark.plan.analysis_ms", "spark.plan.optimization_ms", "spark.plan.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_ms",
    "spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.task_skew",
    "cdc.framing_mb_per_s", "cdc.decode_rows_per_s", "cdc.framing_share",
    "sources.scan.events_decoded", "sources.scan.rows_emitted", "sources.scan.files_read",
    "sources.scan.files_pruned", "sources.scan.selectivity",
    "sources.replica.events_landed", "sources.replica.bytes_landed", "sources.replica.folds",
    "sources.replica.fold_share", "sources.replica.land_share",
    "sources.replica.frame_query_speedup",
    "sources.stream.batches", "sources.stream.rows_per_batch",
    "sources.stream.latest_offset_share", "sources.stream.behind_bytes_max",
    "streaming.add_batch_share", "streaming.query_planning_share",
    "streaming.wal_commit_share", "streaming.commit_offsets_share",
    "streaming.state_commit_share", "streaming.state_rows", "streaming.state_memory_bytes",
    "ops.similarity.jobs_per_serve", "ops.similarity.driver_gap_share",
    "ops.similarity.index_rows_scanned", "ops.similarity.files_read",
    "ops.similarity.recall_at_k", "ops.similarity.maintain_bytes_written",
    "trace.overhead_share")

  /** Every end-to-end metric with its unit, in print order. */
  val E2e: Seq[(String, String)] = Seq("setup_s" -> "s", "latency_s" -> "s",
    "latency_alt_s" -> "s", "throughput_per_s" -> "1/s", "ingest_per_s" -> "1/s",
    "stored_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Files2.mkdirs(opts("work"))
    val spark = Session.create(work)
    Phases.mark("session")
    val code = try {
      val out = workload match {
        case "cdc_history" => History.run(spark, work, seed, seconds, trace)
        case "cdc_live" => Live.run(spark, work, seed, seconds, trace)
        case "ann_serve" => Ann.run(spark, work, seed, seconds, trace)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      Phases.mark("end")
      (out.notes ++ Phases.marks).foreach(println)
      out.problems.foreach(p => println(s"problem: $p"))
      println(render(out, trace))
      0
    } catch {
      case NonFatal(e) =>
        System.err.println(s"run failed: ${Ops.describe(workload, e)}")
        e.printStackTrace()
        1
    } finally spark.stop()
    System.exit(code)
  }

  def render(o: Outcome, trace: Boolean): String = {
    val metrics =
      if (!trace) {
        val got = o.e2e.map(m => m.name -> m).toMap
        E2e.map { case (n, unit) =>
          val m = got.getOrElse(n, throw new IllegalStateException(s"workload did not measure $n"))
          require(!m.value.isNaN && !m.value.isInfinite && m.value > 0,
            s"$n measured ${m.value}: an end-to-end metric is a positive number")
          (n, m.value, unit)
        }
      } else {
        val got = o.layers.map(m => m.name -> m).toMap
        val unknown = got.keySet -- LayerNames
        require(unknown.isEmpty, s"per-layer metrics not in the list: $unknown")
        LayerNames.map { n =>
          val v = got.get(n).map(_.value).getOrElse(0.0)
          (n, if (v.isNaN || v.isInfinite) 0.0 else v, unitOf(n))
        }
      }
    val body = metrics.map { case (n, v, unit) => s""""$n": {"value": $v, "unit": "$unit"}""" }
      .mkString(", ")
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$body}}"""
  }

  /** The unit of a per-layer metric, from its name. */
  def unitOf(name: String): String = name match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_bytes") || n.endsWith("bytes_landed") ||
      n.endsWith("bytes_written") || n.endsWith("behind_bytes_max") => "bytes"
    case n if n.endsWith("_mb_per_s") => "MB/s"
    case n if n.endsWith("_per_s") => "1/s"
    case n if n.endsWith("_share") || n.endsWith("selectivity") || n.endsWith("skew") ||
      n.endsWith("speedup") || n.endsWith("recall_at_k") => "ratio"
    case _ => "count"
  }
}
