package perfbench

import graft.cdc.MysqlBinlogAdapter

/** The decode layers of a CDC scan, timed by single-thread calls into the
  * engine's MySQL event reader (framing + CRC) and row decoder over a
  * workload's own log files. */
object DecodeProbe {
  private def framingPass(files: Seq[String]): Long = {
    var events = 0L
    files.foreach { f =>
      val src = MysqlBinlogAdapter.open(f)
      try while (src.hasNext) { src.next(); events += 1 } finally src.close()
    }
    events
  }

  private def decodePass(files: Seq[String], db: String, table: String): Long = {
    var rows = 0L
    files.foreach { f =>
      val src = MysqlBinlogAdapter.open(f)
      val dec = MysqlBinlogAdapter.decoder(db, table)
      try while (src.hasNext) rows += dec.decode(src.next()).length
      finally src.close()
    }
    rows
  }

  /** Framing MB/s, decoded rows/s and framing's share of the decode
    * pass, each the median of `reps` passes over `files`. */
  def layers(files: Seq[String], db: String, table: String, reps: Int = 3): Seq[Metric] = {
    val bytes = files.map(f => new java.io.File(f).length()).sum
    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
    }
    val framing = (1 to reps).map(_ => time(framingPass(files)))
    val full = (1 to reps).map(_ => time(decodePass(files, db, table)))
    val tf = Stats.median(framing.map(_._1))
    val td = Stats.median(full.map(_._1))
    val rows = full.head._2
    Seq(
      Metric("cdc.framing_mb_per_s", bytes / 1e6 / tf),
      Metric("cdc.decode_rows_per_s", rows / td),
      Metric("cdc.framing_share", tf / td))
  }
}
