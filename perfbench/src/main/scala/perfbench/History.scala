package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.cdc.FakeMysqld
import graft.queries.Cdc
import graft.sources.{CdcTableCatalog, ReplicaTail}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `cdc_history`: a multi-table binlog is served by a stand-in mysqld,
  * landed and folded by `ReplicaTail.run` (ingest phase), then read by a
  * closed loop of analyst queries through `binlogcdc` and its catalog
  * (query phase). The ingest phase writes what the query phase reads. */
object History {
  val Size = CdcGen.HistorySize(txns = 12000, files = 8, customers = 2000, maxChanges = 12)
  private val WarmSize = Size.copy(txns = 400, files = 1)
  private val Tables = Seq(CdcGen.Orders, CdcGen.Events, CdcGen.Audit).map(CdcGen.Db -> _)

  final case class Inputs(dir: String, files: Seq[String], ledger: CdcGen.Ledger, dimPath: String)

  /** Generates the log and the customer dimension; the ledger comes with it. */
  def setup(spark: SparkSession, seed: Long, dir: String): Inputs = {
    Files2.mkdirs(dir)
    val (files, ledger) = CdcGen.history(seed, dir, Size)
    val dimPath = s"$dir/dim_customer"
    import spark.implicits._
    (1L to Size.customers).map(k => (k, CdcGen.segmentOf(seed, k)))
      .toDF("c_custkey", "c_segment").coalesce(1).write.parquet(dimPath)
    Inputs(dir, files, ledger, dimPath)
  }

  // ----------------------------------------------------------- the queries

  def scanByOp(spark: SparkSession, tbl: String): Array[Row] =
    spark.sql(s"SELECT __op, count(*) AS n, sum(o_amount) AS amt FROM $tbl GROUP BY __op").collect()

  def currentBySegment(changes: DataFrame, dim: DataFrame): Array[Row] =
    Cdc.latestImage(changes, Seq("o_orderkey"))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("c_segment")
      .agg(count(lit(1)).as("n"), sum("o_amount").as("amt"), sum("o_totalprice").as("price"))
      .collect()

  def asOf(spark: SparkSession, tbl: String, gno: Long): Array[Row] =
    Cdc.latestImage(spark.sql(s"SELECT * FROM $tbl VERSION AS OF $gno"), Seq("o_orderkey"))
      .agg(count(lit(1)).as("n"), sum("o_amount").as("amt")).collect()

  def pushedFilter(spark: SparkSession, tbl: String, gno: Long): Array[Row] =
    spark.sql(s"SELECT count(*) AS n, sum(o_amount) AS amt FROM $tbl " +
      s"WHERE __op = 0 AND __gtid > $gno").collect()

  // ------------------------------------------------------ the expectations

  private def dec(r: Row, i: Int): java.math.BigDecimal =
    if (r.isNullAt(i)) java.math.BigDecimal.ZERO.setScale(2) else r.getDecimal(i)

  def scanResult(rows: Array[Row]): Map[Int, (Long, java.math.BigDecimal)] =
    rows.map(r => r.getInt(0) -> (r.getLong(1), dec(r, 2))).toMap

  def segmentResult(rows: Array[Row]): Map[String, (Long, java.math.BigDecimal, Double)] =
    rows.map(r => r.getString(0) -> (r.getLong(1), dec(r, 2), r.getDouble(3))).toMap

  def countAmount(rows: Array[Row]): (Long, java.math.BigDecimal) =
    (rows.head.getLong(0), dec(rows.head, 1))

  /** The ledger's current state by segment. */
  def expectedSegments(seed: Long, images: Iterable[Array[Any]]): Map[String, (Long, java.math.BigDecimal, Double)] =
    images.groupBy(img => CdcGen.segmentOf(seed, img(CdcGen.CustIdx).asInstanceOf[Long]))
      .map { case (seg, imgs) =>
        seg -> (imgs.size.toLong,
          imgs.map(_(CdcGen.AmountIdx).asInstanceOf[java.math.BigDecimal])
            .foldLeft(java.math.BigDecimal.ZERO.setScale(2))(_.add(_)),
          imgs.map(_(CdcGen.PriceIdx).asInstanceOf[Double]).sum)
      }

  def expectedAmount(images: Iterable[Array[Any]]): (Long, java.math.BigDecimal) =
    (images.size.toLong, images.map(_(CdcGen.AmountIdx).asInstanceOf[java.math.BigDecimal])
      .foldLeft(java.math.BigDecimal.ZERO.setScale(2))(_.add(_)))

  // ---------------------------------------------------------------- a pass

  final case class Pass(tail: ReplicaTail.TailResult, ingestS: Double,
      landRoot: String, framePath: String, tbl: String)

  private def sameAmount(a: (Long, java.math.BigDecimal), b: (Long, java.math.BigDecimal)) =
    a._1 == b._1 && a._2.compareTo(b._2) == 0

  /** Serves `files` from a stand-in mysqld and lands and folds them with
    * `ReplicaTail.run` in about `folds` folds, timed as one operation. */
  def ingest(spark: SparkSession, files: Seq[String], work: String, folds: Int, ops: Ops,
      checks: Checks): (ReplicaTail.TailResult, Double) = {
    val totalBytes = files.map(f => new java.io.File(f).length()).sum
    val srv = new FakeMysqld(files, "repl", "pw")
    val t0 = System.nanoTime()
    val tail = try ops.timed("ingest") {
      ReplicaTail.run(spark, "127.0.0.1", srv.port, "repl", "pw", serverId = 77L,
        tables = Tables, landRoot = s"$work/land", outRoot = s"$work/frames",
        maxBytesPerFold = totalBytes / folds + 1)
    } finally srv.close()
    val s = (System.nanoTime() - t0) / 1e9
    srv.firstFailure.foreach(e => checks.require(false, s"stand-in server failed: $e"))
    (tail.getOrElse(throw new IllegalStateException(s"ingest failed: ${ops.failures.mkString("; ")}")), s)
  }

  /** Ingest `in`'s log, then query it in whole rounds for `seconds`. */
  def pass(spark: SparkSession, in: Inputs, seed: Long, seconds: Double, work: String,
      rounds: Rounds, checks: Checks): Pass = {
    val (res, ingestS) = ingest(spark, in.files, work, 2, rounds.plain, checks)
    Phases.mark("ingest")
    val cat = "cdc"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[CdcTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.indexFile", res.indexFile(s"$work/land"))
    spark.conf.set(s"spark.sql.catalog.$cat.binlogFormat", "mysql")
    val tbl = s"$cat.${CdcGen.Db}.${CdcGen.Orders}"
    val framePath = res.tables((CdcGen.Db, CdcGen.Orders))
    val dim = spark.read.parquet(in.dimPath)
    val l = in.ledger
    val expScan = (0 to 3).map(op => op -> (l.rows((CdcGen.Orders, op)), l.amountByOp(op))).toMap
    val expSeg = expectedSegments(seed, l.current.values)
    val expAsOf = expectedAmount(l.snapshot.values)
    val expFilter = (l.filterCount, l.filterAmount)

    rounds.loop(seconds) {
      rounds.op("scan")(scanResult(scanByOp(spark, tbl))).foreach(r =>
        checks.add(HistoryChecks.opCounts("full-history scan", r, expScan)))
      rounds.op("current")(segmentResult(currentBySegment(spark.table(tbl), dim))).foreach(r =>
        checks.add(HistoryChecks.segments("current state over the log", r, expSeg)))
      rounds.op("frames")(segmentResult(currentBySegment(spark.read.parquet(framePath), dim))).foreach(r =>
        checks.add(HistoryChecks.segments("current state over the frames", r, expSeg)))
      rounds.op("asof")(countAmount(asOf(spark, tbl, l.snapshotGno))).foreach(r =>
        checks.require(sameAmount(r, expAsOf), s"VERSION AS OF ${l.snapshotGno}: got $r, ledger $expAsOf"))
      rounds.op("filter")(countAmount(pushedFilter(spark, tbl, l.filterGno))).foreach(r =>
        checks.require(sameAmount(r, expFilter), s"pushed filter: got $r, ledger $expFilter"))
    }
    Pass(res, ingestS, s"$work/land", framePath, tbl)
  }

  /** The untimed whole-output checks: landed bytes, frames and images. */
  def finalChecks(spark: SparkSession, in: Inputs, p: Pass, checks: Checks): Unit = {
    in.files.foreach { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      val landed = Paths.get(p.landRoot, name)
      checks.require(Files.exists(landed) &&
        java.util.Arrays.equals(Files.readAllBytes(landed), Files.readAllBytes(Paths.get(f))),
        s"landed $name differs from the served file")
    }
    val l = in.ledger
    p.tail.tables.foreach { case ((_, t), path) =>
      val got = spark.read.parquet(path).groupBy("__op").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val exp = (0 to 3).map(op => op -> l.rows((t, op))).filter(_._2 > 0).toMap
      checks.require(got == exp, s"frame $t op counts $got, ledger $exp")
    }
    val images = (df: DataFrame) => Cdc.latestImage(df, Seq("o_orderkey")).collect()
    checks.add(HistoryChecks.images("current images over the log",
      images(spark.table(p.tbl)), l.current))
    checks.add(HistoryChecks.images("current images over the frames",
      images(spark.read.parquet(p.framePath)), l.current))
    checks.add(HistoryChecks.images(s"images as of ${l.snapshotGno}",
      images(spark.sql(s"SELECT * FROM ${p.tbl} VERSION AS OF ${l.snapshotGno}")), l.snapshot))
  }

  private val QueryKinds = Seq("scan", "current", "frames", "asof", "filter")

  def run(spark: SparkSession, work: String, seed: Long, seconds: Int, trace: Boolean): Outcome = {
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val in = setup(spark, seed, s"$work/gen$i")
      ((System.nanoTime() - t0) / 1e9, in)
    }
    setups.tail.foreach(s => Files2.deleteTree(s._2.dir))
    Phases.mark("setup")
    val in = setups.head._2
    val checks = new Checks
    // warm-up, as a long-lived engine is warm: the ingest path lands a tiny
    // log of another seed first, and the first query rounds are set aside
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val rounds = new Rounds(tracer, warm = 2)
    val warmDir = Files2.mkdirs(s"$work/warm")
    ingest(spark, CdcGen.history(seed + 1, warmDir, WarmSize)._1, warmDir, 1, rounds.warmup, checks)
    Phases.mark("warm-up")
    val p = try pass(spark, in, seed, seconds, s"$work/pass", rounds, checks)
      finally tracer.foreach(_.close())
    Phases.mark("pass")
    finalChecks(spark, in, p, checks)
    Phases.mark("final checks")
    val l = in.ledger
    val plain = rounds.plain
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.map(_._1))),
      Metric("latency_s", plain.p50("current")),
      Metric("latency_alt_s", plain.p50("asof")),
      Metric("throughput_per_s", l.tableRows(CdcGen.Orders) / plain.p50("scan")),
      Metric("ingest_per_s", l.rows.values.sum / p.ingestS),
      Metric("stored_mb", Files2.sizeBytes(s"$work/pass/frames") / 1e6))
    val layers = if (!trace) Nil else {
      val accs = QueryKinds.flatMap(rounds.accs.get)
      val t = p.tail
      Tracer.sparkLayers(accs) ++ Tracer.scanLayers(accs) ++
        DecodeProbe.layers(in.files, CdcGen.Db, CdcGen.Orders) ++ Seq(
          Metric("sources.replica.events_landed", t.eventsLanded.toDouble),
          Metric("sources.replica.bytes_landed", t.bytesLanded.toDouble),
          Metric("sources.replica.folds", t.folds.toDouble),
          Metric("sources.replica.fold_share", t.foldSeconds / p.ingestS),
          Metric("sources.replica.land_share", 1.0 - t.foldSeconds / p.ingestS),
          Metric("sources.replica.frame_query_speedup",
            plain.p50("current") / plain.p50("frames")),
          Metric("trace.overhead_share", rounds.overhead(QueryKinds)))
    }
    Outcome(checks.ok, rounds.attempted, rounds.failed, e2e, layers,
      checks.problems.toSeq ++ rounds.failures,
      setups.map(s => f"setup ${s._1}%.3f s") ++ rounds.summary)
  }
}

/** The history workload's checks, each a pure function of an output and
  * the ledger, so the self-test can feed them corrupted outputs. */
object HistoryChecks {
  def opCounts(what: String, got: Map[Int, (Long, java.math.BigDecimal)],
      exp: Map[Int, (Long, java.math.BigDecimal)]): Seq[String] = {
    val e = exp.filter(_._2._1 > 0)
    val g = got.filter(_._2._1 > 0)
    if (g.keySet == e.keySet && e.forall { case (op, (n, a)) =>
      g(op)._1 == n && g(op)._2.compareTo(a) == 0 }) Nil
    else Seq(s"$what: per-op (rows, amount) $g, ledger $e")
  }

  def segments(what: String, got: Map[String, (Long, java.math.BigDecimal, Double)],
      exp: Map[String, (Long, java.math.BigDecimal, Double)]): Seq[String] = {
    val ok = got.keySet == exp.keySet && exp.forall { case (s, (n, a, p)) =>
      val (gn, ga, gp) = got(s)
      gn == n && ga.compareTo(a) == 0 && math.abs(gp - p) <= 1e-9 * math.max(1.0, math.abs(p))
    }
    if (ok) Nil else Seq(s"$what: by segment $got, ledger $exp")
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Engine row -> the ledger's value representation. */
  def normalize(r: Row): Array[Any] = Array.tabulate[Any](r.length) { i =>
    if (r.isNullAt(i)) null
    else r.get(i) match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
      case d: java.time.LocalDate => d.toEpochDay.toInt
      case t: java.time.LocalDateTime =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t)
      case other => other
    }
  }

  private def same(a: Any, b: Any, jsonCol: Boolean): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: String, y: String) if jsonCol => json.readTree(x) == json.readTree(y)
    case (x, y) => x == y
  }

  /** Every key's image equals the ledger's, and no extra key is live. */
  def images(what: String, rows: Array[Row], exp: collection.Map[Long, Array[Any]]): Seq[String] = {
    val jsonIdx = CdcGen.ordersSchema.fieldNames.zipWithIndex
      .filter(f => CdcGen.JsonCols(f._1)).map(_._2).toSet
    val got = rows.map(normalize)
    val bad = got.iterator.filter { g =>
      exp.get(g(CdcGen.KeyIdx).asInstanceOf[Long]) match {
        case None => true
        case Some(e) => e.length != g.length ||
          e.indices.exists(i => !same(g(i), e(i), jsonIdx(i)))
      }
    }.take(3).toSeq
    val out = mutable.ArrayBuffer.empty[String]
    if (got.length != exp.size) out += s"$what: ${got.length} live keys, ledger ${exp.size}"
    bad.foreach { g =>
      val k = g(CdcGen.KeyIdx).asInstanceOf[Long]
      out += s"$what: key $k image ${g.mkString("|")} vs ledger ${exp.get(k).map(_.mkString("|"))}"
    }
    out.toSeq
  }
}
