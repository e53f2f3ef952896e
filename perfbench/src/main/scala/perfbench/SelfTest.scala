package perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.streaming.StreamOps.OrderImage
import org.apache.spark.sql.Row

/** Self-tests of the benchmark's checks: each check accepts an output
  * built from the ledger and rejects the same output deliberately
  * corrupted — a dropped or doubled transaction, a stale image, a swapped
  * neighbour or a wrong similarity, a deleted id returned, an appended id
  * missed. No engine code runs: the outputs are made from the ledgers.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Boolean)]

  private def expect(name: String, problems: Seq[String], shouldPass: Boolean): Unit = {
    val ok = problems.isEmpty == shouldPass
    results += name -> ok
    println(s"${if (ok) "ok  " else "FAIL"} $name" +
      (if (problems.nonEmpty) s" -> ${problems.head.take(140)}" else ""))
  }

  private def dec(x: String) = new java.math.BigDecimal(x)

  def history(): Unit = {
    val dir = Files.createTempDirectory("perfbench-selftest").toString
    try {
      val (_, l) = CdcGen.history(7L, dir, History.Size.copy(txns = 300, files = 3))
      val exp = (0 to 3).map(op => op -> (l.rows((CdcGen.Orders, op)), l.amountByOp(op))).toMap
      expect("history op counts: ledger output accepted", HistoryChecks.opCounts("scan", exp, exp), true)
      val one = l.current.values.head
      val dropped = exp.updated(CdcGen.Insert,
        (exp(CdcGen.Insert)._1 - 1, exp(CdcGen.Insert)._2.subtract(amount(one))))
      expect("history op counts: dropped transaction rejected",
        HistoryChecks.opCounts("scan", dropped, exp), false)
      val doubled = exp.updated(CdcGen.Insert,
        (exp(CdcGen.Insert)._1 + 1, exp(CdcGen.Insert)._2.add(amount(one))))
      expect("history op counts: doubled transaction rejected",
        HistoryChecks.opCounts("scan", doubled, exp), false)

      val segs = History.expectedSegments(7L, l.current.values)
      expect("history current state: ledger output accepted",
        HistoryChecks.segments("current", segs, segs), true)
      val staleImg = one.clone()
      staleImg(CdcGen.AmountIdx) = amount(one).add(dec("0.01"))
      val staleSegs = History.expectedSegments(7L,
        l.current.values.map(i => if (i eq one) staleImg else i))
      expect("history current state: stale image rejected",
        HistoryChecks.segments("current", staleSegs, segs), false)

      val rows = l.current.values.map(engineRow).toArray
      expect("history images: ledger output accepted", HistoryChecks.images("images", rows, l.current), true)
      val key = one(CdcGen.KeyIdx)
      val stale = rows.map(r => if (r.get(CdcGen.KeyIdx) == key) engineRow(staleImg) else r)
      expect("history images: stale image rejected", HistoryChecks.images("images", stale, l.current), false)
      val resurrected = rows :+ engineRow({ val d = one.clone(); d(CdcGen.KeyIdx) = -1L; d })
      expect("history images: deleted or unknown key rejected",
        HistoryChecks.images("images", resurrected, l.current), false)
      val reordered = rows.map { r =>
        if (r.get(CdcGen.KeyIdx) != key) r
        else {
          val v = r.toSeq.toArray
          v(CdcGen.ordersSchema.fieldIndex("o_attrs")) = """{"tags": [], "rev": 0}"""
          Row.fromSeq(v.toSeq)
        }
      }
      expect("history images: changed JSON document rejected",
        HistoryChecks.images("images", reordered, l.current), false)
    } finally Files2.deleteTree(dir)
  }

  private def amount(img: Array[Any]) = img(CdcGen.AmountIdx).asInstanceOf[java.math.BigDecimal]

  /** A ledger image as the engine hands it back in a Row. */
  private def engineRow(img: Array[Any]): Row = Row.fromSeq(img.toSeq.zipWithIndex.map {
    case (null, _) => null
    case (d: Int, i) if CdcGen.ordersSchema(i).name == "o_orderdate" => java.time.LocalDate.ofEpochDay(d.toLong)
    case (t: Long, i) if CdcGen.ordersSchema(i).name == "o_updated" =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToLocalDateTime(t)
    case (v, _) => v
  })

  def live(): Unit = {
    val dir = Files.createTempDirectory("perfbench-selftest").toString
    try {
      val l = CdcGen.live(7L, s"$dir/stage.000001", 400, 60)
      // batches of 7 transactions each, as offsets and change rows
      val batches = l.txns.grouped(7).map(g => (g.head.start, g.last.end, g.map(_.rows.toLong).sum)).toSeq
      expect("live exactly-once: ledger batches accepted", LiveChecks.exactlyOnce(batches, l), true)
      val t = l.txns(20)
      val doubled = batches.map(b => if (b._1 < t.end && t.end <= b._2) (b._1, b._2, b._3 + t.rows) else b)
      expect("live exactly-once: doubled transaction rejected", LiveChecks.exactlyOnce(doubled, l), false)
      val dropped = batches.map(b => if (b._1 < t.end && t.end <= b._2) (b._1, b._2, b._3 - t.rows) else b)
      expect("live exactly-once: dropped transaction rejected", LiveChecks.exactlyOnce(dropped, l), false)
      val reread = batches.zipWithIndex.map { case (b, i) => if (i == 3) (batches(2)._1, b._2, b._3) else b }
      expect("live exactly-once: overlapping batch offsets rejected", LiveChecks.exactlyOnce(reread, l), false)
      expect("live exactly-once: missing tail rejected", LiveChecks.exactlyOnce(batches.init, l), false)

      val state = l.keyGno.map { case (k, g) =>
        k -> (l.current.get(k) match {
          case Some(e) => OrderImage(k, e(1).asInstanceOf[Long], e(2).asInstanceOf[Double], g, deleted = false)
          case None => OrderImage(k, 0L, 0.0, g, deleted = true)
        })
      }.toMap
      expect("live final state: ledger state accepted", LiveChecks.finalState(state, l), true)
      val (k, img) = state.find(!_._2.deleted).get
      expect("live final state: stale image rejected",
        LiveChecks.finalState(state.updated(k, img.copy(gtid = img.gtid - 1, o_totalprice = img.o_totalprice + 1)), l), false)
      val (dk, dimg) = state.find(_._2.deleted).get
      expect("live final state: deleted key reported live rejected",
        LiveChecks.finalState(state.updated(dk, dimg.copy(deleted = false)), l), false)
    } finally Files2.deleteTree(dir)
  }

  def ann(): Unit = {
    val l = new Ann.Ledger(7L)
    l.draw(3000)
    val qs = l.pickLive(8, Set.empty).map(l.plant)
    def exactServe(q: Ann.Planted): Seq[Ann.Served] =
      l.exact(q.vec, Ann.K).zipWithIndex.map { case (id, i) =>
        Ann.Served(q.qid, id, AnnChecks.cosine(q.vec, l.vectors(id)), i + 1)
      }
    val good = qs.flatMap(exactServe)
    expect("ann serve: exact answers accepted", AnnChecks.serve(good, qs, l), true)
    expect("ann recall: exact answers have recall 1",
      if (AnnChecks.recall(good, qs, l) == 1.0) Nil else Seq("recall below 1"), true)
    val q0 = qs.head.qid
    val swapped = good.map { r =>
      if (r.qid == q0 && r.rank <= 2) r.copy(rank = 3 - r.rank) else r
    }
    expect("ann serve: swapped neighbours rejected", AnnChecks.serve(swapped, qs, l), false)
    val wrongSim = good.map(r => if (r.qid == q0 && r.rank == 5) r.copy(sim = r.sim - 1e-6) else r)
    expect("ann serve: wrong similarity rejected", AnnChecks.serve(wrongSim, qs, l), false)
    val gone = good.find(r => r.qid == q0 && r.rank == 4).get.neighbor
    l.live -= gone
    expect("ann serve: deleted id returned rejected", AnnChecks.serve(good, qs, l), false)
    l.live += gone
    val added = l.draw(1).head
    val pq = l.plant(added._1)
    // the index still answers from before the append: the next-best
    // vector takes the appended one's place
    val notFound = l.exact(pq.vec, Ann.K + 1).filterNot(_ == added._1).take(Ann.K)
      .zipWithIndex.map { case (id, i) =>
        Ann.Served(pq.qid, id, AnnChecks.cosine(pq.vec, l.vectors(id)), i + 1)
      }
    expect("ann serve: appended id found accepted", AnnChecks.serve(exactServe(pq), Seq(pq), l), true)
    expect("ann serve: appended id not found rejected", AnnChecks.serve(notFound, Seq(pq), l), false)
  }

  def main(args: Array[String]): Unit = {
    history(); live(); ann()
    val failed = results.count(!_._2)
    println(s"${results.length - failed} of ${results.length} self-tests passed")
    System.exit(if (failed == 0) 0 else 1)
  }
}
