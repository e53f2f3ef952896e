package perfbench

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.cdc.MysqlBinlog
import org.apache.spark.sql.types._

/** Seeded MySQL v4 binlog generators and the ledger they keep.
  *
  * The ledger is written by the generator alone, from the same random
  * draws that produce the log, and never from engine output: per table
  * and op the change-row count, the current image per key, the image
  * set at a mid-log GTID, each transaction's byte range, and the
  * expectations of the pushed-filter query. Every check compares
  * engine output against it.
  */
object CdcGen {
  val Db = "shop"
  val Sid = "5eed0000-0000-4000-8000-000000000001"
  val BaseMs = 1735689600000L // 2025-01-01T00:00:00Z

  val Orders = "orders"
  val Events = "customer_events"
  val Audit = "audit"
  val LiveOrders = "live_orders"
  val OrdersId = 101L
  val EventsId = 102L
  val AuditId = 103L
  val LiveId = 201L

  /** The `orders` fixture's columns, plus DECIMAL, DATETIME2, VARCHAR
    * and JSON columns. */
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType),
    StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType),
    StructField("o_amount", DecimalType(12, 2)),
    StructField("o_updated", TimestampNTZType),
    StructField("o_channel", StringType),
    StructField("o_attrs", StringType)))
  val JsonCols = Set("o_attrs")
  // column positions the checks read
  val KeyIdx = 0; val CustIdx = 1; val PriceIdx = 3; val AmountIdx = 9

  val eventsSchema: StructType = StructType(Seq(
    StructField("ce_id", LongType), StructField("ce_custkey", LongType),
    StructField("ce_kind", StringType), StructField("ce_value", DoubleType)))
  val auditSchema: StructType = StructType(Seq(
    StructField("a_id", LongType), StructField("a_note", StringType)))

  /** What `StreamOps.latestImageStream` reads, plus a DECIMAL and a
    * VARCHAR so each event carries a realistic row. */
  val liveSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType),
    StructField("o_amount", DecimalType(12, 2)),
    StructField("o_comment", StringType)))

  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Channels = Vector("web", "store", "phone", null)
  private val Words = Vector("quick", "final", "deposits", "sleep", "carefully",
    "ironic", "packages", "blithely", "regular", "accounts", "furiously", "even")

  /** Op codes as the engine's envelope carries them. */
  val Delete = 0; val Insert = 1; val UpdateBefore = 2; val UpdateAfter = 3

  final case class TxnRange(start: Long, end: Long, rows: Int)

  /** The generator's own record of the log. */
  final class Ledger {
    /** (table, op) -> change rows in the log. */
    val rows = mutable.HashMap.empty[(String, Int), Long].withDefaultValue(0L)
    /** orders: op -> sum of o_amount over the change rows of that op. */
    val amountByOp = mutable.HashMap.empty[Int, java.math.BigDecimal]
      .withDefaultValue(java.math.BigDecimal.ZERO.setScale(2))
    /** Current image per key of the main table. */
    val current = mutable.HashMap.empty[Long, Array[Any]]
    /** The last transaction that changed each key (deleted keys too). */
    val keyGno = mutable.HashMap.empty[Long, Long]
    /** The main table's images as of transaction `snapshotGno` inclusive. */
    var snapshotGno = 0L
    var snapshot: Map[Long, Array[Any]] = Map.empty
    /** Pushed-filter expectation: deletes with gno > filterGno. */
    var filterGno = 0L
    var filterCount = 0L
    var filterAmount = java.math.BigDecimal.ZERO.setScale(2)
    /** Transactions in log order, with their byte range in the file that
      * holds them (filled for the live log). */
    val txns = mutable.ArrayBuffer.empty[TxnRange]
    /** Live log: (end offset, change rows) of every rows event. Each rows
      * event the live generator writes holds one change. */
    val rowEvents = mutable.ArrayBuffer.empty[(Long, Int)]
    def tableRows(table: String): Long =
      rows.iterator.filter(_._1._1 == table).map(_._2).sum
  }

  def segmentOf(seed: Long, custkey: Long): String =
    Segments(java.lang.Math.floorMod(mix(seed * 31 + custkey), Segments.length.toLong).toInt)

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Draws the change storyline of the main table: which keys each
    * transaction inserts, updates or deletes, and the images. */
  private final class Story(seed: Long, ledger: Ledger, table: String,
      schema: StructType, image: (java.util.Random, Long, Int) => Array[Any]) {
    val rnd = new java.util.Random(seed)
    private val live = mutable.ArrayBuffer.empty[Long]
    private val livePos = mutable.HashMap.empty[Long, Int]
    private var nextKey = 1L
    private var version = 0

    private def addLive(k: Long): Unit = { livePos(k) = live.length; live += k }
    private def removeLive(k: Long): Unit = {
      val i = livePos.remove(k).get
      val last = live.remove(live.length - 1)
      if (last != k) { live(i) = last; livePos(last) = i }
    }

    /** One transaction's changes: (op, before, after) with `before` null
      * for inserts and `after` null for deletes. No key twice per txn. */
    def draw(nChanges: Int, insertShare: Double, deleteShare: Double,
        gno: Long): Seq[(Int, Array[Any], Array[Any])] = {
      val touched = mutable.HashSet.empty[Long]
      val out = mutable.ArrayBuffer.empty[(Int, Array[Any], Array[Any])]
      var i = 0
      while (i < nChanges) {
        val u = rnd.nextDouble()
        if (u < insertShare || live.length < 16) {
          val k = nextKey; nextKey += 1
          version += 1
          val img = image(rnd, k, version)
          out += ((Insert, null, img))
          touched += k
        } else {
          var k = live(rnd.nextInt(live.length))
          var tries = 0
          while (touched(k) && tries < 8) { k = live(rnd.nextInt(live.length)); tries += 1 }
          if (!touched(k)) {
            touched += k
            val before = ledger.current(k)
            if (u < insertShare + deleteShare) out += ((Delete, before, null))
            else {
              version += 1
              val after = image(rnd, k, version)
              out += ((UpdateAfter, before, after))
            }
          }
        }
        i += 1
      }
      // the ledger: images and per-op counts, in log order
      out.foreach {
        case (Insert, _, a) =>
          val k = a(KeyIdx).asInstanceOf[Long]
          ledger.current(k) = a; addLive(k); ledger.keyGno(k) = gno
          ledger.rows((table, Insert)) += 1
          ledger.amountByOp(Insert) = ledger.amountByOp(Insert).add(amount(a))
        case (Delete, b, _) =>
          val k = b(KeyIdx).asInstanceOf[Long]
          ledger.current.remove(k); removeLive(k); ledger.keyGno(k) = gno
          ledger.rows((table, Delete)) += 1
          ledger.amountByOp(Delete) = ledger.amountByOp(Delete).add(amount(b))
          if (gno > ledger.filterGno && ledger.filterGno > 0) {
            ledger.filterCount += 1
            ledger.filterAmount = ledger.filterAmount.add(amount(b))
          }
        case (_, b, a) =>
          val k = a(KeyIdx).asInstanceOf[Long]
          ledger.current(k) = a; ledger.keyGno(k) = gno
          ledger.rows((table, UpdateBefore)) += 1
          ledger.rows((table, UpdateAfter)) += 1
          ledger.amountByOp(UpdateBefore) = ledger.amountByOp(UpdateBefore).add(amount(b))
          ledger.amountByOp(UpdateAfter) = ledger.amountByOp(UpdateAfter).add(amount(a))
      }
      out.toSeq
    }

    def amount(img: Array[Any]): java.math.BigDecimal =
      img(schema.fieldIndex("o_amount")).asInstanceOf[java.math.BigDecimal]
  }

  private def money(rnd: java.util.Random): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(100L + rnd.nextInt(5000000), 2)

  private def comment(rnd: java.util.Random): String = {
    val n = 2 + rnd.nextInt(5)
    (0 until n).map(_ => Words(rnd.nextInt(Words.length))).mkString(" ")
  }

  private def ordersImage(nCust: Int)(rnd: java.util.Random, k: Long, version: Int): Array[Any] = {
    val amt = money(rnd)
    Array[Any](
      k,
      1L + rnd.nextInt(nCust),
      if (rnd.nextBoolean()) "O" else if (rnd.nextBoolean()) "F" else "P",
      amt.doubleValue() * 1.07,
      8766 + rnd.nextInt(1500), // 1994-01-01 onwards, as epoch days
      Priorities(rnd.nextInt(Priorities.length)),
      f"Clerk#${rnd.nextInt(1000)}%09d",
      0,
      comment(rnd),
      amt,
      (BaseMs + version * 7L) * 1000L + rnd.nextInt(1000),
      Channels(rnd.nextInt(Channels.length)),
      s"""{"rev": $version, "gift": ${rnd.nextBoolean()}, "tags": ["t${rnd.nextInt(9)}", "t${rnd.nextInt(9)}"]}""")
  }

  private def liveImage(nCust: Int)(rnd: java.util.Random, k: Long, version: Int): Array[Any] = {
    val amt = money(rnd)
    Array[Any](k, 1L + rnd.nextInt(nCust), amt.doubleValue(), amt, comment(rnd))
  }

  /** Sizes of the history log. */
  final case class HistorySize(txns: Int, files: Int, customers: Int,
      maxChanges: Int)

  /** Writes the multi-table history log under `dir`: `files` CRC-checked
    * binlog files of uneven size, each opening with
    * PREVIOUS_GTIDS and carrying FULL row metadata, plus `binlog.index`.
    * Returns the served file paths (index order) and the ledger. */
  def history(seed: Long, dir: String, size: HistorySize): (Seq[String], Ledger) = {
    val ledger = new Ledger
    val story = new Story(seed, ledger, Orders, ordersSchema, ordersImage(size.customers))
    val rnd = story.rnd
    // uneven rotation: one fixed multiset of file weights in an order
    // drawn from the seed, so the largest file, which bounds a scan's
    // critical path, holds the same share of the log on every seed
    val weights = scala.util.Random.javaRandomToRandom(rnd)
      .shuffle(Seq.tabulate(size.files)(i => 1 + (i * 5) % 7)).toArray
    val cuts = weights.scanLeft(0)(_ + _).map(c =>
      math.round(c.toDouble / weights.sum * size.txns).toInt)
    ledger.snapshotGno = size.txns / 2L
    ledger.filterGno = size.txns * 3L / 4
    val paths = mutable.ArrayBuffer.empty[String]
    var eventsId = 0L
    var auditId = 0L
    var gno = 0L
    (0 until size.files).foreach { f =>
      val p = f"$dir/binlog.${f + 1}%06d"
      paths += p
      val w = new MysqlBinlog.Writer(p, checksum = true, jsonCols = JsonCols)
      try {
        w.previousGtids(if (gno == 0) Map.empty else Map(Sid -> Seq((1L, gno + 1))))
        (cuts(f) until cuts(f + 1)).foreach { _ =>
          gno += 1
          val ts = BaseMs + gno * 100L
          val changes = story.draw(1 + rnd.nextInt(size.maxChanges), 0.5, 0.12, gno)
          w.gtid(ts, gno, Sid)
          w.query(ts, Db, "BEGIN")
          w.tableMap(ts, OrdersId, Db, Orders, ordersSchema)
          // one rows event per op kind
          val ins = changes.collect { case (Insert, _, a) => a }
          val upd = changes.collect { case (UpdateAfter, b, a) => (b, a) }
          val del = changes.collect { case (Delete, b, _) => b }
          if (ins.nonEmpty) w.writeRows(ts, OrdersId, ordersSchema, ins)
          if (upd.nonEmpty) w.updateRows(ts, OrdersId, ordersSchema, upd)
          if (del.nonEmpty) w.deleteRows(ts, OrdersId, ordersSchema, del)
          if (rnd.nextInt(2) == 0) {
            val n = 1 + rnd.nextInt(3)
            val evs = (0 until n).map { _ =>
              eventsId += 1
              Array[Any](eventsId, 1L + rnd.nextInt(size.customers),
                if (rnd.nextBoolean()) "visit" else "cart", rnd.nextInt(10000) / 100.0)
            }
            w.tableMap(ts, EventsId, Db, Events, eventsSchema)
            w.writeRows(ts, EventsId, eventsSchema, evs)
            ledger.rows((Events, Insert)) += n
          }
          if (rnd.nextInt(5) == 0) {
            auditId += 1
            w.tableMap(ts, AuditId, Db, Audit, auditSchema)
            w.writeRows(ts, AuditId, auditSchema, Seq(Array[Any](auditId, comment(rnd))))
            ledger.rows((Audit, Insert)) += 1
          }
          w.xid(ts, gno)
          if (gno == ledger.snapshotGno) ledger.snapshot = ledger.current.toMap
        }
      } finally w.close()
    }
    Files.writeString(Paths.get(dir, "binlog.index"),
      paths.map(p => p.substring(p.lastIndexOf('/') + 1)).mkString("", "\n", "\n"))
    (paths.toSeq, ledger)
  }

  /** Writes the staged live log: one CRC-checked file holding `txns`
    * small transactions on `live_orders` over a key space of about
    * `keys` keys, so updates and deletes are frequent. Fills each
    * transaction's byte range in the ledger. */
  def live(seed: Long, path: String, txns: Int, keys: Int): Ledger = {
    val ledger = new Ledger
    val story = new Story(seed, ledger, LiveOrders, liveSchema, liveImage(1000))
    val rnd = story.rnd
    val w = new MysqlBinlog.Writer(path, checksum = true)
    val rowsPerTxn = mutable.ArrayBuffer.empty[Int]
    try {
      w.previousGtids(Map.empty)
      (1 to txns).foreach { g =>
        val ts = BaseMs + g * 10L
        // inserts until the key space fills, then mostly updates
        val insertShare = if (ledger.current.size < keys) 0.6 else 0.15
        val changes = story.draw(1 + rnd.nextInt(4), insertShare, 0.15, g)
        w.gtid(ts, g, Sid)
        w.query(ts, Db, "BEGIN")
        w.tableMap(ts, LiveId, Db, LiveOrders, liveSchema)
        changes.foreach {
          case (Insert, _, a) => w.writeRows(ts, LiveId, liveSchema, Seq(a))
          case (Delete, b, _) => w.deleteRows(ts, LiveId, liveSchema, Seq(b))
          case (_, b, a) => w.updateRows(ts, LiveId, liveSchema, Seq((b, a)))
        }
        w.xid(ts, g)
        rowsPerTxn += changes.map(c => if (c._1 == UpdateAfter) 2 else 1).sum
      }
    } finally w.close()
    val (ranges, rowEvents) = frame(path)
    require(ranges.length == txns, s"live log: ${ranges.length} transactions framed, $txns written")
    ranges.zip(rowsPerTxn).foreach { case ((s, e), n) => ledger.txns += TxnRange(s, e, n) }
    ledger.rowEvents ++= rowEvents
    ledger
  }

  /** Frames one single-change-per-rows-event binlog file from its v4
    * event headers (type at offset 4, size at 9): the byte range [GTID
    * start, XID end) of each transaction, and the end offset and change
    * rows of each rows event (an update's event holds two). */
  def frame(path: String): (Seq[(Long, Long)], Seq[(Long, Int)]) = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val len = raf.length()
      val hdr = new Array[Byte](13)
      val txns = mutable.ArrayBuffer.empty[(Long, Long)]
      val rowEvents = mutable.ArrayBuffer.empty[(Long, Int)]
      var pos = 4L
      var start = -1L
      while (pos + 19 <= len) {
        raf.seek(pos)
        raf.readFully(hdr)
        val tpe = hdr(4) & 0xff
        val size = (hdr(9) & 0xffL) | ((hdr(10) & 0xffL) << 8) |
          ((hdr(11) & 0xffL) << 16) | ((hdr(12) & 0xffL) << 24)
        if (tpe == 33) start = pos // GTID_LOG_EVENT opens a transaction
        pos += size
        tpe match {
          case 30 | 32 => rowEvents += ((pos, 1)) // WRITE_ROWS_V2, DELETE_ROWS_V2
          case 31 => rowEvents += ((pos, 2)) // UPDATE_ROWS_V2: before + after
          case 16 => txns += ((start, pos)); start = -1L // XID closes it
          case _ =>
        }
      }
      (txns.toSeq, rowEvents.toSeq)
    } finally raf.close()
  }
}
