package perfbench

import scala.collection.mutable

import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `ann_serve`: a seeded corpus of clustered vectors is built once into a
  * persisted IVF index; then a closed session serves single queries and
  * a query batch against it, interleaved with append and delete batches,
  * so that any reuse of index state across serves, and its invalidation
  * by writes, both show. No CDC code runs. */
object Ann {
  val Dim = 64
  val Corpus = 24000
  val Clusters = 48
  val Cells = 16
  val NProbe = 4
  val K = 10
  val Singles = 3
  val BatchQueries = 64
  val AppendRows = 100
  val DeleteRows = 20
  /** Mean recall@K of the batch serves against exact search. */
  val RecallFloor = 0.8

  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** The generator's record: every vector ever made, which are live, and
    * the planted near-copy queries with the id each was copied from. */
  final class Ledger(seed: Long) {
    val rnd = new java.util.Random(seed)
    private val centers = Array.fill(Clusters)(unit(Array.fill(Dim)(rnd.nextGaussian().toFloat)))
    val vectors = mutable.HashMap.empty[Long, Array[Float]]
    val live = mutable.LinkedHashSet.empty[Long]
    private var nextId = 1L

    private def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    private def near(v: Array[Float], sigma: Double): Array[Float] =
      v.map(x => (x + rnd.nextGaussian() * sigma).toFloat)

    /** `n` new clustered vectors, recorded live. */
    def draw(n: Int): Seq[(Long, Array[Float])] = (0 until n).map { _ =>
      val id = nextId; nextId += 1
      val v = near(centers(rnd.nextInt(Clusters)), 0.06)
      vectors(id) = v; live += id
      id -> v
    }

    private var nextQuery = 1000000000L
    /** A planted query: a near-copy of vector `src`, nearer to it than
      * to any other vector. */
    def plant(src: Long): Planted = {
      nextQuery += 1
      Planted(nextQuery, near(vectors(src), 0.002), src)
    }

    def pickLive(n: Int, exclude: Set[Long]): Seq[Long] = {
      val ids = live.toIndexedSeq
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < n) {
        val id = ids(rnd.nextInt(ids.length))
        if (!exclude(id)) out += id
      }
      out.toSeq
    }

    /** Exact top-k by cosine over the live set, in plain Scala. */
    def exact(q: Array[Float], k: Int): Seq[Long] = {
      val ids = new Array[Long](k); val sims = Array.fill(k)(Double.NegativeInfinity)
      live.foreach { id =>
        val s = AnnChecks.cosine(q, vectors(id))
        if (s > sims(k - 1)) {
          var i = k - 1
          while (i > 0 && sims(i - 1) < s) { sims(i) = sims(i - 1); ids(i) = ids(i - 1); i -= 1 }
          sims(i) = s; ids(i) = id
        }
      }
      ids.toSeq
    }
  }

  final case class Planted(qid: Long, vec: Array[Float], src: Long)

  def frame(spark: SparkSession, rows: Seq[(Long, Array[Float])], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, v.toSeq) }, parts), schema)

  final case class Inputs(dir: String, index: String, ledger: Ledger, buildS: Double)

  /** Generates the corpus and builds the persisted index from it. */
  def setup(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val ledger = new Ledger(seed)
    val corpus = ledger.draw(Corpus)
    val t0 = System.nanoTime()
    val index = s"$dir/index"
    Similarity.buildIvfIndex(frame(spark, corpus, 4), index, kClusters = Cells, dim = Dim)
    Inputs(dir, index, ledger, (System.nanoTime() - t0) / 1e9)
  }

  final case class Served(qid: Long, neighbor: Long, sim: Double, rank: Int)

  def serve(spark: SparkSession, index: String, qs: Seq[Planted]): Seq[Served] =
    Similarity.ivfTopKFromIndex(spark, index, frame(spark, qs.map(q => q.qid -> q.vec), 1),
      k = K, nProbe = NProbe).collect().toSeq
      .map(r => Served(r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

  final case class Pass(recalls: Seq[Double], maintainBytes: Seq[Long])

  /** Whole serve rounds for `seconds`: single serves, a batch serve, then
    * an append and a delete as one maintenance operation. */
  def pass(spark: SparkSession, in: Inputs, seconds: Double, rounds: Rounds,
      checks: Checks): Pass = {
    import spark.implicits._
    val l = in.ledger
    val recalls = mutable.ArrayBuffer.empty[Double]
    val maintainBytes = mutable.ArrayBuffer.empty[Long]
    // queries the next round re-serves: one copied from a vector appended
    // this round (must be found), one whose source was deleted (must not)
    var carried = Seq.empty[Planted]
    rounds.loop(seconds) {
      val fresh = l.pickLive(Singles - carried.length, Set.empty).map(l.plant)
      val served = carried ++ fresh
      served.foreach { q =>
        rounds.op("serve")(serve(spark, in.index, Seq(q))).foreach(r =>
          checks.add(AnnChecks.serve(r, Seq(q), l)))
      }
      val batch = l.pickLive(BatchQueries, Set.empty).map(l.plant)
      rounds.op("batch")(serve(spark, in.index, batch)).foreach { r =>
        checks.add(AnnChecks.serve(r, batch, l))
        recalls += AnnChecks.recall(r, batch, l)
      }
      val added = l.draw(AppendRows)
      // delete the source of one single served this round, and others
      val victim = fresh.head.src
      val dels = victim +: l.pickLive(DeleteRows - 1,
        Set(victim) ++ served.map(_.src) ++ added.map(_._1))
      val before = Files2.sizeBytes(in.index)
      rounds.op("maintain") {
        Similarity.appendToIvfIndex(spark, in.index, frame(spark, added, 1))
        Similarity.deleteFromIvfIndex(spark, in.index, dels.toDF("vec_id"))
      }
      maintainBytes += Files2.sizeBytes(in.index) - before
      dels.foreach(l.live -= _)
      carried = Seq(l.plant(added.head._1), fresh.head)
    }
    Pass(recalls.toSeq, maintainBytes.toSeq)
  }

  private val Kinds = Seq("serve", "batch", "maintain")

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
    // the first rounds are set aside: a long-lived serving session is warm
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val rounds = new Rounds(tracer, warm = 2)
    val p = try pass(spark, in, seconds, rounds, checks) finally tracer.foreach(_.close())
    Phases.mark("pass")
    val recall = p.recalls.sum / p.recalls.length
    checks.require(recall >= RecallFloor, f"ann: mean recall@$K $recall%.3f below the floor $RecallFloor")
    val plain = rounds.plain
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.map(_._1))),
      Metric("latency_s", plain.p50("serve")),
      Metric("latency_alt_s", plain.p50("maintain")),
      Metric("throughput_per_s", BatchQueries / plain.p50("batch")),
      Metric("ingest_per_s", Corpus / Stats.median(setups.map(_._2.buildS))),
      Metric("stored_mb", Files2.sizeBytes(in.index) / 1e6))
    val layers = if (!trace) Nil else {
      val serveAcc = rounds.accs.getOrElse("serve", new Tracer.Acc)
      Tracer.sparkLayers(Kinds.flatMap(rounds.accs.get)) ++ Seq(
        Metric("ops.similarity.jobs_per_serve", serveAcc.perOp("jobs")),
        Metric("ops.similarity.driver_gap_share",
          if (serveAcc.wallMs == 0) 0.0 else serveAcc.gapMs / serveAcc.wallMs),
        Metric("ops.similarity.index_rows_scanned", serveAcc.perOp("file_rows")),
        Metric("ops.similarity.files_read", serveAcc.perOp("file_files")),
        Metric("ops.similarity.recall_at_k", recall),
        Metric("ops.similarity.maintain_bytes_written",
          p.maintainBytes.sum.toDouble / p.maintainBytes.length),
        Metric("trace.overhead_share", rounds.overhead(Kinds)))
    }
    Outcome(checks.ok, rounds.attempted, rounds.failed, e2e, layers,
      checks.problems.toSeq ++ rounds.failures,
      setups.map(s => f"setup ${s._1}%.3f s (index build ${s._2.buildS}%.3f s)") ++
        (f"mean recall@$K $recall%.4f" +: rounds.summary))
  }
}

/** The serve workload's checks, pure functions of a serve's output and
  * the ledger, so the self-test can feed them corrupted outputs. */
object AnnChecks {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Every returned id is live, every similarity is the recomputed
    * cosine, ranks run 1..K in falling similarity, and each planted query
    * whose source is live returns that source at rank 1. */
  def serve(got: Seq[Ann.Served], qs: Seq[Ann.Planted], l: Ann.Ledger): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val byQ = got.groupBy(_.qid)
    qs.foreach { q =>
      val rows = byQ.getOrElse(q.qid, Nil).sortBy(_.rank)
      if (rows.map(_.rank) != (1 to Ann.K)) out += s"ann: query ${q.qid} ranks ${rows.map(_.rank)}"
      rows.foreach { r =>
        if (!l.live(r.neighbor)) out += s"ann: query ${q.qid} returned ${r.neighbor}, which is not live"
        else {
          val c = cosine(q.vec, l.vectors(r.neighbor))
          if (math.abs(c - r.sim) > 1e-9) out += s"ann: query ${q.qid} neighbour ${r.neighbor} sim ${r.sim}, cosine $c"
        }
      }
      if (rows.sliding(2).exists { case Seq(a, b) => b.sim > a.sim; case _ => false })
        out += s"ann: query ${q.qid} similarities not falling with rank"
      if (l.live(q.src) && !rows.headOption.exists(_.neighbor == q.src))
        out += s"ann: planted query ${q.qid} returned ${rows.headOption.map(_.neighbor)} at rank 1, source ${q.src}"
    }
    if (byQ.keySet != qs.map(_.qid).toSet) out += s"ann: answered queries ${byQ.keySet.size}, asked ${qs.length}"
    out.take(5).toSeq
  }

  /** Mean recall@K of a serve against plain-Scala exact search. */
  def recall(got: Seq[Ann.Served], qs: Seq[Ann.Planted], l: Ann.Ledger): Double = {
    val byQ = got.groupBy(_.qid)
    qs.map { q =>
      val truth = l.exact(q.vec, Ann.K).toSet
      byQ.getOrElse(q.qid, Nil).count(r => truth(r.neighbor)).toDouble / Ann.K
    }.sum / qs.length
  }
}
