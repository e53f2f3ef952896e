package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One measured metric; its unit is fixed by its name (see [[Main]]). */
final case class Metric(name: String, value: Double)

/** What a workload hands back to [[Main]]. `e2e` is measured untraced;
  * `layers` only in a traced run. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    e2e: Seq[Metric], layers: Seq[Metric], problems: Seq[String], notes: Seq[String] = Nil)

/** Elapsed time of a run's phases, printed with the run's notes. */
object Phases {
  private val t0 = System.nanoTime()
  val marks = mutable.ArrayBuffer.empty[String]
  def mark(label: String): Unit = marks += f"phase $label at ${(System.nanoTime() - t0) / 1e9}%.2f s"
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Runs the workload's timed operations: times each one, counts it as
  * attempted, and turns an exception into a counted failure carrying its
  * class and the first line of its message (never a silent -1). */
final class Ops {
  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Runs `f`, recording its wall time under `kind`; None if it threw. */
  def timed[T](kind: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += Ops.describe(kind, e)
        None
    }
  }

  def latencies(kind: String): Seq[Double] = lat.getOrElse(kind, Nil).toSeq

  /** One line per operation kind: count and latency quartiles. */
  def summary(label: String): Seq[String] = lat.toSeq.map { case (k, xs) =>
    f"$label $k: n=${xs.length} q1=${Stats.quantile(xs.toSeq, 0.25)}%.4f " +
      f"p50=${Stats.median(xs.toSeq)}%.4f q3=${Stats.quantile(xs.toSeq, 0.75)}%.4f s" +
      xs.map(x => f"$x%.3f").mkString(" [", " ", "]")
  }
  def p50(kind: String): Double = {
    val xs = latencies(kind)
    if (xs.isEmpty) Double.NaN else Stats.median(xs)
  }
}

object Ops {
  def describe(kind: String, e: Throwable): String = {
    val first = Option(e.getMessage).map(_.linesIterator.nextOption()
      .getOrElse("")).getOrElse("")
    s"$kind: ${e.getClass.getName}: $first"
  }
}

/** Collects correctness findings; a workload is correct iff none. */
final class Checks {
  val problems = mutable.ArrayBuffer.empty[String]
  def require(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  def add(found: Seq[String]): Unit = problems ++= found
  def ok: Boolean = problems.isEmpty
}

object Files2 {
  def sizeBytes(root: String): Long = {
    val f = new File(root)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => sizeBytes(c.getPath)).sum
  }
  def deleteTree(root: String): Unit = {
    val f = new File(root)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => deleteTree(c.getPath))
    f.delete()
  }
  def mkdirs(p: String): String = { Files.createDirectories(Path.of(p)); p }
}

object Session {
  /** The session every workload runs in: four local cores, shuffles as
    * wide as the cores, and the listing threshold the engine's own bench
    * sets, so a partitioned index is listed on the driver. */
  def create(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .config("spark.local.dir", Files2.mkdirs(s"$work/spark-local"))
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Runs whole rounds of a workload's operations: first `warm` rounds
  * whose timings are set aside (the JVM is still compiling the code they
  * run), then rounds until `seconds` have passed and at least `measured`
  * rounds ran, so a slow run does not report the median of fewer rounds.
  * With a tracer, every second measured round runs inside tracing
  * windows; traced and untraced rounds then share the JVM's warm state,
  * and their latency ratio is the tracing overhead. */
final class Rounds(tracer: Option[Tracer], warm: Int, measured: Int = 3) {
  val warmup = new Ops
  val plain = new Ops
  val traced = new Ops
  val accs = mutable.LinkedHashMap.empty[String, Tracer.Acc]
  private var round = 0

  def op[T](kind: String)(f: => T): Option[T] = tracer match {
    case _ if round < warm => warmup.timed(kind)(f)
    case Some(t) if (round - warm) % 2 == 1 =>
      traced.timed(kind)(t.window(accs.getOrElseUpdate(kind, new Tracer.Acc))(f))
    case _ => plain.timed(kind)(f)
  }

  def loop(seconds: Double)(body: => Unit): Unit = {
    var end = Long.MaxValue
    def done = round - warm
    while (done < measured || System.nanoTime() < end || (tracer.isDefined && done % 2 == 1)) {
      if (round == warm) end = System.nanoTime() + (seconds * 1e9).toLong
      body
      round += 1
    }
  }

  private def all = Seq(warmup, plain, traced)
  def attempted: Long = all.map(_.attempted).sum
  def failed: Long = all.map(_.failed).sum
  def failures: Seq[String] = all.flatMap(_.failures)
  def summary: Seq[String] =
    warmup.summary("warm-up") ++ plain.summary("untraced") ++ traced.summary("traced")

  /** Traced over untraced, summed over the kinds' medians, minus one. */
  def overhead(kinds: Seq[String]): Double =
    kinds.map(traced.p50).sum / kinds.map(plain.p50).sum - 1.0
}
