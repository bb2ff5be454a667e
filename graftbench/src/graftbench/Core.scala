package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Order statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that has at least ten samples beyond it: the
    * sample at 1-based rank n - 10 of the ascending order. Returns
    * (value, percentile, samples). With ten samples or fewer no rank has
    * ten beyond it and the maximum is reported at percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Minimal JSON rendering for the result line and the run records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Operations attempted by one run: latency samples per kind, failures, and
  * the output checks (a failed check counts as a failed operation).
  */
final class Ops {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  /** Times `body` as one operation of `kind`; an exception fails it. */
  def op[T](kind: String, record: Boolean = true)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      if (record)
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        errors += s"$kind: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        e.printStackTrace()
        None
    }
  }

  /** Records one output check. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Throwable => e.printStackTrace(); false
    }
    if (!passed) { failed += 1; errors += s"check failed: $what" }
  }

  def of(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Seq.empty)
}

/** Consumes DataFrames in full and proves it: every measured result is
  * written to the `noop` sink through a row-counting observation (computed
  * by the same plan that feeds the sink, so no column or row can be pruned
  * away unnoticed), and the count is compared with the row count the
  * workload's own model expects.
  */
final class Consume {
  private var n = 0L

  def noop(df: DataFrame, what: String, expected: Option[Long]): Long = {
    n += 1
    val obs = Observation(s"graftbench_rows_$n")
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    val rows = obs.get("rows").asInstanceOf[Long]
    expected.foreach { e =>
      if (rows != e) throw new IllegalStateException(
        s"$what: noop sink received $rows rows, expected $e")
    }
    rows
  }
}

/** Deterministic, partitioning-independent pseudo-random columns. */
object Gen {
  private val Mant = 1L << 53

  /** Uniform [0, 1) from (seed, salt, id). */
  def u01(seed: Long, salt: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(Mant)).cast("double") / lit(Mant.toDouble)

  /** Integer in [0, n) skewed toward 0 by a cubic power law: key k is drawn
    * with probability ~ k^(-2/3), so the hottest keys carry a few percent
    * of all rows each.
    */
  def cubicKey(seed: Long, salt: Int, id: Column, n: Long): Column = {
    val u = u01(seed, salt, id)
    least(floor(u * u * u * lit(n.toDouble)).cast("long"), lit(n - 1))
  }

  def uniformLong(seed: Long, salt: Int, id: Column, n: Long): Column =
    least(floor(u01(seed, salt, id) * lit(n.toDouble)).cast("long"), lit(n - 1))
}

object Files2 {
  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def countFiles(p: Path, pred: Path => Boolean): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try { var c = 0L; s.forEach(f => if (Files.isRegularFile(f) && pred(f)) c += 1); c }
    finally s.close()
  }
}

/** What one run shares across its workload code. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  val ops = new Ops
  val consume = new Consume
  /** Per-layer counts a workload records itself (manifest census, pair counts). */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** Workload totals for the run record and per-layer ratios. */
  val totals = mutable.LinkedHashMap.empty[String, Double]
  /** Per-step throughput samples (units per second) by kind. */
  val rates = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** False during the warm-up: operations run, are checked and can fail as
    * usual, but leave no latency or throughput samples and no totals.
    */
  var recording = true
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** One timed operation of `kind`, traced as the root span `op.<kind>`
    * (`warmup.<kind>` during the warm-up).
    */
  def op[T](kind: String)(body: => T): Option[T] =
    ops.op(kind, recording)(span(s"${if (recording) "op" else "warmup"}.$kind")(body))

  def add(total: String, v: Double): Unit =
    if (recording) totals(total) = totals.getOrElse(total, 0.0) + v

  def total(name: String): Double = totals.getOrElse(name, 0.0)

  /** Records `units` done in `seconds` as one throughput sample of `kind`. */
  def rate(kind: String, units: Double, seconds: Double): Unit =
    if (recording) rates.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += units / seconds

  def ratesOf(kind: String): Seq[Double] = rates.get(kind).map(_.toSeq).getOrElse(Seq.empty)
}

/** One stream of operations against one part of the engine: a set-up, a
  * step that issues one round of its operations, output checks, and its
  * end-to-end metrics. A [[Workload]] runs two streams.
  */
trait Stream {
  type State
  def name: String
  /** Steps every run makes, whatever `--seconds` says: enough samples for
    * a median of each operation, and the steps at which the stream's
    * fixed-step events (census, compaction, maintenance) happen.
    */
  def minSteps: Int
  def setup(ctx: Ctx, dir: Path): State
  /** Unrecorded work before the stream's steps — full steps, and for
    * fv_refresh its priming commits — so the JIT, plan and codegen caches
    * fill before timing.
    */
  def warmUp(ctx: Ctx, s: State): Unit
  /** Step `i`, counting from 0. */
  def step(ctx: Ctx, s: State, i: Int): Unit
  def check(ctx: Ctx, s: State): Unit
  /** op_p50_s and rows_per_s of this stream: medians over its operations
    * and over its steps' throughput samples.
    */
  def endToEnd(ctx: Ctx, s: State): Map[String, Double]
  /** Details recorded next to the metrics (tail percentiles, sample counts). */
  def details(ctx: Ctx, s: State): Map[String, Any] = Map.empty
}

/** A benchmark workload: a feature-store stream (`fs_` metrics) and a
  * data-platform stream (`dp_` metrics), set up together and run one after
  * the other by one client thread.
  */
final class Workload(val name: String, val fs: Stream, val dp: Stream) {
  final case class State(a: fs.State, b: dp.State)

  def setup(ctx: Ctx, dir: Path): State =
    State(fs.setup(ctx, dir.resolve(fs.name)), dp.setup(ctx, dir.resolve(dp.name)))

  /** Runs each stream as one block: its unrecorded warm-up, then its steps
    * for half of `seconds` and at least its minimum number. Interleaved, a
    * stream's operations ran up to 40 % slower right after the other
    * stream's step than after its own, so their medians depended on the
    * mix. Returns the steps of each.
    */
  def loop(ctx: Ctx, s: State, seconds: Int): (Int, Int) = {
    def block(warmUp: => Unit, minSteps: Int)(step: Int => Unit): Int = {
      ctx.recording = false
      try warmUp finally ctx.recording = true
      val end = System.nanoTime() + seconds * 500000000L
      var i = 0
      while (i < minSteps || System.nanoTime() < end) { step(i); i += 1 }
      i
    }
    (block(fs.warmUp(ctx, s.a), fs.minSteps)(fs.step(ctx, s.a, _)),
      block(dp.warmUp(ctx, s.b), dp.minSteps)(dp.step(ctx, s.b, _)))
  }

  def check(ctx: Ctx, s: State): Unit = { fs.check(ctx, s.a); dp.check(ctx, s.b) }

  def endToEnd(ctx: Ctx, s: State): Map[String, Double] =
    fs.endToEnd(ctx, s.a).map { case (k, v) => s"fs_$k" -> v } ++
      dp.endToEnd(ctx, s.b).map { case (k, v) => s"dp_$k" -> v }

  def details(ctx: Ctx, s: State): Map[String, Any] =
    Map(fs.name -> fs.details(ctx, s.a), dp.name -> dp.details(ctx, s.b))
}
