package perfbench

import scala.collection.mutable

/** Closed-loop op recorder for one run: one client thread, the next op
  * starts only after the previous one returned. Each op's latency is
  * kept raw; a failed op (a `false` result, a `Left`, or a throw) is
  * counted and kept as an infinite latency, so it misses every limit.
  */
final class Run(val tracer: Tracer, val seconds: Double) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  private var startNs = 0L
  private var endNs = 0L
  private var pausedNs = 0L
  private var cpuAtStart = Run.cpuTicks
  private var cpuAtStop = Run.cpuTicks

  def start(): Unit = { cpuAtStart = Run.cpuTicks; startNs = System.nanoTime() }

  def stop(): Unit = { endNs = System.nanoTime(); cpuAtStop = Run.cpuTicks }

  /** Share of the machine's CPU time stolen by the hypervisor during the
    * window (0 where the kernel does not report it): a noisy neighbour
    * shows here, not in the program.
    */
  def stealShare: Double = {
    val total = cpuAtStop._1 - cpuAtStart._1
    if (total <= 0) 0.0 else (cpuAtStop._2 - cpuAtStart._2).toDouble / total
  }

  def startedAtNs: Long = startNs

  /** Seconds measured so far, excluding [[untimed]] work. */
  def elapsed: Double =
    ((if (endNs > 0) endNs else System.nanoTime()) - startNs - pausedNs) / 1e9

  /** How many whole units of work of `nominal` seconds each make up the
    * requested `seconds` (at least one). A run measures a fixed amount of
    * work, so a slow or fast host does not change what is measured.
    */
  def units(nominal: Double): Int = math.max(1, math.round(seconds / nominal).toInt)

  /** Work between ops that the window must not count (input generation,
    * traced-mode probes).
    */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t0
  }

  def op(kind: String)(body: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try tracer.span("op." + kind)(body)
      catch {
        case e: Exception =>
          errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
    val dt = (System.nanoTime() - t0) / 1e9
    if (!ok) failed += 1
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (if (ok) dt else Double.PositiveInfinity)
  }

  def of(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)

  def opsPerSecond: Double = attempted / elapsed
}

object Run {
  /** (all ticks, steal ticks) from the aggregate line of /proc/stat. */
  def cpuTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolated quantile, q in [0, 1]; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi || s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
