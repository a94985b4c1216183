package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-run state shared by the workloads: the session, the span
  * recorder, operation and failure accounting, and timing samples. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: String, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap()

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def values(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  private def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
    System.err.println(s"perfbench: FAILED $what")
  }

  /** One counted operation inside span `span`. Its wall time goes to
    * `sampleName` when given. An exception is recorded as a failed
    * operation and the run goes on. */
  def op[T](span: String, sampleName: String = null)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = trace.span(span)(body)
      if (sampleName != null) {
        val ms = (System.nanoTime() - t0) / 1e6
        sample(sampleName, ms)
        sample(s"$span.ms", ms)
      }
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$span: $e")
        None
    }
  }

  /** One counted output check against an answer the generator knows. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val r = try ok catch { case NonFatal(e) => System.err.println(s"check $name: $e"); false }
    if (!r) fail(s"check $name")
    r
  }

  /** Evaluate fully without letting a count() prune the work. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def path(name: String): String = s"$work/$name"
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Memory the program holds: heap in use after a full collection,
    * plus non-heap in use (class metadata, generated code), in MB. */
  def liveMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  /** Process high-water resident set, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Σ size and count of the data files under `dir`. */
  def du(dir: String): (Long, Long) = {
    val files = Option(new java.io.File(dir)).filter(_.exists).map { d =>
      java.nio.file.Files.walk(d.toPath).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path].toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    }.getOrElse(Nil)
    (files.map(_.length).sum, files.size.toLong)
  }

  def deleteTree(dir: String): Unit = {
    val f = new java.io.File(dir)
    if (f.exists) java.nio.file.Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => p.toFile.delete())
  }
}
