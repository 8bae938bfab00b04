package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run: the Spark session, the generated inputs, the
  * operation/failure counts, and every figure the workload reports. */
final class Run(val cores: Int, val dir: String, val work: String,
    val seconds: Double, val traced: Boolean) {

  val counters = new Counters
  var spark: SparkSession = _

  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]()

  /** End-to-end figures (name → value), printed with tracing off. */
  val endToEnd = mutable.LinkedHashMap[String, Double]()
  /** Per-layer figures; the workload fills what its layers produce. */
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Annotations printed beside the metrics (percentile used for the
    * tail, sample counts, generator lateness, host noise…). */
  val detail = mutable.LinkedHashMap[String, Any]()
  /** Order-independent digests the wrapper compares with its own oracle. */
  val oracle = mutable.LinkedHashMap[String, Any]()

  def now: Long = System.nanoTime()

  private val born = now
  private val marks = mutable.LinkedHashMap[String, Double]()
  /** Note how far into the run a phase ended (seconds). */
  def mark(phase: String): Unit = {
    marks(phase) = (now - born) / 1e9
    detail("phase_end_s") = marks
  }

  /** Count one operation; a thrown exception or a false result fails it. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def check(what: String)(ok: => Boolean): Unit =
    op(what)(ok) match {
      case Some(true) => ()
      case Some(false) => fail(s"$what: mismatch")
      case None => ()
    }

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(msg.take(400))
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def failureList: Seq[String] = failures.asScala.toSeq

  /** Whitespace-separated rows of a generated input file. */
  def input(name: String): Array[Array[String]] = {
    val f = scala.io.Source.fromFile(s"$dir/$name")
    try f.getLines().filter(_.nonEmpty).map(_.split(" ")).toArray finally f.close()
  }

  private def startSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(counters)
    s
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Set up `times` times from a fresh SparkContext each time and keep
    * the last; `setup_s` is the median, so one slow start (class
    * loading, JIT) does not decide it. */
  def setup(times: Int)(body: SparkSession => Unit): Unit = {
    val secs = (1 to times).map { _ =>
      stopSession()
      val t0 = now
      spark = startSession()
      body(spark)
      (now - t0) / 1e9
    }
    endToEnd("setup_s") = Stats.median(secs)
    detail("setup_runs_s") = secs
  }

  // ---- measured phase bookkeeping ------------------------------------

  private var noise: HostNoise = _

  def snap(): Counters.Snap = counters.snapshot(spark.sparkContext)

  /** Start the measured phase: heap peak and host noise from here on. */
  def beginPhase(): Unit = {
    Counters.resetHeapPeak()
    noise = new HostNoise
  }

  /** Spark engine counters since `from`, per operation, named
    * `<prefix>.<counter>`. */
  def engine(prefix: String, from: Counters.Snap, ops: Long): Unit = {
    val d = snap() - from
    val n = math.max(ops, 1L).toDouble
    layers(s"$prefix.jobs") = d.jobs / n
    layers(s"$prefix.stages") = d.stages / n
    layers(s"$prefix.tasks") = d.tasks / n
    layers(s"$prefix.scheduler_delay_s") = d.delayMs / 1e3 / n
    layers(s"$prefix.shuffle_bytes") = d.shuffleBytes / n
    layers(s"$prefix.spill_bytes") = d.spillBytes / n
    layers(s"$prefix.task_cpu_s") = d.cpuNs / 1e9 / n
    layers(s"$prefix.gc_s") = d.gcMs / 1e3 / n
  }

  /** Close the measured phase: cached storage, heap peak, host noise. */
  def endPhase(): Unit = {
    layers("cache.storage_mb") = Counters.storageBytes(spark.sparkContext) / 1048576.0
    layers("jvm.heap_peak_mb") = Counters.heapPeakBytes / 1048576.0
    val (steal, others) = noise.read()
    layers("host.steal_pct") = steal
    layers("host.others_cpu_pct") = others
  }

  /** Median span duration of `span`, in ms or s; NaN (reported as no
    * value) when it never ran. */
  def spanMs(span: String): Double = Stats.median(Trace.durations(span).map(_ / 1e6))
  def spanS(span: String): Double = Stats.median(Trace.durations(span).map(_ / 1e9))
  def countMedian(name: String): Double = Stats.median(Trace.countsOf(name))

  /** Report the operation latencies as p50/tail and, in a traced run,
    * the tracing overhead: traced operations against the untraced ones
    * interleaved with them. */
  def latencies(samples: Seq[(Double, Boolean)]): Unit = {
    val all = samples.map(_._1)
    endToEnd("p50_ms") = Stats.median(all)
    val (tail, pct) = Stats.tail(all)
    endToEnd("tail_ms") = tail
    detail("latency_samples") = all.size
    detail("tail_percentile") = pct
    if (traced) {
      val on = samples.filter(_._2).map(_._1)
      val off = samples.filterNot(_._2).map(_._1)
      layers("trace.overhead_pct") =
        if (on.isEmpty || off.isEmpty) Double.NaN
        else 100.0 * (Stats.median(on) / Stats.median(off) - 1.0)
      detail("trace_overhead_samples") = Seq(on.size, off.size)
    }
  }
}

object Stats {
  /** NaN for no samples, which the result file carries as no value. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and
    * that percentile; the maximum (percentile 100) below 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (Double.NaN, Double.NaN)
    else if (xs.size < 11) (xs.max, 100.0)
    else {
      val s = xs.sorted
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size)
    }

  /** Order-independent digest of rendered result rows. */
  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(rows.sorted.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  def rowsKey(rows: Array[Row]): String = rows.map(_.mkString("|")).mkString("\n")
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
