package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
}

/** A timed operation's outcome: a latency, or a failure that is counted
  * and named but never enters a latency, pass sum or rate. */
final class Recorder {
  val latMs = new ConcurrentLinkedQueue[Double]()
  val failures = new ConcurrentLinkedQueue[String]()
  private val n = new AtomicInteger

  def attempted: Int = n.get
  def failed: Int = failures.size

  /** Times `body`; returns its value, or None when it threw. */
  def time[T](label: String)(body: => T): Option[T] = {
    n.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val v = body
      latMs.add((System.nanoTime() - t0) / 1e6)
      Some(v)
    } catch {
      case e: Throwable =>
        failures.add(s"$label: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
        None
    }
  }

  def latencies: Array[Double] = latMs.asScala.toArray.sorted
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it: the 11th
    * largest sample, and the percentile it sits at. */
  def tail(sorted: Array[Double]): (Double, Double) =
    if (sorted.length < 11) (Double.NaN, Double.NaN)
    else (sorted(sorted.length - 11), 100.0 * (sorted.length - 10) / sorted.length)

  /** Fixed single-threaded work; its time reads the host's speed and
    * steal at that moment, independent of the engine. */
  def spinMs(): Double = {
    var x = 0x9e3779b97f4a7c15L; var i = 0L
    val t0 = System.nanoTime()
    while (i < 200000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }
}

/** `clients` threads take operations from a shared queue until it is
  * empty (a closed loop: each client issues its next operation only
  * after the previous one returned). */
object ClosedLoop {
  def run[A](clients: Int, ops: Seq[A])(body: (Int, A) => Unit): Unit = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[A](ops.asJava)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        try {
          var op = queue.poll()
          while (op != null) { body(c, op); op = queue.poll() }
        } catch { case e: Throwable => errors.add(e) }
      }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }
}

/** Metrics, details and check results of one run, written as JSON for
  * the Python front end. */
final class Result {
  private val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val details = scala.collection.mutable.LinkedHashMap[String, String]()
  val checkFailures = new ConcurrentLinkedQueue[String]()
  var attempted = 0
  var failures: Seq[String] = Nil

  def metric(name: String, v: Double): Unit = synchronized { metrics(name) = v }
  def layerMetric(name: String, v: Double): Unit = synchronized { layers(name) = v }
  def detail(name: String, jsonValue: String): Unit = synchronized { details(name) = jsonValue }
  def check(ok: Boolean, what: => String): Unit = if (!ok) checkFailures.add(what)

  def write(path: String): Unit = {
    def obj(kv: Iterable[(String, Double)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val d = details.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val c = checkFailures.asScala.take(50).map(Json.str).mkString("[", ",", "]")
    val f = failures.take(50).map(Json.str).mkString("[", ",", "]")
    val body = s"""{"metrics":${obj(metrics)},"layers":${obj(layers)},"details":$d,"check_failures":$c,"attempted":$attempted,""" +
      s""""failed":${failures.size},"failures":$f}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}
