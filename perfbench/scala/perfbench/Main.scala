package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State shared by a run's workload code. */
final class Ctx(
    val spark: SparkSession,
    val sfDir: String,
    val runDir: String,
    val storeDir: String,
    val clients: Int,
    val cores: Int,
    val rng: scala.util.Random,
    val trace: Option[Trace],
    val result: Result,
    sessionSeconds: Double) {

  /** Traced runs time some operations with the listener detached; their
    * latencies land here and give the tracing overhead. */
  val untraced = new Recorder
  /** The listener-on counterparts of [[untraced]]. */
  var traced: Seq[Recorder] = Nil
  private val layers = LinkedHashMap[String, ArrayBuffer[Double]]()

  /** One sample of a per-layer metric; the run reports the median. */
  def layer(name: String, v: Double): Unit = synchronized {
    layers.getOrElseUpdate(name, ArrayBuffer()) += v
  }

  def setupDone(workloadSeconds: Double): Unit =
    result.metric("setup_s", sessionSeconds + workloadSeconds)

  /** The end-to-end metrics of a run. `lat` holds the latencies that
    * `req_*` summarize and `latSeconds` the wall time they were taken in. */
  def report(all: Seq[Recorder], lat: Recorder, latSeconds: Double, coldPass: Double,
      warmPass: Double, storeDirs: Seq[String]): Unit = {
    val ls = lat.latencies
    val (tail, tailPct) = Stats.tail(ls)
    result.metric("req_p50_ms", Stats.median(ls.toSeq))
    result.metric("cold_pass_s", coldPass)
    result.metric("warm_pass_s", warmPass)
    result.metric("store_mb", storeDirs.map(Stats.dirBytes).sum / 1e6)
    // too noisy across runs on a shared host to carry a bound; reported per layer
    layer("req_tail_ms", tail)
    layer("req_per_s", ls.length / latSeconds)
    result.detail("req_samples", ls.length.toString)
    result.detail("req_tail_percentile", Json.num(tailPct))
    result.attempted = (all :+ untraced).map(_.attempted).sum
    result.failures = (all :+ untraced).flatMap(_.failures.asScala)
    layer("failed_share", result.failures.size.toDouble / (result.attempted max 1))
  }

  def writeLayers(): Unit = {
    trace.foreach { _ =>
      val on = Stats.median(traced.flatMap(_.latencies))
      val off = Stats.median(untraced.latencies.toSeq)
      layer("trace.overhead_pct", 100.0 * (on / off - 1))
    }
    layers.foreach { case (k, v) => result.layerMetric(k, Stats.median(v.toSeq)) }
  }
}

/** Entry point of one benchmark run; see perfbench/README.md.
  *
  * {{{
  * Main --workload <serve_hot|catalog> --seed <n> --trace <0|1>
  *      --data <sf dir> --run <run dir> --out <result.json>
  *      [--queries <query table>]
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val traced = args("trace") == "1"
    val runDir = args("run")
    val cores = Runtime.getRuntime.availableProcessors()
    val result = new Result
    val spinBefore = Stats.spinMs()

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/tmp/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSeconds = (System.nanoTime() - s0) / 1e9

    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    // the serving trace runs one client, so its per-request counts repeat exactly
    val clients = if (traced && workload == "serve_hot") 1 else 4
    val ctx = new Ctx(spark, args("data"), runDir, sys.env("SPARK_GRAFT_STORE_DIR"),
      clients, cores, new scala.util.Random(args("seed").toLong),
      trace, result, sessionSeconds)

    val serve = new Serve(ctx)
    val table = args.get("queries").toSeq.flatMap { f =>
      scala.io.Source.fromFile(f).getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(q, m) = l.split("\\s+"); q -> m }.toSeq
    }
    val catalog = new Catalog(ctx, table)
    serve.selfTest()
    catalog.selfTest()
    trace.foreach(_.attach())
    workload match {
      case "serve_hot" => serve.hot()
      case "catalog" => catalog.run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    trace.foreach(_.detach())

    result.layerMetric("host.spin_ms_before", spinBefore)
    result.layerMetric("host.spin_ms_after", Stats.spinMs())
    result.layerMetric("host.cores", cores)
    result.layerMetric("host.heap_mb", Runtime.getRuntime.maxMemory / 1e6)
    result.layerMetric("spark.shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions").toDouble)
    result.detail("versions", s"""{"spark":${Json.str(spark.version)},""" +
      s""""jdk":${Json.str(System.getProperty("java.version"))},""" +
      s""""scala":${Json.str(scala.util.Properties.versionNumberString)}}""")
    result.detail("clients", clients.toString)
    ctx.writeLayers()
    trace.foreach(_.writeSpans(s"$runDir/spans.jsonl"))
    result.write(args("out"))
    spark.stop()
  }
}
