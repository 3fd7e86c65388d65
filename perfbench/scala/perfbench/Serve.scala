package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.Methods
import graft.engine.{Engine, Families}
import graft.sources.SeriesStore

/** The forecast-serving workload: closed-loop clients calling
  * `Engine.forecast` for (element, method, horizon) requests, the
  * paper's one-call-per-request service. */
final class Serve(ctx: Ctx) {
  import Serve._
  private val spark: SparkSession = ctx.spark
  private val sc = spark.sparkContext
  private val res = ctx.result

  private def engineAt(dir: String) = new Engine(spark, dir)

  /** One response as (step, lower1, lower2, mean, upper1, upper2), by step. */
  private def points(rows: Array[Row]): Array[Pt] =
    rows.map(r => Pt(r.getAs[Int]("step"), r.getAs[Double]("lower1"), r.getAs[Double]("lower2"),
      r.getAs[Double]("mean"), r.getAs[Double]("upper1"), r.getAs[Double]("upper2"))).sortBy(_.step)

  /** h rows, steps 1..h, and lower2 <= lower1 <= mean <= upper1 <= upper2. */
  private def checkShape(k: Key, h: Int, pts: Array[Pt]): Unit = {
    res.check(pts.length == h && pts.map(_.step).sameElements(1 to h),
      s"$k h=$h: steps ${pts.map(_.step).mkString(",")}")
    res.check(pts.forall(p => p.lower2 <= p.lower1 && p.lower1 <= p.mean &&
      p.mean <= p.upper1 && p.upper1 <= p.upper2),
      s"$k h=$h: bands out of order")
  }

  /** `short` must equal the first rows of `long`. */
  private def checkPrefix(what: String, k: Key, short: Array[Pt], long: Array[Pt]): Unit =
    res.check(long.length >= short.length && short.sameElements(long.take(short.length)),
      s"$k: $what")

  private def request(engine: Engine, k: Key, h: Int): Array[Row] =
    engine.forecast(k.element, ctx.sfDir, k.method, Freq, h).collect()

  /** Requests the workload checks and times; a failed one is counted and
    * named, never timed. */
  private def timed(rec: Recorder, engine: Engine, k: Key, h: Int, group: String): Option[Array[Pt]] =
    Group(sc, group) {
      val t0 = System.currentTimeMillis()
      val out = rec.time(s"$k h=$h")(request(engine, k, h)).map(points)
      ctx.trace.foreach(_.span(group, "request", t0, System.currentTimeMillis(), ""))
      out
    }

  private def trainAll(engine: Engine, keys: Seq[Key], h: Int, rec: Recorder, prefix: String)
      : Map[Key, Array[Pt]] = {
    val trained = new java.util.concurrent.ConcurrentHashMap[Key, Array[Pt]]()
    ClosedLoop.run(ctx.clients, ctx.rng.shuffle(keys)) { (_, k) =>
      timed(rec, engine, k, h, s"$prefix/$k").foreach { pts =>
        checkShape(k, h, pts); trained.put(k, pts)
      }
    }
    trained.asScala.toMap
  }

  /** Zipf(s=1) over the keys in a seeded rank order, horizons uniform 1..maxH. */
  private def zipfStream(n: Int, maxH: Int): Seq[(Key, Int)] = {
    val ranked = ctx.rng.shuffle(hotKeys).toIndexedSeq
    val w = ranked.indices.map(i => 1.0 / (i + 1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    Seq.fill(n) {
      val u = ctx.rng.nextDouble()
      (ranked(cdf.indexWhere(_ >= u) max 0), 1 + ctx.rng.nextInt(maxH))
    }
  }

  def hot(): Unit = {
    val engine = engineAt(ctx.runDir + "/engine")
    val setup = new Recorder
    val t0 = System.nanoTime()
    SeriesStore.ensurePartitioned(spark, ctx.sfDir)
    val trained = trainAll(engine, hotKeys, HotH, setup, "setup")
    ctx.setupDone((System.nanoTime() - t0) / 1e9)
    res.check(setup.failed == 0, s"set-up training failed: ${setup.failures.peek()}")

    val cold = new Recorder
    val warm = new Recorder
    val passes = ArrayBuffer[Double]()
    val reqId = new java.util.concurrent.atomic.AtomicInteger
    // a traced run (1 client, each hit also split into its steps) times one warm pass
    val nPasses = 1 + (if (ctx.trace.isDefined) 1 else WarmPasses)
    while (passes.size < nPasses) {
      val rec = if (passes.isEmpty) cold else warm
      val ops = zipfStream(if (passes.isEmpty) ColdPassSize else WarmPassSize, HotH)
      val p0 = System.nanoTime()
      if (ctx.trace.isDefined) tracedHot(engine, ops, trained, rec, passes.size)
      else ClosedLoop.run(ctx.clients, ops) { case (_, (k, h)) =>
        timed(rec, engine, k, h, s"req/${reqId.incrementAndGet()}").foreach { pts =>
          checkShape(k, h, pts)
          checkPrefix("hit is not a prefix of the trained forecast", k, pts, trained.getOrElse(k, Array()))
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    ctx.traced = Seq(cold, warm)
    res.detail("pass_s", passes.map(Json.num).mkString("[", ",", "]"))
    ctx.report(Seq(setup, cold, warm), warm, latSeconds = passes.tail.sum, coldPass = passes.head,
      warmPass = Stats.median(passes.tail.toSeq), storeDirs = Seq(ctx.runDir + "/engine"))
    ctx.trace.foreach(tracedWritePath(_, engine))
  }

  /** One client; each request runs as the user sees it, then (warm pass)
    * its three store steps run one by one through the stores' public
    * functions. */
  private def tracedHot(engine: Engine, ops: Seq[(Key, Int)], trained: Map[Key, Array[Pt]],
      rec: Recorder, pass: Int): Unit = {
    val tr = ctx.trace.get
    val index = engine.indexName(ctx.sfDir)
    ops.zipWithIndex.foreach { case ((k, h), i) =>
      val id = s"p$pass/req/$i"
      // blocks of 10 requests alternate listener on / off for the overhead
      val on = (i / 10) % 2 == 0
      if (on) tr.attach() else tr.detach()
      val r0 = System.nanoTime()
      timed(if (on) rec else ctx.untraced, engine, k, h, id).foreach { pts =>
        checkShape(k, h, pts)
        checkPrefix("hit is not a prefix of the trained forecast", k, pts, trained.getOrElse(k, Array()))
      }
      val reqMs = (System.nanoTime() - r0) / 1e6
      tr.attach()
      // the steps are split out in the warm pass only, to keep the run short
      if (pass > 0) {
        val s0 = System.nanoTime()
        Group(sc, s"steps/$id") {
          step(tr, id, "engine.exists_ms")(engine.models.exists(k.element, index, k.method))
          step(tr, id, "engine.cache_valid_ms")(engine.cache.isValid(k.element, index, k.method, h))
          step(tr, id, "engine.cache_slice_ms")(
            engine.cache.loadSliced(k.element, index, k.method, h).collect())
        }
        ctx.layer("engine.hit_other_ms", reqMs - (System.nanoTime() - s0) / 1e6)
      }
    }
    val c = tr.sum(_.startsWith(s"p$pass/req/"))
    val n = rec.attempted.toDouble
    ctx.layer("spark.jobs_per_req", c.jobs.get / n)
    ctx.layer("spark.stages_per_req", c.stages.get / n)
    ctx.layer("spark.tasks_per_req", c.tasks.get / n)
    ctx.layer("spark.task_ms_per_req", c.taskMs.get / n)
  }

  /** Runs one step of a traced operation and records its time, in ms, as a
    * per-layer sample and a span under the operation's id. */
  private def step[T](tr: Trace, id: String, name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val v = body
    ctx.layer(name, (System.nanoTime() - n0) / 1e6)
    tr.span(id, name, t0, System.currentTimeMillis(), id)
    v
  }

  /** Per-layer breakdown of the write path, after the measured passes of
    * a traced run. The set-up trains already charged their jobs to their
    * groups; this adds one refresh per key (branch (b)), a pass that runs
    * a train's steps one at a time through the modules' public functions
    * for every reference method into a separate store, and the contended
    * same-key phase. */
  private def tracedWritePath(tr: Trace, engine: Engine): Unit = {
    val trains = tr.sum(_.startsWith("setup/"))
    ctx.layer("spark.jobs_per_train", trains.jobs.get / hotKeys.size.toDouble)
    ctx.layer("spark.task_ms_per_train", trains.taskMs.get / hotKeys.size.toDouble)
    ctx.layer("engine.store_kb_per_key", Stats.dirBytes(ctx.runDir + "/engine") / 1024.0 / hotKeys.size)
    val refreshes = new Recorder
    ClosedLoop.run(ctx.clients, hotKeys) { (_, k) =>
      timed(refreshes, engine, k, HotH + 1, s"refresh/$k").foreach(checkShape(k, HotH + 1, _))
    }
    res.check(refreshes.failed == 0, s"refresh failed: ${refreshes.failures.peek()}")
    ctx.layer("spark.jobs_per_refresh", tr.sum(_.startsWith("refresh/")).jobs.get / hotKeys.size.toDouble)

    val steps = engineAt(ctx.runDir + "/engine-steps")
    val index = steps.indexName(ctx.sfDir)
    ClosedLoop.run(ctx.clients, ctx.rng.shuffle(fitKeys)) { (_, k) =>
      val id = s"steps/$k"
      try Group(sc, id) {
        val (values, days) = step(tr, id, "sources.series_ms") {
          if (k.method == Methods.PROPHET) {
            val (_, d, v) = SeriesStore.datedSeries(spark, ctx.sfDir, Seq(k.element)).head()
            (v, d)
          } else (SeriesStore.series(spark, ctx.sfDir, Seq(k.element)).head().values, Array.emptyIntArray)
        }
        val model = step(tr, id, s"models.fit_ms.${k.method}") {
          k.method match {
            case Methods.HYBRID => graft.models.Hybrid.HybridFamily.fitCv(values, Freq, TrainH)
            case Methods.PROPHET => graft.models.ProphetLite.fitDated(days, values)
            case m => Families.byMethod(m).fit(values, Freq)
          }
        }
        val fc = step(tr, id, "models.forecast_ms")(model.forecast(TrainH))
        step(tr, id, "engine.model_save_ms")(steps.models.save(k.element, index, k.method, model.params))
        // the stamp's values do not change the cost of writing it
        step(tr, id, "engine.stamp_save_ms")(
          steps.stamps.save(k.element, index, k.method, values.length.toLong, 0L))
        step(tr, id, "engine.cache_save_ms")(steps.cache.save(k.element, index, k.method,
          steps.cache.toDF(fc.toPoints(k.element, k.method))))
        step(tr, id, "engine.model_load_ms")(steps.models.load(k.element, index, k.method))
      } catch { case e: Throwable => res.check(false, s"write-path steps of $k failed: $e") }
    }
    contended()
  }

  /** Untimed: four clients on a few keys with growing horizons, so
    * refreshes of one key overwrite each other's files. Its failures are
    * a known defect, counted on their own and kept out of `failed`. */
  private def contended(): Unit = {
    val engine = engineAt(ctx.runDir + "/engine-contended")
    val shared = Seq(Key("view", Methods.THETA), Key("click", Methods.THETA))
    val rec = new Recorder
    shared.foreach(k => rec.time(s"$k h=$TrainH")(request(engine, k, TrainH)))
    val ops = for (h <- TrainH + 1 to TrainH + 5; k <- shared; _ <- 0 until 4) yield (k, h)
    ClosedLoop.run(4, ops) { case (_, (k, h)) => rec.time(s"$k h=$h")(request(engine, k, h)) }
    ctx.layer("engine.same_key_write_failures", rec.failed.toDouble)
    res.detail("same_key_write_failures",
      rec.failures.asScala.take(5).map(Json.str).mkString("[", ",", "]"))
  }

  /** A request that fails must be counted and named, and must not be timed. */
  def selfTest(): Unit = {
    val rec = new Recorder
    timed(rec, engineAt(ctx.runDir + "/engine-selftest"), Key("view", "NO_SUCH_METHOD"), 1, "selftest")
    res.check(rec.attempted == 1 && rec.failed == 1 && rec.latencies.isEmpty,
      s"self-test: a failing request was not counted as failed (failed=${rec.failed})")
  }
}

object Serve {
  val Freq = 7
  val HotH = 28
  /** The horizon the write-path breakdown trains at: the engine's cache length. */
  val TrainH = 14
  /** Requests in the first (cold) hit pass and in each warm one. */
  val ColdPassSize = 50
  val WarmPassSize = 50
  /** Warm passes an untraced run times. The work is fixed, not cut by a
    * clock, so every run times the same requests and JIT warm-up falls on
    * the same ones. */
  val WarmPasses = 2
  /** The hit workload's keys: three elements times four methods. */
  val HotElements: Seq[String] = Seq("view", "click", "purchase")
  /** The traced write-path breakdown fits every reference method on one element. */
  val fitKeys: Seq[Key] = Methods.reference.map(Key("view", _))
  /** A hit is a cache slice whatever the method, so the hit workload's
    * keys use four methods with cheap fits. Each train still costs a
    * second or more of Spark jobs, which bounds how many keys a run can
    * set up within its time budget. */
  val HotMethods: Seq[String] = Seq(Methods.THETA, Methods.STL, Methods.NAIVE, Methods.SES)

  final case class Key(element: String, method: String) {
    override def toString: String = s"$element/$method"
  }
  final case class Pt(step: Int, lower1: Double, lower2: Double, mean: Double, upper1: Double, upper2: Double)

  val hotKeys: Seq[Key] = for (e <- HotElements; m <- HotMethods) yield Key(e, m)
}
