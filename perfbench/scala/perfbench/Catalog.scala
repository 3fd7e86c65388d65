package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.sources.{BucketStore, ChunkStore, LayoutStore, SeriesStore}

/** The registered-query workload: the ingest-time builds, then the query
  * table once cold (fresh JVM, fresh store) and again warm until the
  * run's time is up. */
final class Catalog(ctx: Ctx, table: Seq[(String, String)]) {
  private val spark: SparkSession = ctx.spark
  private val sc = spark.sparkContext
  private val res = ctx.result

  /** The `ensure*` builds as (metric stem, build). The IVF index build
    * (~10 s at sf0.01 on 4 cores) is left out to fit the run budget,
    * and with it the ANN queries that read it. */
  private val builds: Seq[(String, () => Unit)] = Seq(
    "sources.series_mirror" -> (() => { SeriesStore.ensurePartitioned(spark, ctx.sfDir); () }),
    "sources.chunk_mirror" -> (() => ChunkStore.ensureChunked(spark, ctx.sfDir)),
    "sources.bucket_mirror" -> (() => BucketStore.ensureBucketed(spark, ctx.sfDir)),
    "sources.sorted_mirror" -> (() => LayoutStore.ensureSorted(spark, ctx.sfDir)),
    "sources.zorder_mirror" -> (() => LayoutStore.ensureZOrdered(spark, ctx.sfDir)),
    "ops.lex_index" -> (() => { graft.ops.Lexical.ensureLexIndex(spark, ctx.sfDir); () }))

  /** One query as the user runs it: build the frame, collect its rows. A
    * failure is counted and named, never timed. With `planMs`, the
    * physical plan is forced first and its time reported separately. */
  private def runQuery(rec: Recorder, group: String, name: String,
      fn: (SparkSession, String) => DataFrame, planMs: Option[Double => Unit] = None)
      : Option[(DataFrame, Array[Row])] =
    Group(sc, group) {
      val t0 = System.currentTimeMillis()
      val out = rec.time(name) {
        val df = fn(spark, ctx.sfDir)
        planMs.foreach { sink =>
          val p0 = System.nanoTime(); df.queryExecution.executedPlan
          sink((System.nanoTime() - p0) / 1e6)
        }
        (df, df.collect())
      }
      ctx.trace.foreach(_.span(group, name, t0, System.currentTimeMillis(), ""))
      out
    }

  /** Rows as a sorted multiset of their string forms. */
  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  def run(): Unit = {
    val t0 = System.nanoTime()
    val storeRoot = ctx.storeDir
    builds.foreach { case (stem, build) =>
      val b0 = Stats.dirBytes(storeRoot)
      val s0 = System.nanoTime()
      build()
      ctx.layer(s"${stem}_s", (System.nanoTime() - s0) / 1e9)
      ctx.layer(s"${stem}_mb", (Stats.dirBytes(storeRoot) - b0) / 1e6)
    }
    ctx.setupDone((System.nanoTime() - t0) / 1e9)

    val queries = table.map { case (q, _) =>
      q -> SparkEntry.queries.getOrElse(q, (_: SparkSession, _: String) =>
        throw new NoSuchElementException(s"query $q is not registered"))
    }
    val tr = ctx.trace
    tr.foreach(_.attach())

    val cold = new Recorder
    val coldRows = LinkedHashMap[String, (DataFrame, Array[Row])]()
    val coldLat = LinkedHashMap[String, Double]()
    val c0 = System.nanoTime()
    ctx.rng.shuffle(queries).foreach { case (q, fn) =>
      val q0 = System.nanoTime()
      runQuery(cold, s"cold/$q", q, fn).foreach { out =>
        coldRows(q) = out; coldLat(q) = (System.nanoTime() - q0) / 1e9
      }
    }
    val coldPass = (System.nanoTime() - c0) / 1e9

    val warm = new Recorder
    val warmPasses = ArrayBuffer[Double]()
    val warmLat = LinkedHashMap[String, ArrayBuffer[Double]]()
    // traced runs time each query once with the listener on and once off
    // (two warm passes, alternating by query) for the overhead
    val tracedGroups = ArrayBuffer[String]()
    var tracedS = 0.0
    var planMs = 0.0
    val position = queries.map(_._1).zipWithIndex.toMap
    while (warmPasses.size < Catalog.WarmPasses) {
      val pass = warmPasses.size
      val w0 = System.nanoTime()
      ctx.rng.shuffle(queries).foreach { case (q, fn) =>
        val on = tr.isDefined && (position(q) + pass) % 2 == 0
        tr.foreach(t => if (on) t.attach() else t.detach())
        val rec = if (tr.isDefined && !on) ctx.untraced else warm
        val group = s"warm$pass/$q"
        val q0 = System.nanoTime()
        val sink: Option[Double => Unit] = if (on) Some(ms => planMs += ms) else None
        runQuery(rec, group, q, fn, sink).foreach { case (_, rows) =>
          val secs = (System.nanoTime() - q0) / 1e9
          warmLat.getOrElseUpdate(q, ArrayBuffer()) += secs
          if (on) { tracedGroups += group; tracedS += secs }
          coldRows.get(q).foreach { case (_, c) =>
            res.check(canon(rows) == canon(c), s"$q: warm rows differ from cold rows")
          }
        }
      }
      warmPasses += (System.nanoTime() - w0) / 1e9
    }

    ctx.traced = Seq(warm)
    ctx.report(Seq(cold, warm), warm, latSeconds = warmPasses.sum,
      coldPass = coldPass, warmPass = Stats.median(warmPasses.toSeq),
      storeDirs = Seq(storeRoot))
    ctx.result.detail("catalog_warm_passes", warmPasses.size.toString)
    writeOracleInputs(coldRows)

    tr.foreach { t =>
      t.attach()
      val modules = table.map(_._2).distinct
      modules.foreach { m =>
        val qs = table.filter(_._2 == m).map(_._1)
        ctx.layer(s"$m.cold_s", qs.flatMap(coldLat.get).sum)
        ctx.layer(s"$m.warm_s", qs.flatMap(q => warmLat.get(q).map(l => Stats.median(l.toSeq))).sum)
      }
      ctx.layer("catalog.cache_fill_s", coldPass - Stats.median(warmPasses.toSeq))
      ctx.layer("SparkEntry.plan_ms", planMs)
      def counters(label: String, groups: String => Boolean, wall: Double): Unit = {
        val c = t.sum(groups)
        ctx.layer(s"spark.$label.jobs", c.jobs.get)
        ctx.layer(s"spark.$label.stages", c.stages.get)
        ctx.layer(s"spark.$label.tasks", c.tasks.get)
        ctx.layer(s"spark.$label.single_task_stages", c.singleTaskStages.get)
        ctx.layer(s"spark.$label.shuffle_write_mb", c.shuffleWriteB.get / 1e6)
        ctx.layer(s"spark.$label.spill_mb", c.spillB.get / 1e6)
        ctx.layer(s"spark.$label.input_mb", c.inputB.get / 1e6)
        ctx.layer(s"spark.$label.task_s", c.taskMs.get / 1e3)
        ctx.layer(s"spark.$label.core_util", c.taskMs.get / 1e3 / (wall * ctx.cores))
      }
      counters("cold", _.startsWith("cold/"), coldPass)
      // the traced halves of the two warm passes add up to one warm pass
      val traced = tracedGroups.toSet
      counters("warm", traced.contains, tracedS)
    }
  }

  /** The oracle SQL of every table query that has one, and the cold-pass
    * results of those that succeeded, for the DuckDB comparison in the
    * front end; a query without a result fails that comparison. */
  private def writeOracleInputs(rows: LinkedHashMap[String, (DataFrame, Array[Row])]): Unit = {
    val dir = ctx.runDir + "/oracle"
    new java.io.File(dir).mkdirs()
    val withOracle = table.map(_._1).filter(SparkEntry.oracleSql.contains)
    withOracle.foreach { q =>
      rows.get(q).foreach { case (df, rs) =>
        spark.createDataFrame(rs.toSeq.asJava, df.schema).coalesce(1)
          .write.parquet(s"$dir/$q")
      }
    }
    val json = withOracle.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), json)
  }

  /** A query that fails must be counted and named, and must not be timed. */
  def selfTest(): Unit = {
    val rec = new Recorder
    runQuery(rec, "selftest", "selftest_failing_query",
      (s, _) => s.sql("SELECT raise_error('forced failure') AS x"))
    res.check(rec.attempted == 1 && rec.failed == 1 && rec.latencies.isEmpty,
      s"self-test: a failing query was not counted as failed (failed=${rec.failed})")
  }
}

object Catalog {
  /** Warm passes a run times, traced or not; a fixed count, so every run
    * times the same queries. */
  val WarmPasses = 2
}
