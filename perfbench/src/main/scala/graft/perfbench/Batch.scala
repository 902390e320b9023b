package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{CacheRegistry, CapStats, SparkEntry}

final case class BatchConf(light: Seq[String], heavy: Seq[String], data: String, work: String,
    dump: String, cpus: Int, seed: Long, seconds: Double, trace: Boolean) {
  def queries: Seq[String] = light ++ heavy
}

/** One execution of one query: wall time of `count()` plus the deferred
  * cap counts, and what was left registered in the cache afterwards.
  */
final case class Exec(query: String, pass: Int, secs: Double, ok: Boolean, leaked: Int)

/** The batch workload: frozen lists of light and heavy registry queries,
  * run pass after pass in a seed-permuted order. Every query runs in its
  * own `try`, with `CapStats.await` and `CacheRegistry.releaseAll` each in a
  * `finally` with its own catch, so one failure costs one operation, never
  * the run.
  */
object Batch {
  val SetupRepeats = 3 // the first one starts a cold JVM; the median is a warm one

  /** Session start plus the one fixture the queries read (GeoParquet),
    * built into a fresh temp dir so each repetition really builds.
    */
  private def setupOnce(i: Int, c: BatchConf): (SparkSession, Double) = {
    val home = Main.freshDir(s"${c.work}/setup$i")
    System.setProperty("java.io.tmpdir", Main.freshDir(s"$home/tmp"))
    Main.time {
      val s = Main.session(c.cpus, home)
      graft.operators.TierA.geoParquetFixture(s, c.data)
      s
    }
  }

  def run(c: BatchConf): Map[String, Any] = {
    val known = SparkEntry.queries
    val unknown = c.queries.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupRepeats) {
      if (spark != null) spark.stop()
      val (s, secs) = setupOnce(i, c)
      spark = s
      setups += secs
    }
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def fail(what: String, e: Throwable): Unit = {
      failures += s"$what: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
      System.err.println(s"[perfbench] FAILED $what: $e")
    }

    /** Untimed tail of every operation: release the query's caches and
      * count what stayed registered.
      */
    def release(name: String): (Boolean, Int) = {
      var ok = true
      try CacheRegistry.releaseAll()
      catch { case e: Throwable => ok = false; fail(s"$name releaseAll", e) }
      try spark.catalog.clearCache()
      catch { case e: Throwable => ok = false; fail(s"$name clearCache", e) }
      (ok, CacheRegistry.registeredCount)
    }

    // Untimed warm pass that doubles as the correctness check: each result
    // is written out for run.py to fingerprint against the DuckDB oracle.
    Main.freshDir(c.dump)
    val checkStart = System.nanoTime()
    for (q <- c.queries) {
      attempted += 1
      var ok = true
      try known(q)(spark, c.data).coalesce(1).write.mode("overwrite").parquet(s"${c.dump}/$q")
      catch { case e: Throwable => ok = false; fail(s"$q (check pass)", e) }
      finally {
        try CapStats.await()
        catch { case e: Throwable => ok = false; fail(s"$q (check pass) CapStats.await", e) }
      }
      val (relOk, _) = release(q)
      if (!ok || !relOk) failed += 1
    }

    val checkPassS = Main.secsSince(checkStart)
    val cacheFrames = ArrayBuffer.empty[Int]
    val cacheBytes = ArrayBuffer.empty[Long]

    def execPlain(q: String, pass: Int): Exec = {
      var ok = true
      val t0 = System.nanoTime()
      try known(q)(spark, c.data).count()
      catch { case e: Throwable => ok = false; fail(q, e) }
      finally {
        try CapStats.await()
        catch { case e: Throwable => ok = false; fail(s"$q CapStats.await", e) }
      }
      val secs = Main.secsSince(t0)
      val (relOk, leaked) = release(q)
      Exec(q, pass, secs, ok && relOk, leaked)
    }

    /** The traced twin of [[execPlain]]: the same calls, split into layer
      * spans. `count()` is `groupBy().count()` collected, so building that
      * frame (analysis), forcing its optimized and executed plans and
      * collecting it are timed apart.
      */
    def execTraced(t: Tracer, q: String, pass: Int): Exec = {
      val op = s"$q#$pass"
      var ok = true
      var leaked = 0
      val t0 = System.nanoTime()
      t.span("query", op) {
        try {
          val df = t.span("operators", op)(known(q)(spark, c.data))
          val counted = t.span("catalyst.analysis", op)(df.groupBy().count())
          val qe = counted.queryExecution
          t.span("catalyst.optimization", op)(qe.optimizedPlan)
          t.span("catalyst.planning", op)(qe.executedPlan)
          t.span("exec", op)(counted.collect())
        } catch { case e: Throwable => ok = false; fail(q, e) }
        finally {
          try t.span("capstats", op)(CapStats.await())
          catch { case e: Throwable => ok = false; fail(s"$q CapStats.await", e) }
        }
        t.span("cache", op) {
          t.span("cache.census", op) {
            cacheFrames += CacheRegistry.registeredCount
            cacheBytes += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          }
          val (relOk, l) = t.span("cache.release", op)(release(q))
          ok &&= relOk
          leaked = l
        }
      }
      Exec(q, pass, Main.secsSince(t0), ok, leaked)
    }
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())

    // At least three timed passes, then more while the next one, as long as
    // the last, still fits the budget; a started pass always finishes so
    // every pass holds each query once. The traced run alternates untraced
    // and traced passes to measure tracing overhead.
    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
    val rnd = new Random(c.seed)
    val t0 = System.nanoTime()
    var pass = 0
    val minPasses = 3 // traced: untraced, traced, untraced
    while (pass < minPasses || Main.secsSince(t0) + passes.last._3 <= c.seconds) {
      val order = rnd.shuffle(c.queries)
      val traced = tracer.isDefined && pass % 2 == 1
      val p0 = System.nanoTime()
      val es = order.map(q => if (traced) execTraced(tracer.get, q, pass) else execPlain(q, pass))
      passes += ((pass, traced, Main.secsSince(p0)))
      execs ++= es
      pass += 1
    }
    // sampled once, at the end: a full collection between timed passes
    // would slow the pass that follows it
    val heapMb = Main.liveHeapMb()
    attempted += execs.size
    failed += execs.count(!_.ok)

    val untracedExecs = execs.filter(e => !passes(e.pass)._2)
    val passSecs = passes.filterNot(_._2).map(_._3)
    val perQuery = untracedExecs.filter(_.ok).groupBy(_.query).map { case (q, es) =>
      q -> Stats.median(es.map(_.secs).toSeq) }
    /** Mean over the group's queries of each one's median execution time:
      * it moves with the whole group's cost, not with one order statistic.
      */
    def groupOpS(group: Seq[String]): Double = {
      val medians = group.flatMap(perQuery.get)
      if (medians.isEmpty) Double.NaN else medians.sum / medians.size
    }
    val endToEnd = Map(
      "pass_s" -> Stats.median(passSecs.toSeq),
      "light_op_s" -> groupOpS(c.light),
      "heavy_op_s" -> groupOpS(c.heavy),
      "setup_s" -> Stats.median(setups.toSeq),
      "heap_live_mb" -> heapMb)

    val layers = tracer.map { t =>
      t.drain()
      t.stop()
      Layers.batch(t, passes.toSeq, execs.toSeq, c.cpus, cacheFrames.toSeq, cacheBytes.toSeq,
        s"${c.work}/trace.json")
    }
    spark.stop()
    Map("attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "metrics" -> (if (c.trace) layers.get else endToEnd),
      "end_to_end" -> endToEnd, "passes" -> passes.size, "passes_s" -> passes.map(_._3).toSeq,
      "executions" -> execs.size,
      "per_query_s" -> perQuery, "setup_samples_s" -> setups.toSeq, "check_pass_s" -> checkPassS,
      "leaked_frames_max" -> (if (execs.isEmpty) 0 else execs.map(_.leaked).max))
  }
}
