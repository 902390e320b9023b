package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType, StringType,
  StructField, StructType}

import graft.functions.{Feature, MsgPack, Wkb}
import graft.streaming.{FeaturePipeline, FileTransport}

final case class IngestConf(work: String, cpus: Int, seed: Long, seconds: Double, trace: Boolean,
    low: Int, high: Int)

/** One generated message and what the store must make of it. */
final case class Msg(bytes: Array[Byte], layer: String, fid: String, tsUs: Long,
    source: String, ver: Int, wkb: Array[Byte], props: Map[String, String], routed: Boolean,
    retransmit: Boolean)

/** A transport segment: one parquet file of messages, due at `dueUs` (an
  * offset on the generator's schedule).
  */
final case class Segment(name: String, dueUs: Long, msgs: IndexedSeq[Msg]) {
  def bytes: Long = msgs.map(_.bytes.length.toLong).sum
  def committedRows: Int = msgs.count(m => m.routed && !m.retransmit)
}

/** Seeded, single-threaded feature traffic: twelve layers of which nine are
  * routed, Zipf-skewed feature ids, a share of brand-new ids, a share of
  * retransmits (byte-identical re-sends the dedup must drop) and a prop
  * column (`color`) that appears from the high-rate phase on.
  *
  * The mix is assumed, not measured: no message trace of a deployed
  * conduit is available, so every share and size here (12/9 layers,
  * Zipf s = 1.1, 10 % new ids, 10 % retransmits, versions 1-2, three or
  * four props) is a choice that exercises each stage of the pipeline, not
  * a model of real traffic.
  */
final class FeatureGen(seed: Long, val featuresPerLayer: Int) {
  val layers: IndexedSeq[String] = (0 until 12).map(i => f"layer$i%02d")
  val routed: IndexedSeq[String] = layers.take(9)
  private val rnd = new java.util.SplittableRandom(seed)
  private val zipfCdf: Array[Double] = {
    val w = (1 to featuresPerLayer).map(k => 1.0 / math.pow(k, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private var nextNew = featuresPerLayer
  private val recent = ArrayBuffer.empty[Msg]
  var color = false
  val BaseUs = 1735689600000000L // 2025-01-01T00:00:00Z: stream event times start here

  private def zipf(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, featuresPerLayer - 1)
  }

  private def make(layer: String, fid: String, tsUs: Long): Msg = {
    val props = Map(
      "name" -> s"n$fid",
      "height" -> rnd.nextInt(500).toString,
      "ratio" -> "%.2f".formatLocal(java.util.Locale.ROOT, rnd.nextInt(10000) / 100.0 + 0.01)) ++
      (if (color) Map("color" -> Seq("red", "green", "blue")(rnd.nextInt(3))) else Map.empty)
    val wkb = Wkb.point(rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85)
    val ver = 1 + rnd.nextInt(2)
    val f = Feature(layer, fid, wkb, props, tsUs, "gen", ver)
    Msg(MsgPack.pack(f), layer, fid, tsUs, "gen", ver, wkb, props, routed.contains(layer),
      retransmit = false)
  }

  /** One version of every (routed layer, feature id), a day before the stream. */
  def preload(): IndexedSeq[Msg] =
    for (l <- routed; i <- 0 until featuresPerLayer)
      yield make(l, s"f$i", BaseUs - 86400000000L + i)

  def next(tsUs: Long): Msg = {
    val u = rnd.nextDouble()
    if (u < 0.10 && recent.nonEmpty) recent(rnd.nextInt(recent.size)).copy(retransmit = true)
    else {
      val layer = layers(rnd.nextInt(layers.size))
      val fid = if (u < 0.20) { nextNew += 1; s"f$nextNew" } else s"f${zipf()}"
      val m = make(layer, fid, tsUs)
      if (m.routed) {
        if (recent.size < 512) recent += m else recent(rnd.nextInt(512)) = m
      }
      m
    }
  }

  /** `n` messages of one segment due at `dueUs` (event times dueUs + i µs). */
  def segment(name: String, dueUs: Long, n: Int): Segment =
    Segment(name, dueUs, (0 until n).map(i => next(BaseUs + dueUs + i)))
}

object Ingest {
  val Watermark = "1 hour"
  val TickUs = 100000L // paced phases publish one segment every 100 ms
  val WarmRounds = 1 // untimed catch-up rounds before the paced phases (the first, cold batches)
  val TimedRounds = 6 // catch-up rounds after the paced phases
  val SetupRepeats = 3
  val Backlog = 500 // rows per catch-up round
  val PreloadFactor = 10 // pre-loaded store rows per row the timed phases deliver

  private val schema = MessageTypeParser.parseMessageType("message wire { optional binary value; }")

  def writeSegment(dir: String, s: Segment): Unit = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(Paths.get(dir, s.name))).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try s.msgs.foreach(m => w.write(g.newGroup().append("value", Binary.fromConstantByteArray(m.bytes))))
    finally w.close()
  }

  /** The latest message per (layer, feature_id): what the store must hold. */
  def expected(msgs: Iterator[Msg]): Map[(String, String), Msg] = {
    val m = mutable.HashMap.empty[(String, String), Msg]
    msgs.filter(_.routed).foreach { x =>
      m.get((x.layer, x.fid)) match {
        case Some(old) if !newer(x, old) =>
        case _ => m((x.layer, x.fid)) = x
      }
    }
    m.toMap
  }
  private def newer(a: Msg, b: Msg): Boolean =
    a.tsUs > b.tsUs || (a.tsUs == b.tsUs &&
      (a.ver > b.ver || (a.ver == b.ver && a.source > b.source)))

  /** The store column type each generated prop key must get: the type
    * `evolveColumns` infers from its values (digits, decimals, words).
    */
  val PropTypes: Map[String, DataType] =
    Map("name" -> StringType, "height" -> LongType, "ratio" -> DoubleType, "color" -> StringType)

  private def hex(b: Array[Byte]): String =
    if (b == null) null else java.util.HexFormat.of().formatHex(b)

  /** A stored row as compared: version fields, geometry, non-null props. */
  type StoredRow = (Long, Int, String, String, Map[String, Any])

  private def rowOf(m: Msg): StoredRow =
    (m.tsUs, m.ver, m.source, hex(m.wkb), m.props.map { case (k, v) =>
      k -> (PropTypes(k) match {
        case LongType => v.toLong
        case DoubleType => v.toDouble
        case _ => v
      })
    })

  /** Mismatches between the store and the expected latest messages: every
    * key's full row (version fields, WKB geometry and every prop column,
    * absent props null) and the prop columns' types.
    */
  def checkStore(spark: SparkSession, store: String,
      exp: Map[(String, String), Msg]): (Int, Seq[String]) = {
    val df = spark.read.option("mergeSchema", "true").parquet(store)
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    val propCols = types.keys.filter(_.startsWith("prop_")).map(_.stripPrefix("prop_")).toSeq.sorted
    val badTypes = (propCols ++ PropTypes.keys).distinct.sorted
      .filter(k => !types.get(s"prop_$k").contains(PropTypes.getOrElse(k, null)))
      .map(k => s"prop_$k has type ${types.get(s"prop_$k")}, expected ${PropTypes.get(k)}")
    val got = df.select((Seq(col("layer").cast("string"), col("feature_id"),
        unix_micros(col("event_ts")), col("fmt_version"), col("source"), col("geom_wkb")) ++
        propCols.map(k => col(s"prop_$k"))): _*)
      .collect().map { r =>
        (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getInt(3), r.getString(4),
          hex(r.getAs[Array[Byte]](5)),
          propCols.indices.collect { case i if !r.isNullAt(6 + i) => propCols(i) -> r.get(6 + i) }
            .toMap): StoredRow)
      }
    val gotMap = got.toMap
    val dupKeys = got.length - gotMap.size
    val bad = exp.keys.filter(k => !gotMap.get(k).contains(rowOf(exp(k)))).toSeq ++
      gotMap.keys.filterNot(exp.contains).toSeq
    val n = bad.size + dupKeys + badTypes.size
    (n, bad.take(5).map(k => s"$k expected ${exp.get(k).map(rowOf)} got ${gotMap.get(k)}") ++
      badTypes ++ (if (dupKeys > 0) Seq(s"$dupKeys duplicate keys in the store") else Nil))
  }

  def preloadStore(spark: SparkSession, store: String, msgs: IndexedSeq[Msg], cpus: Int): Unit = {
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(msgs.map(m => Row(m.bytes)), cpus),
      StructType(Seq(StructField("value", BinaryType))))
    FeaturePipeline.upsertBatch(FeaturePipeline.decode(wire), store)
  }

  /** Counts input rows of finished batches; keeps every progress report. */
  final class Progress extends StreamingQueryListener {
    val rows = new AtomicLong()
    val reports = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      reports.add(e.progress)
      rows.addAndGet(e.progress.numInputRows)
    }
  }

  /** The traced composition: the same public stages `runToStore` composes,
    * with `upsertBatch` and `layerFileStats` timed in its own foreachBatch.
    */
  def tracedStream(spark: SparkSession, t: Tracer, tracing: AtomicBoolean, transport: String,
      store: String, ckpt: String, routed: Seq[String],
      fileStats: java.util.Map[Long, Seq[(String, Long, Long)]]): StreamingQuery =
    FeaturePipeline.withEffectivelyOnce(
      FeaturePipeline.route(FeaturePipeline.decode(new FileTransport(transport).read(spark)), routed),
      Watermark)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (tracing.get) {
          t.span("sink", s"batch$id")(FeaturePipeline.upsertBatch(batch, store))
          fileStats.put(id, t.span("sink.stats", s"batch$id")(FeaturePipeline.layerFileStats(spark, store)))
        } else FeaturePipeline.upsertBatch(batch, store)
        ()
      }
      .start()

  /** segment file name -> id of the query batch that read it. The file
    * source's metadata log gives each file its source offset (a counter of
    * its own: batches that carry no data, such as the watermark-advancing
    * ones, do not bump it); each batch's progress report gives the source
    * offset range it read.
    */
  def batchOfFile(ckpt: String,
      reports: Iterable[org.apache.spark.sql.streaming.StreamingQueryProgress]): Map[String, Long] = {
    val dir = new java.io.File(ckpt, "sources/0")
    val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    val LogOffset = """"logOffset":(\d+)""".r.unanchored
    def offset(json: String): Long = Option(json).collect { case LogOffset(n) => n.toLong }.getOrElse(-1L)
    val ranges = reports.filter(_.numInputRows > 0)
      .map(p => (offset(p.sources.head.startOffset), offset(p.sources.head.endOffset), p.batchId))
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
      .collect { case Entry(p, o) => p.substring(p.lastIndexOf('/') + 1) -> o.toLong }
      .flatMap { case (name, o) =>
        ranges.collectFirst { case (lo, hi, b) if lo < o && o <= hi => name -> b } }
      .toMap
  }

  /** batch id -> end of its trigger (the commit), on the JVM's clock: the
    * trigger start the progress report carries plus its duration.
    */
  def commitMicros(reports: Iterable[org.apache.spark.sql.streaming.StreamingQueryProgress])
      : Map[Long, Long] = reports.filter(_.numInputRows > 0).map { p =>
    val start = java.time.Instant.parse(p.timestamp)
    p.batchId -> (start.getEpochSecond * 1000000L + start.getNano / 1000 +
      p.durationMs.get("triggerExecution").longValue * 1000L)
  }.toMap

  def epochMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def run(c: IngestConf): Map[String, Any] = {
    val marks = ArrayBuffer.empty[(String, Double)] // wall clock at each phase's end
    val runStart = System.nanoTime()
    def mark(phase: String): Unit = marks += phase -> Main.secsSince(runStart)
    val tl = c.seconds * 0.3
    val th = c.seconds * 0.3
    val nLow = math.max(1, (tl * 1e6 / TickUs).toInt)
    val nHigh = math.max(1, (th * 1e6 / TickUs).toInt)
    val perLow = math.max(1, (c.low * TickUs / 1e6).round.toInt)
    val perHigh = math.max(1, (c.high * TickUs / 1e6).round.toInt)
    // rows the timed phases deliver
    val delivered = nHigh * perHigh + nLow * perLow + TimedRounds * Backlog
    // features per routed layer (nine of them), so the pre-load holds the
    // factor times the delivered rows
    val gen = new FeatureGen(c.seed, math.max(100, PreloadFactor * delivered / 9))

    // --- inputs: the pre-load and every segment, staged as parquet files
    val (inputs, genS) = Main.time {
      val pre = gen.preload()
      var tick = 0L // due times, in publication order
      def segs(prefix: String, k: Int, n: Int): IndexedSeq[Segment] = (0 until k).map { i =>
        val s = gen.segment(f"seg-$prefix$i%05d.parquet", tick * TickUs, n)
        tick += 1
        s
      }
      // a catch-up backlog of ten segments, ten seconds of event time after
      // what came before it
      def backlog(r: String): IndexedSeq[Segment] = { tick += 100; segs(s"c$r-", 10, Backlog / 10) }
      val warmRounds = (0 until WarmRounds).map(r => backlog(s"w$r"))
      val low = segs("l", nLow, perLow)
      gen.color = true
      val high = segs("h", nHigh, perHigh)
      val timedRounds = (0 until TimedRounds).map(r => backlog(f"$r%02d"))
      (pre, warmRounds, low, high, timedRounds)
    }
    val (pre, warmRounds, lowSegs, highSegs, timedRounds) = inputs
    val rounds = warmRounds ++ timedRounds
    val staging = Main.freshDir(s"${c.work}/staging")
    (lowSegs ++ highSegs ++ rounds.flatten).foreach(writeSegment(staging, _))
    mark("inputs")

    // --- set-up, repeated: session start, store pre-load, stream start
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var query: StreamingQuery = null
    var home = ""
    val progress = new Progress
    val tracing = new AtomicBoolean(true)
    val fileStats = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(String, Long, Long)]]()
    var tracer: Option[Tracer] = None
    for (i <- 0 until SetupRepeats) {
      if (query != null) { query.stop(); spark.stop() }
      home = Main.freshDir(s"${c.work}/run$i")
      System.setProperty("java.io.tmpdir", Main.freshDir(s"$home/tmp"))
      Main.freshDir(s"$home/transport")
      val (_, secs) = Main.time {
        spark = Main.session(c.cpus, home)
        preloadStore(spark, s"$home/store", pre, c.cpus)
        if (i == SetupRepeats - 1) {
          spark.streams.addListener(progress)
          tracer = if (c.trace) Some(new Tracer(spark)) else None
          tracer.foreach(_.start())
        }
        query = tracer match {
          case Some(t) => tracedStream(spark, t, tracing, s"$home/transport", s"$home/store",
            s"$home/ckpt", gen.routed, fileStats)
          case None => FeaturePipeline.runToStore(spark, new FileTransport(s"$home/transport"),
            gen.routed, s"$home/store", s"$home/ckpt", Watermark)
        }
      }
      setups += secs
    }
    mark("set-up")
    val transport = s"$home/transport"
    val store = s"$home/store"
    val ckpt = s"$home/ckpt"

    // --- publisher: one thread, open loop, atomic rename at each due time
    val published = new AtomicLong() // source rows published so far
    val publishedAt = new java.util.concurrent.ConcurrentHashMap[String, Long]() // µs epoch
    val late = ArrayBuffer.empty[Double]
    def publish(segs: Seq[Segment], originUs: Long, firstDueUs: Long, paced: Boolean): Unit = {
      val originNs = System.nanoTime()
      segs.foreach { s =>
        if (paced) {
          val dueNs = originNs + (s.dueUs - firstDueUs) * 1000L
          var now = System.nanoTime()
          while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
          late.synchronized { late += (now - dueNs) / 1e9 }
        }
        Files.move(Paths.get(staging, s.name), Paths.get(transport, s.name),
          StandardCopyOption.ATOMIC_MOVE)
        publishedAt.put(s.name, epochMicros())
        published.addAndGet(s.msgs.size)
      }
    }
    /** Waits (up to 5 s) until no trigger runs, so nothing is in flight. */
    def awaitIdle(): Unit = {
      val deadline = System.nanoTime() + 5000000000L
      var quiet = 0
      while (quiet < 2 && System.nanoTime() < deadline) {
        quiet = if (query.status.isTriggerActive) 0 else quiet + 1
        Thread.sleep(50)
      }
    }
    def awaitConsumed(timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (progress.rows.get() < published.get() && System.nanoTime() < deadline &&
          query.exception.isEmpty) Thread.sleep(5)
      progress.rows.get() >= published.get()
    }
    val phaseOrigin = mutable.Map.empty[String, Long]
    def paced(phase: String, segs: Seq[Segment]): Unit = {
      val origin = epochMicros()
      phaseOrigin(phase) = origin - segs.head.dueUs
      val th = new Thread(() => publish(segs, origin, segs.head.dueUs, paced = true), s"publisher-$phase")
      th.start()
      th.join()
    }

    val failures = ArrayBuffer.empty[String]
    var failed = 0
    var attempted = 0
    var heapMb = Double.NaN
    val roundS = ArrayBuffer.empty[(Boolean, Double)] // (traced, secs)
    val drainS = ArrayBuffer.empty[(Boolean, Double)] // (traced, rows/s)
    val reads = ArrayBuffer.empty[Double]
    val roundParts = ArrayBuffer.empty[Seq[Double]] // drain, wait for idle, read

    try {
      /** One catch-up round: the backlog published at once, consumed, the
        * stream idle again, then one `storeStats` read over the quiescent
        * store, whose per-layer counts must agree with the generator.
        */
      def catchUp(segs: Seq[Segment], name: String, timed: Boolean, i: Int): Unit = {
        // the traced run alternates untraced and traced timed rounds
        val traced = tracer.isDefined && (!timed || i % 2 == 1)
        tracing.set(tracer.isEmpty || traced)
        awaitIdle() // every round starts from an idle stream
        val t0 = System.nanoTime()
        publish(segs, epochMicros(), 0, paced = false)
        if (!awaitConsumed(60)) failures += s"catch-up round $name not consumed within 60 s"
        val drain = Main.secsSince(t0)
        awaitIdle() // the read runs over a quiescent store
        val idleAt = Main.secsSince(t0)
        attempted += 1
        val op = s"read$name"
        val (rows, readSecs) = Main.time {
          try {
            val body = () => FeaturePipeline.storeStats(spark, store).collect()
            Some(tracer.filter(_ => traced).map(_.span("store.read", op)(body())).getOrElse(body()))
          } catch { case e: Throwable => failures += s"storeStats: $e"; None }
        }
        if (timed) {
          roundS += ((traced, Main.secsSince(t0)))
          drainS += ((traced, segs.map(_.msgs.size).sum / drain))
          reads += readSecs
          roundParts += Seq(drain, idleAt - drain, readSecs)
        }
        val sent = (rounds.flatten ++ lowSegs ++ highSegs)
          .filter(s => publishedAt.containsKey(s.name))
        val exp = expected(pre.iterator ++ sent.iterator.flatMap(_.msgs))
        val expRows = exp.keys.groupBy(_._1).map { case (l, ks) => l -> ks.size.toLong }
        val ok = rows.exists(rs => rs.map(r => r.getString(0) -> r.getLong(1)).toMap == expRows)
        if (!ok) { failed += 1; failures += s"storeStats round $name disagrees with the generator" }
      }

      warmRounds.zipWithIndex.foreach { case (segs, i) => catchUp(segs, s"w$i", timed = false, i) }
      mark("warm-up")
      paced("low", lowSegs)
      paced("high", highSegs)
      if (!awaitConsumed(60)) failures += "paced phases not consumed within 60 s"
      awaitIdle()
      mark("paced")
      timedRounds.zipWithIndex.foreach { case (segs, i) => catchUp(segs, f"$i%02d", timed = true, i) }
      awaitIdle()
      mark("timed rounds")
      // sampled once, at the end: a full collection before a timed phase
      // would slow the phase that follows it
      heapMb = Main.liveHeapMb()
      tracing.set(true)
    } catch {
      case e: Throwable => failed += 1; failures += s"ingest: $e"
    }
    Option(query).foreach(_.stop())
    query.exception.foreach(e => { failed += 1; failures += s"stream: ${e.getMessage.take(300)}" })

    // --- correctness: the final store against the generator's records
    val allDelivered = (rounds.flatten ++ lowSegs ++ highSegs).filter(s => publishedAt.containsKey(s.name))
    val exp = expected(pre.iterator ++ allDelivered.iterator.flatMap(_.msgs))
    val (bad, badEx) = try checkStore(spark, store, exp)
      catch { case e: Throwable => (exp.size, Seq(s"store unreadable: $e")) }
    attempted += exp.size
    failed += bad
    mark("store check")
    failures ++= badEx

    // --- latency: event due time -> commit of the batch that carried it
    val fileBatch = batchOfFile(ckpt, progress.reports.asScala)
    val commitUs = commitMicros(progress.reports.asScala)
    def latencies(segs: Seq[Segment], phase: String): Seq[Double] = segs.flatMap { s =>
      fileBatch.get(s.name).flatMap(commitUs.get).map { at =>
        val lat = (at - (phaseOrigin(phase) + s.dueUs)) / 1e6
        if (lat < 0) { failed += 1; failures += s"${s.name} committed before it was due" }
        Seq.fill(s.committedRows)(lat)
      }.getOrElse(Nil)
    }
    val lowLat = latencies(lowSegs, "low")
    val highLat = latencies(highSegs, "high")
    val untracedRounds = roundS.filterNot(_._1).map(_._2)
    // one gated latency per paced regime: the low-rate median (per-batch
    // floor) and the high-rate 90th percentile (batches carrying more rows)
    val endToEnd = Map(
      "pass_s" -> Stats.median(untracedRounds.toSeq),
      "light_op_s" -> (if (lowLat.isEmpty) Double.NaN else Stats.quantile(lowLat, 0.5)),
      "heavy_op_s" -> (if (highLat.isEmpty) Double.NaN else Stats.quantile(highLat, 0.9)),
      "setup_s" -> Stats.median(setups.toSeq),
      "heap_live_mb" -> heapMb)
    val detail = Map(
      "latency_low_s.p50" -> (if (lowLat.isEmpty) Double.NaN else Stats.quantile(lowLat, 0.5)),
      "latency_low_s.p99" -> (if (lowLat.isEmpty) Double.NaN else Stats.quantile(lowLat, 0.99)),
      "latency_high_s.p50" -> (if (highLat.isEmpty) Double.NaN else Stats.quantile(highLat, 0.5)),
      "latency_high_s.p90" -> (if (highLat.isEmpty) Double.NaN else Stats.quantile(highLat, 0.9)),
      "latency_high_s.p99" -> (if (highLat.isEmpty) Double.NaN else Stats.quantile(highLat, 0.99)),
      "latency_samples_low" -> lowLat.size, "latency_samples_high" -> highLat.size,
      "catchup_rows_per_s" -> Stats.median(drainS.filterNot(_._1).map(_._2).toSeq),
      "store_read_s.p50" -> Stats.median(reads.toSeq),
      "gen_s" -> genS, "store_rows" -> exp.size, "delivered_rows" -> delivered,
      "setup_samples_s" -> setups.toSeq, "rounds_s" -> roundS.map(_._2).toSeq,
      "round_parts_s" -> roundParts.toSeq,
      "phase_end_s" -> marks.toSeq,
      "round_data_batches" -> rounds.map(_.flatMap(s => fileBatch.get(s.name)).distinct.size))

    val layers = tracer.map { t =>
      t.drain()
      t.stop()
      IngestLayers(t, progress.reports.asScala.toSeq, c, fileStats.asScala.toMap, fileBatch,
        lowSegs ++ highSegs, rounds, roundS.toSeq, reads.toSeq, late.toSeq,
        publishedAt.asScala.toMap, commitUs, gen.routed.toSet)
    }
    spark.stop()
    Map("attempted" -> math.max(1, attempted), "failed" -> failed, "failures" -> failures.toSeq,
      "metrics" -> (if (c.trace) layers.get else endToEnd), "end_to_end" -> endToEnd,
      "detail" -> detail)
  }

  /** The traced composition must leave exactly the store `runToStore`
    * leaves: both consume the same small seeded stream onto the same
    * pre-loaded store, then the two stores are compared row by row.
    */
  def selftest(work: String, cpus: Int, seed: Long): Map[String, Any] = {
    System.setProperty("java.io.tmpdir", Main.freshDir(s"$work/tmp"))
    val spark = Main.session(cpus, work)
    val gen = new FeatureGen(seed, 200)
    val pre = gen.preload()
    val segs = (0 until 4).map { i =>
      if (i == 2) gen.color = true
      gen.segment(f"seg-$i%03d.parquet", i * TickUs, 400)
    }
    val t = new Tracer(spark)
    t.start()
    def consume(tag: String, traced: Boolean): String = {
      val home = Main.freshDir(s"$work/$tag")
      val transport = Main.freshDir(s"$home/transport")
      val staging = Main.freshDir(s"$home/staging")
      preloadStore(spark, s"$home/store", pre, cpus)
      val q =
        if (traced) tracedStream(spark, t, new AtomicBoolean(true), transport, s"$home/store",
          s"$home/ckpt", gen.routed, new java.util.concurrent.ConcurrentHashMap())
        else FeaturePipeline.runToStore(spark, new FileTransport(transport), gen.routed,
          s"$home/store", s"$home/ckpt", Watermark)
      // one segment per batch, so the merge and the schema change run across batches
      segs.foreach { s =>
        writeSegment(staging, s)
        Files.move(Paths.get(staging, s.name), Paths.get(transport, s.name),
          StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      }
      q.stop()
      s"$home/store"
    }
    def rows(store: String): Seq[String] =
      spark.read.option("mergeSchema", "true").parquet(store).collect()
        .map(r => r.toSeq.map {
          case b: Array[Byte] => b.map("%02x".format(_)).mkString
          case x => String.valueOf(x)
        }.mkString("|")).toSeq.sorted
    val plain = rows(consume("plain", traced = false))
    val traced = rows(consume("traced", traced = true))
    val exp = expected(pre.iterator ++ segs.iterator.flatMap(_.msgs))
    val (bad, ex) = checkStore(spark, s"$work/traced/store", exp)
    t.stop()
    spark.stop()
    val same = plain == traced
    Map("attempted" -> 2, "failed" -> ((if (same) 0 else 1) + (if (bad == 0) 0 else 1)),
      "failures" -> ((if (same) Nil else Seq("traced store differs from runToStore store")) ++ ex),
      "metrics" -> Map("rows" -> plain.size.toDouble))
  }
}
