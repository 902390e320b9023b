package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, translate}

/** Benchmark driver for one JVM run. `perfbench/run.py` builds the
  * classpath, prepares inputs and calls one of the modes:
  *
  *   gen        --data DIR                 generate the input tables
  *   oracle-sql --out FILE               dump every query's DuckDB oracle SQL
  *   batch      --light a,b --heavy c ...  the queries workload
  *   ingest     --low R --high R ...       the ingest-upsert workload
  *   selftest                              traced composition == runToStore
  *
  * Every mode prints one JSON object as its last stdout line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    val args = argv.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def a(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val out: Map[String, Any] = mode match {
      case "gen" => Gen.tables(a("data"), a("cpus").toInt, a("work"))
      case "oracle-sql" =>
        Json.write(a("out"), graft.SparkEntry.oracleSql)
        Map("written" -> graft.SparkEntry.oracleSql.size)
      case "batch" => Batch.run(BatchConf(a("light").split(",").toSeq, a("heavy").split(",").toSeq,
        a("data"), a("work"), a("dump"), a("cpus").toInt, a("seed").toLong, a("seconds").toDouble,
        a("trace") == "1"))
      case "ingest" => Ingest.run(IngestConf(a("work"), a("cpus").toInt, a("seed").toLong,
        a("seconds").toDouble, a("trace") == "1", a("low").toInt, a("high").toInt))
      case "selftest" => Ingest.selftest(a("work"), a("cpus").toInt, a("seed").toLong)
      case other => throw new IllegalArgumentException(s"unknown mode '$other'")
    }
    println(Json.render(out))
    // Spark leaves non-daemon threads behind in some failure paths
    System.exit(0)
  }

  /** The one session recipe every workload runs on: local[cpus], shuffle
    * partitions = cpus, everything the engine writes kept under `work`.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap occupancy after a full collection, in MB. Collected twice: the
    * first collection lets Spark's context cleaner drop the blocks of
    * unreachable broadcasts and shuffles, the second frees what that released.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secsSince(t0))
  }

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def freshDir(path: String): String = {
    val f = new java.io.File(path)
    rmrf(f)
    f.mkdirs()
    f.getAbsolutePath
  }
}

/** Quantiles with linear interpolation between order statistics (the
  * numpy / `statistics.quantiles(method="inclusive")` convention).
  */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the result line (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case p: Product if p.productArity == 2 =>
      render(Seq(p.productElement(0), p.productElement(1)))
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v) + "\n")
}

/** Deterministic input tables at scale factor [[Sf]], generated once per
  * checkout by the engine's own `graft.ScaleGen` column generators (one
  * parquet file per table, so every scan is one task, as with the test
  * tables of TESTDATA.md).
  */
object Gen {
  val Sf = 0.02
  val names = Seq("region", "nation", "supplier", "part", "customer", "orders",
    "lineitem", "events", "documents", "embeddings")

  def tables(dataDir: String, cpus: Int, work: String): Map[String, Any] = {
    val spark = Main.session(cpus, work)
    def rows(perSf: Long): Long = math.max(1L, (perSf * Sf).toLong)
    val frames: Map[String, DataFrame] = Map(
      "region" -> graft.ScaleGen.region(spark),
      "nation" -> graft.ScaleGen.nation(spark),
      "supplier" -> graft.ScaleGen.supplier(spark, rows(10000)),
      "part" -> graft.ScaleGen.part(spark, rows(200000)),
      "customer" -> graft.ScaleGen.customer(spark, rows(150000)),
      "orders" -> graft.ScaleGen.orders(spark, rows(1500000), rows(150000)),
      "lineitem" -> graft.ScaleGen.lineitem(spark, rows(6000000)),
      "events" -> graft.ScaleGen.events(spark, rows(1000000)),
      // digits spelled as letters, so the vocabulary (tok0, tok1, ...) is
      // alphabetic: the BPE queries' oracle needs a corpus of [a-z]+ words
      "documents" -> graft.ScaleGen.documents(spark, rows(50000))
        .withColumn("text", translate(col("text"), "0123456789", "abcdefghij")),
      "embeddings" -> graft.ScaleGen.embeddings(spark, rows(20000)))
    val (_, secs) = Main.time {
      names.foreach { t =>
        frames(t).coalesce(1).write.mode("overwrite").parquet(s"$dataDir/$t.parquet")
      }
    }
    spark.stop()
    Map("generated" -> names, "sf" -> Sf, "secs" -> secs)
  }
}
