package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the millisecond times in Spark's listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Row count plus an overflow-free hash over every column. Each row hashes
  * to xxhash64 of its columns; the fold is the sum of those hashes modulo
  * 2^31-1 (a long sum of values below 2^31 cannot overflow for fewer than
  * 2^32 rows) and their bitwise xor. Map-typed columns, which Spark cannot
  * hash, enter through their JSON text.
  */
object Fingerprint {
  private val Modulus = 2147483647L

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Seq[Long] = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(Modulus))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** The benchmark's JVM side: drives the engine from outside through its
  * public entry points (`Tables.load`, `SparkEntry.queries`) and writes one
  * raw JSON record of everything it timed. `perfbench/run.py` builds and
  * launches it, then turns the record into metrics.
  *
  * A run: set up (session + all 10 tables warmed), one cold pass, then a
  * fixed number of steady passes. A pass runs the query list once,
  * sequentially; steady passes in an order drawn from (seed, pass). Every
  * operation is timed from the call of the query's function to the end of a
  * `noop` write, which consumes every column of the query's own plan.
  */
object Harness {
  private val Tables = graft.Tables.names

  final case class Conf(mode: String, data: String, out: String, queries: Seq[String],
      cores: Int, seed: Long, steady: Int, trace: Boolean, dump: Option[String])

  private def parse(argv: Array[String]): Conf = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Conf(kv.getOrElse("mode", "bench"), get("data"), get("out"),
      get("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq, get("cores").toInt,
      kv.getOrElse("seed", "0").toLong, kv.getOrElse("steady", "2").toInt,
      kv.getOrElse("trace", "0") == "1", kv.get("dump"))
  }

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    val record = conf.mode match {
      case "bench" => bench(conf)
      case "pin" => pin(conf)
      case m => sys.error(s"unknown mode $m")
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(conf.out).toFile, record)
    // Spark leaves non-daemon threads behind; the record is written.
    sys.exit(0)
  }

  private def session(conf: Conf): SparkSession = {
    val tmp = sys.props("java.io.tmpdir")
    graft.EngineConf.common(SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse"))
      .getOrCreate()
  }

  /** Build the session and warm all 10 tables. Returns the session and the
    * setup record; a table whose warm-up throws is a setup failure.
    */
  private def setup(conf: Conf): (SparkSession, Map[String, Any]) = {
    val t0 = Clock.now()
    val spark = session(conf)
    spark.sparkContext.setLogLevel("WARN")
    val t1 = Clock.now()
    // The warm-up folds every column of every table with the overflow-free
    // fingerprint: it reads every data page, which a bare count() (answered
    // from parquet footers) would not.
    val failed = Tables.flatMap { t =>
      try { Fingerprint.of(graft.Tables.load(spark, conf.data, t)); None }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] warm-up of $t failed: ${e.getMessage}")
        Some(t)
      }
    }
    val t2 = Clock.now()
    (spark, Map("call_ms" -> t0, "session_ms" -> (t1 - t0), "warm_ms" -> (t2 - t1),
      "tables" -> Tables.size, "failed_tables" -> failed))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Layer counters read around each operation: (codegen compiles, compile
    * ms, source bytes, files discovered, GC ms).
    */
  private def counters(): Seq[Long] = {
    val (n, ms, bytes) = Codegen.totals()
    Seq(n, ms, bytes, HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount, gcMs())
  }

  /** One operation: build, timed noop write, then (outside the timed
    * region) the output fingerprint when `check` is set. The job group
    * names the operation, so jobs that run under a stale group show up.
    */
  private def runOp(spark: SparkSession, conf: Conf, pass: Int, seq: Int, query: String,
      check: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    val id = s"p$pass.$seq.$query"
    sc.setJobGroup(id, query, interruptOnCancel = false)
    val fn = graft.SparkEntry.queries(query)
    val c0 = counters()
    val t0 = Clock.now()
    var t1, t2 = -1.0
    var c1 = c0
    var error: Option[String] = None
    var fp: Option[Seq[Long]] = None
    try {
      val df = fn(spark, conf.data)
      t1 = Clock.now()
      df.write.format("noop").mode("overwrite").save()
      t2 = Clock.now()
      c1 = counters()
      if (check) {
        sc.setJobGroup("fp:" + id, query, interruptOnCancel = false)
        fp = Some(Fingerprint.of(df))
      }
    } catch { case NonFatal(e) =>
      if (t2 < 0) { t2 = Clock.now(); c1 = counters() }
      error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      System.err.println(s"[perfbench] $id failed: ${error.get}")
    } finally {
      sc.clearJobGroup()
    }
    Map("id" -> id, "pass" -> pass, "seq" -> seq, "query" -> query,
      "t0" -> t0, "t1" -> t1, "t2" -> t2, "ok" -> error.isEmpty, "error" -> error,
      "fingerprint" -> fp, "counters" -> c1.zip(c0).map { case (a, b) => a - b })
  }

  private def runPass(spark: SparkSession, conf: Conf, pass: Int, kind: String,
      check: Boolean): Map[String, Any] = {
    // Operators that persist their inputs would otherwise serve this pass
    // from the previous pass's cache.
    if (pass > 0) spark.catalog.clearCache()
    // The cold pass keeps the listed order: whichever query runs first pays
    // most of the JVM's warm-up, so a seeded cold order would make the
    // cold-pass total depend on the seed. Steady passes are shuffled.
    val order =
      if (pass == 0) conf.queries
      else new scala.util.Random(conf.seed * 1000003L + pass).shuffle(conf.queries)
    val start = Clock.now()
    val ops = order.zipWithIndex.map { case (q, i) =>
      runOp(spark, conf, pass, i, q, check)
    }
    val end = Clock.now()
    Map("pass" -> pass, "kind" -> kind, "checked" -> check, "start_ms" -> start,
      "end_ms" -> end, "ops" -> ops)
  }

  /** Warm probe of `Tables.load` per table: median of 3 calls, in ms. */
  private def probeLoads(spark: SparkSession, dir: String): Map[String, Double] =
    Tables.map { t =>
      val ts = (1 to 3).map { _ =>
        val t0 = Clock.now(); graft.Tables.load(spark, dir, t); Clock.now() - t0
      }.sorted
      t -> ts(1)
    }.toMap

  private def bench(conf: Conf): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Codegen.install()
    val unknown = conf.queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val (spark, setupRecord) = setup(conf)
    val rec = if (conf.trace) Some(new Recorder(spark)) else None
    rec.foreach(_.attach())
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    passes += runPass(spark, conf, 0, "cold", check = false)
    (1 to conf.steady).foreach { k =>
      passes += runPass(spark, conf, k, "steady", check = k == conf.steady)
    }
    rec.foreach(_.detach())
    val loads = if (conf.trace) probeLoads(spark, conf.data) else Map.empty[String, Double]
    val record = Map("queries" -> conf.queries, "cores" -> spark.sparkContext.defaultParallelism,
      "seed" -> conf.seed, "trace" -> conf.trace, "spark_version" -> spark.version,
      "jvm_start_ms" -> jvmStart, "setup" -> setupRecord, "passes" -> passes.toList,
      "table_load_ms" -> loads, "trace_records" -> rec.map(_.records).getOrElse(Map.empty),
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    record
  }

  /** Pin mode: fingerprint each query live and, when a Verify dump is
    * given, its dumped parquet result, so the two can be compared.
    */
  private def pin(conf: Conf): Map[String, Any] = {
    val (spark, _) = setup(conf)
    def fingerprint(df: => DataFrame): Map[String, Any] =
      try Map("fp" -> Fingerprint.of(df))
      catch { case NonFatal(e) => Map("error" -> String.valueOf(e.getMessage)) }
    val out = conf.queries.map { q =>
      q -> Map("live" -> fingerprint(graft.SparkEntry.queries(q)(spark, conf.data)),
        "dump" -> conf.dump.map(d => fingerprint(spark.read.parquet(s"$d/$q"))))
    }.toMap
    spark.stop()
    out
  }
}
