package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the engine's star-schema inputs.
  *
  * The reference loads CSV/Excel eagerly into pandas
  * (`/root/reference/src/data/loader.py:56-99,102-178`); here every table is
  * a lazy parquet scan so Catalyst can push filters/column pruning into the
  * file source — at 100 TB the scan must never read columns a query does not
  * use.
  */
object Tables {
  import org.apache.spark.sql.types._

  /** Thrown when a testdata parquet's decoded type cannot be adapted to the
    * contract type without risking value loss. One loud, named failure beats
    * 73 silently-wrong queries (the round-6 `events.ts` incident).
    */
  final class SchemaDriftException(table: String, column: String,
      expected: String, actual: String)
    extends RuntimeException(
      s"graft schema contract violation: table=$table column=$column " +
      s"expected=$expected actual=$actual — no value-preserving adaptation " +
      s"known; fix the testdata or extend Tables.conform")

  /** Expected LOGICAL type of every contract column, per table — what all
    * downstream operators assume after [[load]]. These pin the types the
    * current testdata decodes to (events.ts post-[[normalizeEventTs]]), so
    * on undrifted data [[conform]] is an exact no-op. Physical drift that is
    * value-preserving (integral width changes, decimal→double, the ts
    * variants of [[normalizeEventTs]]) is adapted silently; anything else
    * raises [[SchemaDriftException]] naming table/column/types.
    */
  val contract: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  )

  /** Validate `df` against [[contract]]`(table)` and adapt every drifted
    * column whose change is value-preserving:
    *
    *   - integral ↔ integral: cast to the contract type (key/flag domains
    *     are far below 2³¹, so narrowing is value-preserving here);
    *   - decimal / float → double: widen-cast;
    *   - timestamp drift: `BIGINT` nanos (decoded under `nanosAsLong`) →
    *     floor-divide to µs; TIMESTAMP ↔ TIMESTAMP_NTZ: cast, which is
    *     wall-clock-preserving under the UTC session TZ every entrypoint
    *     sets — the [[normalizeEventTs]] pattern generalized;
    *   - array element drift: conform element type by the same rules.
    *
    * A missing contract column or a non-adaptable type raises
    * [[SchemaDriftException]]. Extra (non-contract) columns pass through.
    * Column order and nullability are untouched; `withColumn` adapts in
    * place, so the scan's pushdown/pruning behavior is unchanged.
    */
  def conform(table: String, df: DataFrame): DataFrame =
    contract.get(table).fold(df) { cols =>
      cols.foldLeft(df) { case (acc, (name, expected)) =>
        acc.schema.find(_.name == name) match {
          case None =>
            throw new SchemaDriftException(table, name, expected.sql, "MISSING")
          case Some(f) if f.dataType == expected => acc
          case Some(f) =>
            acc.withColumn(name,
              adapt(table, name, f.dataType, expected,
                org.apache.spark.sql.functions.col(name)))
        }
      }
    }

  private def adapt(table: String, colName: String, actual: DataType,
      expected: DataType, c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    def fail() = throw new SchemaDriftException(table, colName, expected.sql, actual.sql)
    def isIntegral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // Integer `div` (floor for the non-negative epoch domain), not Column./
    // which is true division — exactly the decode normalizeEventTs uses.
    def nsToMicros = timestamp_micros(expr(s"`$colName` div 1000"))
    (actual, expected) match {
      // nanos decoded as BIGINT under nanosAsLong → µs-precision timestamp;
      // floor-divide exactly as DuckDB/pyarrow narrow ns → µs.
      case (LongType, TimestampType) => nsToMicros
      case (LongType, _: TimestampNTZType) => nsToMicros.cast(expected)
      // NTZ ↔ TZ casts are wall-clock-preserving under the UTC session TZ.
      case (_: TimestampNTZType, TimestampType) => c.cast(expected)
      case (TimestampType, _: TimestampNTZType) => c.cast(expected)
      case (a, e) if isIntegral(a) && isIntegral(e) => c.cast(e)
      case (a, DoubleType) if a.isInstanceOf[DecimalType] || a == FloatType =>
        c.cast(expected)
      case (ArrayType(ae, _), ArrayType(ee, _))
          if (isIntegral(ae) || ae == FloatType || ae == DoubleType || ae.isInstanceOf[DecimalType]) &&
             (isIntegral(ee) || ee == FloatType || ee == DoubleType) => c.cast(expected)
      case _ => fail()
    }
  }

  /** Table `name` in contract shape: the catalog table when catalog mode
    * serves it, otherwise [[loadParquet]], whose schema memo makes a repeat
    * load of an unchanged file launch no Spark job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Catalog mode (SPARK_GRAFT_CATALOG set + table materialized): serve
    // the metastore-backed managed table in contract shape — the whole
    // query surface then runs through the catalog without any query
    // changing. Types/values are identical (materialize writes through
    // this very loader), so conform is a no-op shape check.
    graft.sources.CatalogTables.fromEnv(spark, name) match {
      case Some(df) => conform(name, df)
      case None => loadParquet(spark, dir, name)
    }
  }

  /** Direct parquet load, bypassing the SPARK_GRAFT_CATALOG hook — the
    * rebuild path: `CatalogTables.materialize(overwrite = true)` must read
    * the SOURCE parquet, not the very catalog table it is about to
    * overwrite (Spark forbids overwriting a table that is also read).
    *
    * Reads through [[readParquet]], so only the first load of an unchanged
    * file pays schema inference; [[conform]] still runs on every load, so a
    * drifted file still fails loudly. ns-typed parquet decodes as BIGINT
    * (then conformed) because every session is built with
    * `spark.sql.legacy.parquet.nanosAsLong` (`EngineConf.common`).
    */
  def loadParquet(spark: SparkSession, dir: String, name: String): DataFrame =
    conform(name, readParquet(spark, s"$dir/$name.parquet"))

  /** Session parquet confs whose values change what inference returns. */
  private val inferenceConfs = {
    import org.apache.spark.sql.internal.SQLConf._
    Seq(LEGACY_PARQUET_NANOS_AS_LONG, PARQUET_BINARY_AS_STRING,
      PARQUET_INT96_AS_TIMESTAMP, PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      PARQUET_SCHEMA_MERGING_ENABLED)
  }

  /** What an inferred schema depends on: the qualified path (a glob, as
    * `spark.read.parquet` takes it), every file it matches or holds as
    * (path, length, mtime), and the values of [[inferenceConfs]].
    */
  private final case class SchemaKey(path: String,
      files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private def schemaKey(spark: SparkSession, path: String): SchemaKey = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    def under(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else {
        val it = fs.listFiles(st.getPath, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      }
    // A missing path matches nothing; the read then fails as
    // `spark.read.parquet` does, and nothing is memoized.
    val files = Option(fs.globStatus(root)).toSeq.flatten.flatMap(under)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    SchemaKey(root.toString, files.sorted,
      inferenceConfs.map(e => spark.conf.getOption(e.key)))
  }

  /** Inferred parquet schemas by [[SchemaKey]]. Metadata only, never a
    * `DataFrame`: a cached frame would reuse attribute ids and break
    * self-joins, and the bench's `clearCache` must still drop all data.
    * A rewritten or added file changes the listing, so it re-infers.
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  /** `spark.read.parquet(path)`, launching its schema-inference job only
    * when [[SchemaKey]] is new; otherwise the scan is read with the
    * memoized schema. No [[conform]]: the raw decoded shape, for readers
    * (the streaming sources) that prepare the frame themselves. Use it for
    * input tables only; a path rewritten on every run only adds entries.
    * Get-then-put, not `computeIfAbsent`, which would hold a map lock while
    * the job runs; two racing first reads both infer the same schema.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = schemaKey(spark, path)
    Option(schemas.get(key)).fold {
      val inferred = spark.read.parquet(path)
      schemas.put(key, inferred.schema)
      inferred
    }(spark.read.schema(_).parquet(path))
  }

  /** Normalize the `ts` column to session-TZ TIMESTAMP regardless of the
    * physical type the parquet carried:
    *
    *   - `BIGINT` (nanos read under `nanosAsLong`) → floor-divide to µs,
    *     exactly what DuckDB/pyarrow do when narrowing ns → µs;
    *   - `TIMESTAMP_NTZ` (µs-typed parquet) → cast to TIMESTAMP —
    *     value-preserving under the UTC session TZ every entrypoint sets,
    *     and DuckDB's `epoch_us` reads the same wall-clock, so oracle
    *     parity holds;
    *   - already TIMESTAMP (or anything else) → pass through.
    *
    * One shared decode site: a testdata-format shift must never again be a
    * 12-file fix.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(_: TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Every table of the star schema, in load order. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a session temp view under its own name so
    * plain SQL text (`spark.sql("... FROM lineitem ...")`) runs against
    * the full schema — the "Spark SQL over registered tables" surface.
    * Idempotent; views stay lazy parquet scans, so SQL queries get the
    * same pushdown/pruning as the DataFrame API.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
