package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The parquet schema memo behind `Tables.load`: a repeat load of an
  * unchanged table launches no Spark job, while a rewritten or added file,
  * or a session conf that changes inference, re-infers. Every check counts
  * jobs or rows; none reads a clock.
  */
class TablesSchemaMemoSpec extends SparkSpec {

  /** Spark jobs `body` launches, read from the status tracker by job group.
    * The status store applies listener events in order, so once a sentinel
    * job submitted after `body` is visible, every job of `body` is too.
    */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"memo-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-end", "sentinel")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-end").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-end").nonEmpty,
      "sentinel job never reached the status store")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** `n` contract-shaped customer rows from `from`, `c_acctbal` as `acct`. */
  private def customers(from: Long, n: Long, acct: String = "double"): DataFrame =
    spark.range(from, from + n).select(
      col("id").as("c_custkey"), concat(lit("c"), col("id")).as("c_name"),
      (col("id") % 25).cast("int").as("c_nationkey"),
      (col("id") * 1.5).cast(acct).as("c_acctbal"),
      lit("SEG").as("c_mktsegment"))

  /** Write `df` as ONE parquet file at `target`: the single-file testdata
    * shape, replacing whatever file was there.
    */
  private def writeSingleFile(df: DataFrame, target: Path): Unit = {
    val stage = Files.createTempDirectory("memo-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.resolve("out").toString)
    val part = Files.list(stage.resolve("out")).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a repeat load of an unchanged table launches no job; the first infers") {
    val dir = Files.createTempDirectory("memo")
    writeSingleFile(customers(0, 40), dir.resolve("customer.parquet"))
    assert(jobsIn(Tables.load(spark, dir.toString, "customer")) >= 1)
    assert(jobsIn(Tables.load(spark, dir.toString, "customer")) == 0)
  }

  test("a rewritten file re-infers, so non-adaptable drift still fails loudly") {
    val dir = Files.createTempDirectory("memo")
    val file = dir.resolve("customer.parquet")
    writeSingleFile(customers(0, 40), file)
    assert(Tables.load(spark, dir.toString, "customer")
      .schema("c_acctbal").dataType.sql == "DOUBLE")
    writeSingleFile(customers(0, 40, acct = "string"), file)
    val e = intercept[Tables.SchemaDriftException](
      Tables.load(spark, dir.toString, "customer"))
    assert(e.getMessage.contains("column=c_acctbal"))
    assert(e.getMessage.contains("actual=STRING"))
  }

  test("a part file added to a directory-shaped table re-infers and is read") {
    val dir = Files.createTempDirectory("memo").toString
    customers(0, 30).coalesce(1).write.parquet(s"$dir/customer.parquet")
    assert(Tables.load(spark, dir, "customer").count() == 30)
    assert(jobsIn(Tables.load(spark, dir, "customer")) == 0)
    customers(30, 12).coalesce(1).write.mode("append")
      .parquet(s"$dir/customer.parquet")
    assert(jobsIn(Tables.load(spark, dir, "customer")) >= 1)
    val after = Tables.load(spark, dir, "customer")
    assert(after.count() == 42)
    assert(after.agg(max(col("c_custkey"))).head().getLong(0) == 41L)
  }

  test("two memoized loads of one table self-join with distinct attributes") {
    val dir = Files.createTempDirectory("memo").toString
    customers(0, 25).coalesce(1).write.parquet(s"$dir/customer.parquet")
    val a = Tables.load(spark, dir, "customer")
    val b = Tables.load(spark, dir, "customer")
    assert(a.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(b.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    // shared attributes would turn this into `k + 1 = k`: zero rows
    assert(a.join(b, a("c_custkey") + 1 === b("c_custkey")).count() == 24)
    assert(a.join(b, a("c_custkey") === b("c_custkey")).count() == 25)
  }

  test("memoized rows equal a plain spark.read.parquet plus conform") {
    val dir = Files.createTempDirectory("memo")
    val decimal = customers(0, 60, acct = "decimal(12,2)")
    writeSingleFile(decimal, dir.resolve("customer.parquet"))
    Tables.load(spark, dir.toString, "customer")
    val memoized = Tables.load(spark, dir.toString, "customer")
    val plain = Tables.conform("customer",
      spark.read.parquet(dir.resolve("customer.parquet").toString))
    assert(memoized.schema == plain.schema)
    assert(rows(memoized) == rows(plain))
    assert(memoized.schema("c_acctbal").dataType.sql == "DOUBLE")
  }

  test("a session whose inference confs differ infers its own schema") {
    val dir = Files.createTempDirectory("memo").toString
    customers(0, 10).coalesce(1).write.parquet(s"$dir/customer.parquet")
    Tables.load(spark, dir, "customer")
    assert(jobsIn(Tables.load(spark, dir, "customer")) == 0)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(jobsIn(Tables.load(other, dir, "customer")) >= 1)
  }
}
