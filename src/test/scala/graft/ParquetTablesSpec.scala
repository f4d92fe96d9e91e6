package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ParquetTables

/** `ParquetTables.read` resolves a table's schema from one footer on the
  * driver. It must give the schema, rows and scan that `spark.read.parquet`
  * gives, launch no Spark job, and fail where a plain read fails. */
class ParquetTablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  private final class JobCounter extends SparkListener {
    val jobs = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  }

  /** Spark jobs launched by `body` */
  private def jobsOf[T](body: => T): (T, Long) = {
    val counter = new JobCounter
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val r = body
      ListenerDrain(spark.sparkContext)
      (r, counter.jobs.sum())
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** the physical plan with expression ids stripped */
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "")

  private def assertSameTable(path: String): Unit = {
    val (got, jobs) = jobsOf(ParquetTables.read(spark, path))
    assert(jobs == 0, s"$path: the helper ran $jobs Spark jobs")
    val plain = spark.read.parquet(path)
    assert(got.schema == plain.schema, s"$path: ${got.schema} vs ${plain.schema}")
    assert(plan(got) == plan(plain), s"$path:\n${plan(got)}\nvs\n${plan(plain)}")
  }

  test("schema and scan equal spark.read.parquet on every Arrow-written testdata table") {
    tables.foreach(t => assertSameTable(s"$dir/$t.parquet"))
    val nation = s"$dir/nation.parquet"
    assert(ParquetTables.read(spark, nation).collect().toSeq ==
      spark.read.parquet(nation).collect().toSeq)
  }

  test("schema, rows and scan equal spark.read.parquet on a Spark-written directory") {
    import spark.implicits._
    val root = Files.createTempDirectory("parquet-tables")
    val path = root.resolve("t").toString
    val df = spark.range(0, 40, 1, 3).select(
      $"id", ($"id" % 7).cast("int").as("i"), ($"id" / 3.0).as("d"),
      when($"id" % 5 =!= 0, concat(lit("s"), $"id".cast("string"))).as("s"),
      timestamp_seconds($"id" * 3600L).as("ts"),
      array(($"id" * 0.5).cast("float"), lit(1.5f)).as("v"),
      struct($"id".as("a"), ($"id" % 2 === 0).as("b"), lit("x").as("c")).as("st"))
    df.write.parquet(path)
    // a stray file of another shape where Spark's file index does not look
    spark.range(3).select($"id".cast("string").as("other"))
      .write.parquet(s"$path/_temporary/0")
    val names = Files.list(Paths.get(path)).toArray.map(_.toString.split('/').last)
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") &&
      n.endsWith(".crc")), names.mkString(", "))
    assertSameTable(path)
    assert(ParquetTables.read(spark, path).orderBy($"id").collect().toSeq ==
      spark.read.parquet(path).orderBy($"id").collect().toSeq)
  }

  test("a session that merges schemas gets the merged schema") {
    import spark.implicits._
    val path = Files.createTempDirectory("parquet-tables-merge").resolve("t").toString
    spark.range(4).select($"id").write.parquet(path)
    spark.range(4).select($"id", ($"id" * 2).as("twice")).write.mode("append").parquet(path)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val got = ParquetTables.read(spark, path)
      assert(got.columns.toSeq == Seq("id", "twice"))
      assert(got.schema == spark.read.parquet(path).schema)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a missing path and an empty directory fail as spark.read.parquet fails") {
    val empty = Files.createTempDirectory("parquet-tables-empty").toString
    val missing = s"$empty-missing"
    Seq(missing, empty).foreach { p =>
      val plain = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](ParquetTables.read(spark, p))
      assert(got.getClass == plain.getClass, s"$p: $got vs $plain")
      assert(got.getMessage == plain.getMessage)
    }
  }
}
