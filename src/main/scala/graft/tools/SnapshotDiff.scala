package graft.tools

import org.apache.spark.sql.SparkSession

/** Result-identity gate for optimization work: snapshot a query's full
  * output before a plan rewrite, then diff the rewritten query against the
  * snapshot row-for-row (order-insensitive, exact values). Any difference
  * fails loudly — "do not change what any declared query computes".
  *
  * Usage:
  *   sbt "runMain graft.tools.SnapshotDiff save <dir> [query ...]"
  *   sbt "runMain graft.tools.SnapshotDiff check <dir> [query ...]"
  */
object SnapshotDiff {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.Bench.benchLocalDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(spark)

    val mode = args(0)
    val dir = args(1)
    val all = graft.queries.GraftQueries.all
    val names = if (args.length > 2) args.drop(2).toSeq else all.keys.toSeq.sorted
    var failed = 0
    names.foreach { name =>
      val (fn, _) = all(name)
      val df = fn(spark, sfDir)
      mode match {
        case "save" =>
          df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
          println(s"[snapshot] saved $name")
        case "check" =>
          // canonical row rendering: column order from the saved schema,
          // rows sorted as strings — exact values, order-insensitive
          val saved = graft.sources.ParquetTables.read(spark, s"$dir/$name.parquet")
          val cols = saved.columns.toSeq
          def canon(d: org.apache.spark.sql.DataFrame): Array[String] =
            d.selectExpr(cols: _*).collect()
              .map(_.toString).sorted
          val a = canon(saved)
          val b = canon(df)
          if (java.util.Arrays.equals(a.asInstanceOf[Array[AnyRef]],
                                      b.asInstanceOf[Array[AnyRef]])) {
            println(s"[snapshot] OK   $name (${a.length} rows)")
          } else {
            failed += 1
            val extra = b.diff(a).take(3)
            val missing = a.diff(b).take(3)
            println(s"[snapshot] FAIL $name saved=${a.length} now=${b.length} " +
              s"extraSample=${extra.mkString("|")} missingSample=${missing.mkString("|")}")
          }
      }
    }
    if (mode == "check") {
      println(s"[snapshot] ${names.length - failed}/${names.length} identical")
      if (failed > 0) sys.exit(1)
    }
    spark.stop()
  }
}
