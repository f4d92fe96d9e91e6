package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.queries.GraftQueries

/** The 29 catalog queries, one closed-loop pass at a time. Each query's
  * result is consumed by an order-insensitive digest computed on the
  * executors (no rows reach the driver), and the digest must equal the one
  * recorded for the generated tables. */
object CatalogWorkload {
  /** module group of each query, as `<module>` in the metric names */
  val Modules: Seq[(String, Seq[String])] = Seq(
    "queries" -> Seq("q1_agg", "q_join_agg", "q_semi_anti", "q_window_topk", "q_running_sum",
      "q_lag_lead", "q_events_window", "q_sessionize"),
    "functions" -> Seq("q_cell_assign", "q_cell_agg", "q_kring_join", "q_dist_join",
      "q_bbox_filter", "q_way_edges", "q_components"),
    "text" -> Seq("q_lang_id", "q_token_stats", "q_fingerprint"),
    "dedup" -> Seq("q_dedup_exact", "q_ngram_jaccard", "q_minhash", "q_minhash_lsh",
      "q_simhash"),
    "ann" -> Seq("q_embed_cosine", "q_ann_topk", "q_ann_lsh_buckets", "q_ann_lsh_topk",
      "q_ann_ivf_lists", "q_ann_ivf_topk"))

  val ModuleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

  def names: Seq[String] = {
    val catalog = GraftQueries.all.keySet
    require(catalog == ModuleOf.keySet,
      s"catalog changed: missing ${(ModuleOf.keySet -- catalog).toSeq.sorted}, " +
        s"new ${(catalog -- ModuleOf.keySet).toSeq.sorted}")
    Modules.flatMap(_._2)
  }

  def query(spark: SparkSession, dataDir: String, name: String): DataFrame =
    GraftQueries.all(name)._1(spark, dataDir)

  /** "<rows>:<hex sum of row hashes>". Doubles are compared at 1e-6, finer
    * than any rounding the oracle SQL applies (2 or 4 decimals). */
  def digest(df: DataFrame): String = {
    val (n, h) = df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n0, h0), (n1, h1)) => (n0 + n1, h0 + h1) }
    f"$n:$h%016x"
  }

  private def mix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  private def valueHash(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case d: Double => if (d.isNaN || d.isInfinite) d.hashCode.toLong else math.rint(d * 1e6).toLong
    case f: Float => valueHash(f.toDouble)
    case b: Boolean => if (b) 1L else 2L
    case x: java.lang.Number => x.longValue
    case s: String =>
      (scala.util.hashing.MurmurHash3.stringHash(s, 1).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 2) & 0xffffffffL)
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case r: Row => rowHash(r)
    case s: scala.collection.Seq[_] => s.foldLeft(7L)((h, x) => mix(h * 31 + valueHash(x)))
    case other => valueHash(other.toString)
  }

  private def rowHash(r: Row): Long = {
    var h = 17L
    var i = 0
    while (i < r.length) { h = mix(h * 31 + valueHash(r.get(i))); i += 1 }
    mix(h)
  }
}
