package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor operators over an embedding column
  * (array<float>): brute-force cosine top-k as the exactness baseline, and
  * an LSH-bucketed variant (signed random-projection analog with
  * deterministic integer hyperplanes) as the scale path.
  *
  * Scale notes: all vector arithmetic runs as codegen'd higher-order array
  * expressions (zip_with + aggregate) directly on the embedding column —
  * no posexplode, so a 64-dim dot product is one row operation, not a
  * 64-row join (r1's exploded join on the dimension index `i` had 64
  * distinct join keys: a skew bomb). Brute-force broadcasts the small
  * query set against the corpus — one pass, no shuffle of the corpus;
  * LSH buckets shrink the candidate set so the pairwise work is
  * per-bucket (the 10^12-row path). */
object AnnOps {
  /** Embedding dimensionality of the testdata corpus (TESTDATA.md). Only
    * used by tests/fixtures — the operators themselves are dim-agnostic. */
  val Dim = 64

  /** dot(a, b) over array<float> columns. Was
    * `aggregate(zip_with(a, b, *))` — higher-order functions are
    * CodegenFallback (boxed per-element lambda eval), measured as the
    * dominant cost of every pairwise stage; now a codegen'd expression
    * running the identical FP sequence (graft.functions.ArrayDot). */
  def dot(a: Column, b: Column): Column =
    Bridge.column(graft.functions.ArrayDot(Bridge.expression(a), Bridge.expression(b)))

  /** L2 norm of an array<float> column (codegen'd, same FP order as the
    * previous aggregate(transform(...)) fold). */
  def norm(a: Column): Column =
    Bridge.column(graft.functions.ArrayNorm(Bridge.expression(a)))

  private val Bridge = org.apache.spark.sql.graftbridge.ColumnBridge

  /** Projection of the embedding onto plane j, whose deterministic integer
    * weight for dim i is ((i*37 + j*101) mod 7) - 3 — identical arithmetic
    * in the SQL oracle (no transcendental functions, no RNG). The weight is
    * computed from the element INDEX inside the codegen'd transform lambda,
    * so the projection adapts to whatever dimensionality the corpus has —
    * a baked Dim-length literal array silently null-padded (and so zeroed
    * every sign bit) on any non-Dim corpus, collapsing LSH into one
    * quadratic mega-bucket. */
  def planeProj(emb: Column, j: Int): Column =
    aggregate(
      transform(emb, (v, i) =>
        v.cast("double") * (((i * 37 + lit(j) * 101) % 7 - 3).cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** LSH bucket id of an embedding column: nPlanes sign bits of
    * deterministic integer hyperplane projections — a pure in-row
    * expression, so callers add it as a projection instead of joining a
    * bucket table back on vec_id. Codegen'd single-pass over the array
    * (graft.functions.LshBucket): the previous per-plane
    * when(planeProj > 0) chain evaluated nPlanes interpreted
    * transform+aggregate folds per row; the accumulation order per plane
    * is unchanged, so bucket ids are bit-identical. */
  def bucketOf(emb: Column, nPlanes: Int): Column =
    Bridge.column(graft.functions.LshBucket(Bridge.expression(emb), nPlanes))

  /** LSH bucket id per vector: one narrow projection per row — no shuffle. */
  def lshBuckets(vectors: DataFrame, nPlanes: Int): DataFrame = {
    import vectors.sparkSession.implicits._
    vectors.select($"vec_id", bucketOf($"embedding", nPlanes).as("bucket"))
  }

  /** Brute-force top-k by cosine: the (small) query set is broadcast against
    * the corpus; dot/norm are per-row array expressions. Returns
    * (q, neighbor, rank, cos) with deterministic tie-breaks. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import queries.sparkSession.implicits._
    // norms precomputed per side: the crossJoin then costs one dot per
    // (query, corpus-row), not 1 dot + 2 O(dim) norm aggregates
    val q = queries.select($"vec_id".as("q"), $"embedding".as("qv"),
      norm($"embedding").as("qn"))
    val c = corpus.select($"vec_id", $"embedding".as("cv"),
      norm($"embedding").as("cn"))
    val w = Window.partitionBy($"q").orderBy($"cos".desc, $"vec_id")
    c.crossJoin(broadcast(q))
      .filter($"q" =!= $"vec_id")
      .withColumn("cos", round(dot($"qv", $"cv") / ($"qn" * $"cn"), 4))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"q", $"vec_id".as("neighbor"), $"rank", $"cos")
  }

  /** IVF coarse quantizer: the K lowest-vec_id vectors serve as anchor
    * centroids — a deterministic, oracle-reproducible stand-in for trained
    * k-means centroids (the inverted-list/probe mechanics, which are what
    * scale, are identical; swapping in trained centroids only changes this
    * one small table). K is chosen ~ sqrt(corpus), so the anchor table is
    * broadcastable at any corpus size that has a workable list size. */
  private def ivfAnchors(vectors: DataFrame, k: Int): DataFrame = {
    import vectors.sparkSession.implicits._
    vectors.orderBy($"vec_id").limit(k)
      .select($"vec_id".as("list_id"), $"embedding".as("av"),
        norm($"embedding").as("an"))
  }

  /** Nearest anchor per vector, with the vector's own embedding + norm
    * carried for the in-list scan. One broadcast crossJoin of the K-row
    * anchor table against the corpus — no corpus shuffle; the argmax runs
    * on the 4-decimal-rounded cosine (ties to the lower list id) so the
    * assignment is bit-reproducible in the SQL oracle. */
  private def ivfAssignFull(vectors: DataFrame, anchors: DataFrame): DataFrame = {
    import vectors.sparkSession.implicits._
    val c = vectors.select($"vec_id", $"embedding".as("cv"),
      norm($"embedding").as("cn"))
    // argmax as a lexicographic struct-max, NOT a row_number window: the
    // hash aggregate combines map-side, so the exchange carries one row
    // per vector instead of the K-fanned crossJoin output (cv/cn ride in
    // the struct's tail — identical across a vector's K rows, so they
    // never decide the comparison: list ids are distinct)
    c.crossJoin(broadcast(anchors))
      .select($"vec_id", struct(
        round(dot($"cv", $"av") / ($"cn" * $"an"), 4).as("acos"),
        (-$"list_id").as("nl"), $"cv", $"cn").as("s"))
      .groupBy($"vec_id").agg(max($"s").as("s"))
      .select($"vec_id", (-$"s.nl").as("list_id"), $"s.cv".as("cv"),
        $"s.cn".as("cn"))
  }

  /** IVF inverted-list assignment: (vec_id, list_id). */
  def ivfAssign(vectors: DataFrame, k: Int): DataFrame = {
    import vectors.sparkSession.implicits._
    ivfAssignFull(vectors, ivfAnchors(vectors, k)).select($"vec_id", $"list_id")
  }

  /** IVF ANN: each query probes its nProbe nearest anchors and scans only
    * those inverted lists with exact cosine; top-k per query. The probe
    * set (queries x nProbe) is broadcast against the assignment table —
    * the corpus is touched once, filtered to ~nProbe/K of its rows by the
    * list equi-join. Recall < 1 by construction (a true neighbor may live
    * in an unprobed list); the list histogram is the verifiable output. */
  def ivfTopK(queries: DataFrame, vectors: DataFrame, k: Int, nProbe: Int,
              topK: Int): DataFrame = {
    import vectors.sparkSession.implicits._
    val q = queries.select($"vec_id".as("q"), $"embedding".as("qv"),
      norm($"embedding").as("qn"))
    // anchors behind a boundary: the K-row table feeds BOTH the
    // probe selection and the corpus assignment, and the two broadcast
    // subtrees are NOT exchange-reused at runtime (verified on the
    // executed plan: two TakeOrderedAndProject corpus passes) — at corpus
    // scale that is a full second scan just to re-derive K rows. The
    // first consumer materializes the blocks; both broadcasts then build
    // from them. Deterministic input -> identical values.
    val anch = graft.plans.Boundary.deferred(ivfAnchors(vectors, k))
    val wp = Window.partitionBy($"q").orderBy($"acos".desc, $"list_id")
    val probes = q.crossJoin(broadcast(anch))
      .withColumn("acos", round(dot($"qv", $"av") / ($"qn" * $"an"), 4))
      .withColumn("rk", row_number().over(wp))
      .filter($"rk" <= nProbe)
      .select($"q", $"qv", $"qn", $"list_id")
    val w = Window.partitionBy($"q").orderBy($"cos".desc, $"neighbor")
    ivfAssignFull(vectors, anch).join(broadcast(probes), "list_id")
      .filter($"q" =!= $"vec_id")
      .select($"q", $"vec_id".as("neighbor"),
        round(dot($"qv", $"cv") / ($"qn" * $"cn"), 4).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= topK)
      .select($"q", $"neighbor", $"rank", $"cos")
  }

  /** LSH-bucketed ANN: candidates = same bucket; exact cosine within bucket,
    * top-k per query. Recall < 1 by construction; the bucket histogram is
    * the verifiable output. */
  def lshTopK(vectors: DataFrame, nPlanes: Int, k: Int): DataFrame = {
    import vectors.sparkSession.implicits._
    // bucket + norm are per-VECTOR projections computed before the
    // self-join: the pair stage then does one dot product per candidate
    // pair instead of re-running two O(dim) norm aggregates per pair
    val withB = vectors.select($"vec_id", $"embedding",
      bucketOf($"embedding", nPlanes).as("bucket"), norm($"embedding").as("nrm"))
    val w = Window.partitionBy($"q").orderBy($"cos".desc, $"neighbor")
    withB.as("x").join(withB.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("q"), col("y.vec_id").as("neighbor"),
        round(dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")), 4).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"q", $"neighbor", $"rank", $"cos")
  }
}
