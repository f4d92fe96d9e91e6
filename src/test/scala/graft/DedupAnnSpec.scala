package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.AnnOps
import graft.dedup.DedupOps

/** Unit fixtures for the dedup/ANN operators. These are ALSO covered by
  * the driver's DuckDB oracle at sf0.01; the hand-built fixtures here pin
  * the semantics locally (identical docs collide everywhere, disjoint docs
  * nowhere, exact cosine values on constructed vectors) so a plan rewrite
  * that changes results fails in `sbt test` before it reaches the oracle. */
class DedupAnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // twin0/twin1 identical; near0 shares exactly half its bigrams with the
  // twins; alone is fully disjoint
  private lazy val docs: DataFrame = Seq(
    (0L, "red green blue yellow violet"),   // twin0: 4 bigrams
    (1L, "red green blue yellow violet"),   // twin1 (exact dup)
    // near0 shares 2 of 4 bigrams; "blue sky" (len 8) cannot hash-collide
    // with "blue yellow" (len 11) — gramHash keys on first-4-chars+length
    (2L, "red green blue sky umber"),
    (3L, "one two three four five")         // alone: disjoint
  ).toDF("doc_id", "text")

  test("exact dedup: identical texts collapse to min id with count") {
    val r = DedupOps.exact(docs).orderBy($"canonical_id")
      .as[(Long, Long)].collect.toSeq
    assert(r == Seq((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("ngram jaccard: dup pair at 1.0, half-overlap pair at computed value") {
    // universe is small, so disable the DF cut (every gram in the twins is
    // in 2/4 = 50% of docs — the default 10% cap would empty the sets)
    val r = DedupOps.ngramJaccard(docs, threshold = 0.3, dfCapFrac = 1.0)
      .orderBy($"a", $"b").as[(Long, Long, Double)].collect.toSeq
    // twins: |A∩B|=4, |A∪B|=4 → 1.0; twin-vs-near0: inter=2, union=6 → 0.3333
    assert(r == Seq((0L, 1L, 1.0), (0L, 2L, 0.3333), (1L, 2L, 0.3333)))
  }

  test("ngram jaccard: DF cap drops hot grams from sizes AND intersections") {
    // "a b" is in 3/4 docs; cap = floor(4 * 0.5) = 2 drops it from the
    // gram universe, so it must count in neither n_inter nor the set
    // sizes (the consistent filtered-Jaccard). Kept sets: d0{bc,cd},
    // d1{bc,ce}, d2{bx,xy}, d3{pq} -> only (0,1) share a gram:
    // 1 / (2 + 2 - 1) = 0.3333. Uncapped the pair would score 0.5 —
    // this pins the sizes-from-perGram derivation (sizes counted over
    // KEPT grams only) introduced with the r6 single-pass rewrite.
    val d = Seq((0L, "a b c d"), (1L, "a b c e"), (2L, "a b x y"), (3L, "p q"))
      .toDF("doc_id", "text")
    val r = DedupOps.ngramJaccard(d, threshold = 0.3, dfCapFrac = 0.5)
      .orderBy($"a", $"b").as[(Long, Long, Double)].collect.toSeq
    assert(r == Seq((0L, 1L, 0.3333)))
  }

  test("minhash: 8 signature rows per doc, identical docs identical, in range") {
    val mh = DedupOps.minhash(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(mh.length == 4 * DedupOps.NumHashes)
    val byDoc = mh.groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sortBy(_._1).toSeq).toMap
    assert(byDoc(0L) == byDoc(1L))            // identical text, identical signature
    assert(byDoc(0L) != byDoc(3L))            // disjoint text, different signature
    assert(byDoc(0L).map(_._1) == (1 to DedupOps.NumHashes))
    assert(mh.forall { case (_, _, v) => v >= 0 && v < DedupOps.MinhashPrime })
  }

  test("minhash LSH: exact dups collide in all bands, disjoint docs never pair") {
    val pairs = DedupOps.minhashLsh(docs)
      .as[(Long, Long, Long)].collect.toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.contains((0L, 1L, DedupOps.NumHashes.toLong / 2)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("in-row signatures equal the exploded-aggregate formulation exactly") {
    // pins the r6 in-row rewrite (MinhashSigs/SimhashBits/GramFingerprint)
    // against the legacy explode + groupBy(doc_id) aggregation it
    // replaced, on multi-byte text and repeated bigrams
    val d = Seq((0L, "red green blue yellow"), (1L, "ä ö ü ß ä ö"),
      (2L, "x y x y x"), (3L, "p q")).toDF("doc_id", "text")
    val g = DedupOps.gramHashes(d) // exploded per-doc DISTINCT hashes
    val mins = (1 to DedupOps.NumHashes).map { j =>
      min((($"h" * (2 * j + 1)) + (j * 12345L)) % DedupOps.MinhashPrime).as(s"mh$j")
    }
    val oldMh = g.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
      .collect().map(r => (r.getLong(0),
        (1 to DedupOps.NumHashes).map(j => r.getLong(j)))).toMap
    val newMh = DedupOps.minhash(d).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(newMh == oldMh.view.mapValues(_.toSeq).toMap)

    val bits = (0 until 16).map { k =>
      val p = 1L << k
      sum(when(($"h" % (2 * p)) >= p, 1).otherwise(-1)).as(s"s$k")
    }
    val oldSh = g.groupBy($"doc_id").agg(bits.head, bits.tail: _*)
      .select($"doc_id", (0 until 16).map { k =>
        when(col(s"s$k") > 0, lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _).as("simhash")).as[(Long, Long)].collect.toMap
    assert(DedupOps.simhash(d).as[(Long, Long)].collect.toMap == oldSh)

    val gAll = d.select($"doc_id",
      explode(graft.text.TextOps.bigramHashes($"text", distinct = false)).as("gh"))
    val oldFp = gAll.groupBy($"doc_id")
      .agg(((sum($"gh") % 1000000007L + count(lit(1))) % 1000000007L).as("fingerprint"))
      .as[(Long, Long)].collect.toMap
    val B = org.apache.spark.sql.graftbridge.ColumnBridge
    val newFp = d.filter($"text".contains(" "))
      .select($"doc_id", B.column(graft.functions.GramFingerprint(
        B.expression(graft.text.TextOps.bigramHashes($"text", distinct = false)),
        1000000007L)).as("fingerprint"))
      .as[(Long, Long)].collect.toMap
    assert(newFp == oldFp)
  }

  test("in-row signatures drop bigram-less docs, like the gram explode did") {
    val d = Seq((0L, "solo"), (1L, ""), (2L, "a b")).toDF("doc_id", "text")
    assert(DedupOps.minhash(d).select($"doc_id").distinct.as[Long].collect.toSet == Set(2L))
    assert(DedupOps.simhash(d).select($"doc_id").as[Long].collect.toSet == Set(2L))
    // defensive contract: on an EMPTY gram array (caller forgot the
    // contains-space filter) the expressions yield null, never a shared
    // sentinel signature that would make all bigram-less docs collide
    val B = org.apache.spark.sql.graftbridge.ColumnBridge
    val hashes = graft.text.TextOps.bigramHashes($"text", distinct = true)
    val sigs = d.select($"doc_id",
      B.column(graft.functions.MinhashSigs(B.expression(hashes), 8, DedupOps.MinhashPrime)).as("mh"),
      B.column(graft.functions.SimhashBits(B.expression(hashes), 16)).as("sh"),
      B.column(graft.functions.GramFingerprint(B.expression(hashes), 1000000007L)).as("fp"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2), r.isNullAt(3))).toMap
    assert(sigs(0L) == ((true, true, true)) && sigs(1L) == ((true, true, true)))
    assert(sigs(2L) == ((false, false, false)))
  }

  test("signatures compile and yield null on an empty non-nullable gram array") {
    // a non-nullable child must not let codegen render the result's isNull
    // as the literal `false` (`false = true;` fails to compile); with the
    // interpreted fallback disabled a compile failure fails the query
    val B = org.apache.spark.sql.graftbridge.ColumnBridge
    // filter() of a non-nullable array is non-nullable: [] for id 0, [id] otherwise
    val in = spark.range(3).select($"id", filter(array($"id"), x => x =!= 0L).as("h"))
    assert(!in.schema("h").nullable)
    val confs = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.wholeStage" -> "false")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val sigs = in.select($"id",
        B.column(graft.functions.MinhashSigs(B.expression($"h"), 8, DedupOps.MinhashPrime)).as("mh"),
        B.column(graft.functions.SimhashBits(B.expression($"h"), 16)).as("sh"),
        B.column(graft.functions.GramFingerprint(B.expression($"h"), 1000000007L)).as("fp"))
      assert(sigs.schema.fields.drop(1).forall(_.nullable))
      val got = sigs.collect()
        .map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2), r.isNullAt(3))).toMap
      assert(got(0L) == ((true, true, true)))
      assert(got(1L) == ((false, false, false)) && got(2L) == ((false, false, false)))
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("simhash: identical equal, disjoint differ, 16-bit range") {
    val sh = DedupOps.simhash(docs).as[(Long, Long)].collect.toMap
    assert(sh(0L) == sh(1L))
    assert(sh(0L) != sh(3L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  // constructed embeddings with known cosines: e0 == e1 (cos 1), e2 is e0
  // scaled (cos 1 — cosine is scale-invariant), e3 orthogonal to e0
  private lazy val emb: DataFrame = {
    def v(xs: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(8)(0f); xs.foreach { case (i, x) => a(i) = x }; a.toSeq
    }
    Seq(
      (0L, v(0 -> 1f, 1 -> 2f)),
      (1L, v(0 -> 1f, 1 -> 2f)),
      (2L, v(0 -> 3f, 1 -> 6f)),
      (3L, v(2 -> 5f))
    ).toDF("vec_id", "embedding")
  }

  test("brute-force top-k: exact cosine ranks on constructed vectors") {
    val r = AnnOps.bruteForceTopK(emb.filter($"vec_id" === 0L), emb, 2)
      .as[(Long, Long, Int, Double)].collect.toSeq.sortBy(_._3)
    assert(r.map(x => (x._2, x._4)) == Seq((1L, 1.0), (2L, 1.0))) // ties by id
  }

  test("lsh buckets: scaled vector shares e0's bucket (sign-projection)") {
    val b = AnnOps.lshBuckets(emb, 8).as[(Long, Long)].collect.toMap
    assert(b(0L) == b(1L) && b(0L) == b(2L)) // parallel vectors: same signs
  }

  test("embedding cosine dedup: parallel vectors pair at cos 1.0") {
    val r = DedupOps.embeddingCosine(emb, threshold = 0.9)
      .as[(Long, Long, Double)].collect.toSeq.sortBy(p => (p._1, p._2))
    assert(r.filter(_._3 >= 0.999).map(p => (p._1, p._2)) ==
      Seq((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  // IVF fixture: v0/v1 are the k=2 anchors (lowest ids); v2 parallel to
  // v0, v3 orthogonal to both anchors (tie -> lower list id), v4 closer
  // to v1's direction
  private lazy val ivfEmb: DataFrame = {
    def v(xs: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(8)(0f); xs.foreach { case (i, x) => a(i) = x }; a.toSeq
    }
    Seq(
      (0L, v(0 -> 1f)),
      (1L, v(0 -> 1f, 1 -> 1f)),
      (2L, v(0 -> 2f)),
      (3L, v(2 -> 5f)),
      (4L, v(1 -> 4f))
    ).toDF("vec_id", "embedding")
  }

  test("ivf assign: nearest anchor, ties to the lower list id") {
    val a = AnnOps.ivfAssign(ivfEmb, 2).as[(Long, Long)].collect.toMap
    assert(a == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
  }

  test("ivf top-k: probe-limited search scans only probed lists") {
    // nProbe=1: v2 probes list 0 only -> candidates {v0, v3}
    val r1 = AnnOps.ivfTopK(ivfEmb.filter($"vec_id" === 2L), ivfEmb, 2, 1, 2)
      .as[(Long, Long, Int, Double)].collect.toSeq.sortBy(_._3)
    assert(r1.map(x => (x._2, x._4)) == Seq((0L, 1.0), (3L, 0.0)))
    // nProbe=2: both lists scanned -> v1 (cos 0.7071) displaces v3
    val r2 = AnnOps.ivfTopK(ivfEmb.filter($"vec_id" === 2L), ivfEmb, 2, 2, 2)
      .as[(Long, Long, Int, Double)].collect.toSeq.sortBy(_._3)
    assert(r2.map(x => (x._2, x._4)) == Seq((0L, 1.0), (1L, 0.7071)))
  }

  test("lsh top-k: finds the parallel neighbors with exact cosine") {
    val r = AnnOps.lshTopK(emb, 8, 2).as[(Long, Long, Int, Double)].collect.toSeq
    val q0 = r.filter(_._1 == 0L).sortBy(_._3)
    assert(q0.map(x => (x._2, x._4)) == Seq((1L, 1.0), (2L, 1.0)))
  }
}
