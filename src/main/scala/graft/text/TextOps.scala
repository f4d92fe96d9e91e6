package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language-ID
  * (marker-word scoring), quality scoring, token counting, document
  * fingerprinting. Everything is built from codegen'd Catalyst expressions
  * (no UDFs) and is expressible in ANSI SQL — the DuckDB oracle runs the
  * byte-identical formulas. */
object TextOps {

  /** Occurrences of `word` in text, whitespace-token exact:
    * (len(padded) - len(replace(padded, ' w ', ''))) / len(' w ').
    * Codegen'd; same formula in SQL. */
  def wordCount(text: Column, word: String): Column = {
    val B = org.apache.spark.sql.graftbridge.ColumnBridge
    B.column(graft.functions.WordOccurrences(B.expression(text), word))
  }

  /** Deterministic language scores from marker-word frequencies. The marker
    * lists are fixed vocabulary (not learned). Returns the argmax language
    * with deterministic tie-break (alphabetical). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("la", "el", "que"),
    "fr" -> Seq("le", "la", "et"))

  def langScore(text: Column, lang: String): Column =
    langMarkers.toMap.getOrElse(lang, Nil)
      .map(w => wordCount(text, w))
      .reduceOption(_ + _).getOrElse(lit(0.0))

  /** Whitespace token count: size(split(text, ' ')). */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish subword proxy: tokens + ceil(chars/4) blended — a cheap,
    * deterministic token estimate (the shape GPT-style tokenizers follow). */
  def tokenEstimate(text: Column): Column =
    tokenCount(text) + ceil(length(text) / lit(4.0)).cast("long")

  /** Quality score in [0,1]: length band + mean word length band +
    * stopword-ratio band. Deterministic arithmetic, SQL-replicable. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val meanWordLen = length(text).cast("double") / nTok
    val stopRatio = (wordCount(text, "the") + wordCount(text, "a")) / nTok
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val wordScore = when(meanWordLen >= 3 && meanWordLen <= 8, lit(1.0)).otherwise(lit(0.5))
    val stopScore = when(stopRatio > 0.02 && stopRatio < 0.5, lit(1.0)).otherwise(lit(0.5))
    round((lenScore + wordScore + stopScore) / lit(3.0), 4)
  }

  /** Word bigrams: (doc_id, pos, gram). Pure in-row Catalyst — adjacent
    * words pair via slice + zip_with on the split array, so there is no
    * per-document window (a window shuffles and sorts every token row;
    * at 10^12 docs that's the whole corpus through one exchange). */
  def wordBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(col(textCol), " ")
    val grams = zip_with(
      slice(words, lit(1), size(words) - 1),
      slice(words, lit(2), size(words) - 1),
      (a, b) => concat(a, lit(" "), b))
    docs.select(col(idCol), posexplode(grams).as(Seq("pos", "gram")))
  }

  /** Deterministic 31-base hash of a gram's first 4 chars + length — pure
    * arithmetic on ascii codes so the oracle can reproduce it exactly. */
  def gramHash(gram: Column): Column = {
    val padded = concat(gram, lit("####"))
    def a(i: Int) = ascii(substring(padded, i, 1)).cast("long")
    ((a(1) * 31 + a(2)) * 31 + a(3)) * 31 + a(4) * 127 + length(gram)
  }

  /** All word-bigram gram hashes of a text column in ONE codegen'd pass
    * (array<long>, text order; `distinct` dedups in-row). Value-identical
    * to `wordBigrams` + `gramHash` — pinned by TextHashSpec — without the
    * interpreted zip_with lambda, the per-gram string allocation, or (for
    * the distinct form) the global distinct shuffle. */
  def bigramHashes(text: Column, distinct: Boolean): Column = {
    val B = org.apache.spark.sql.graftbridge.ColumnBridge
    B.column(graft.functions.BigramHashes(B.expression(text), distinct))
  }

  /** Order-insensitive document fingerprint: sum of gram hashes mod p,
    * combined with the length (rolling-hash analog, SQL-replicable). */
  def fingerprint(grams: DataFrame, idCol: String): DataFrame = {
    grams.groupBy(col(idCol))
      .agg(((sum(gramHash(col("gram"))) % 1000000007L + count(lit(1))) % 1000000007L)
        .as("fingerprint"))
  }

  /** SQL fragments (DuckDB dialect) mirroring the expressions above. */
  object Sql {
    def wordCount(textExpr: String, word: String): String = {
      val w = s" $word "
      s"(length(' ' || $textExpr || ' ') - length(replace(' ' || $textExpr || ' ', '$w', ''))) / ${w.length}"
    }
    def langScore(textExpr: String, lang: String): String =
      langMarkers.toMap.apply(lang).map(w => s"(${wordCount(textExpr, w)})").mkString(" + ")
    def tokenCount(textExpr: String): String =
      s"(length($textExpr) - length(replace($textExpr, ' ', '')) + 1)"
    val gramHash: String =
      "(((ascii(substr(gram || '####', 1, 1)) * 31 + ascii(substr(gram || '####', 2, 1))) * 31 + " +
        "ascii(substr(gram || '####', 3, 1))) * 31 + ascii(substr(gram || '####', 4, 1)) * 127 + length(gram))"
    /** word-bigram extraction via a recursive nums CTE + split_part —
      * plain ANSI so DuckDB surely supports it. Yields (doc_id, pos, gram). */
    def bigramCte(docsTable: String, maxWords: Int = 99): String =
      s"""nums(i) AS (SELECT 1 UNION ALL SELECT i + 1 FROM nums WHERE i < $maxWords),
         |words AS (SELECT doc_id, ${tokenCount("text")} AS n_words, text FROM $docsTable),
         |grams AS (
         |  SELECT w.doc_id, n.i - 1 AS pos,
         |         split_part(w.text, ' ', n.i) || ' ' || split_part(w.text, ' ', n.i + 1) AS gram
         |  FROM words w JOIN nums n ON n.i <= w.n_words - 1
         |)""".stripMargin
  }
}
