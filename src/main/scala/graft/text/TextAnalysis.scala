package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over a `text` column.
  *
  * Everything here is pure `org.apache.spark.sql.functions` column algebra —
  * no UDFs — so the whole pass is one narrow whole-stage-codegen projection:
  * at 100 TB these run at scan speed with zero shuffles, and all of it is
  * SQL-expressible for the DuckDB oracle.
  */
object TextAnalysis {

  /** Language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: the heuristic is argmax over per-language
    * hit counts; ties resolve by profile order (first wins). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "es"),
    "fr" -> Seq("le", "la", "les", "et", "un", "est", "dans"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有"))

  /** Whitespace tokens (single-space split; trim first). */
  def tokens(text: Column): Column = split(trim(text), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword token count: the GPT-2-style pre-tokenizer families —
    * letter runs, digit runs, and single punctuation marks each count as a
    * token (the regex split a byte-pair encoder applies before merges).
    * ~4 chars/token on English text; the standard cheap proxy for LLM
    * token budgeting. */
  val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePattern), lit(0)))
  def sqlBpeTokenCount: String =
    s"len(regexp_extract_all(text, '$bpePattern'))"

  /** Count occurrences of any of `words` as whole tokens. */
  private def stopwordHits(text: Column, words: Seq[String]): Column = {
    val pat = words.map(java.util.regex.Pattern.quote)
      .mkString("\\b(", "|", ")\\b")
    size(regexp_extract_all(lower(text), lit(pat), lit(0)))
  }

  /** Language-ID: argmax of stopword hit counts, NULL when no profile hits.
    * Ties go to the earlier profile (deterministic). */
  def langId(text: Column): Column = {
    val scores = langProfiles.map { case (l, ws) => l -> stopwordHits(text, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit(null).cast("string")) { case ((l, sc), acc) =>
      when(sc === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality metrics (length / alphabetic / stopword ratios — the classic
    * heuristic pre-filters for LLM training corpora). */
  def meanTokenLen(text: Column): Column =
    length(regexp_replace(trim(text), " ", "")).cast("double") /
      tokenCount(text)
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / length(text)
  def stopwordRatio(text: Column): Column =
    stopwordHits(text, langProfiles.head._2).cast("double") / tokenCount(text)

  /** Composite quality score in [0,1]: rewards mid-length docs with healthy
    * stopword density and alphabetic content. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 100.0, lit(1.0))
    val sw = least(stopwordRatio(text) * 10.0, lit(1.0))
    val alpha = alphaRatio(text)
    round((lenScore + sw + alpha) / 3.0, 6)
  }

  /** Content fingerprint: md5 of the whitespace-normalized, lowercased text
    * (the reference stores no fingerprints; this is the standard exact-dedup
    * key for training corpora). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  final case class CompressionRow(doc_id: Long, raw_len: Long, comp_len: Long)

  /** Compression-ratio quality signal — the CCNet/Gopher-style proxy:
    * repetitive or boilerplate text compresses far better than natural
    * prose, so the deflate ratio ranks document quality without a model.
    * The one operator in this module that is NOT column algebra:
    * `java.util.zip.Deflater` (pure JDK) runs executor-side with ONE
    * deflater reused per partition (reset between rows), so the pass costs
    * an allocation per partition, not per document, and shuffles nothing.
    * Lengths stay integer so downstream thresholds are engine-exact. */
  def compressionStats(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val outEnc: Encoder[CompressionRow] =
      Encoders.product[CompressionRow]
    implicit val inEnc: Encoder[(Long, String)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater()
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          defl.reset(); defl.setInput(raw); defl.finish()
          var n = 0L
          while (!defl.finished()) n += defl.deflate(buf)
          CompressionRow(id, raw.length.toLong, n)
        }
      }.toDF()
  }

  // ---- oracle SQL fragments (same semantics, DuckDB dialect) -------------

  def sqlStopwordHits(words: Seq[String]): String = {
    val pat = words.map(java.util.regex.Pattern.quote)
      .mkString("\\b(", "|", ")\\b")
    s"len(regexp_extract_all(lower(text), '$pat'))"
  }

  def sqlLangId: String = {
    val scores = langProfiles.map { case (l, ws) => l -> sqlStopwordHits(ws) }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val whens = scores.map { case (l, sc) =>
      s"WHEN $sc = $best AND $best > 0 THEN '$l'"
    }.mkString(" ")
    s"(CASE $whens ELSE CAST(NULL AS VARCHAR) END)"
  }
}
