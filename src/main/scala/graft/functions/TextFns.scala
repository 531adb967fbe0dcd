package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-normalization + text-analysis scalar functions.
  *
  * The normalization chain re-expresses the reference's Logstash `mutate`
  * filter pipeline (lowercase + gsub chain; see
  * `logstash/pipeline/csv-tech.conf:24-41` in the reference) as composed
  * Catalyst expressions — `lower` + chained `regexp_replace` stay inside
  * WholeStageCodegen, so the whole chain fuses into one generated loop
  * per partition (the Logstash filter-worker analog, minus the JVM↔Ruby
  * hop).
  *
  * All patterns are written to evaluate identically under Java regex
  * (Spark) and RE2 (DuckDB oracle): the punctuation class keeps the
  * reference's literal `*-.` range (codepoints 42-46: `* + , - .`).
  */
object TextFns {

  /** Reference punctuation class, `csv-tech.conf:30`. `*-.` is a range
    * covering `* + , - .`; the rest are literals incl. Unicode `« » ✔ ➡ ¿ ·`.
    */
  val PunctClass: String = "[,*-.:;«»✔➡¿\\\\\"·?!()/]"

  /** lowercase (F1, `csv-tech.conf:26-28`). */
  def lowercased(c: Column): Column = lower(c)

  /** Full normalization chain for description-like fields (F1-F5,
    * `csv-tech.conf:35-39`): lowercase → CR strip → `&nbsp` strip →
    * punctuation → whitespace-class → whitespace collapse → trim.
    *
    * `lower` stays the builtin (exact Unicode-casing semantics); the
    * four regex passes + trim fuse into ONE custom codegen'd pass
    * ([[NormalizeRest]]) — each regex pass allocates a matcher and a
    * full rewritten string per row, so the fused kernel does in one
    * traversal what cost five. Char-for-char equivalence with the
    * reference regex chain is property-tested (`TextFnsSpec`) and
    * pinned by every oracle-checked query that normalizes.
    */
  def normalizeText(c: Column): Column =
    GraftColumnBridge.column(NormalizeRest(
      GraftColumnBridge.expression(lower(c))))

  /** The original composed-regex formulation — kept as the equivalence
    * reference for the fused kernel.
    */
  def normalizeTextRegex(c: Column): Column = {
    val lowered = lower(c)
    val noCr    = regexp_replace(lowered, "\\r", " ")
    val noNbsp  = regexp_replace(noCr, "&nbsp", " ")
    val noPunct = regexp_replace(noNbsp, PunctClass, " ")
    val noWs    = regexp_replace(noPunct, "\\s", " ")
    trim(regexp_replace(noWs, " +", " "))
  }

  /** Reference punct codepoints (`csv-tech.conf:30`): the `*-.` range
    * (codepoints 42-46) plus the literals, incl. the multibyte
    * `« » ✔ ➡ ¿ ·`.
    */
  private val punctCps: Set[Int] =
    Set(',', ':', ';', '«', '»', '✔', '➡', '¿', '\\', '"', '·', '?', '!', '(', ')', '/')
      .map(_.toInt) ++ (42 to 46) // * + , - .

  /** Single-pass fused kernel for the post-lowercase chain. Semantics
    * (verified char-for-char against the regex chain):
    *  - `&nbsp` (contiguous 5-char literal) → one space;
    *  - any reference-punct char or Java-regex `\s` char
    *    (space \t \n \x0B \f \r — ASCII only, NBSP untouched) → space;
    *  - space runs collapse to one; leading/trailing spaces dropped.
    */
  def normalizeRest(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    val out = new java.lang.StringBuilder(n)
    var pendingSpace = false // a space to emit before the next real char
    var i = 0
    while (i < n) {
      val ch = str.charAt(i)
      val isNbsp = ch == '&' && i + 4 < n && str.charAt(i + 1) == 'n' &&
        str.charAt(i + 2) == 'b' && str.charAt(i + 3) == 's' && str.charAt(i + 4) == 'p'
      if (isNbsp) { pendingSpace = out.length() > 0; i += 5 }
      else if (punctCps.contains(ch.toInt) || ch == ' ' || ch == '\t' ||
        ch == '\n' || ch == '\u000B' || ch == '\f' || ch == '\r') {
        pendingSpace = out.length() > 0
        i += 1
      } else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(ch)
        i += 1
      }
    }
    UTF8String.fromString(out.toString)
  }

  case class NormalizeRest(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "normalize_rest"
    override def nullSafeEval(input: Any): Any =
      normalizeRest(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextFns.normalizeRest($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Whitespace tokenizer over normalized text. */
  def tokens(c: Column): Column = split(c, " ")

  /** Token count (whitespace tokenization). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword-boundary token count: splits on whitespace AND
    * letter/digit/punct boundaries, approximating an LLM tokenizer's
    * granularity without a vocab. Deterministic, codegen-friendly.
    */
  def bpeishTokenCount(c: Column): Column =
    size(filter(
      split(regexp_replace(c, "([^\\sA-Za-z0-9]|\\d)", " $1 "), "\\s+"),
      t => length(t) > 0))

  /** Character n-gram shingles (n consecutive characters), for MinHash /
    * Jaccard dedup. Returns array<string> of all n-length substrings.
    */
  def charShingles(c: Column, n: Int): Column = {
    val idx = sequence(lit(1), greatest(length(c) - (n - 1), lit(1)))
    array_distinct(transform(idx, i => c.substr(i, lit(n))))
  }

  /** One-pass word-shingle builder — the static eval target shared by
    * interpreted eval and codegen. Semantics are EXACTLY the composed
    * HOF formulation ([[wordShinglesHof]], pinned by property test and
    * every shingle oracle): windows start at 0..max(nTok−n, 0) (the
    * degenerate all-tokens window included for short docs), tokens join
    * with single spaces (nulls skipped, as `concat_ws` does), and
    * duplicates collapse preserving first-occurrence order
    * (`array_distinct`). One row-level call replaces a HOF whose lambda
    * re-evaluated every captured subtree PER WINDOW — with
    * `tokens(normalizeText(text))` as the captured input, that was the
    * full regex-normalize chain × n_windows per row (the d12/d16
    * decontamination hot path measured ~10× slower than this kernel).
    */
  def wordShinglesEval(arr: ArrayData, n: Int): ArrayData = {
    val nTok = arr.numElements()
    val nWin = math.max(nTok - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val buf = new Array[UTF8String](n)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < nWin) {
      val end = math.min(i + n, nTok)
      var w = 0
      while (w < end - i) {
        buf(w) = if (arr.isNullAt(i + w)) null else arr.getUTF8String(i + w)
        w += 1
      }
      while (w < n) { buf(w) = null; w += 1 } // concatWs skips nulls
      seen.add(UTF8String.concatWs(sep, buf: _*))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size())))
  }

  case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "word_shingles"
    override def nullSafeEval(input: Any): Any =
      wordShinglesEval(input.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextFns.wordShinglesEval($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Word n-gram shingles over a token array (codegen'd one-pass kernel). */
  def wordShingles(toks: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingles(GraftColumnBridge.expression(toks), n))

  /** The original composed-HOF formulation — kept as the equivalence
    * reference for the fused kernel (property-tested in `TextFnsSpec`).
    */
  def wordShinglesHof(toks: Column, n: Int): Column = {
    val idx = sequence(lit(1), greatest(size(toks) - (n - 1), lit(1)))
    array_distinct(transform(idx, i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Stopword ratio: fraction of tokens in `stop`. */
  def stopwordRatio(toks: Column, stop: Seq[String]): Column = {
    val stops = array(stop.map(lit): _*)
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(stops, t))).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** Mean token length. */
  def meanTokenLen(toks: Column): Column =
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
      .otherwise(lit(0.0))

  /** Heuristic language ID from stopword hit counts per language; returns
    * the language code with the most stopword hits, 'und' when none hit.
    * An n-gram-free heuristic that distributes trivially (pure per-row
    * expression, no shuffle, no model broadcast).
    */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "para"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "für", "mit"))

  def langId(toks: Column): Column = {
    val scored = langStopwords.toSeq.sortBy(_._1).map { case (code, words) =>
      val ws = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(ws, t))).as("hits"),
             lit(code).as("code"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("code")).otherwise(lit("und"))
  }

  /** Content fingerprint of normalized text: md5 hex (exact dedup key that
    * survives re-ordering of ingestion batches; stable across engines).
    */
  /** Accent folding (diacritic strip) for Latin-script text — the
    * missing step of the reference's French-text normalization chain
    * (`csv-tech.conf` lowercases and strips punctuation but job-offer
    * text is full of é/è/à/ç): map every French/Latin-1 diacritic to
    * its base letter and expand the œ/æ ligatures. One codegen'd
    * `translate` (single-char map) after three `regexp_replace`s for
    * the two-char ligature expansions — map-side, no UDF.
    */
  val accentFrom: String = "àáâãäåèéêëìíîïòóôõöùúûüýÿçñÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÝÇÑ"
  val accentTo: String   = "aaaaaaeeeeiiiiooooouuuuyycnAAAAAAEEEEIIIIOOOOOUUUUYCN"
  def foldAccents(c: Column): Column =
    translate(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        c, "œ", "oe"), "Œ", "OE"), "æ", "ae"), "Æ", "AE"),
      accentFrom, accentTo)

  /** Unicode NFC normalization (canonical composition) — the missing
    * prerequisite of any text-dedup/fingerprint chain on real-world
    * corpora: the same visible string arrives both precomposed (é =
    * U+00E9) and decomposed (e + U+0301) and must hash identically.
    * JDK `java.text.Normalizer` behind a codegen'd expression (no UDF).
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: most ASCII/already-NFC strings skip the rebuild
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "nfc_normalize"
    override def nullSafeEval(input: Any): Any =
      nfcNormalize(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextFns.nfcNormalize($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def nfc(c: Column): Column =
    GraftColumnBridge.column(NfcNormalize(GraftColumnBridge.expression(c)))

  def fingerprintMd5(c: Column): Column = md5(normalizeText(c).cast("binary"))

  /** 64-bit rolling-hash-style fingerprint (xxhash64 of normalized text) —
    * cheaper join key than md5 for billion-row dedup.
    */
  def fingerprint64(c: Column): Column = xxhash64(normalizeText(c))
}
