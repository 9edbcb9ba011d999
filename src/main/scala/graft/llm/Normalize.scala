package graft.llm

import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}
import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization + mojibake repair — the stage every real
  * web-corpus build runs BEFORE hashing anything (reference-scope
  * extension; the reference engine has no text surface at all, see
  * SURVEY §2.11 note). Un-normalized text silently defeats exact/chunk
  * dedup: the NFC and NFD spellings of the same word are different byte
  * strings, so two visually-identical documents never collide on any
  * content hash. Same story for UTF-8-as-Latin-1 mojibake — the mangled
  * and clean spellings of one crawl page hash apart.
  *
  * All entry points are pure `Column` stages (native codegen'd
  * expressions or builtin functions) — narrow, zero-shuffle, safe to run
  * inline in the scan projection at any scale.
  */
object Normalize {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Canonical composition (Unicode NFC). Engine-portable: DuckDB's
    * `nfc_normalize()` computes the same canonical form.
    */
  def nfc(text: Column): Column =
    ColumnBridge.toColumn(NfcExpr(ColumnBridge.toExpression(text)))

  /** Repair UTF-8-read-as-Latin-1/Windows-1252 double encoding (the
    * ftfy headline fix): re-encode the chars as cp1252 bytes (Latin-1
    * for the 0x80–0x9F gap) and strictly re-decode as UTF-8, up to
    * [[MojibakeRepairExpr.MaxPasses]] times for multiply-mangled text.
    * Clean text is a fixed point: ASCII never re-decodes differently,
    * and ordinary accented text ("café") fails the strict UTF-8 decode
    * and is returned untouched. Known (documented, ftfy-shared)
    * trade-off: a string whose accented chars happen to form a valid
    * UTF-8 byte sequence is indistinguishable from mojibake and gets
    * "repaired"; such sequences essentially never occur in real prose.
    */
  def repairMojibake(text: Column): Column =
    ColumnBridge.toColumn(
      MojibakeRepairExpr(ColumnBridge.toExpression(text)))

  /** The typographic-punctuation cleanup every curation recipe applies:
    * curly quotes → ASCII quotes, en/em/horizontal dashes and minus →
    * '-', NBSP/thin/narrow spaces → ' ', zero-width chars and BOM
    * deleted, ellipsis → "...". One builtin `translate` (codegen'd) +
    * one `replace`; DuckDB twin is the same translate/replace pair.
    */
  def normalizePunct(text: Column): Column =
    regexp_replace(
      translate(text, PunctFrom, PunctTo), "\u2026", "...")

  // curly singles -> ', curly doubles -> ", dash family -> -,
  // space family -> ' ', zero-width family -> deleted (FROM longer
  // than TO deletes the tail chars -- same semantics in Spark's
  // translate and DuckDB/Postgres translate)
  val PunctFrom: String =
    "\u2018\u2019\u201a\u201b" +
      "\u201c\u201d\u201e\u201f" +
      "\u2010\u2011\u2012\u2013\u2014\u2015\u2212" +
      "\u00a0\u2002\u2003\u2007\u2009\u202f\u3000" +
      "\u200b\u200c\u200d\ufeff"
  val PunctTo: String = "''''" + "\"\"\"\"" + "-------" + "       "

  /** Crawl-grade HTML stripping (the trafilatura-lite pass): drop
    * script/style blocks WITH their content, drop comments, replace
    * every remaining tag with a space (block boundaries must not glue
    * words), decode the core entities (amp LAST so double-encoded
    * `&amp;lt;` stays a literal `<`), and collapse whitespace. Every
    * pattern sits in the RE2∩Java regex subset (the PII discipline),
    * so a SQL oracle recomputes the strip verbatim. Pure codegen'd
    * Column chain — narrow, shuffle-free.
    */
  def stripHtml(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?s)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noComments = regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "<[^>]+>", " ")
    val named = HtmlEntities.takeWhile(_._1 != "&amp;")
      .foldLeft(noTags) { case (c, (e, v)) => regexp_replace(c, e, v) }
    // numeric refs AFTER the other named entities (so a decoded
    // `&#38;lt;` -> `&lt;` is never re-decoded) and BEFORE `&amp;` (so
    // double-encoded `&amp;#8217;` stays the literal text `&#8217;`).
    // Documented divergence from single-pass HTML semantics: the
    // trailing `&amp;` replace re-scans numeric-pass OUTPUT, so the
    // doubly-stacked `&#38;amp;x` decodes to `&x` where a browser
    // stops at `&amp;x`. Accepting it keeps `&amp;` decode a plain
    // regexp_replace both engines spell identically (the q292 oracle
    // mirrors this order); fixing it would need `&amp;` folded into
    // the native numeric pass. Double-stacked escapes are vanishingly
    // rare in crawls and the result is stable for dedup either way.
    val decoded = regexp_replace(
      decodeNumericEntities(named), "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Decode HTML numeric character references — `&#NNN;` (1–7 decimal
    * digits) and `&#xHH;`/`&#XHH;` (1–6 hex digits) — to their Unicode
    * character; real crawls are full of `&#8217;` (CMS smart-quote
    * output) and leaving them as literal text splits dedup keys.
    * Single pass, decoded text never re-decodes. Invalid references
    * (codepoint 0, beyond U+10FFFF, a surrogate, a digit run past the
    * length cap, or a missing `;`) pass through as literal text. The
    * SQL twin is `string_split(s, '&#')` + a per-segment CASE — the
    * q292 oracle recomputes it that way.
    */
  def decodeNumericEntities(text: Column): Column =
    ColumnBridge.toColumn(
      NumericEntitiesExpr(ColumnBridge.toExpression(text)))

  /** Entity decode order matters: `&amp;` LAST (see [[stripHtml]]). */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
    "&amp;" -> "&")

  /** The full pre-hash normalization: mojibake repair → NFC → punct
    * cleanup → whitespace collapse. This is the string both dedup faces
    * should hash (see the NFD/NFC dedup spec): byte-different spellings
    * of equal content collide only after this stage.
    */
  def forDedup(text: Column): Column =
    trim(regexp_replace(normalizePunct(nfc(repairMojibake(text))),
      "\\s+", " "))
}

/** Native Unicode-NFC expression (java.text.Normalizer, the JDK's
  * implementation of UAX #15 canonical composition). Fast path: the
  * Normalizer's quick-check skips already-NFC text without allocating.
  */
case class NfcExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfc", this, classOf[NfcExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.compute($in);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NfcExpr = copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

/** Native mojibake repair: invert "UTF-8 bytes decoded as
  * Windows-1252-with-Latin-1-fallback". Per pass: chars ≤ 0xFF map to
  * their Latin-1 byte, the 27 cp1252 specials (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ
  * Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ) to their 0x80–0x9F byte; any other
  * char means the string is not a Latin-1 misdecode — stop. The byte
  * image is strictly decoded as UTF-8; failure returns the input
  * unchanged (ordinary accented text lands here), success repeats up to
  * [[MojibakeRepairExpr.MaxPasses]] for double/triple-mangled text.
  */
case class MojibakeRepairExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  import MojibakeRepairExpr._

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(s: UTF8String): UTF8String = {
    var cur = s.toString
    var changed = false
    var pass = 0
    var done = false
    while (pass < MaxPasses && !done) {
      repairOnce(cur) match {
        case Some(next) => cur = next; changed = true; pass += 1
        case None => done = true
      }
    }
    if (changed) UTF8String.fromString(cur) else s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repair", this,
      classOf[MojibakeRepairExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.compute($in);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MojibakeRepairExpr = copy(child = newChild)

  override def prettyName: String = "repair_mojibake"
}

/** Native numeric-character-reference decoder (see
  * [[Normalize.decodeNumericEntities]]). One left-to-right scan: at
  * each `&#`, parse `[0-9]{1,7};` or `[xX][0-9a-fA-F]{1,6};`; a valid
  * codepoint (1..U+10FFFF, not a surrogate) appends its chars, anything
  * else appends the literal `&#` and rescans right after it — exactly
  * the semantics of splitting on `&#` and judging each segment head,
  * which is how the SQL twin recomputes it.
  */
case class NumericEntitiesExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    var i = str.indexOf("&#")
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(str.length)
    var pos = 0
    while (i >= 0) {
      sb.append(str, pos, i)
      var j = i + 2
      val hex = j < str.length &&
        (str.charAt(j) == 'x' || str.charAt(j) == 'X')
      if (hex) j += 1
      val start = j
      while (j < str.length && isRefDigit(hex, str.charAt(j))) j += 1
      val run = j - start
      val cap = if (hex) 6 else 7
      val ok = run >= 1 && run <= cap &&
        j < str.length && str.charAt(j) == ';'
      val cp = if (!ok) -1
        else Integer.parseInt(str.substring(start, j), if (hex) 16 else 10)
      if (ok && cp >= 1 && cp <= 0x10FFFF &&
          !(cp >= 0xD800 && cp <= 0xDFFF)) {
        sb.appendCodePoint(cp)
        pos = j + 1
      } else {
        sb.append("&#")
        pos = i + 2
      }
      i = str.indexOf("&#", pos)
    }
    sb.append(str, pos, str.length)
    UTF8String.fromString(sb.toString)
  }

  private def isRefDigit(hex: Boolean, c: Char): Boolean =
    (c >= '0' && c <= '9') || (hex &&
      ((c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("numEnt", this,
      classOf[NumericEntitiesExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.compute($in);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NumericEntitiesExpr = copy(child = newChild)

  override def prettyName: String = "decode_numeric_entities"
}

object MojibakeRepairExpr {
  /** ftfy loops until fixed point; 3 passes cover everything observed
    * in real crawls (double encoding is common, triple is the tail).
    */
  val MaxPasses = 3

  /** cp1252 0x80–0x9F specials, by char → byte (the positions cp1252
    * leaves undefined — 0x81 8D 8F 90 9D — fall back to Latin-1's C1
    * controls, matching the "sloppy cp1252" decoders real crawls were
    * mangled with).
    */
  private val Cp1252: Map[Char, Byte] = Map(
    '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83,
    '„' -> 0x84, '…' -> 0x85, '†' -> 0x86,
    '‡' -> 0x87, 'ˆ' -> 0x88, '‰' -> 0x89,
    'Š' -> 0x8A, '‹' -> 0x8B, 'Œ' -> 0x8C,
    'Ž' -> 0x8E, '‘' -> 0x91, '’' -> 0x92,
    '“' -> 0x93, '”' -> 0x94, '•' -> 0x95,
    '–' -> 0x96, '—' -> 0x97, '˜' -> 0x98,
    '™' -> 0x99, 'š' -> 0x9A, '›' -> 0x9B,
    'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F
  ).map { case (c, b) => c -> b.toByte }

  /** One repair pass, or None if the string is pure ASCII, contains a
    * char outside the Latin-1/cp1252 image, or its byte image is not
    * valid UTF-8.
    */
  private[llm] def repairOnce(s: String): Option[String] = {
    val n = s.length
    var hasHigh = false
    var i = 0
    while (i < n && !hasHigh) { if (s.charAt(i) > 0x7F) hasHigh = true; i += 1 }
    if (!hasHigh) return None
    val bytes = new Array[Byte](n)
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c <= 0xFF) bytes(i) = c.toByte
      else Cp1252.get(c) match {
        case Some(b) => bytes(i) = b
        case None => return None
      }
      i += 1
    }
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try Some(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    catch { case _: CharacterCodingException => None }
  }
}
