package graft.operators

import graft.text.{Punct, PyText}

/** formatters/symbol_lines_remover.py:5-36 — collapse runs of symbol-only
  * lines to `replaceChar` (default: removed entirely). */
final class SymbolLinesFormatter(
    symbolsToRemove: Set[Int] = Punct.PUNCTUATION_SET,
    replaceChar: String = "") extends Serializable {

  def format(text: String): String = {
    val formatted = scala.collection.mutable.ArrayBuffer.empty[String]
    var inRemovedSpan = false
    for (line <- PyText.splitLines(text)) {
      val charsLine = PyText.pyStrip(line).nonEmpty &&
        line.forall(c => symbolsToRemove.contains(c.toInt) || c == ' ')
      if (charsLine && !inRemovedSpan) {
        if (replaceChar.nonEmpty) formatted += replaceChar
        inRemovedSpan = true
      } else if (!charsLine) {
        formatted += line
        inRemovedSpan = false
      }
    }
    formatted.mkString("\n")
  }

  def stage: DocStage = new DocStage {
    val name = "symbol_lines_formatter"
    def process(doc: PipeDoc, ctx: StageContext): PipeDoc =
      doc.copy(text = format(doc.text))
  }
}

/** UTF-8-as-Latin-1 mojibake repair — the fix_encoding core of the FTFY
  * formatter (see FtfyLite below for the full default-config repertoire). */
object EncodingFixer {
  /** Repair UTF-8 bytes mis-decoded as Latin-1/Windows-1252 when the fix
    * strictly reduces mojibake markers; otherwise return input. cp1252
    * displayables (€ ™ “ ” …) reverse-map to their C1 byte values, so the
    * ubiquitous "â€™"-style mojibake repairs too (ftfy's sloppy-windows-1252). */
  def fixText(text: String): String = {
    if (!text.exists(c => c >= 0xc2 && c <= 0xf4)) return text
    val candidate = try {
      val bytes = text.map { c =>
        if (c <= 0xff) c.toByte
        else FtfyLite.cp1252ByteFor(c).getOrElse(return text)
      }.toArray
      val decoded = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      if (decoded.contains('�')) text else decoded
    } catch { case _: Exception => text }
    if (candidate.length < text.length) candidate else text
  }

  def stage: DocStage = new DocStage {
    val name = "encoding_fixer"
    def process(doc: PipeDoc, ctx: StageContext): PipeDoc =
      doc.copy(text = fixText(doc.text))
  }
}

/** FTFY default-config repertoire (formatters/ftfy.py:16-56). The reference
  * enables: unescape_html="auto", remove_terminal_escapes, fix_encoding
  * (+restore_byte_a0/replace_lossy_sequences/decode_inconsistent_utf8),
  * fix_c1_controls, fix_surrogates, remove_control_chars — and explicitly
  * DISABLES ligatures/width/quote/line-break normalization. This implements
  * each enabled fixer from its public definition (the ftfy library itself
  * is not available offline, so parity is fixture-tested, not diffed):
  *  - unescape_html "auto": unescape entities only when the text contains
  *    no raw markup (`<`) — ftfy's looks-like-escaped-text heuristic;
  *  - remove_terminal_escapes: strip ANSI CSI sequences;
  *  - fix_encoding: EncodingFixer (UTF-8-read-as-Latin-1/cp1252 repair);
  *  - fix_c1_controls: map C1 bytes to their windows-1252 displayables;
  *  - fix_surrogates: lone UTF-16 surrogates → U+FFFD (adjacent hi+lo
  *    pairs are already combined by the JVM's UTF-16 representation);
  *  - remove_control_chars: drop Cc controls except \t \n \f \r.
  * Fixer order follows ftfy's pipeline. */
object FtfyLite {
  private val Esc: Char = 0x1b.toChar
  private val AnsiEscape =
    java.util.regex.Pattern.compile(s"$Esc\\[[0-9;]*[a-zA-Z]")

  private val Entities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "rsquo" -> "’", "lsquo" -> "‘",
    "rdquo" -> "”", "ldquo" -> "“", "copy" -> "©",
    "reg" -> "®", "trade" -> "™", "deg" -> "°",
    "eacute" -> "é", "egrave" -> "è", "agrave" -> "à",
    "ccedil" -> "ç", "uuml" -> "ü", "ouml" -> "ö",
    "auml" -> "ä", "szlig" -> "ß", "middot" -> "·")

  private val EntityPattern =
    java.util.regex.Pattern.compile("&(#[xX]?[0-9a-fA-F]+|[a-zA-Z]+);")

  /** windows-1252 displayable mapping for the C1 range (public table). */
  private val C1ToCp1252: Map[Char, Char] = Map(
    0x80 -> 0x20ac, 0x82 -> 0x201a, 0x83 -> 0x0192, 0x84 -> 0x201e,
    0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02c6,
    0x89 -> 0x2030, 0x8a -> 0x0160, 0x8b -> 0x2039, 0x8c -> 0x0152,
    0x8e -> 0x017d, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201c,
    0x94 -> 0x201d, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
    0x98 -> 0x02dc, 0x99 -> 0x2122, 0x9a -> 0x0161, 0x9b -> 0x203a,
    0x9c -> 0x0153, 0x9e -> 0x017e, 0x9f -> 0x0178
  ).map { case (k, v) => k.toChar -> v.toChar }

  private val Cp1252Reverse: Map[Char, Char] = C1ToCp1252.map(_.swap)

  /** The C1 byte a cp1252 displayable came from (for mojibake reversal). */
  def cp1252ByteFor(c: Char): Option[Byte] = Cp1252Reverse.get(c).map(_.toByte)

  def unescapeHtml(text: String): String = {
    if (text.indexOf('<') >= 0 || text.indexOf('&') < 0) return text // "auto"
    val m = EntityPattern.matcher(text)
    val sb = new java.lang.StringBuffer
    while (m.find()) {
      val body = m.group(1)
      val repl =
        if (body.startsWith("#x") || body.startsWith("#X"))
          try new String(Character.toChars(Integer.parseInt(body.substring(2), 16)))
          catch { case _: Exception => m.group(0) }
        else if (body.startsWith("#"))
          try new String(Character.toChars(body.substring(1).toInt))
          catch { case _: Exception => m.group(0) }
        else Entities.getOrElse(body, m.group(0))
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(repl))
    }
    m.appendTail(sb)
    sb.toString
  }

  def removeTerminalEscapes(text: String): String =
    if (text.indexOf(Esc.toInt) < 0) text else AnsiEscape.matcher(text).replaceAll("")

  def fixC1Controls(text: String): String =
    if (!text.exists(c => c >= 0x80 && c <= 0x9f)) text
    else text.map(c => C1ToCp1252.getOrElse(c, c))

  def fixSurrogates(text: String): String = {
    if (!text.exists(Character.isSurrogate)) return text
    val sb = new StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < text.length &&
          Character.isLowSurrogate(text.charAt(i + 1))) {
        sb.append(c).append(text.charAt(i + 1)); i += 2
      } else if (Character.isSurrogate(c)) { sb.append('�'); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def isDroppableControl(c: Char): Boolean =
    Character.getType(c) == Character.CONTROL &&
      c != '\t' && c != '\n' && c != '\f' && c != '\r'

  def removeControlChars(text: String): String =
    if (!text.exists(isDroppableControl)) text
    else text.filterNot(isDroppableControl)

  def fix(text: String): String = {
    var t = unescapeHtml(text)
    t = removeTerminalEscapes(t)
    t = EncodingFixer.fixText(t)
    t = fixC1Controls(t)
    t = fixSurrogates(t)
    removeControlChars(t)
  }

  def stage: DocStage = new DocStage {
    val name = "ftfy_formatter"
    def process(doc: PipeDoc, ctx: StageContext): PipeDoc =
      doc.copy(text = fix(doc.text))
  }
}
