package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** ASCII transliteration — the engine's `unidecode` analog
  * (`/root/reference/odgovlt.py:44` transliterates ANY script before
  * slugging). One pass over the string, three tiers per character:
  *
  *  1. ASCII passes through;
  *  2. table lookup — the Lithuanian/Latin repertoire (formerly a
  *     `translate` column chain) plus Cyrillic and Greek romanization with
  *     the same output conventions as the Python `unidecode` package
  *     (ж→zh, щ→shch, я→ia, θ→th, ψ→ps, …);
  *  3. NFD fallback — canonical decomposition, combining marks dropped,
  *     base characters re-entered through the table (so ḉ → c, ύ → u).
  *
  * Characters none of the tiers resolve (CJK, emoji, …) pass through
  * unchanged and die at slugify's `[^\w\s-]` strip — Java's ASCII `\w`
  * gives exactly Python-unidecode's drop-unknown end state.
  *
  * A native (static call, no boxing): the slug pipeline runs at scan
  * speed inside whole-stage codegen.
  */
object UnidecodeOps {

  // the Latin repertoire, verbatim from the former translate() mapping so
  // the slug oracles' byte-for-byte behavior is preserved
  private val latinFrom =
    "ąčęėįšųūžĄČĘĖĮŠŲŪŽ" +
    "àáâãäåāăèéêëēĕėęěìíîïĩīĭįòóôõöøōŏőùúûüũūŭůűçćĉċčďđñńņňĝğġģĥħĵķĺļľŀłŕŗřśŝşšţťŧŵŷýÿźżž" +
    "ÀÁÂÃÄÅĀĂÈÉÊËĒĔĖĘĚÌÍÎÏĨĪĬĮÒÓÔÕÖØŌŎŐÙÚÛÜŨŪŬŮŰÇĆĈĊČĎĐÑŃŅŇĜĞĠĢĤĦĴĶĹĻĽĿŁŔŖŘŚŜŞŠŢŤŦŴŶÝŸŹŻŽ"
  private val latinTo =
    "aceeisuuzACEEISUUZ" +
    "aaaaaaaaeeeeeeeeeiiiiiiiiooooooooouuuuuuuuucccccddnnnngggghhjklllllrrrsssstttwyyyzzz" +
    "AAAAAAAAEEEEEEEEEIIIIIIIIOOOOOOOOOUUUUUUUUUCCCCCDDNNNNGGGGHHJKLLLLLRRRSSSSTTTWYYYZZZ"

  private val cyrillicLower = Map(
    'а' -> "a", 'б' -> "b", 'в' -> "v", 'г' -> "g", 'д' -> "d", 'е' -> "e",
    'ё' -> "io", 'ж' -> "zh", 'з' -> "z", 'и' -> "i", 'й' -> "i", 'к' -> "k",
    'л' -> "l", 'м' -> "m", 'н' -> "n", 'о' -> "o", 'п' -> "p", 'р' -> "r",
    'с' -> "s", 'т' -> "t", 'у' -> "u", 'ф' -> "f", 'х' -> "kh", 'ц' -> "ts",
    'ч' -> "ch", 'ш' -> "sh", 'щ' -> "shch", 'ъ' -> "\"", 'ы' -> "y",
    'ь' -> "'", 'э' -> "e", 'ю' -> "iu", 'я' -> "ia",
    // Ukrainian/Belarusian extras, same unidecode conventions
    'є' -> "ie", 'і' -> "i", 'ї' -> "i", 'ґ' -> "g", 'ў' -> "u")

  private val greekLower = Map(
    'α' -> "a", 'β' -> "b", 'γ' -> "g", 'δ' -> "d", 'ε' -> "e", 'ζ' -> "z",
    'η' -> "e", 'θ' -> "th", 'ι' -> "i", 'κ' -> "k", 'λ' -> "l", 'μ' -> "m",
    'ν' -> "n", 'ξ' -> "x", 'ο' -> "o", 'π' -> "p", 'ρ' -> "r", 'σ' -> "s",
    'ς' -> "s", 'τ' -> "t", 'υ' -> "u", 'φ' -> "ph", 'χ' -> "kh",
    'ψ' -> "ps", 'ω' -> "o")

  /** Uppercase forms title-case their romanization (Щ → Shch), matching
    * Python unidecode.
    */
  private def withUpper(lower: Map[Char, String]): Map[Char, String] =
    lower ++ lower.flatMap { case (c, r) =>
      val u = c.toUpper
      if (u != c) Some(u -> (if (r.isEmpty) r else r.head.toUpper +: r.tail))
      else None
    }

  private val table: Map[Char, String] = {
    require(latinFrom.length == latinTo.length)
    latinFrom.zip(latinTo).map { case (f, t) => f -> t.toString }.toMap ++
      Map('ß' -> "ss", 'ẞ' -> "SS") ++
      withUpper(cyrillicLower) ++ withUpper(greekLower)
  }

  private val MaxDepth = 4 // decomposition chains are 1-2 deep in practice

  private def isCombining(c: Char): Boolean = {
    val t = Character.getType(c)
    t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
      t == Character.ENCLOSING_MARK
  }

  private def appendChar(sb: java.lang.StringBuilder, c: Char, depth: Int): Unit =
    if (c < 0x80) sb.append(c)
    else table.get(c) match {
      case Some(r) => sb.append(r)
      case None if depth < MaxDepth =>
        val d = Normalizer.normalize(String.valueOf(c), Normalizer.Form.NFD)
        if (d.length > 1 || d.charAt(0) != c) {
          var i = 0
          while (i < d.length) {
            // base characters re-enter the tiers: NFD(ύ) = υ + mark → "u"
            if (!isCombining(d.charAt(i))) appendChar(sb, d.charAt(i), depth + 1)
            i += 1
          }
        } else sb.append(c) // unmapped, indecomposable: downstream strip
      case _ => sb.append(c)
    }

  /** Static entry point shared by eval and generated code. */
  def ascii(s: UTF8String): UTF8String = {
    // fast path: a string is pure ASCII iff none of its UTF-8 bytes has the
    // high bit set, so the common case (most of any corpus) is decided on
    // the raw bytes without decoding to UTF-16 — genuinely allocation-free
    val n = s.numBytes
    var b = 0
    while (b < n && s.getByte(b) >= 0) b += 1
    if (b == n) return s
    val in = s.toString
    val sb = new java.lang.StringBuilder(in.length + 8)
    var i = 0
    while (i < in.length) { appendChar(sb, in.charAt(i), 0); i += 1 }
    UTF8String.fromString(sb.toString)
  }
}

object Unidecode extends NativeFunction("unidecode", Seq(In.string), StringType,
  NullRule.Propagate, "graft.functions.UnidecodeOps.ascii")
