package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Vietnamese product-name cleaning / shortening heuristics (SURVEY.md
  * X8–X10). Pure string functions — registered as Scala UDFs because the
  * keyword lists and ordered regex passes are too branchy for Column
  * expressions, and the behavioral contract (reference
  * src/pipelines/transform/transformer.py:600-932) is ordering-sensitive.
  *
  * All patterns compile with CASE_INSENSITIVE | UNICODE_CASE |
  * UNICODE_CHARACTER_CLASS so `\b` and case folding work on Vietnamese
  * diacritics (Python's `re` is Unicode-aware by default; the JVM needs the
  * flags).
  *
  * The AI-fallback branch of the reference (transformer.py:872-932) is a
  * pluggable seam (`NameShortener`); the default is heuristics-only, which
  * is also the reference's behavior with AI disabled.
  */
object NameCleaner {

  private val U = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | Pattern.UNICODE_CHARACTER_CLASS
  private def p(regex: String): Pattern = Pattern.compile(regex, U)
  private def pCase(regex: String): Pattern =
    Pattern.compile(regex, Pattern.UNICODE_CHARACTER_CLASS)

  // --- X8: _clean_name_heuristics (transformer.py:600-753) -----------------

  private val leadingNoise  = pCase("^[\\[\\(\\-\\s]+")
  private val trailingNoise = pCase("[\\]\\)\\-\\s]+$")
  private val hashtag       = pCase("#\\w+\\b")

  private val skuPatterns = Seq(
    p("\\b[A-Za-z]{2,}\\d{3,}\\b"),      // CV0016, SP1234
    p("\\b[A-Za-z]+\\-\\d+\\b"),         // SKU-123, MS-001
    p("\\bMS\\s*\\d+\\b"),               // MS 123
    p("\\bMã\\s*(?:số)?\\s*\\d+\\b"))    // Mã số 123

  /** ~90 marketing-fluff keywords, word-boundary matched (reference
    * transformer.py:630-739, ported verbatim as a behavioral contract). */
  val fluffKeywords: Seq[String] = Seq(
    "sang chảnh", "siêu xinh", "trẻ trung", "thoáng mát", "cực đẹp",
    "chất lượng", "cao cấp", "gợi cảm", "quyến rũ", "sexy", "hot hot",
    "mẫu mới nhất", "new design", "hot trend", "giá rẻ", "siêu rẻ",
    "vải mềm", "co giãn", "thiết kế", "chất mềm", "mới nhất", "siêu đẹp",
    "hot", "giá sốc", "giá tốt", "flash sale", "siêu sale", "sale sốc",
    "khuyến mãi", "quà tặng", "combo", "set", "uy tín", "nhập khẩu",
    "xuất khẩu", "hàng hiệu", "bền đẹp", "siêu bền", "chống nước", "xịn",
    "vip", "luxury", "limited", "bản giới hạn", "đa năng", "tiện lợi",
    "tiện dụng", "thông minh", "tự động", "chính hãng", "hàng công ty",
    "fullbox", "nguyên seal", "giá sỉ", "giá tận gốc", "mẫu mới", "mẫu hot",
    "hàng nội địa", "chất lượng cao", "siêu cấp", "siêu sạch", "siêu gọn",
    "nhỏ gọn", "cầm tay", "mini", "loại 1", "bản cao cấp", "chống trầy",
    "chống xước", "kháng khuẩn", "khử mùi", "tiết kiệm", "hiệu quả",
    "bảo hành", "đổi trả", "tặng kèm", "freeship", "miễn phí", "chăm sóc",
    "vệ sinh", "làm sạch", "giúp", "giảm", "tăng", "hỗ trợ", "công nghệ",
    "phong cách", "thiết kế mới", "mẫu mã đẹp")

  private val fluffPattern =
    p("\\b(" + fluffKeywords.map(Pattern.quote).mkString("|") + ")\\b")

  private val specPatterns = Seq(
    // W76xD30.5xH11.5Cm — dimension triples/pairs
    p("\\b[A-Za-z]?\\d+[\\.,]?\\d*\\s*[xX]\\s*[A-Za-z]?\\d+[\\.,]?\\d*(?:\\s*[xX]\\s*[A-Za-z]?\\d+[\\.,]?\\d*)?[^ ]*\\b"),
    // 5m, 10kg, 100w, 2000mah
    p("\\b\\d+[\\.,]?\\d*\\s*(?:m|cm|mm|kg|g|l|ml|w|v|kw|ah|ma|mah)\\b"),
    // 5 chế độ, 4 đầu, 3 món ...
    p("\\b\\d+\\s*(?:chế độ|đầu|món|chi tiết|cái|nấc|vị|mùi|lít|hũ|gói|viên)\\b"),
    // 2/3, 2-1
    p("\\b\\d+[-/]\\d+\\b"))

  private val years        = pCase("\\b202\\d\\b")
  private val noisySymbols = pCase("[\\!\\*\\+\\=~…\\.]")
  // C0 controls + DEL: no product name carries them, the whitespace
  // collapse below (ASCII \s) does NOT absorb the non-\s ones (\x00-\x08,
  // \x0E-\x1F), and String.trim strips everything <= U+0020 — so an
  // un-stripped control at the result's edge violates the "output is
  // trimmed" totality contract (PropertySpec caught this on a ScalaCheck
  // BMP-garbage seed; NameCleanerSpec's whole-BMP sweep pins it
  // deterministically)
  private val ctrl         = Pattern.compile("\\p{Cntrl}")

  /** X8 — remove SKUs, marketing fluff, dimensions, years, noisy symbols;
    * collapse whitespace; sentence-case. */
  def cleanName(name: String): String = {
    if (name == null || name.isEmpty) return ""
    var s = leadingNoise.matcher(ctrl.matcher(name).replaceAll(" ")).replaceAll("")
    s = trailingNoise.matcher(s).replaceAll("")
    var cleaned = hashtag.matcher(s).replaceAll("")
    skuPatterns.foreach(pat => cleaned = pat.matcher(cleaned).replaceAll(""))
    cleaned = fluffPattern.matcher(cleaned).replaceAll("")
    specPatterns.foreach(pat => cleaned = pat.matcher(cleaned).replaceAll(""))
    cleaned = years.matcher(cleaned).replaceAll("")
    cleaned = noisySymbols.matcher(cleaned).replaceAll(" ")
    cleaned = cleaned.split("\\s+").filter(_.nonEmpty).mkString(" ")
    if (cleaned.nonEmpty) {
      val lower = cleaned.toLowerCase
      if (lower.length > 1) lower.substring(0, 1).toUpperCase + lower.substring(1)
      else lower.toUpperCase
    } else cleaned
  }

  // --- X9: _extract_short_name_heuristics (transformer.py:755-870) ---------

  private val separators = Seq("\\|", "\\s-\\s", "\\s–\\s", "\\(", "\\[", ",", "\\s/\\s")

  /** ~50 stop-phrases that signal the start of attribute noise (reference
    * transformer.py:793-845). */
  val stopPhrases: Seq[String] = Seq(
    "chính hãng", "cao cấp", "nhập khẩu", "giá rẻ", "uy tín", "chất lượng",
    "bảo hành", "xuất xứ", "thương hiệu", "dành cho", "phù hợp",
    "kích thước", "size", "màu sắc", "màu", "bộ nhớ", "ram", "dung lượng",
    "phiên bản", "model", "tặng kèm", "miễn phí", "freeship", "fullbox",
    "nguyên seal", "hàng mới", "new", "hot", "xả kho", "thanh lý",
    "chăm sóc", "công nghệ", "tự động", "đa năng", "tiện lợi", "tiện dụng",
    "hỗ trợ", "giải pháp", "giúp", "hiệu quả", "an toàn", "chống", "tặng",
    "kèm", "bộ", "set", "combo", "mẫu mã", "mẫu mới", "thiết kế",
    "phong cách", "không dây", "không dùng", "dùng cho")

  private val stopPatterns =
    stopPhrases.map(ph => pCase("\\b" + Pattern.quote(ph) + "\\b"))

  private val edgeNoiseTail = pCase("[\\s\\-\\+\\&\\,/\\|\\(\\)\\[\\]]+$")
  private val edgeNoiseHead = pCase("^[\\s\\-\\+\\&\\,/\\|\\(\\)\\[\\]]+")

  /** X9 — clean, then structural split on 7 delimiter classes (first chunk
    * longer than 5 chars wins, applied per-delimiter in order), then cut at
    * the earliest stop-phrase occurring past index 5, then trim edge
    * punctuation. */
  def extractShortName(name: String): String = {
    var cleaned = cleanName(name)
    if (cleaned.isEmpty) return ""

    separators.foreach { sep =>
      val parts = cleaned.split(sep, -1)
      parts.collectFirst { case part if part.trim.length > 5 => part.trim }
        .foreach(candidate => cleaned = candidate)
    }

    val nameLower = cleaned.toLowerCase
    var earliest = cleaned.length
    stopPatterns.foreach { pat =>
      val m = pat.matcher(nameLower)
      if (m.find()) {
        val idx = m.start()
        if (idx > 5 && idx < earliest) earliest = idx
      }
    }
    if (earliest < cleaned.length) cleaned = cleaned.substring(0, earliest).trim

    cleaned = edgeNoiseTail.matcher(cleaned).replaceAll("")
    cleaned = edgeNoiseHead.matcher(cleaned).replaceAll("")
    cleaned
  }

  // --- X10: _get_short_name (transformer.py:872-932), AI branch pluggable --

  /** Pluggable AI-summarizer seam; the default (None) reproduces the
    * reference with AI disabled. */
  trait NameShortener extends Serializable { def shorten(name: String): Option[String] }

  def shortName(name: String): String = shortName(name, None)

  def shortName(name: String, ai: Option[NameShortener]): String = {
    if (name == null || name.isEmpty) return ""
    val heuristic = extractShortName(name)
    if (heuristic.nonEmpty) {
      val wc = heuristic.split(" ").length
      if (wc >= 2 && wc <= 7 && heuristic.length <= 45) return heuristic
    }
    val aiResult = ai.flatMap { shortener =>
      val input = if (heuristic.nonEmpty && heuristic.length > 3) heuristic else name
      shortener.shorten(input).filter(r => r.nonEmpty && r != input)
    }
    aiResult.getOrElse {
      val candidate = if (heuristic.nonEmpty) heuristic else name
      if (candidate.length > 80) {
        val truncated = candidate.substring(0, 77)
        val lastSpace = truncated.lastIndexOf(' ')
        (if (lastSpace > 40) candidate.substring(0, lastSpace) else truncated) + "..."
      } else candidate
    }
  }

  // --- UDF surface ----------------------------------------------------------

  val cleanNameUdf: UserDefinedFunction   = udf((s: String) => cleanName(s))
  val shortNameUdf: UserDefinedFunction   = udf((s: String) => shortName(s))
  val extractShortNameUdf: UserDefinedFunction = udf((s: String) => extractShortName(s))

  /** Register `clean_name`, `short_name`, `extract_short_name` for SQL use. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("clean_name", cleanNameUdf)
    spark.udf.register("short_name", shortNameUdf)
    spark.udf.register("extract_short_name", extractShortNameUdf)
  }
}
