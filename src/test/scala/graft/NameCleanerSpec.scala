package graft

import graft.functions.NameCleaner

/** Golden tests for the Vietnamese name heuristics (X8–X10, reference
  * transformer.py:600-932). Pure-function tests — no Spark needed. */
class NameCleanerSpec extends SparkSpec {

  /** Differential goldens generated by executing the reference
    * implementation (transformer.py:600-932) on 20 representative names:
    * (input, _clean_name_heuristics, _get_short_name). */
  private val goldens: Seq[(String, String, String)] = Seq(
    ("Áo thun nam CV0016 cao cấp #hot 2024", "Áo thun nam", "Áo thun nam"),
    ("[HOT] Quần jean nữ - ", "] quần jean nữ", "quần jean nữ"),
    ("Bình giữ nhiệt 500ml SKU-123", "Bình giữ nhiệt", "Bình giữ nhiệt"),
    ("Kệ gỗ W76x30.5xH11.5Cm đa năng", "Kệ gỗ", "Kệ gỗ"),
    ("ÁO THUN NAM", "Áo thun nam", "Áo thun nam"),
    ("Điện thoại ABC | Phụ kiện kèm theo", "Điện thoại abc | phụ kiện kèm theo", "Điện thoại abc"),
    ("Máy xay sinh tố, công suất lớn", "Máy xay sinh tố, công suất lớn", "Máy xay sinh tố"),
    ("Nồi chiên không khí màu sắc đa dạng", "Nồi chiên không khí màu sắc đa dạng", "Nồi chiên không khí"),
    ("Tai nghe bluetooth 5.0 chống ồn MS 456 giá sốc!!!", "Tai nghe bluetooth 5 0 chống ồn", "Tai nghe bluetooth 5 0"),
    ("Combo 3 món đồ chơi trẻ em thông minh 2023", "Đồ chơi trẻ em", "Đồ chơi trẻ em"),
    ("Giày thể thao nam - hàng nội địa (size 39-44)", "Giày thể thao nam - (size", "Giày thể thao nam"),
    ("Balo laptop 15.6 inch chống nước, siêu bền, bảo hành 12 tháng", "Balo laptop 15 6 inch , , 12 tháng", "Balo laptop 15 6 inch"),
    ("Sữa rửa mặt Innisfree 150ml chính hãng Hàn Quốc", "Sữa rửa mặt innisfree hàn quốc", "Sữa rửa mặt innisfree hàn quốc"),
    ("đèn LED USB mini để bàn", "Đèn led usb để bàn", "Đèn led usb để bàn"),
    ("Ốp lưng iPhone 15 Pro Max trong suốt #case #iphone", "Ốp lưng iphone 15 pro max trong suốt", "Ốp lưng iphone 15 pro max trong suốt"),
    ("  Nước hoa nữ 50ml , lưu hương 8h  ", "Nước hoa nữ , lưu hương 8h", "Nước hoa nữ"),
    ("Máy hút bụi cầm tay 2 chế độ pin sạc", "Máy hút bụi pin sạc", "Máy hút bụi pin sạc"),
    ("Chuột gaming DPI 12800 RGB X-99 có dây", "Chuột gaming dpi 12800 rgb có dây", "Chuột gaming dpi 12800 rgb có dây"),
    ("Sách - Đắc Nhân Tâm (bìa mềm)", "Sách - đắc nhân tâm (bìa mềm", "đắc nhân tâm"),
    ("Bộ nồi inox 5 đáy cao cấp nhập khẩu", "Bộ nồi inox 5 đáy", "Bộ nồi inox 5 đáy"))

  test("cleanName matches reference output on 20 differential goldens") {
    goldens.foreach { case (in, wantClean, _) =>
      assert(NameCleaner.cleanName(in) == wantClean, s"cleanName($in)")
    }
    assert(NameCleaner.cleanName("") == "")
    assert(NameCleaner.cleanName(null) == "")
  }

  test("cleanName is total over the whole BMP: non-null and trimmed for every char in 5 positions") {
    // PropertySpec's ScalaCheck run found the C0-control edge case only on
    // a lucky seed; this sweeps every non-surrogate BMP char as a single
    // char, prefix, suffix, infix and after a space, deterministically.
    // No Spark: ~317k direct calls.
    val shapes: Seq[(String, Char => String)] = Seq(
      "single" -> (c => c.toString), "prefix" -> (c => s"${c}x"),
      "suffix" -> (c => s"x$c"), "infix" -> (c => s"x${c}y"),
      "space-suffix" -> (c => s"x $c"))
    val violations = (for {
      c <- (Char.MinValue to Char.MaxValue).iterator if !Character.isSurrogate(c)
      (what, mk) <- shapes.iterator
      out = NameCleaner.cleanName(mk(c))
      if out == null || out != out.trim
    } yield f"[$what] U+${c.toInt}%04X").take(20).toList
    assert(violations.isEmpty, violations.mkString(", "))
  }

  test("shortName matches reference output on 20 differential goldens") {
    goldens.foreach { case (in, _, wantShort) =>
      assert(NameCleaner.shortName(in) == wantShort, s"shortName($in)")
    }
  }

  test("shortName accepts 2-7 word, <=45 char heuristic result") {
    assert(NameCleaner.shortName("Áo thun nam CV0016 cao cấp #hot 2024") == "Áo thun nam")
  }

  test("shortName truncates >80 char fallback at word boundary + ellipsis") {
    val long = ("w" * 50) + " " + ("x" * 40) // heuristic: 2 words but 91 chars -> fallback truncation
    val got = NameCleaner.shortName(long)
    assert(got.endsWith("..."), got)
    assert(got.length <= 81, got.length.toString)
  }

  test("shortName AI seam is used when heuristic is rejected") {
    val ai = new NameCleaner.NameShortener {
      def shorten(name: String): Option[String] = Some("AI Name")
    }
    val long = ("Sản phẩm tuyệt vời với rất nhiều tính năng khác nhau " * 3)
    assert(NameCleaner.shortName(long, Some(ai)) == "AI Name")
  }

  test("UDF surface registers and runs in SQL") {
    NameCleaner.register(spark)
    val got = spark.sql("SELECT clean_name('Áo thun nam CV0016 cao cấp') AS c").collect()(0).getString(0)
    assert(got == "Áo thun nam")
  }

  test("q37 corpus golden: cleaning composition over 200 bench-corpus names (sf0.001)") {
    // q37 is rows-only at the driver gate (Unicode word-boundary UDF
    // logic is not DuckDB-expressible) and the 20 differential goldens
    // above pin CASES; this pins the COMPOSITION over the bench corpus —
    // symmetric with AnnSpec's q45 self-anchor (r16 verdict #5). 200
    // deterministic raw names: q37's synthetic Vietnamese bases rotated
    // by p_partkey, each suffixed with the row's own p_name so all 200
    // names are DISTINCT (the bare rotation would exercise only 8
    // cleanings) and the suffix drags real varying text through the
    // UDFs. Selection is orderBy+limit on the unique key — a stable row
    // set, unlike q37's bare limit(200), which a golden cannot tolerate.
    // Regenerate after an INTENTIONAL cleaner change with
    // -Dgraft.test.writeGolden=1; an unexplained mismatch means the
    // cleaning pipeline changed composition silently.
    import org.apache.spark.sql.functions._
    val bases = Seq(
      "Áo thun nam CV0016 cao cấp #hot 2024",
      "[HOT] Quần jean nữ - ",
      "Bình giữ nhiệt 500ml SKU-123",
      "Kệ gỗ W76x30.5xH11.5Cm đa năng",
      "Tai nghe bluetooth 5.0 chống ồn MS 456 giá sốc!!!",
      "Combo 3 món đồ chơi trẻ em thông minh 2023",
      "Giày thể thao nam - hàng nội địa (size 39-44)",
      "Balo laptop 15.6 inch chống nước, siêu bền, bảo hành 12 tháng")
    val got = Tables.load(spark, sfDir, "part")
      .orderBy("p_partkey").limit(200)
      .withColumn("raw_name", concat(
        element_at(typedLit(bases),
          (col("p_partkey") % bases.size).cast("int") + 1),
        lit(" "), col("p_name")))
      .select(col("p_partkey"),
        NameCleaner.cleanNameUdf(col("raw_name")).as("clean_name"),
        NameCleaner.shortNameUdf(col("raw_name")).as("short_name"))
      .orderBy("p_partkey")
      .collect()
      .map(r => s"${r.get(0)}|${r.getString(1)}|${r.getString(2)}")
      .mkString("\n")
    if (sys.props.get("graft.test.writeGolden").contains("1")) {
      GoldenResource.write("/q37_golden_sf0.001.txt",
        "src/test/resources/q37_golden_sf0.001.txt", got + "\n")
      info("golden regenerated (source tree + test classpath)")
    } else {
      val golden = GoldenResource.read("/q37_golden_sf0.001.txt")
      assert(got === golden,
        "corpus-level cleaned-name output diverged from the checked-in " +
          "golden: either the cleaner changed intentionally (regenerate " +
          "with -Dgraft.test.writeGolden=1) or the cleaning composition " +
          "silently changed")
    }
  }
}
