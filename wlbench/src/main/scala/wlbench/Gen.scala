package wlbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Everything the library is handed comes from
  * here, and the same seed gives byte-identical inputs. Each generator also
  * keeps the model the output checks compare against: it knows, from how it
  * built each record, what the library must make of it. */
object Gen {

  val StartDay: LocalDate = LocalDate.of(2025, 1, 1)

  def write(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(f.toPath, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private val Words = Seq("Máy", "tăm", "nước", "Bình", "giữ", "nhiệt", "Áo", "thun",
    "Nồi", "cơm", "điện", "Sách", "Tai", "nghe", "Bàn", "phím", "Chuột", "Đèn", "bàn",
    "Ghế", "Balo", "Sữa", "rửa", "mặt", "Kem", "chống", "nắng", "Giày", "chạy")
  private val Brands = Seq("Sunhouse", "Lock&Lock", "Philips", "Xiaomi", "Samsung",
    "Kangaroo", "Thiên Long", "Vinamilk", "Biti's", "Panasonic", "Asus", "Logitech")
  private val Sellers = Seq("Tiki Trading", "Nhà sách Fahasa", "Điện máy XANH",
    "Official Store", "Shop Gia Dụng", "loading", "1234 đã mua", "xx")
  private val Roots = Seq("Nhà Cửa - Đời Sống", "Điện Thoại - Máy Tính Bảng",
    "Làm Đẹp - Sức Khỏe", "Sách", "Thể Thao - Dã Ngoại")

  /** A ≤5-level category tree: `Roots` at level 1, each node with a few
    * children. Leaves carry the products. */
  final case class Category(url: String, name: String, parent: Option[String],
      path: Seq[String], id: Int) { def level: Int = path.size }

  def categories(seed: Long, n: Int): IndexedSeq[Category] = {
    val rnd = new Random(seed ^ 0x5ca1ab1eL)
    val out = mutable.ArrayBuffer.empty[Category]
    var frontier = Roots.zipWithIndex.map { case (r, i) =>
      Category(s"https://tiki.vn/cat-$i/c${1000 + i}", r, None, Seq(r), 1000 + i)
    }.toIndexedSeq
    out ++= frontier
    while (out.size < n && frontier.nonEmpty) {
      frontier = frontier.filter(_.level < 5).flatMap { p =>
        (0 until 2 + rnd.nextInt(3)).map { _ =>
          val id = 1000 + out.size
          val name = s"${Words(rnd.nextInt(Words.size))} $id"
          val c = Category(s"https://tiki.vn/cat-$id/c$id", name, Some(p.url), p.path :+ name, id)
          out += c
          c
        }
      }.take(n - out.size)
    }
    out.toIndexedSeq
  }

  def categoryJson(c: Category, allLeaves: Set[String]): String = {
    val path = c.path.map(q).mkString("[", ",", "]")
    val levels = (1 to 5).map(l => s""""level_$l":${c.path.lift(l - 1).map(q).getOrElse("null")}""")
    s"""{"url":${q(c.url)},"name":${q(c.name)},"parent_url":${c.parent.map(q).getOrElse("null")},""" +
      s""""category_id":"c${c.id}","category_path":$path,"level":${c.level},${levels.mkString(",")},""" +
      s""""is_leaf":${allLeaves.contains(c.url)},"product_count":0}"""
  }

  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // ---------------------------------------------------------------- etl --

  /** What a daily run must produce (FIXTURES §A1/A2 ledger terms). */
  final case class EtlExpected(total: Long, valid: Long, invalid: Long, duplicates: Long,
      loaded: Long, firstCrawls: Long, events: Long)

  final case class Obs(price: Long, orig: Long, sales: Long)

  /** Daily crawl runs as envelope JSON. Each run re-crawls known products
    * (some with price or sales changes), adds new ones, and mixes in every
    * reachable reject reason, in-batch duplicates and the mixed-type fields
    * the transform must parse. Day `d` is `StartDay + d`. Each run also
    * writes its valid products as one observation slice for the streaming
    * CDC: (product_id, price, original_price, discount_percent,
    * sales_count, crawled_at) JSON lines, one per product, crawled at the
    * day's midnight. */
  final class Etl(seed: Long, batch: Int) {
    private val rnd = new Random(seed)
    private val latest = mutable.LinkedHashMap.empty[Long, Obs]
    private val known = mutable.ArrayBuffer.empty[Long]
    private var nextId = 100000L
    private var nextReject = 900000000L
    /** (product_id, crawl_type, price, sales, day) of every logged event. */
    val events = mutable.ArrayBuffer.empty[(String, String, Long, Long, Int)]

    def snapshot: collection.Map[Long, Obs] = latest

    def day(d: Int): String = StartDay.plusDays(d).toString

    def run(d: Int, out: File, slice: File): EtlExpected = {
      val date = day(d)
      val nReject = batch * 8 / 100
      val nDup = batch * 5 / 100
      val nNew = if (known.isEmpty) batch - nReject - nDup else batch * 22 / 100
      val nRe = math.min(known.size, batch - nReject - nDup - nNew)
      val recrawl = sample(known, nRe)
      val fresh = (0 until nNew + (batch - nReject - nDup - nNew - nRe)).map { _ =>
        nextId += 1 + rnd.nextInt(3); nextId }
      var first, changed = 0L
      val valid = mutable.ArrayBuffer.empty[String]
      val validRecs = mutable.ArrayBuffer.empty[(Long, Obs)]
      recrawl.foreach { id =>
        val o = latest(id)
        val r = rnd.nextDouble()
        val n =
          if (r < 0.15) o.copy(price = newPrice(o.orig, o.price))
          else if (r < 0.30) o.copy(sales = o.sales + 1 + rnd.nextInt(300))
          else o
        if (n != o) {
          changed += 1
          events += ((id.toString, if (n.price != o.price) "price_change" else "sales_change",
            n.price, n.sales, d))
        }
        latest(id) = n
        validRecs += id -> n
      }
      fresh.foreach { id =>
        val orig = (20 + rnd.nextInt(2000)) * 1000L
        val o = Obs(newPrice(orig, -1), orig, rnd.nextInt(5) match {
          case 0 => 0L
          case 1 => (1 + rnd.nextInt(9)) * 1000L
          case _ => rnd.nextInt(5000).toLong
        })
        first += 1
        events += ((id.toString, "price_change", o.price, o.sales, d))
        latest(id) = o
        known += id
        validRecs += id -> o
      }
      validRecs.foreach { case (id, o) => valid += product(id, o, date, dup = false) }
      val dups = sample(validRecs, nDup).map { case (id, o) => product(id, o, date, dup = true) }
      val rejects = (0 until nReject).map(i => reject(i, date))
      val recs = rnd.shuffle(valid ++ dups ++ rejects)
      // several envelopes per file, so the JSON scan has more than one split
      val envelopes = recs.grouped(math.max(1, recs.size / 4)).map { ps =>
        s"""{"crawled_at":"$date 00:00:00","total_products":${ps.size},""" +
          s""""stats":{"crawled_count":"${ps.size}","failed":"0"},"products":[${ps.mkString(",")}]}"""
      }
      write(out, envelopes)
      write(slice, validRecs.iterator.map { case (id, o) =>
        val disc = math.round((o.orig - o.price) * 10000.0 / o.orig) / 100.0
        s"""{"product_id":"$id","price":${o.price}.0,"original_price":${o.orig}.0,""" +
          s""""discount_percent":$disc,"sales_count":${o.sales},"crawled_at":"${date}T00:00:00"}"""
      })
      EtlExpected(total = recs.size, valid = valid.size + dups.size, invalid = rejects.size,
        duplicates = dups.size, loaded = latest.size, firstCrawls = first,
        events = first + changed)
    }

    private def sample[A](xs: collection.IndexedSeq[A], n: Int): IndexedSeq[A] = {
      val picked = mutable.LinkedHashSet.empty[Int]
      while (picked.size < n) picked += rnd.nextInt(xs.size)
      picked.toIndexedSeq.map(xs)
    }

    private def newPrice(orig: Long, old: Long): Long = {
      var p = old
      while (p == old) p = orig - rnd.nextInt((orig / 2000).toInt + 1) * 1000L
      p
    }

    private val Formats = Seq(" %02d:%02d:00", "T%02d:%02d:00", "T%02d:%02d:00.000000")

    private def product(id: Long, o: Obs, date: String, dup: Boolean): String = {
      val w = Words(rnd.nextInt(Words.size))
      // the duplicate carries the same values as its original, so whichever
      // row dedup keeps, the loaded values are the model's
      val name = if (dup) s"$w sản phẩm $id (bản sao)" else s"  $w  sản phẩm $id "
      val brand = Brands((id % Brands.size).toInt)
      val brandJson = if (id % 3 == 0) q(s"Thương hiệu: $brand") else q(brand)
      val sales = rnd.nextInt(4) match {
        case 0 => o.sales.toString
        case 1 => q(s"Đã bán ${o.sales}")
        case 2 if o.sales > 0 && o.sales % 1000 == 0 => q(s"${o.sales / 1000}k")
        case _ => q(o.sales.toString)
      }
      val hh = (id % 24).toInt
      val ts = date + Formats((id % 3).toInt).format(hh, (id % 60).toInt)
      val rating = if (id % 7 == 0) "null" else ((30 + id % 21) / 10.0).toString
      val seller = Sellers((id % Sellers.size).toInt)
      val path = Roots((id % Roots.size).toInt) +: Seq(w, s"$w ${id % 5}")
      s"""{"product_id":${q(id.toString)},"name":${q(name)},"brand":$brandJson,""" +
        s""""url":"https://tiki.vn/p/$id","category_path":${path.map(q).mkString("[", ",", "]")},""" +
        s""""price":{"current_price":${o.price},"original_price":${o.orig},"discount_percent":0.0,"currency":"VND"},""" +
        s""""rating":{"average":$rating,"total_reviews":${id % 500}},""" +
        s""""seller":{"name":${q(seller)},"is_official":${id % 4 == 0},"seller_id":"${id % 97}"},""" +
        s""""stock":{"available":${id % 9 != 0},"quantity":${id % 40},"stock_status":"in_stock"},""" +
        s""""shipping":{"free_shipping":${id % 2 == 0},"fast_delivery":false,"delivery_time":"2 ngày"},""" +
        s""""specifications":{"color":"đỏ"},"images":["https://salt.tikicdn.com/$id.jpg"],""" +
        s""""sales_count":$sales,"crawled_at":${q(ts)}}"""
    }

    /** One reject per reachable reason, in turn. `bad_sales_count` is not
      * reachable: the sales parser reads "-5" as 5. */
    private def reject(i: Int, date: String): String = {
      nextReject += 1
      val id = nextReject
      val base = Map(
        "product_id" -> q(id.toString), "name" -> q(s"Hàng lỗi $id"),
        "url" -> q(s"https://tiki.vn/p/$id"),
        "price" -> """{"current_price":100000,"original_price":120000}""",
        "rating" -> """{"average":4.0,"total_reviews":3}""")
      val bad = i % 6 match {
        case 0 => base + ("product_id" -> q(s"SKU-$id"))
        case 1 => base - "product_id"
        case 2 => base + ("name" -> q("   "))
        case 3 => base + ("url" -> q(s"tiki.vn/p/$id"))
        case 4 => base + ("price" -> """{"current_price":150000,"original_price":120000}""")
        case _ => base + ("rating" -> """{"average":6.0,"total_reviews":-10}""")
      }
      (bad + ("sales_count" -> q("2k")) + ("crawled_at" -> q(s"$date 08:00:00")))
        .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    }
  }

  // --------------------------------------------------------------- olap --

  final case class Product(id: Long, name: String, brand: String, seller: String,
      official: Boolean, price: Long, orig: Long, rating: Option[Double], sales: Long,
      category: Category, day: Int)

  /** A flat catalog over the leaves of a category tree. Generation `g`
    * re-prices a slice of the catalog and crawls it on day `g`. */
  final class Catalog(seed: Long, n: Int, cats: IndexedSeq[Category]) {
    private val leaves = {
      val parents = cats.flatMap(_.parent).toSet
      cats.filterNot(c => parents.contains(c.url))
    }
    def leafUrls: Set[String] = leaves.map(_.url).toSet

    val products: IndexedSeq[Product] = {
      val rnd = new Random(seed ^ 0xca7a109L)
      (0 until n).map { i =>
        val orig = (10 + rnd.nextInt(6000)) * 1000L
        Product(200000L + i, s"${Words(rnd.nextInt(Words.size))} sản phẩm $i",
          if (rnd.nextInt(10) == 0) "" else Brands(rnd.nextInt(Brands.size)),
          Sellers(rnd.nextInt(5)), rnd.nextInt(4) == 0,
          orig - rnd.nextInt((orig / 2000).toInt) * 1000L, orig,
          if (rnd.nextInt(8) == 0) None else Some(1.0 + rnd.nextInt(41) / 10.0),
          rnd.nextInt(3000).toLong, leaves(rnd.nextInt(leaves.size)), 0)
      }
    }

    /** Generation `g` ≥ 1: every `(g + 2)`-th product re-priced on day `g`. */
    def update(g: Int): IndexedSeq[Product] = {
      val rnd = new Random(seed * 31 + g)
      products.filter(_.id % (g + 2) == 0).map(p =>
        p.copy(price = p.orig - rnd.nextInt((p.orig / 2000).toInt) * 1000L,
          sales = p.sales + rnd.nextInt(50), day = g))
    }
  }

  // -------------------------------------------------------------- dedup --

  private val Syllables = for (a <- "bcdghklmnprstv"; b <- "aeiou"; c <- Seq("", "n", "m", "t"))
    yield s"$a$b$c"

  sealed trait Kind
  case object Fresh extends Kind
  case object Exact extends Kind
  case object Edited extends Kind

  /** Documents of about 300 characters drawn from a fixed vocabulary, with
    * planted exact and one-word-edited copies. Ids are globally distinct. */
  final class Corpus(seed: Long) {
    private val rnd = new Random(seed ^ 0xd0c5L)
    private val vocab = (0 until 2000).map(i =>
      Syllables(i % Syllables.size) + Syllables((i / Syllables.size + 7 * i) % Syllables.size))
    private var nextId = 0L
    /** Text of every document that is, by construction, in the index. */
    val indexed = mutable.ArrayBuffer.empty[(Long, String)]

    private def text(): String = {
      val sb = new StringBuilder
      while (sb.length < 300) { if (sb.nonEmpty) sb += ' '; sb ++= vocab(rnd.nextInt(vocab.size)) }
      sb.toString
    }
    private def id(): Long = { nextId += 1; nextId }

    def corpus(n: Int): IndexedSeq[(Long, String)] = {
      val docs = (0 until n).map(_ => (id(), text()))
      indexed ++= docs
      docs
    }

    /** A batch: 80% fresh documents, 10% exact and 10% one-word-edited copies
      * of indexed documents. Fresh documents are indexed once ingested (no
      * fresh document can be a near-duplicate of anything). */
    def batch(n: Int): IndexedSeq[(Long, String, Kind)] = {
      val nCopy = n / 10
      val src = indexed.toIndexedSeq
      val exact = (0 until nCopy).map(_ => (id(), src(rnd.nextInt(src.size))._2, Exact: Kind))
      val edited = (0 until nCopy).map { _ =>
        val ws = src(rnd.nextInt(src.size))._2.split(' ')
        ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size))
        (id(), ws.mkString(" "), Edited: Kind)
      }
      val fresh = (0 until n - 2 * nCopy).map(_ => (id(), text(), Fresh: Kind))
      indexed ++= fresh.map(f => (f._1, f._2))
      rnd.shuffle(fresh ++ exact ++ edited)
    }
  }
}
