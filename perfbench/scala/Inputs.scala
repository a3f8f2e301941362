package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.util.Base64

import scala.util.Random

/** Seeded inputs. Every value is a pure function of (seed, index), so the
  * checks can regenerate exactly what the generator sent.
  */
object Inputs {

  private def rng(seed: Long, salt: Long, k: Long) =
    new Random(seed * 0x9E3779B97F4A7C15L + salt * 1000003L + k)

  /** Vietnamese-style product reviews keyed by id. */
  final class Reviews(seed: Long) {
    private val words = Array("sản phẩm", "giao hàng", "nhanh", "chậm",
      "chất lượng", "tốt", "tệ", "giá", "rẻ", "đắt", "đẹp", "xấu", "shop",
      "tư vấn", "nhiệt tình", "đóng gói", "cẩn thận", "hàng", "kém", "size",
      "vừa", "rộng", "chật", "màu", "giống", "hình", "áo", "quần", "giày",
      "vải", "mềm", "mỏng", "dày", "thoải mái", "hài lòng", "thất vọng",
      "sẽ", "ủng hộ", "lần sau", "rất", "khá", "không", "hơi", "quá", "ok",
      "đáng", "tiền", "mua", "được", "nhưng", "shipper", "thân thiện")
    private val marks = Array("!", "...", ":)", "👍", "?", ",")

    def id(k: Long): String = f"r$k%08d"

    def review(k: Long): String = {
      val r = rng(seed, 1, k)
      val n = 6 + r.nextInt(25)
      (0 until n).map { i =>
        val w = words(r.nextInt(words.length))
        if (i > 0 && r.nextInt(6) == 0) w + marks(r.nextInt(marks.length))
        else w
      }.mkString(" ")
    }

    def json(k: Long): String =
      s"""{"id": "${id(k)}", "review": "${review(k)}"}"""
  }

  /** Camera frames: genuine JPEGs, base64 in JSON, from two cameras.
    * Frame k comes from camera k % 2 and carries a whole-second timestamp
    * unique within its camera, so (camera_id, frame_time) names it.
    */
  final class Frames(seed: Long, poolSize: Int, width: Int, height: Int) {
    val pool: Array[String] = Array.tabulate(poolSize) { i =>
      Base64.getEncoder.encodeToString(jpeg(rng(seed, 2, i)))
    }

    private def jpeg(r: Random): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      val (a, b, c) = (r.nextInt(256), r.nextInt(256), r.nextInt(256))
      for (y <- 0 until height; x <- 0 until width) {
        val n = r.nextInt(24)
        img.setRGB(x, y, (((a + x) & 0xff) << 16) |
          (((b + y + n) & 0xff) << 8) | ((c + x + y) & 0xff))
      }
      val g = img.createGraphics()
      for (_ <- 0 until 6) {
        g.setColor(new java.awt.Color(r.nextInt(0xffffff)))
        g.fillRect(r.nextInt(width), r.nextInt(height),
          8 + r.nextInt(width / 3), 8 + r.nextInt(height / 3))
      }
      g.dispose()
      val out = new ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "jpg", out),
        "the JDK must provide a JPEG writer")
      out.toByteArray
    }

    def camera(k: Long): String = s"CAM_${k % 2}"
    def second(k: Long): Long = 1700000000L + k / 2

    def json(k: Long): String = {
      val img = pool(rng(seed, 3, k).nextInt(pool.length))
      s"""{"camera_id": "${camera(k)}", "timestamp": ${second(k)}.25, """ +
        s""""frame_data": "$img"}"""
    }
  }

  /** Crawled documents for the curation loop. Every 7th is below the
    * quality gate, every 10th (that is not gated) is a near-duplicate of
    * an earlier kept document, and every 5th-and-a-bit carries an email,
    * a phone number or a URL.
    */
  final class Docs(seed: Long) {
    private val vocab: Array[String] = {
      val r = rng(seed, 4, 0)
      val on = Array("b", "c", "d", "g", "h", "k", "l", "m", "n", "ng",
        "nh", "ph", "qu", "s", "t", "th", "tr", "v", "x")
      val nu = Array("a", "e", "i", "o", "u", "y", "ai", "ao", "oi", "ua",
        "uo", "ie", "an", "em", "inh", "ong", "uoc", "ang")
      Array.fill(4000) {
        (0 until 2 + r.nextInt(2)).map(_ =>
          on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString
      }
    }

    def gated(i: Long): Boolean = i % 7 == 3
    def nearDup(i: Long): Boolean = !gated(i) && i % 10 == 9

    /** The earlier kept document that near-dup `i` copies. */
    def source(i: Long): Long =
      (i - 1 to math.max(0L, i - 9) by -1).find(j =>
        !gated(j) && !nearDup(j)).get

    private def base(i: Long): Seq[String] = {
      val r = rng(seed, 5, i)
      val words = Seq.fill(30 + r.nextInt(16))(vocab(r.nextInt(vocab.length)))
      val pii = i % 5 match {
        case 1 => Some(s"user$i@mail${i % 13}.com")
        case 2 => Some(f"+849${(i * 7919) % 10000000}%07d")
        case 4 => Some(s"https://shop${i % 17}.vn/item/$i")
        case _ => None
      }
      pii.fold(words)(p => words.patch(3 + r.nextInt(20), Seq(p), 0))
    }

    def text(i: Long): String =
      if (gated(i)) base(i).take(4).mkString(" ")
      else if (nearDup(i)) {
        val w = base(source(i))
        val drop = 5 + rng(seed, 6, i).nextInt(w.length - 10)
        w.patch(drop, Nil, 1).mkString(" ")
      } else base(i).mkString(" ")

    def json(i: Long): String = s"""{"doc_id": $i, "text": "${text(i)}"}"""
  }
}
