package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of its seed
  * and size arguments (no clock, no filesystem listing order), so the same
  * seed yields byte-identical inputs and the same [[Digest]]. */
object Gen {

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Digest = { md.update(s.getBytes("UTF-8")); md.update(0.toByte); this }
    def add(b: Array[Byte]): Digest = { md.update(b); md.update(0.toByte); this }
    def add(x: Long): Digest = add(x.toString)
    def hex: String = md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Inverse-CDF sampler for ranks 0 until n with P(r) ∝ 1 / (r + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------------ images

  val Classes: Seq[String] = Seq("daisy", "dandelion", "roses", "sunflowers", "tulips")

  /** A generated image. `kind` is "orig", "bright" (brightness-shifted
    * re-encode of `of`) or "exact" (byte-identical copy of `of`). */
  final case class Img(id: String, cls: String, wave: Int, kind: String, of: String,
      bytes: Array[Byte])

  private def encodeJpg(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  private def decode(b: Array[Byte]): BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))

  /** Smooth random `w`×`h` picture: per channel a base level plus three
    * random low-frequency cosine waves, so its difference hash is
    * effectively random while JPEG re-encoding barely moves it. */
  private def picture(rnd: SplittableRandom, w: Int, h: Int): BufferedImage = {
    val waves = Array.fill(3, 3)((rnd.nextDouble() * 3.0 - 1.5, rnd.nextDouble() * 3.0 - 1.5,
      rnd.nextDouble() * 2 * math.Pi, 30 + rnd.nextDouble() * 50))
    val base = Array.fill(3)(60 + rnd.nextInt(136))
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var rgb = 0
        var c = 0
        while (c < 3) {
          var v = base(c).toDouble
          waves(c).foreach { case (fx, fy, ph, a) =>
            v += a * math.cos(2 * math.Pi * (fx * x / w + fy * y / h) + ph) }
          rgb = (rgb << 8) | math.max(0, math.min(255, v.toInt))
          c += 1
        }
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    img
  }

  /** 64-bit difference hash (9×8 box-averaged luma, one bit per horizontal
    * neighbour comparison) — used only to keep generated originals
    * mutually far apart. */
  private def dHash(img: BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val cell = Array.ofDim[Double](8, 9)
    for (gy <- 0 until 8; gx <- 0 until 9) {
      val (y0, x0) = (math.min(gy * h / 8, h - 1), math.min(gx * w / 9, w - 1))
      val (y1, x1) = (math.max(y0 + 1, (gy + 1) * h / 8), math.max(x0 + 1, (gx + 1) * w / 9))
      var s = 0.0
      for (y <- y0 until y1; x <- x0 until x1) {
        val p = img.getRGB(x, y)
        s += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
      }
      cell(gy)(gx) = s / ((y1 - y0) * (x1 - x0))
    }
    var hash = 0L
    for (b <- 0 until 64) if (cell(b / 8)(b % 8 + 1) > cell(b / 8)(b % 8)) hash |= 1L << b
    hash
  }

  private def brighten(bytes: Array[Byte], delta: Int): Array[Byte] = {
    val src = decode(bytes)
    val out = new BufferedImage(src.getWidth, src.getHeight, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until src.getHeight; x <- 0 until src.getWidth) {
      val p = src.getRGB(x, y)
      def ch(sh: Int) = math.max(0, math.min(255, ((p >> sh) & 0xff) + delta))
      out.setRGB(x, y, (ch(16) << 16) | (ch(8) << 8) | ch(0))
    }
    encodeJpg(out)
  }

  /** `waves` waves of `perWave` mutually distinct originals (pairwise
    * difference-hash distance ≥ 16 bits); every wave after the first also
    * carries `copies` planted copies of earlier originals, alternating
    * brightness-shifted re-encodes and byte-identical copies. */
  def images(seed: Long, waves: Int, perWave: Int, copies: Int): Seq[Img] = {
    val rnd = new SplittableRandom(seed ^ 0x1A2B3C4DL)
    val hashes = scala.collection.mutable.ArrayBuffer[Long]()
    val out = scala.collection.mutable.ArrayBuffer[Img]()
    for (w <- 0 until waves) {
      val earlier = out.filter(_.kind == "orig").toVector
      for (n <- 0 until perWave) {
        // sizes (48–160 px a side) depend on the slot, not the seed, so every
        // seed decodes the same number of pixels
        val (pw, ph) = (48 + (n * 37 + w * 11) % 113, 48 + (n * 53 + w * 7) % 113)
        var img = picture(rnd, pw, ph)
        var bytes = encodeJpg(img)
        var h = dHash(decode(bytes))
        while (hashes.exists(o => java.lang.Long.bitCount(o ^ h) < 16)) {
          img = picture(rnd, pw, ph); bytes = encodeJpg(img); h = dHash(decode(bytes))
        }
        hashes += h
        out += Img(f"w$w%02d_o$n%03d", Classes(rnd.nextInt(Classes.size)), w, "orig", "", bytes)
      }
      if (w > 0) for (n <- 0 until copies) {
        val src = earlier(rnd.nextInt(earlier.size))
        val (kind, bytes) =
          if (n % 2 == 0) ("bright", brighten(src.bytes, 6 + rnd.nextInt(7) * (if (rnd.nextBoolean()) 1 else -1)))
          else ("exact", src.bytes)
        out += Img(f"w$w%02d_c$n%03d", src.cls, w, kind, src.id, bytes)
      }
    }
    out.toVector
  }

  // --------------------------------------------------------------- documents

  val StopwordsEn: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this", "are")
  val MarkersDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "ich", "zu")
  private val Reserved: Set[String] = (StopwordsEn ++ MarkersDe ++ Seq("you", "have", "el",
    "la", "los", "las", "que", "es", "una", "y", "con", "le", "les", "et", "est", "dans",
    "pour", "je")).toSet

  /** Content vocabulary: pronounceable consonant-vowel words of 2–3
    * syllables, fixed (not seeded) and disjoint from every language marker
    * the program's language identifier looks at. */
  val Vocab: IndexedSeq[String] = {
    val cs = "bdfgklmnprstvz"; val vs = "aeiou"
    val syl = for (c <- cs.toSeq; v <- vs.toSeq) yield s"$c$v"
    val two = for (a <- syl; b <- syl) yield a + b
    val three = for (a <- syl.take(20); b <- syl.take(20); c <- syl.take(10)) yield a + b + c
    (two.take(2400) ++ three.take(1600)).filterNot(Reserved).toIndexedSeq
  }

  private def shuffled[A](xs: IndexedSeq[A], rnd: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** A generated document. `kind`: "base" (a word-substitution variant of
    * a seed text), "foreign" (German-marked, filtered by the language
    * gate), "exact" (byte-identical copy of `of`) or "near" (`of` with one
    * token replaced). */
  final case class Doc(id: Long, text: String, kind: String, of: Long)

  /** `seeds` seed texts, each amplified ×`factor` into word-substitution
    * variants (40% of content tokens replaced); one seed in ten is
    * German. Then `exactRate` and `nearRate` (shares of the amplified
    * corpus) planted copies of English documents, with ids above every
    * original so the keep-lowest-id rule drops the copy. */
  def documents(seed: Long, seeds: Int, factor: Int, exactRate: Double, nearRate: Double): Seq[Doc] = {
    val rnd = new SplittableRandom(seed ^ 0x5EEDD0C5L)
    val zipf = new Zipf(Vocab.size, 0.9)
    def word() = Vocab(zipf.sample(rnd))
    val amplified = (0 until seeds).flatMap { b =>
      val foreign = b % 10 == 9
      val n = 40 + rnd.nextInt(51)
      val stops = if (foreign) MarkersDe else StopwordsEn
      val toks = Array.fill(n)(if (rnd.nextDouble() < 0.3) stops(rnd.nextInt(stops.size)) else word())
      toks(0) = stops.head // one marker at least, so the language gate is never undecided
      val content = toks.indices.filterNot(i => stops.contains(toks(i)))
      (0 until factor).map { j =>
        val t = toks.clone()
        // exactly 40% of the content positions get a different word, so no
        // two variants come near any dedup threshold
        if (j > 0) shuffled(content, rnd).take(math.ceil(content.size * 0.4).toInt).foreach { i =>
          var w = word(); while (w == toks(i)) w = word()
          t(i) = w
        }
        Doc(b.toLong * factor + j, t.mkString(" "), if (foreign) "foreign" else "base", -1L)
      }
    }
    val english = amplified.filter(_.kind == "base")
    var next = amplified.size.toLong
    def planted(rate: Double)(f: Doc => Doc): Seq[Doc] =
      (0 until math.round(amplified.size * rate).toInt).map { _ =>
        val src = english(rnd.nextInt(english.size))
        val d = f(src).copy(id = next, of = src.id); next += 1; d
      }
    val exact = planted(exactRate)(s => s.copy(kind = "exact"))
    val near = planted(nearRate) { s =>
      val toks = s.text.split(" ")
      val contentPos = toks.indices.filterNot(i => StopwordsEn.contains(toks(i)))
      val i = contentPos(rnd.nextInt(contentPos.size))
      var w = word(); while (w == toks(i)) w = word()
      toks(i) = w
      s.copy(text = toks.mkString(" "), kind = "near")
    }
    amplified ++ exact ++ near
  }

  // -------------------------------------------------------------- embeddings

  /** A generated vector: "orig" around one of the centres, or "near" (a
    * perturbed copy of `of`, cosine ≈ 0.997 to it). */
  final case class Vec(id: Long, v: Array[Float], kind: String, of: Long)

  private def unit(a: Array[Double]): Array[Float] = {
    val n = math.sqrt(a.map(x => x * x).sum)
    a.map(x => (x / n).toFloat)
  }

  /** `centres` random unit centres and `n` vectors around them (within-
    * cluster cosine ≈ 0.4, far below any dedup threshold), plus `nearRate`·n
    * planted near copies with ids above every original. */
  def embeddings(seed: Long, n: Int, dim: Int, centres: Int, nearRate: Double)
      : (Array[Array[Float]], Seq[Vec]) = {
    val rnd = new SplittableRandom(seed ^ 0x0E3BEDL)
    def gauss() = { // Box-Muller, from the seeded stream only
      val u = math.max(rnd.nextDouble(), 1e-12); val v = rnd.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val cs = Array.fill(centres)(unit(Array.fill(dim)(gauss())))
    val origs = (0 until n).map { i =>
      val c = cs(rnd.nextInt(centres))
      Vec(i.toLong, unit(Array.tabulate(dim)(d => c(d) + 0.15 * gauss())), "orig", -1L)
    }
    val near = (0 until math.round(n * nearRate).toInt).map { j =>
      val src = origs(rnd.nextInt(n))
      Vec(n.toLong + j, unit(Array.tabulate(dim)(d => src.v(d) + 0.01 * gauss())), "near", src.id)
    }
    (cs, origs ++ near)
  }

  // ------------------------------------------------------- table operations

  /** One table_mix operation. `keys` are the affected keys; `a`/`b` a key
    * range or a version offset; `sql` picks the SQL verb over the API. */
  final case class Op(i: Long, kind: String, sql: Boolean, keys: Seq[Long], a: Long, b: Long,
      vals: Seq[Long])

  val KeySpace = 30000
  val InitialRows = 20000
  val OpsPerRound = 12

  /** Key for zipf rank r: a fixed bijection of [0, KeySpace), so the hot
    * keys are spread over the table rather than clustered in one file. */
  def keyOf(rank: Int): Long = (rank.toLong * 7919L + 1234L) % KeySpace

  /** Payload column as a function of the key alone (UPDATE/MERGE move `v`). */
  def payload(k: Long): String = s"row-$k-" + ("abcdefghij" * 3).take((k % 29).toInt + 8)

  private lazy val opZipf = new Zipf(KeySpace, 1.1)

  /** The operation kinds of one round: half writes, half reads, each once
    * or twice, so every round has the same composition and a round's
    * latency does not depend on which kinds the seed happened to draw. The
    * seed orders the first ten; OPTIMIZE and VACUUM keep fixed places, so
    * the bytes on disk at the end of a round do not depend on the order. */
  val RoundKinds: IndexedSeq[String] = IndexedSeq("append", "merge", "delete", "update",
    "point", "point", "range", "range", "travel", "travel", "optimize", "vacuum")

  /** Operation `i` of the sequence for `seed` — a pure function of both, so
    * a run executes a prefix of one fixed sequence however long it lasts.
    * Round `i / OpsPerRound` runs [[RoundKinds]] in a seeded order (OPTIMIZE
    * sixth, VACUUM last) with
    * seeded zipf keys; its writes alternate between the API and SQL,
    * starting with the API in even rounds. */
  def op(seed: Long, i: Long): Op = {
    val round = i / OpsPerRound
    val order = shuffled(RoundKinds.take(10), new SplittableRandom(seed * 0x9E3779B97F4A7C15L + round))
      .patch(5, Seq("optimize"), 0) :+ "vacuum"
    val pos = (i % OpsPerRound).toInt
    val kind = order(pos)
    val writesBefore = order.take(pos).count(k => !Set("point", "range", "travel")(k))
    val sql = (round + writesBefore) % 2 == 1
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 31 + 7)
    def zkeys(n: Int) = Seq.fill(n)(keyOf(opZipf.sample(rnd))).distinct.sorted
    kind match {
      case "append" =>
        val ks = (0 until 10).map(j => KeySpace + i * 10 + j)
        Op(i, kind, sql, ks, 0, 0, ks.map(_ => rnd.nextInt(1000).toLong))
      case "merge" =>
        val ks = zkeys(20)
        Op(i, kind, sql, ks, 0, 0, ks.map(_ => rnd.nextInt(1000).toLong))
      case "delete" => Op(i, kind, sql, zkeys(5), 0, 0, Nil)
      case "update" => Op(i, kind, sql, zkeys(10), 1 + rnd.nextInt(9), 0, Nil)
      case "optimize" | "vacuum" => Op(i, kind, sql, Nil, 0, 0, Nil)
      case "point" => Op(i, kind, sql = true, Seq(keyOf(opZipf.sample(rnd))), 0, 0, Nil)
      case "range" =>
        val lo = rnd.nextInt(KeySpace).toLong
        Op(i, kind, sql = true, Nil, lo, lo + 300, Nil)
      case _ => Op(i, kind, sql = true, Nil, 1 + rnd.nextInt(8), 0, Nil)
    }
  }

  /** Initial table rows: keys 0 until InitialRows with seeded values. */
  def initialRows(seed: Long): Seq[(Long, Long)] = {
    val rnd = new SplittableRandom(seed ^ 0x7AB1EL)
    (0 until InitialRows).map(k => (k.toLong, rnd.nextInt(1000).toLong))
  }
}
