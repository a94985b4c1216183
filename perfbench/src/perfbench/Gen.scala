package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Seeded input generators. Every generator is a pure function of its
  * seed and arguments, so one seed yields byte-identical inputs; the
  * engine only ever sees what these produce. */
object Gen {

  /** Independent stream for (seed, a, b): SplitMix64 over a mixed key. */
  def rng(seed: Long, a: Long = 0L, b: Long = 0L): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(mix(seed) ^ a) ^ b))

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** `k` distinct indices out of `0 until n`, ascending. */
  def choose(r: java.util.SplittableRandom, n: Int, k: Int): Vector[Int] =
    new scala.util.Random(r.nextLong()).shuffle((0 until n).toVector).take(k).sorted

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: java.util.SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def hexWord(v: BigInt): String = {
    val h = v.toString(16)
    "0" * (64 - h.length) + h
  }

  def address(seed: Long, kind: String, i: Int): String =
    "0x" + sha256Hex(s"$seed/$kind/$i").take(40)

  // ---- text ---------------------------------------------------------

  /** Five Latin-script languages. The engine's dedup normalization
    * keeps only [a-z0-9] and whitespace, so accented words lose
    * letters there; [[normalizedTokens]] mirrors that exactly. */
  val Vocab: Seq[(String, IndexedSeq[String])] = Seq(
    "en" -> "the and of to is in that it was for on are with as his they be at one have this from or had by word but what some we can out other were all there when up use your how said an each she which do their time if will way about many then them write would like so these her long make thing see him two has look more day could go come did number sound no most people my over know water than call first who may down side been now find".split(' ').toIndexedSeq,
    "de" -> "der die und in den von zu das mit sich des auf für ist im dem nicht ein eine als auch es an werden aus er hat dass sie nach wird bei einer um am sind noch wie einem über einen so zum war haben nur oder aber vor zur bis mehr durch man sein wurde sei jahr zwei können gegen schon wenn".split(' ').toIndexedSeq,
    "fr" -> "le de un être et à il avoir ne je son que se qui ce dans en du elle au pour pas vous par sur faire plus dire me on mon lui nous comme mais pouvoir avec tout y aller voir en bien où sans tu ou leur homme si deux mari moi vouloir te femme venir quand grand celui notre".split(' ').toIndexedSeq,
    "es" -> "el la de que y a en un ser se no haber por con su para como estar tener le lo todo pero más hacer o poder decir este ir otro ese si me ya ver porque dar cuando él muy sin vez mucho saber qué sobre mi alguno mismo yo también hasta año dos querer entre así primero".split(' ').toIndexedSeq,
    "it" -> "il di che e la per un in essere non una sono da del avere lo si le con dei ma come io anche questo suo fare più nel ci alla tra quando molto della se mio tutto bene dopo cosa anno ancora nostro sempre prima grande fatto oggi casa poi dove vita tempo giorno uomo parte".split(' ').toIndexedSeq)

  val Langs: IndexedSeq[String] = Vocab.map(_._1).toIndexedSeq
  private val vocabOf = Vocab.toMap

  def sentence(r: java.util.SplittableRandom, lang: String, nWords: Int): String = {
    val v = vocabOf(lang)
    Iterator.fill(nWords)(v(r.nextInt(v.size))).mkString(" ")
  }

  /** The engine's `Text.normalized` then `Text.tokens`, on the JVM. */
  def normalizedTokens(text: String): IndexedSeq[String] =
    text.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9\\s]", "")
      .trim.split("\\s+").filter(_.nonEmpty).toIndexedSeq

  /** Distinct word k-shingles over normalized tokens (Dedup's sets). */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = normalizedTokens(text)
    if (t.size < k) Set.empty else t.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    if (x.isEmpty && y.isEmpty) 1.0
    else (x intersect y).size.toDouble / (x union y).size
  }

  // ---- crawl payloads -----------------------------------------------

  /** Charsets a generated page may declare; each can encode every
    * word in [[Vocab]]. */
  val Charsets: IndexedSeq[String] =
    IndexedSeq("utf-8", "iso-8859-1", "windows-1252", "iso-8859-15")

  def html(text: String): String =
    s"<html><head><style>p{margin:0}</style></head><body><p>$text</p></body></html>"

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(bytes)
    gz.close()
    bo.toByteArray
  }

  /** An `application/http` response envelope around `body`. */
  def httpResponse(status: String, contentType: String, gzipped: Boolean,
      body: Array[Byte]): Array[Byte] = {
    val payload = if (gzipped) gzip(body) else body
    val head = s"HTTP/1.1 $status\r\nContent-Type: $contentType\r\n" +
      (if (gzipped) "Content-Encoding: gzip\r\n" else "") +
      s"Content-Length: ${payload.length}\r\n\r\n"
    head.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ payload
  }

  def page(text: String, charset: String, gzipped: Boolean): Array[Byte] =
    httpResponse("200 OK", s"text/html; charset=$charset", gzipped,
      html(text).getBytes(java.nio.charset.Charset.forName(charset)))

  def digest(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
