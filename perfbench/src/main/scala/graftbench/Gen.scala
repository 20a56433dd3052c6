package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generation. Everything a workload feeds the engine comes
  * from here, so the same seed gives byte-identical inputs. */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def gaussian(): Double = {
    // Box-Muller on the splittable stream: java.util.Random's gaussian
    // would tie determinism to a second generator
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
  /** Log-uniform draw in [lo, hi]. */
  def logUniform(lo: Double, hi: Double): Double =
    math.exp(math.log(lo) + r.nextDouble() * (math.log(hi) - math.log(lo)))
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
}

/** A generated document: pokemon-shaped JSON metadata (already in the
  * engine's canonical form, so its content-hash id is computable here)
  * plus the fields the oracles filter on. */
final case class Doc(metadata: String, embedding: Array[Float], attack: Int, types: Vector[String]) {
  lazy val id: String = Gen.uuid5(metadata)
}

object Gen {
  /** The reference's MiniLM embedding width. */
  val Dim = 384
  /** `base.Attack` is uniform on [0, AttackRange): `Attack < t` selects t / AttackRange. */
  val AttackRange = 100000

  val Types: Vector[String] = Vector("Normal", "Water", "Grass", "Flying", "Psychic", "Bug",
    "Fire", "Poison", "Ground", "Rock", "Electric", "Fighting", "Dark", "Steel", "Ghost",
    "Ice", "Dragon", "Fairy")

  private val Syllables = Vector("ka", "ri", "mo", "zu", "te", "lo", "pi", "sa", "na", "gu",
    "be", "do", "chi", "ra", "ko", "mi", "su", "ta", "ne", "fu", "ho", "ya", "ze", "wa")
  private val Katakana = Vector(0x30ab, 0x30ea, 0x30e2, 0x30ba, 0x30c6, 0x30ed, 0x30d4,
    0x30b5, 0x30ca, 0x30b0, 0x30d9, 0x30c9, 0x30c1, 0x30e9, 0x30b3, 0x30df, 0x30b9,
    0x30bf, 0x30cd, 0x30d5, 0x30db, 0x30e4, 0x30bc, 0x30ef)

  /** A vocabulary of `n` distinct pseudo-words. */
  def vocabulary(n: Int): Vector[String] = {
    val rng = new Rng(0x5eedL)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) seen += (0 until 2 + rng.int(3)).map(_ => rng.pick(Syllables)).mkString
    seen.toVector
  }
  val Words: Vector[String] = vocabulary(4000)

  def sentence(rng: Rng, words: Int): String =
    (0 until words).map(_ => rng.pick(Words)).mkString(" ")

  /** Skewed type draw: type i has weight 1 / (i + 1). */
  private val typeCdf: Array[Double] = {
    val w = Types.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def drawType(rng: Rng): String = {
    val u = rng.double()
    Types(typeCdf.indexWhere(_ >= u) max 0)
  }

  /** JSON string literal with Python `ensure_ascii` escaping — the form
    * the engine canonicalises to before hashing ids. */
  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c >= 0x20 && c < 0x7f => sb.append(c)
      case c => sb.append(f"\\u${c.toInt}%04x")
    }
    sb.append('"').toString
  }

  /** One pokemon-shaped document: nested `base.Attack`, a key with a dot
    * (`Sp. Attack`), a `type` array, a unicode name. Keys are written in
    * sorted order with `", "` / `": "` separators, so the text is its own
    * canonical form. `serial` makes the content unique. */
  def metadata(rng: Rng, serial: Long, attack: Int, types: Vector[String], descWords: Int): String = {
    val english = (0 until 2 + rng.int(2)).map(_ => rng.pick(Syllables)).mkString.capitalize
    val japanese = (0 until 3 + rng.int(3)).map(_ => rng.pick(Katakana).toChar).mkString
    val base = s"""{"Attack": $attack, "Defense": ${rng.int(256)}, "HP": ${rng.int(256)}, """ +
      s""""Sp. Attack": ${rng.int(256)}, "Speed": ${rng.int(256)}}"""
    s"""{"base": $base, "description": ${jsonString(sentence(rng, descWords))}, """ +
      s""""id": $serial, "name": {"english": ${jsonString(english)}, """ +
      s""""japanese": ${jsonString(japanese)}}, "species": ${jsonString(english + " Pok\u00e9mon")}, """ +
      s""""type": [${types.map(jsonString).mkString(", ")}]}"""
  }

  /** Cluster centres for the clustered embeddings. */
  def centres(seed: Long, n: Int): Array[Array[Float]] = {
    val rng = new Rng(seed ^ 0xce17e5L)
    Array.fill(n)(Array.fill(Dim)(rng.gaussian().toFloat))
  }

  def nearCentre(rng: Rng, centre: Array[Float], noise: Double): Array[Float] =
    centre.map(c => (c + noise * rng.gaussian()).toFloat)

  /** `n` documents with serials from `firstSerial`, embeddings drawn
    * around `centres`. */
  def docs(rng: Rng, centres: Array[Array[Float]], firstSerial: Long, n: Int): Vector[Doc] =
    Vector.tabulate(n) { i =>
      val attack = rng.int(AttackRange)
      val t1 = drawType(rng)
      val types = if (rng.chance(0.5)) Vector(t1) else Vector(t1, drawType(rng)).distinct
      val md = metadata(rng, firstSerial + i, attack, types, 12 + rng.int(12))
      Doc(md, nearCentre(rng, rng.pick(centres.toIndexedSeq), 0.8), attack, types)
    }

  /** RFC 4122 UUIDv5 under the DNS namespace: the engine's content-hash id
    * of a canonical JSON document, recomputed independently. */
  def uuid5(name: String): String = {
    val md = MessageDigest.getInstance("SHA-1")
    md.update(Array(0x6b, 0xa7, 0xb8, 0x10, 0x9d, 0xad, 0x11, 0xd1,
      0x80, 0xb4, 0x00, 0xc0, 0x4f, 0xd4, 0x30, 0xc8).map(_.toByte))
    md.update(name.getBytes(StandardCharsets.UTF_8))
    val h = md.digest()
    h(6) = ((h(6) & 0x0f) | 0x50).toByte
    h(8) = ((h(8) & 0x3f) | 0x80).toByte
    val hex = h.take(16).map(b => f"${b & 0xff}%02x").mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
      s"${hex.substring(16, 20)}-${hex.substring(20, 32)}"
  }

  /** Byte size of a document as submitted: UTF-8 metadata plus 4 bytes a
    * float — the "user bytes" write and space amplification divide by. */
  def userBytes(metadata: String): Long = metadata.getBytes(StandardCharsets.UTF_8).length + 4L * Dim

  /** Cosine distance in double precision, the engine kernel's formula. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 1.0 else 1.0 - dot / d
  }

  /** Brute-force top-k by (distance, id): the k-NN oracle. */
  def topK(docs: Iterable[(String, Array[Float])], q: Array[Float], k: Int): Vector[(String, Double)] =
    docs.iterator.map { case (id, e) => (id, cosine(e, q)) }.toVector
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** Digest of a document sequence, for the determinism test. */
  def digest(docs: Seq[Doc]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(4 * Dim)
    docs.foreach { d =>
      md.update(d.metadata.getBytes(StandardCharsets.UTF_8))
      bb.clear(); d.embedding.foreach(bb.putFloat); md.update(bb.array())
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
