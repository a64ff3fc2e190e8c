package prodbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.sources.{DocxCodec, ImageCodec, PdfCodec}
import graft.text.RecursiveChunker

/** One generated input file. `text` is the text the generator put into
  * the file ("" for images, which carry no generated text);
  * `expectedPoints` is the driver-side chunk recount the stored point
  * count of this file must equal.
  */
final case class GenFile(logical: String, ext: String, bytes: Array[Byte],
                         text: String, expectedPoints: Int) {
  def name: String = s"$logical.$ext"
}

/** A search request as the benchmark issues it. */
final case class SearchReq(kind: String, user: Int, text: String)

/** Seeded, deterministic input generator. Every workload's corpus,
  * file formats, ACL sets and query texts derive from `(seed, stream)`
  * alone; the program under test only ever sees the generated files.
  *
  * Documents are word salad over a fixed Zipfian pseudo-word
  * vocabulary. Small-file corpora are salted replicas of a base
  * `documents` set, following the ScaleProbe discipline: replica r
  * salts every 4th token with r and appends a replica-unique tail, so
  * replicas stay distinct documents instead of planted duplicates.
  */
object Gen {
  val ChunkSize = 1000
  val ChunkOverlap = 200

  /** Fixed vocabulary: 2000 pseudo-words from a syllable grid. */
  val Vocab: Array[String] = {
    val on = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou")
    val words = for (a <- on; b <- nu; c <- on; d <- nu) yield a + b + c + d
    words.take(2000)
  }
  /** Cumulative Zipf(1.0) weights over [[Vocab]]. */
  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(i => 1.0 / (i + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 0x632BE59BD9B4E019L))

  def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = zipfCdf.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (zipfCdf(m) < u) lo = m + 1 else hi = m }
    Vocab(lo)
  }

  def words(r: SplittableRandom, n: Int): String = Seq.fill(n)(word(r)).mkString(" ")

  /** A long document: paragraphs of sentences, so the recursive
    * chunker's "\n\n", "\n" and ". " separators all fire.
    */
  def longText(r: SplittableRandom, targetChars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < targetChars) {
      val sentences = 2 + r.nextInt(6)
      val para = (0 until sentences).map(_ => words(r, 6 + r.nextInt(18))).mkString(". ") + "."
      if (sb.nonEmpty) sb.append(if (r.nextInt(4) == 0) "\n" else "\n\n")
      sb.append(para)
    }
    sb.toString
  }

  /** ScaleProbe salting of base document `base` for replica `rep`. */
  def salted(base: String, baseId: Int, rep: Int): String =
    if (rep == 0) base
    else base.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 0) w + rep else w }
      .mkString(" ") + s" r$rep $baseId"

  def recount(text: String): Int = RecursiveChunker.chunk(text, ChunkSize, ChunkOverlap).size

  private def textFile(logical: String, ext: String, text: String): GenFile =
    GenFile(logical, ext, text.getBytes(UTF_8), text, recount(text))

  /** Writes `text` in format `ext` with the repository's own writers. */
  def file(logical: String, ext: String, text: String, r: SplittableRandom): GenFile = ext match {
    case "pdf" => GenFile(logical, ext, PdfCodec.write(Seq(text)), text, recount(text))
    case "docx" => GenFile(logical, ext, pinZipTimes(DocxCodec.write(Seq(text))), text, recount(text))
    case "png" | "jpeg" =>
      // small rasters: the extracted caption + OCR lines stay well under
      // one chunk, so every image lands exactly one point
      val w = 16 + 8 * r.nextInt(8); val h = 8 + 8 * r.nextInt(6); val g = r.nextInt(256)
      val bytes = if (ext == "png") ImageCodec.writePng(w, h, g) else ImageCodec.writeJpeg(w, h, g)
      GenFile(logical, ext, bytes, "", 1)
    case _ => textFile(logical, ext, text)
  }

  /** The zip writer stamps each entry with the current time; re-stamp
    * them with a fixed time so a seed always yields the same bytes.
    */
  private def pinZipTimes(zip: Array[Byte]): Array[Byte] = {
    import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
    val in = new ZipInputStream(new java.io.ByteArrayInputStream(zip))
    val bos = new java.io.ByteArrayOutputStream()
    val out = new ZipOutputStream(bos, UTF_8)
    var e = in.getNextEntry
    while (e != null) {
      val pinned = new ZipEntry(e.getName)
      pinned.setTime(0L)
      out.putNextEntry(pinned)
      in.transferTo(out)
      out.closeEntry()
      e = in.getNextEntry
    }
    out.close()
    bos.toByteArray
  }

  /** Format cycle of the small-file corpus (pdf 20 %, docx 20 %, txt
    * 20 %, md 15 %, png 15 %, jpeg 10 %). Formats follow the file index,
    * not the seed, so every seed lands the same format mix.
    */
  private val mixedFormats: Vector[String] = Vector(
    "pdf", "docx", "txt", "md", "png", "pdf", "docx", "txt", "jpeg", "md",
    "pdf", "docx", "txt", "png", "md", "pdf", "docx", "txt", "jpeg", "png")

  /** Base `documents` for the salted small-file corpus: mostly under one
    * chunk, about one in eight long enough for two.
    */
  def baseDocs(seed: Long, n: Int): Vector[String] = {
    val r = rng(seed, 1)
    Vector.fill(n) {
      val len = if (r.nextInt(8) == 0) 180 + r.nextInt(80) else 15 + r.nextInt(110)
      words(r, len)
    }
  }

  /** Small mixed-format files: salted replicas of `baseDocs`. */
  def smallMixed(seed: Long, stream: Long, prefix: String, from: Int, n: Int,
                 base: Vector[String]): Vector[GenFile] = {
    val r = rng(seed, stream)
    (from until from + n).toVector.map { i =>
      val b = i % base.size
      val rep = 1 + i / base.size
      file(f"$prefix-$i%06d", mixedFormats(i % mixedFormats.size), salted(base(b), b, rep), r)
    }
  }

  /** Long txt/md documents of tens of KB. */
  def longDocs(seed: Long, stream: Long, prefix: String, from: Int, n: Int): Vector[GenFile] = {
    val r = rng(seed, stream)
    (from until from + n).toVector.map { i =>
      val ext = if (i % 2 == 0) "txt" else "md"
      textFile(f"$prefix-$i%06d", ext, longText(r, 36000 + r.nextInt(8000)))
    }
  }

  /** Medium text-bearing files (txt 40 %, md/pdf/docx 20 % each) of
    * 220–240 words: two chunks each.
    */
  def mediumDocs(seed: Long, stream: Long, prefix: String, from: Int, n: Int): Vector[GenFile] = {
    val r = rng(seed, stream)
    val formats = Vector("txt", "md", "pdf", "txt", "docx")
    (from until from + n).toVector.map { i =>
      file(f"$prefix-$i%06d", formats(i % formats.size), words(r, 220 + r.nextInt(20)), r)
    }
  }

  // ---- users, ACLs and queries -------------------------------------------

  /** Users by accessible-set tier: share of files each may read. The
    * admin bypasses RLS through its role.
    */
  val Users: Vector[(String, Double)] = Vector(
    "small" -> 0.02, "small" -> 0.03, "small" -> 0.05,
    "medium" -> 0.15, "medium" -> 0.2, "medium" -> 0.25,
    "large" -> 0.6, "large" -> 0.75)
  val AdminUser: Int = Users.size

  private def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
    x = (x ^ (x >>> 33)) * 0xC4CEB9FE1A85EC53L
    x ^ (x >>> 33)
  }

  /** RLS rule, inherited from the file: whether `user` may read the
    * file with this logical name (a changed file keeps its name, so
    * its new version keeps its ACL). Depends on the seed, so ACL sets
    * vary between seeds.
    */
  def canRead(seed: Long, user: Int, logical: String): Boolean =
    user == AdminUser || {
      val h = mix64(seed ^ mix64(user.toLong) ^ logical.hashCode.toLong * 0x9E3779B97F4A7C15L)
      java.lang.Long.remainderUnsigned(h, 10000) < (Users(user)._2 * 10000).toLong
    }

  /** The search mix, as a fixed cycle of 20 slots: user searches (11),
    * admin searches (3), per-document searches (2), similar-chunk lookups
    * (2) and batch-reranker searches (2). Non-admin slots rotate over the
    * small, medium and large ACL tiers; the seed picks the user within the
    * tier and the query text.
    */
  private val kindCycle: Vector[String] = Vector(
    "user", "admin", "user", "by_document", "user", "similar", "user", "batch_rerank",
    "user", "admin", "user", "by_document", "user", "similar", "user", "batch_rerank",
    "user", "admin", "user", "user")
  private val tiers: Vector[Vector[Int]] =
    Vector("small", "medium", "large").map(t => Users.indices.filter(Users(_)._1 == t).toVector)

  def searches(seed: Long, stream: Long, n: Int): Vector[SearchReq] = {
    val r = rng(seed, stream)
    Vector.tabulate(n) { i =>
      val kind = kindCycle(i % kindCycle.size)
      val tier = tiers(i % tiers.size)
      val user = if (kind == "admin") AdminUser else tier(r.nextInt(tier.size))
      SearchReq(kind, user, words(r, 4 + r.nextInt(7)))
    }
  }

  /** Order-sensitive fingerprint of generated files and queries. */
  def fingerprint(files: Seq[GenFile], reqs: Seq[SearchReq]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.foreach { f => md.update(f.name.getBytes(UTF_8)); md.update(f.bytes) }
    reqs.foreach(q => md.update(s"${q.kind}|${q.user}|${q.text}".getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}
