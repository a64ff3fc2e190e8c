package prodbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.locks.ReentrantReadWriteLock

import graft.BatchSink
import graft.operators.AnnIndex
import graft.pipeline._
import graft.search.SearchService
import graft.sources.TextExtraction
import graft.PipelineSettings
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** A file that is live in the store. */
final case class LiveDoc(docId: Long, file: GenFile, source: String, batch: Long)

/** What one committed increment cost and produced. */
final case class Inc(files: Int, points: Long, bytesIn: Long, textBytes: Long, docsOut: Long,
                     commitMs: Double, searchableMs: Double, traced: Boolean)

/** What a search was asked and what it returned. */
final case class Done(req: SearchReq, acc: Option[Set[Long]], qv: Array[Float],
                      target: Option[LiveDoc], hits: Seq[Hit], rlsIds: Int)

/** The product path, driven only through the engine's public entry
  * points: `binaryFile` scan → `TextExtraction.extract` →
  * `IngestPipeline.run` → `BatchSink.writeBatch` (+ `AnnIndex.addBatch`
  * when the workload keeps the IVF index), deletes through
  * `IngestPipeline.cascadeDelete`, and reads through `SearchService`.
  *
  * The searchable store is the points table. Searches read it as
  * `vec_id` = the source file's doc id, which makes RLS inherited from
  * the file. Adds land as new `batch_id` partitions; a delete rewrites
  * the partitions that hold the deleted docs, under an exclusive lock
  * that searches take shared, because a partition rewrite is not
  * isolated from a concurrent reader.
  */
final class Live(spark: SparkSession, work: String, seed: Long, ivf: Boolean,
                 seams: Option[SeamCounters], tracer: Option[Tracer]) {
  import spark.implicits._

  val storeDir = s"$work/store/points"
  val annDir = s"$work/store/ann"
  private val landing = s"$work/landing"
  val settings: PipelineSettings = PipelineSettings.default
  val K = 10
  val OverFetch = 5

  private val plainEmbedder = new HashProjectionEmbedder(64)
  private val embedder: EmbeddingProvider = seams.fold[EmbeddingProvider](plainEmbedder)(c =>
    new CountingEmbedder(plainEmbedder, c.embedCalls, c.embedTexts, c.embedNanos))
  private val context: ContextProvider = seams.fold[ContextProvider](new HeadlineContextProvider)(c =>
    new CountingContext(new HeadlineContextProvider, c.contextCalls, c.contextNanos))
  private val plainReranker = new PairwiseBatchReranker(new LexicalOverlapReranker)
  private val reranker: BatchReranker = seams.fold[BatchReranker](plainReranker)(c =>
    new CountingReranker(plainReranker, c.rerankCalls, c.rerankDocs, c.rerankNanos))

  private val rw = new ReentrantReadWriteLock()
  private def locked[T](write: Boolean)(body: => T): T = {
    val l = if (write) rw.writeLock() else rw.readLock()
    span("store.wait")(l.lock())
    try body finally l.unlock()
  }

  /** Live documents by doc id; replaced whole after every commit. */
  @volatile var live: Map[Long, LiveDoc] = Map.empty
  private val tracingNow = new ThreadLocal[Boolean] { override def initialValue() = false }

  /** Whether the calling thread's current operation is traced: spans,
    * the layered materializing ingest path and the counting providers.
    */
  def tracing: Boolean = tracingNow.get

  /** Runs one client operation; the traced run alternates traced and
    * untraced operations, so their difference is the tracing overhead.
    */
  def op[T](traced: Boolean, name: String)(body: => T): T = {
    tracingNow.set(traced && tracer.isDefined)
    try span(name)(body) finally tracingNow.set(false)
  }

  def span[T](name: String)(body: => T): T =
    tracer match {
      case Some(t) if tracing => t.span(name)(body)
      case _ => body
    }

  def docIdOf(source: String): Long =
    XxHash64Function.hash(UTF8String.fromString(source), StringType, 42L)

  /** The store's `point_id` → a long chunk key (60 bits of the md5). */
  val chunkKeyCol: Column = conv(substring(col("point_id"), 1, 15), 16, 10).cast("long")
  def chunkKey(docId: Long, chunkIndex: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$docId:$chunkIndex".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  // ---- write side ----------------------------------------------------------

  /** Land files in the batch's own directory (written aside, then
    * renamed into place). Returns the directory.
    */
  def land(batch: Long, files: Seq[GenFile]): String = {
    val dir = new File(f"$landing/b$batch%06d").getAbsoluteFile
    val tmp = new File(f"$landing/.b$batch%06d.tmp").getAbsoluteFile
    tmp.mkdirs()
    files.foreach(f => Files.write(new File(tmp, f.name).toPath, f.bytes))
    Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    dir.getPath
  }

  def sourceOf(dir: String, f: GenFile): String = "file:" + new File(dir, f.name).getPath

  private def points(embedded: DataFrame): DataFrame =
    embedded.select(
      col("point_id"), col("embedding"),
      col("doc_id").as("source_drive_file"), col("source").as("source_title"),
      col("chunk_index").cast("long").as("chunk_index"),
      col("total_chunks").cast("long").as("total_chunks"),
      substring(col("chunk_text"), 1, settings.payloadTextTruncation).as("text"),
      col("chunk_text").as("original_text"), col("context_prefix"), col("detected_languages"))

  /** Extract → chunk → enrich → embed → store write for one landed
    * directory. Returns (points written, extracted text bytes, docs
    * extracted).
    */
  def ingest(dir: String, batch: Long): (Long, Long, Long) = {
    val raw = spark.read.format("binaryFile").load(dir)
    val pointsObs = Observation()
    val (docsOut, textBytes) =
      if (!tracing) {
        val docsObs = Observation()
        val docs = TextExtraction.extract(raw)
          .observe(docsObs, count(lit(1)).as("n"), sum(octet_length(col("text"))).as("b"))
        val pts = IngestPipeline.run(docs, settings, plainEmbedder)
        BatchSink.writeBatch(pts.observe(pointsObs, count(lit(1)).as("n")), batch, storeDir,
          full = batch == 0)
        val m = docsObs.get
        (m("n").asInstanceOf[Long], Option(m("b")).fold(0L)(_.asInstanceOf[Long]))
      } else {
        // each layer's output is materialized before the next layer runs
        val (docs, n, b) = span("sources.extract") {
          val d = TextExtraction.extract(raw).localCheckpoint()
          val r = d.agg(count(lit(1)), coalesce(sum(octet_length(col("text"))), lit(0L))).first()
          (d, r.getLong(0), r.getLong(1))
        }
        val chunks = span("pipeline.chunk") {
          IngestPipeline.recursiveChunkRel(IngestPipeline.ingestFilter(docs, settings),
            settings.chunkSize, settings.chunkOverlap).localCheckpoint()
        }
        val enriched = span("pipeline.enrich") {
          IngestPipeline.enrich(chunks, settings, context).localCheckpoint()
        }
        val embedded = span("pipeline.embed") {
          IngestPipeline.embedStage(enriched, embedder, settings.embedBatchSize).localCheckpoint()
        }
        span("store.write") {
          BatchSink.writeBatch(points(embedded).observe(pointsObs, count(lit(1)).as("n")),
            batch, storeDir, full = batch == 0)
        }
        (n, b)
      }
    if (ivf) span("store.index") {
      val vecs = spark.read.parquet(s"$storeDir/batch_id=$batch")
        .select(chunkKeyCol.as("vec_id"), col("embedding"))
      // coarse quantizer: the 16 lowest-keyed base vectors (chunk keys
      // are md5-derived, so this is a deterministic pseudo-random sample)
      val quantizer = vecs.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      if (batch == 0) AnnIndex.init(vecs, annDir, Some(quantizer))
      else AnnIndex.addBatch(spark, vecs, annDir, batch)
    }
    (pointsObs.get("n").asInstanceOf[Long], textBytes, docsOut)
  }

  /** Cascade-delete docs: rewrite each batch partition that holds any,
    * with the survivors. The generator never empties a partition.
    */
  def delete(docs: Seq[LiveDoc]): Unit = span("store.delete") {
    locked(write = true) {
      docs.groupBy(_.batch).toSeq.sortBy(_._1).foreach { case (b, ds) =>
        val ids = spark.createDataset(ds.map(d => java.lang.Long.valueOf(d.docId)))(Encoders.LONG)
        val part = spark.read.parquet(storeDir).filter(col("batch_id") === b).drop("batch_id")
        val survivors = IngestPipeline.cascadeDelete(part, ids).localCheckpoint()
        BatchSink.writeBatch(survivors, b, storeDir, full = false)
      }
    }
  }

  /** Record a landed batch as live (after its commit). */
  def commitLive(dir: String, batch: Long, files: Seq[GenFile], gone: Seq[LiveDoc]): Seq[LiveDoc] = {
    val added = files.map { f =>
      val src = sourceOf(dir, f)
      LiveDoc(docIdOf(src), f, src, batch)
    }
    live = live -- gone.map(_.docId) ++ added.map(d => d.docId -> d)
    added
  }

  // ---- read side -----------------------------------------------------------

  /** The store as the search service reads it. */
  def view(): DataFrame =
    spark.read.parquet(storeDir).select(
      col("source_drive_file").as("vec_id"), col("embedding"), col("text"),
      col("source_title").as("source_document"), chunkKeyCol.as("chunk_key"))

  def accessible(user: Int): Seq[LiveDoc] =
    live.values.filter(d => Gen.canRead(seed, user, d.file.logical)).toSeq.sortBy(_.docId)

  def roles(user: Int): Seq[String] = if (user == Gen.AdminUser) Seq("Administrator") else Nil

  def queryVec(text: String): Array[Float] = plainEmbedder.embed(Seq(text)).head

  /** Run one search of the mix; `pick` chooses the target document of
    * per-document and similar-chunk searches.
    */
  def search(req: SearchReq, pick: Int): Done = {
    // the caller's accessible-id relation and the query embedding
    val (accDocs, accDf, qv, q) = span("search.prepare") {
      val docs = accessible(req.user)
      val v = queryVec(req.text)
      (docs, docs.map(_.docId).toDF("id"), v, Seq((v, req.text)).toDF("qv", "q_text"))
    }
    val acc = if (req.user == Gen.AdminUser) None else Some(accDocs.map(_.docId).toSet)
    val target = if (accDocs.isEmpty) None else Some(accDocs(math.floorMod(pick, accDocs.size)))
    val hits = locked(write = false) {
      val v = span("store.open")(view())
      val df: DataFrame = req.kind match {
        case "by_document" if target.isDefined =>
          SearchService.searchByDocument(v, accDf, q, lit(target.get.source), k = 5,
            overFetch = OverFetch, docCol = "source_document", roles = roles(req.user))
        case "similar" if target.isDefined =>
          SearchService.findSimilarChunks(SearchService.rlsFilter(v, accDf, roles = roles(req.user)),
            chunkKey(target.get.docId, 0), k = 5, idCol = "chunk_key", docCol = "source_document")
            .withColumn("rerank_score", lit(0.0))
        case "batch_rerank" =>
          SearchService.searchWithBatchReranker(v, accDf, q, req.text,
            if (tracing) reranker else plainReranker, k = K,
            overFetch = OverFetch, roles = roles(req.user))
        case _ =>
          SearchService.search(v, accDf, q, k = K, overFetch = OverFetch, roles = roles(req.user))
      }
      val sel = df.select(col("vec_id"), col("score"), coalesce(col("rerank_score"), lit(0.0)))
      val planned = span("search.plan") { sel.queryExecution.executedPlan; sel }
      span("search.exec") { planned.collect() }
        .map(r => Hit(r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    }
    Done(req, acc, qv, target, hits, accDocs.size)
  }

  /** Brute-force reference for a finished search over the points `pts`. */
  def reference(d: Done, pts: Seq[Pt]): Seq[Hit] = d.req.kind match {
    case "by_document" if d.target.isDefined =>
      Check.search(pts, d.acc, d.qv, d.req.text, 5, OverFetch, Some(d.target.get.source))
    case "similar" if d.target.isDefined =>
      Check.similar(pts, d.acc, chunkKey(d.target.get.docId, 0), 5)
    case "batch_rerank" => Check.batchRerank(pts, d.acc, d.qv, d.req.text, K, OverFetch)
    case _ => Check.search(pts, d.acc, d.qv, d.req.text, K, OverFetch)
  }

  /** Search-by-document probe for `doc` as a user who may read it (or
    * as the admin, who sees every stored row).
    */
  def probe(doc: LiveDoc, text: String, asAdmin: Boolean = false): Seq[Hit] = {
    val user = (0 until Gen.Users.size).find(u => !asAdmin && Gen.canRead(seed, u, doc.file.logical))
      .getOrElse(Gen.AdminUser)
    val accDf = accessible(user).map(_.docId).toDF("id")
    val q = Seq((queryVec(text), text)).toDF("qv", "q_text")
    locked(write = false) {
      SearchService.searchByDocument(view(), accDf, q, lit(doc.source), k = 5,
        overFetch = OverFetch, docCol = "source_document", roles = roles(user))
        .select(col("vec_id"), col("score"), col("rerank_score")).collect()
        .map(r => Hit(r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    }
  }

  /** Every stored point, for the brute-force references. */
  def allPoints(): Seq[Pt] =
    view().collect().map { r =>
      Pt(r.getLong(0), r.getLong(4), r.getSeq[Float](1).toArray, r.getString(2), r.getString(3))
    }.toSeq

  /** Stored points per doc id. */
  def pointCounts(): Map[Long, Long] =
    spark.read.parquet(storeDir).groupBy("source_drive_file").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** (files, bytes) on disk under the store (points table + IVF index). */
  def storeFootprint(): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = Seq(storeDir, annDir).flatMap(p => walk(new File(p)))
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.size.toLong, files.map(_.length).sum)
  }
}
