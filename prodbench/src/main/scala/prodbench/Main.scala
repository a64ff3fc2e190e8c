package prodbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shape of one workload: what set-up lands, what each increment lands,
  * which deletes ride along, and whether commits also maintain the IVF
  * index.
  */
final case class Shape(name: String, base: (Long, String) => Vector[GenFile],
                       increment: (Long, String, Int) => Vector[GenFile],
                       changesPerInc: Int, deletesPerInc: Int, ivf: Boolean)

object Shapes {
  private val smallBase = (seed: Long) => Gen.baseDocs(seed, 500)

  val all: Map[String, Shape] = Seq(
    // many small mixed-format files plus one long text per increment,
    // committed to the points table only, so extract and the pipeline
    // layers carry the commit
    Shape("ingest_mixed",
      (seed, p) => Gen.smallMixed(seed, 10, p, 0, 200, smallBase(seed)) ++
        Gen.longDocs(seed, 11, p + "-long", 0, 4),
      (seed, p, n) => Gen.smallMixed(seed, 1000 + n, p, 200 + 24 * n, 24, smallBase(seed)) ++
        Gen.longDocs(seed, 2000 + n, p + "-long", 4 + n, 1),
      0, 0, ivf = false),
    // each increment adds, changes and deletes files; commits also keep
    // the IVF index in step
    Shape("update_while_search",
      (seed, p) => Gen.mediumDocs(seed, 10, p, 0, 400),
      (seed, p, n) => Gen.mediumDocs(seed, 1000 + n, p, 400 + 6 * n, 6),
      2, 2, ivf = true)
  ).map(s => s.name -> s).toMap
}

final case class SearchSample(kind: String, ms: Double, traced: Boolean, rlsIds: Int)

/** Raw samples of one run; run.py turns them into metrics. */
final class Samples {
  val incs = new ConcurrentLinkedQueue[Inc]()
  val searches = new ConcurrentLinkedQueue[SearchSample]()
  val failures = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong(0)
  def fail(msg: String): Unit = { failures.add(msg); System.err.println(s"[prodbench] FAILED: $msg") }
}

/** Benchmark driver. Usage:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <json>
  * Main --fingerprint --workload <name> --seed <n>
  * Main --selftest --work <dir>
  * }}}
  */
object Main {
  val SetupReps = 5
  val WarmIncrements = 1
  val WarmSearches = 4
  val CheckSearches = 6

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    if (flags("fingerprint")) {
      val shape = Shapes.all(opts("workload"))
      val seed = opts("seed").toLong
      val files = shape.base(seed, "base") ++ (0 until 3).flatMap(n => shape.increment(seed, "inc", n))
      println(Gen.fingerprint(files, Gen.searches(seed, 7, 64)))
    } else if (flags("selftest")) {
      sys.exit(SelfTest.run())
    } else {
      val ok = run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
        opts.get("trace").contains("1"), opts("work"), opts("out"))
      sys.exit(if (ok) 0 else 1)
    }
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = graft.GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Lands, ingests and commits one increment, then searches until its
    * points come back. Changed files keep their logical name; the old
    * version is cascade-deleted with the deleted files.
    */
  def increment(live: Live, shape: Shape, seed: Long, prefix: String, n: Int, batch: Long,
                samples: Samples, record: Boolean, traced: Boolean = false): Unit = {
    val r = Gen.rng(seed, 5000 + n + (if (prefix == "w") 100000 else 0))
    // the warm-up corpus is a separate stream of the generator
    val added = shape.increment(seed, prefix, if (prefix == "w") 100000 + n else n)
    // victims: changes and deletes all hit the oldest increment batch that
    // keeps at least one live doc after them, so every increment rewrites
    // exactly one partition (the base batch is never rewritten)
    val want = shape.changesPerInc + shape.deletesPerInc
    val victims = live.live.values.filter(_.batch > 0).groupBy(_.batch).toSeq.sortBy(_._1)
      .collectFirst { case (_, ds) if ds.size > want => ds.toVector.sortBy(_.docId) }
      .fold(Vector.empty[LiveDoc]) { ds =>
        Vector.iterate(r.nextInt(ds.size), want)(i => (i + 1) % ds.size).map(ds)
      }
    val (changed, deleted) = victims.splitAt(shape.changesPerInc)
    val changedFiles = changed.toVector.map { d =>
      Gen.file(d.file.logical, d.file.ext, Gen.words(r, 220 + r.nextInt(20)), r)
    }
    val files = added ++ changedFiles
    val (probeDoc, hits) = live.op(traced, "op.increment") {
      val dir = live.span("client.land")(live.land(batch, files))
      val tLand = System.nanoTime()
      val (points, textBytes, docsOut) = live.ingest(dir, batch)
      if (victims.nonEmpty) live.delete(victims)
      val landedDocs = live.commitLive(dir, batch, files, victims.toSeq)
      val commitMs = ms(tLand)
      val probeDoc = landedDocs.find(_.file.text.nonEmpty).getOrElse(landedDocs.head)
      val probeText = Option(probeDoc.file.text).filter(_.nonEmpty)
        .map(_.split("\\s+").take(8).mkString(" ")).getOrElse("image")
      var hits = live.span("search.probe")(live.probe(probeDoc, probeText))
      var polls = 1
      while (!hits.exists(_.docId == probeDoc.docId) && polls < 20) {
        hits = live.span("search.probe")(live.probe(probeDoc, probeText)); polls += 1
      }
      val searchableMs = ms(tLand)
      if (record) {
        samples.attempted.incrementAndGet()
        samples.incs.add(Inc(files.size, points, files.map(_.bytes.length.toLong).sum, textBytes,
          docsOut, commitMs, searchableMs, traced))
      }
      (probeDoc, hits)
    }
    val deletedHits = deleted.headOption.toSeq.flatMap(d => live.probe(d, "probe", asAdmin = true))
    Check.visibility(probeDoc.docId, hits, deletedHits).foreach(m => samples.fail(s"update: $m"))
  }

  /** Runs one search, recording its latency and the RLS check. */
  def oneSearch(live: Live, req: SearchReq, i: Int, samples: Samples, record: Boolean,
                traced: Boolean = false): Unit = {
    val t0 = System.nanoTime()
    val d = live.op(traced, "op.search")(live.search(req, i))
    val el = ms(t0)
    if (record) {
      samples.attempted.incrementAndGet()
      samples.searches.add(SearchSample(req.kind, el, traced, d.rlsIds))
    }
    d.acc.foreach(a => Check.rls(req.user, d.hits, a).foreach(m => samples.fail(s"search: $m")))
  }

  def setup(spark: SparkSession, work: String, shape: Shape, seed: Long,
            seams: Option[SeamCounters], tracer: Option[Tracer]): Live = {
    rmrf(new File(work))
    new File(work).mkdirs()
    val live = new Live(spark, work, seed, shape.ivf, seams, tracer)
    val files = shape.base(seed, "base")
    val dir = live.land(0, files)
    live.ingest(dir, 0)
    live.commitLive(dir, 0, files, Nil)
    live
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
          work: String, out: String): Boolean = {
    val shape = Shapes.all(workload)
    val t00 = System.nanoTime()
    new File(work).mkdirs()
    val spark = session(work)
    val jvmStartMs = ms(t00)
    val listener = new LayerListener
    val seams = if (traced) Some(new SeamCounters(spark.sparkContext)) else None
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    if (traced) spark.sparkContext.addSparkListener(listener)
    val storeWork = s"$work/run"

    // set-up: from an empty working directory, several times; the last one is kept
    var kept: Live = null
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      kept = setup(spark, storeWork, shape, seed, seams, tracer)
      ms(t0) / 1000.0
    }
    val live = kept
    val samples = new Samples
    // the set-up collection's footprint: fixed by the seed, not by how
    // many increments the window happens to commit
    val (_, baseStoreBytes) = live.storeFootprint()
    val baseTextBytes = live.live.values.map(_.file.text.getBytes("UTF-8").length.toLong).sum

    // warm-up on a separate corpus stream, so JIT and codegen stay out of the window
    val warmStart = System.nanoTime()
    var batch = 1L
    (0 until WarmIncrements).foreach { n =>
      increment(live, shape, seed, "w", n, batch, samples, record = false); batch += 1
    }
    val warmReqs = Gen.searches(seed, 900, WarmSearches)
    warmReqs.zipWithIndex.foreach { case (q, i) => oneSearch(live, q, i, samples, record = false) }

    // timed window: one writer, one searcher; a traced run traces every
    // other operation of each
    val reqs = Gen.searches(seed, 7, 10000)
    var incN = 0
    var searchN = 0
    var searchWindowS = 0.0
    val warmS = ms(warmStart) / 1000.0
    listener.enabled = traced
    val windowStart = System.nanoTime()
    val deadline = windowStart + (seconds * 1e9).toLong
    val writer = new Thread(() => {
      while (System.nanoTime() < deadline) {
        try increment(live, shape, seed, "inc", incN, batch, samples, record = true,
          traced = traced && incN % 2 == 1)
        catch { case e: Exception => samples.attempted.incrementAndGet(); samples.fail(s"increment $incN: $e") }
        incN += 1; batch += 1
      }
    }, "prodbench-writer")
    val searcher = new Thread(() => {
      while (System.nanoTime() < deadline) {
        try oneSearch(live, reqs(searchN), searchN, samples, record = true,
          traced = traced && searchN % 2 == 1)
        catch { case e: Exception => samples.attempted.incrementAndGet(); samples.fail(s"search $searchN: $e") }
        searchN += 1
      }
      searchWindowS = ms(windowStart) / 1000.0
    }, "prodbench-searcher")
    writer.start(); searcher.start()
    writer.join(); searcher.join()
    val windowS = ms(windowStart) / 1000.0
    listener.enabled = false

    // correctness, outside the timed window, on the quiesced store
    val checkStart = System.nanoTime()
    val stored = live.pointCounts()
    val liveDocs = live.live
    samples.attempted.incrementAndGet()
    Check.pointCounts(liveDocs.map { case (id, d) => id -> d.file.expectedPoints }, stored, Set.empty)
      .foreach(m => samples.fail(s"ingest: $m"))
    val pts = live.allPoints()
    val byDoc = pts.groupBy(_.docId)
    Gen.searches(seed, 33, CheckSearches).zipWithIndex.foreach { case (q, i) =>
      samples.attempted.incrementAndGet()
      val d = live.search(q, 7919 * i)
      val ref = live.reference(d, pts)
      val against = if (q.kind == "similar") d.target.flatMap(t =>
        pts.find(_.chunkKey == live.chunkKey(t.docId, 0))).map(_.emb).getOrElse(d.qv) else d.qv
      def valid(h: Hit) = byDoc.getOrElse(h.docId, Nil).exists(p =>
        math.abs(Check.rankedCosine(p.emb, against) - h.score) <= Check.Tol)
      Check.sameRanking(ref, d.hits, valid).foreach(m => samples.fail(s"search ${q.kind}: $m"))
    }
    val checkS = ms(checkStart) / 1000.0
    val (storeFiles, storeBytes) = live.storeFootprint()

    val layers = tracer.map(t => layerMetrics(t, listener, seams, live, samples,
      storeFiles, storeBytes)).getOrElse(Map.empty)
    tracer.foreach(_.write(s"$work/trace-spans.jsonl"))

    val j = new StringBuilder("{")
    def num(k: String, v: Double): Unit = j.append(s""""$k":${fmt(v)},""")
    def arr(k: String, vs: Iterable[Double]): Unit = j.append(s""""$k":[${vs.map(fmt).mkString(",")}],""")
    arr("setup_s", setupS)
    num("jvm_start_s", jvmStartMs / 1000.0)
    num("window_s", windowS)
    num("warmup_s", warmS)
    num("check_s", checkS)
    val incs = samples.incs.asScala.toVector
    val untracedIncs = incs.filterNot(_.traced)
    arr("inc_files", untracedIncs.map(_.files.toDouble))
    arr("inc_points", untracedIncs.map(_.points.toDouble))
    arr("inc_searchable_ms", untracedIncs.map(_.searchableMs))
    arr("inc_commit_ms", untracedIncs.map(_.commitMs))
    val ss = samples.searches.asScala.toVector.filterNot(_.traced)
    arr("search_ms", ss.map(_.ms))
    j.append(s""""search_kinds":[${ss.map(s => "\"" + s.kind + "\"").mkString(",")}],""")
    num("search_window_s", searchWindowS)
    num("store_bytes", baseStoreBytes.toDouble)
    num("text_bytes", baseTextBytes.toDouble)
    num("attempted", samples.attempted.get.toDouble)
    num("failed", samples.failures.size.toDouble)
    j.append(s""""failures":[${samples.failures.asScala.take(20).map(m => "\"" + esc(m) + "\"").mkString(",")}],""")
    j.append(s""""layers":{${layers.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")}}""")
    tracer.foreach { t =>
      j.append(s""","dominant_layer":{"writer":"${dominant(t, "op.increment")}",""" +
        s""""searcher":"${dominant(t, "op.search")}"}""")
    }
    j.append("}")
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(j.toString) finally w.close()
    spark.stop()
    samples.failures.isEmpty
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ")
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def seamValues(seams: Option[SeamCounters]): Map[String, Long] = seams.fold(Map.empty[String, Long]) { c =>
    Map("embed_calls" -> c.embedCalls.value, "embed_texts" -> c.embedTexts.value,
      "embed_nanos" -> c.embedNanos.value, "context_calls" -> c.contextCalls.value,
      "context_nanos" -> c.contextNanos.value, "rerank_calls" -> c.rerankCalls.value,
      "rerank_docs" -> c.rerankDocs.value, "rerank_nanos" -> c.rerankNanos.value)
  }

  val Layers: Seq[String] = Seq("client", "sources", "pipeline", "store", "search")

  /** The layer with the most self time in one client's operations. */
  private def dominant(t: Tracer, opName: String): String = {
    val all = t.all
    val ops = all.filter(s => s.parent == 0 && s.name == opName).map(_.id).toSet
    val self = t.selfNanos(all.filter(s => ops(s.op)))
    Layers.filter(_ != "client").maxBy(l => self.getOrElse(l, 0L))
  }

  /** Per-layer metrics over the window's traced operations. Times are
    * per operation (per increment for sources/pipeline/store, per search
    * for search); counts and self times are totals over traced operations.
    */
  def layerMetrics(t: Tracer, l: LayerListener, seams: Option[SeamCounters], live: Live,
                   samples: Samples, storeFiles: Long, storeBytes: Long): Map[String, Double] = {
    val spans = t.all
    val incs = samples.incs.asScala.toVector
    val tIncs = incs.filter(_.traced)
    val uIncs = incs.filterNot(_.traced)
    val tSearch = samples.searches.asScala.toVector.filter(_.traced)
    val uSearch = samples.searches.asScala.toVector.filterNot(_.traced)
    val nInc = math.max(1, tIncs.size).toDouble
    val nSearch = math.max(1, tSearch.size).toDouble
    def spanS(name: String) = spans.filter(_.name == name).map(_.nanos).sum / 1e9
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val seam = seamValues(seams).map { case (k, v) => k -> v.toDouble }
    val self = t.selfNanos(spans).map { case (k, v) => k -> v / 1e9 }
    val opSpans = spans.filter(_.parent == 0)
    val opNanos = opSpans.map(_.nanos).sum.toDouble
    val attributed = opSpans.map(_.nanos).sum - self.getOrElse("op", 0.0) * 1e9
    val incOps = opSpans.filter(_.name == "op.increment").map(_.id).toSet
    val commitMs = spans.filter(s => s.name.startsWith("store.") && incOps(s.op) && s.parent == s.op)
      .groupBy(_.op)
      .values.map(_.map(_.nanos).sum / 1e6).toVector.sorted
    val searchG = (g: String) => g == "search"
    val all = (g: String) => g != "untagged"
    Map(
      "sources.extract_s" -> spanS("sources.extract") / nInc,
      "sources.files_in" -> tIncs.map(_.files).sum.toDouble,
      "sources.bytes_in" -> tIncs.map(_.bytesIn).sum.toDouble,
      "sources.text_bytes_out" -> tIncs.map(_.textBytes).sum.toDouble,
      "sources.dropped_files" -> tIncs.map(i => i.files - i.docsOut).sum.toDouble,
      "pipeline.chunk_s" -> spanS("pipeline.chunk") / nInc,
      "pipeline.chunks_out" -> tIncs.map(_.points).sum.toDouble,
      "pipeline.enrich_s" -> spanS("pipeline.enrich") / nInc,
      "pipeline.context_calls" -> seam.getOrElse("context_calls", 0.0),
      "pipeline.context_s" -> seam.getOrElse("context_nanos", 0.0) / 1e9,
      "pipeline.embed_s" -> spanS("pipeline.embed") / nInc,
      "pipeline.embed_calls" -> seam.getOrElse("embed_calls", 0.0),
      "pipeline.embed_texts" -> seam.getOrElse("embed_texts", 0.0),
      "pipeline.embed_provider_s" -> seam.getOrElse("embed_nanos", 0.0) / 1e9,
      "pipeline.embed_batch_fill" -> seam.getOrElse("embed_texts", 0.0) /
        math.max(1.0, seam.getOrElse("embed_calls", 0.0) * live.settings.embedBatchSize),
      "store.write_s" -> (spanS("store.write") + spanS("store.index") + spanS("store.delete")) / nInc,
      "store.commits" -> tIncs.size.toDouble,
      "store.files" -> storeFiles.toDouble,
      "store.bytes" -> storeBytes.toDouble,
      "store.commit_p50_ms" -> (if (commitMs.isEmpty) 0.0 else commitMs(commitMs.size / 2)),
      "search.plan_ms" -> spanS("search.plan") * 1000 / nSearch,
      "search.exec_ms" -> spanS("search.exec") * 1000 / nSearch,
      "search.input_rows" -> l.sum(_.inputRows, searchG) / nSearch,
      "search.rls_ids" -> mean(tSearch.map(_.rlsIds.toDouble)),
      "search.candidates" -> seam.getOrElse("rerank_docs", 0.0) / math.max(1.0, seam.getOrElse("rerank_calls", 0.0)),
      "search.rerank_s" -> seam.getOrElse("rerank_nanos", 0.0) / 1e9,
      "spark.jobs" -> l.sum(_.jobs, all).toDouble,
      "spark.stages" -> l.sum(_.stages, all).toDouble,
      "spark.tasks" -> l.sum(_.tasks, all).toDouble,
      "spark.jobs_per_search" -> l.sum(_.jobs, searchG) / nSearch,
      "spark.executor_run_s" -> l.sum(_.runMs, all) / 1e3,
      "spark.executor_cpu_s" -> l.sum(_.cpuNs, all) / 1e9,
      "spark.gc_s" -> l.sum(_.gcMs, all) / 1e3,
      "spark.shuffle_write_bytes" -> l.sum(_.shuffleWrite, all).toDouble,
      "spark.shuffle_read_bytes" -> l.sum(_.shuffleRead, all).toDouble,
      "spark.spill_bytes" -> l.sum(_.spill, all).toDouble,
      "spark.input_rows" -> l.sum(_.inputRows, all).toDouble,
      "jvm.peak_heap_mb" -> java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "client.self_s" -> self.getOrElse("client", 0.0),
      "sources.self_s" -> self.getOrElse("sources", 0.0),
      "pipeline.self_s" -> self.getOrElse("pipeline", 0.0),
      "store.self_s" -> self.getOrElse("store", 0.0),
      "search.self_s" -> self.getOrElse("search", 0.0),
      "op.self_s" -> self.getOrElse("op", 0.0),
      "trace.attributed_share" -> (if (opNanos > 0) attributed / opNanos else 0.0),
      "trace.increment_overhead_ms" -> (mean(tIncs.map(_.searchableMs)) - mean(uIncs.map(_.searchableMs))),
      "trace.search_overhead_ms" -> (mean(tSearch.map(_.ms)) - mean(uSearch.map(_.ms)))
    )
  }
}
