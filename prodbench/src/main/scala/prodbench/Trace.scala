package prodbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.pipeline.{BatchReranker, ContextProvider, EmbeddingProvider}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.util.LongAccumulator

/** One timed region of the traced run. `layer` is the module the span
  * belongs to ("op" for the client operation that encloses the layer
  * calls). Times are System.nanoTime values.
  */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def nanos: Long = end - start
}

/** In-memory span recorder with a per-thread parent stack. Each span
  * also tags the Spark jobs it starts with its layer as job group, so
  * the [[LayerListener]] can attribute engine work to layers.
  */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val (parent, op) = outer.headOption.getOrElse((0L, id))
    val layer = name.takeWhile(_ != '.')
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(layer, name)
    stack.set((id, op) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
      stack.set(outer)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
    }
  }

  def all: Vector[Span] = spans.asScala.toVector.sortBy(_.start)

  /** Self nanos per layer: each span's duration minus its children's. */
  def selfNanos(sel: Vector[Span]): Map[String, Long] = {
    val childNanos = sel.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.nanos).sum }
    sel.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.nanos - childNanos.getOrElse(s.id, 0L)).sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

/** Per-job-group totals of the engine's task metrics. */
final class GroupTotals {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inputRows =
    new AtomicLong(0)
}

/** Benchmark-owned listener: maps every job to the job group its
  * submitting thread carried and sums completed stages' task metrics
  * per group.
  */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val groups = new ConcurrentHashMap[String, GroupTotals]()
  @volatile var enabled = false

  private def totals(g: String) = groups.computeIfAbsent(g, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    totals(g).jobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.remove(e.stageInfo.stageId)
    if (g != null) {
      val t = totals(g)
      val m = e.stageInfo.taskMetrics
      t.stages.incrementAndGet()
      t.tasks.addAndGet(e.stageInfo.numTasks.toLong)
      if (m != null) {
        t.runMs.addAndGet(m.executorRunTime)
        t.cpuNs.addAndGet(m.executorCpuTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        t.inputRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  def sum(f: GroupTotals => AtomicLong, only: String => Boolean = _ => true): Long =
    groups.asScala.collect { case (g, t) if only(g) => f(t).get }.sum
}

/** Call counters for the provider seams, as Spark accumulators so the
  * counts made inside tasks reach the driver.
  */
final class SeamCounters(sc: SparkContext) {
  private def acc(n: String): LongAccumulator = sc.longAccumulator(n)
  val (embedCalls, embedTexts, embedNanos) = (acc("embed_calls"), acc("embed_texts"), acc("embed_nanos"))
  val (contextCalls, contextNanos) = (acc("context_calls"), acc("context_nanos"))
  val (rerankCalls, rerankDocs, rerankNanos) = (acc("rerank_calls"), acc("rerank_docs"), acc("rerank_nanos"))
}

final class CountingEmbedder(inner: EmbeddingProvider, calls: LongAccumulator,
                             texts: LongAccumulator, nanos: LongAccumulator)
    extends EmbeddingProvider {
  def dimension: Int = inner.dimension
  def embed(t: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val out = inner.embed(t)
    nanos.add(System.nanoTime() - t0); calls.add(1); texts.add(t.size.toLong)
    out
  }
}

final class CountingContext(inner: ContextProvider, calls: LongAccumulator, nanos: LongAccumulator)
    extends ContextProvider {
  def contextFor(head: String, chunk: String): String = {
    val t0 = System.nanoTime()
    val out = inner.contextFor(head, chunk)
    nanos.add(System.nanoTime() - t0); calls.add(1)
    out
  }
}

final class CountingReranker(inner: BatchReranker, calls: LongAccumulator,
                             docs: LongAccumulator, nanos: LongAccumulator) extends BatchReranker {
  def rerank(q: String, documents: Seq[String], topN: Int): Seq[(Int, Double)] = {
    val t0 = System.nanoTime()
    val out = inner.rerank(q, documents, topN)
    nanos.add(System.nanoTime() - t0); calls.add(1); docs.add(documents.size.toLong)
    out
  }
}
