package pbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's measurement side, kept outside the program: wall-clock
  * samples (always on), and — only in a traced run — spans around each
  * call into a layer plus Spark listeners that attribute jobs, tasks,
  * shuffle and spill to the layer named by the enclosing span.
  *
  * Attribution rides on a thread-local Spark property (`pbench.layer`):
  * jobs inherit the property of the thread that submits them, so a job
  * started inside `span("gold", ...)` is counted to gold even when the
  * call runs on a streaming thread.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  import Probe._

  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  /** Counters and task attribution only accumulate while this is set. */
  @volatile var measuring = false

  def record(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder()).add(v)

  def values(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  def count(name: String): Long = Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  /** Forget everything recorded so far: called when the window opens. */
  def clear(): Unit = { samples.clear(); counters.clear(); spans.clear() }

  // ------------------------------------------------------------ spans

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val parent = new ThreadLocal[java.lang.Long]()

  /** Time `body`, record the wall ms under `sample` (when non-empty), and
    * in a traced run also record a span of `layer` whose parent is the
    * enclosing span on this thread; spans of one input batch share `batch`.
    */
  def timed[T](layer: String, name: String, sample: String = "", batch: String = "")(
      body: => T): T = {
    val t0 = System.nanoTime()
    if (!tracing) {
      val r = body
      if (sample.nonEmpty) record(sample, (System.nanoTime() - t0) / 1e6)
      return r
    }
    val id = ids.incrementAndGet()
    val up = Option(parent.get()).map(_.longValue).getOrElse(0L)
    val sc = spark.sparkContext
    val prevLayer = sc.getLocalProperty(LayerKey)
    parent.set(id)
    sc.setLocalProperty(LayerKey, layer)
    try body
    finally {
      val t1 = System.nanoTime()
      if (sample.nonEmpty) record(sample, (t1 - t0) / 1e6)
      spans.add(Span(id, up, batch, layer, name, t0, t1))
      parent.set(if (up == 0L) null else up)
      sc.setLocalProperty(LayerKey, prevLayer)
    }
  }

  /** A span observed after the fact (a streaming micro-batch). */
  def addSpan(layer: String, name: String, batch: String, t0: Long, t1: Long): Unit =
    if (tracing) spans.add(Span(ids.incrementAndGet(), 0L, batch, layer, name, t0, t1))

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Per-layer self time (ms): a span's duration minus the part of it its
    * child spans cover; children are matched by parent id, or — for
    * after-the-fact spans — by batch id and interval containment.
    */
  def selfTimeMs: Map[String, Double] = {
    val all = allSpans
    val byParent = all.filter(_.parent != 0L).groupBy(_.parent)
    val byBatch = all.filter(s => s.batch.nonEmpty && s.parent == 0L).groupBy(_.batch)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil) ++
          byBatch.getOrElse(s.batch, Nil).filter(k => k.id != s.id &&
            k.layer != s.layer && k.t0 >= s.t0 && k.t1 <= s.t1 && s.batch.nonEmpty)
        (s.t1 - s.t0 - covered(kids.map(k => (k.t0, k.t1)), s.t0, s.t1)) / 1e6
      }.sum
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.t0).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"batch":"${s.batch}","layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.t0},"end_ns":${s.t1}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  // ------------------------------------------------------------ listeners

  /** Job intervals (ns, driver clock) of jobs started while measuring. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStartNs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (measuring) {
      val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey)))
        .getOrElse("other")
      add(s"$layer.jobs", 1)
      add(s"$layer.stages", e.stageIds.size.toLong)
      e.stageIds.foreach(stageLayer.put(_, layer))
      jobStartNs.put(e.jobId, System.nanoTime())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartNs.remove(e.jobId)).foreach(t0 =>
        jobIntervals.add((t0.longValue, System.nanoTime())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (measuring) {
      val m = e.taskMetrics
      if (m != null) {
        val layer = Option(stageLayer.get(e.stageId)).getOrElse("other")
        add(s"$layer.task_ms", m.executorRunTime)
        add(s"$layer.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(s"$layer.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("spark.executor_cpu_ns", m.executorCpuTime)
      }
    }
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (measuring) qe.executedPlan.foreach {
        case w: DataWritingCommandExec =>
          val m = w.cmd.metrics
          m.get("numFiles").foreach(x => add("catalog.files_written", x.value))
          m.get("numOutputBytes").foreach(x => add("catalog.bytes_written", x.value))
        case _ =>
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (tracing) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(writeListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PbenchBus.drain(spark.sparkContext)
}

object Probe {
  val LayerKey = "pbench.layer"

  final case class Span(id: Long, parent: Long, batch: String, layer: String,
      name: String, t0: Long, t1: Long)

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Linear-interpolated quantile (q in [0, 1]) of `xs`; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
