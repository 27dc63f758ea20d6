package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBenchSql, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Counters charged to one span: the Spark work its jobs caused, plus the
  * planning phases of the queries those jobs executed. */
final class Counters {
  var jobs, stages, tasks = 0L
  var shuffleRead, shuffleWrite, input, spill = 0L
  var parseMs, analyzeMs, optimizeMs, physicalMs = 0.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    input += o.input; spill += o.spill
    parseMs += o.parseMs; analyzeMs += o.analyzeMs; optimizeMs += o.optimizeMs; physicalMs += o.physicalMs
  }
}

/** One traced call: `layer` is the repository module the call enters. */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
    val op: Long, val start: Long) {
  var end = 0L
  var gcMs = 0L
  val c = new Counters
  def ms: Double = (end - start) / 1e6
}

/** Span recorder. Disabled, `span` is a plain call. Enabled, every span
  * sets a job group (and a local property the listener keys on), so the
  * registered listener charges jobs, stages, tasks and bytes to the span
  * whose call caused them. Spans stay in memory until [[dump]]. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val Key = "graftbench.span"
  val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private var stack: List[Span] = Nil
  private var op = 0L
  var enabled = false

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Key))).map(_.toInt).flatMap(i => Option(byId.get(i)))
        .foreach { s =>
          s.c.jobs += 1
          s.c.stages += e.stageInfos.size
          s.c.tasks += e.stageInfos.map(_.numTasks.toLong).sum
          e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .foreach(x => execSpan.putIfAbsent(x.toLong, s))
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).zip(Option(e.taskMetrics)).foreach { case (s, m) =>
        s.c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.c.input += m.inputMetrics.bytesRead
        s.c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    // planning phases of a finished query, charged to the span whose job ran it
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(execSpan.get(end.executionId)).zip(GraftBenchSql.queryExecution(end)).foreach {
          case (s, qe) =>
            val ph = qe.tracker.phases
            def p(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
            s.c.parseMs += p("parsing"); s.c.analyzeMs += p("analysis"); s.c.optimizeMs += p("optimization")
            s.c.physicalMs += p("planning")
        }
      case _ =>
    }
  })

  def nextOp(): Unit = op += 1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name, layer, op, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setJobGroup(s"graftbench-${s.id}", name, interruptOnCancel = false)
      sc.setLocalProperty(Key, s.id.toString)
      val gc0 = gcMillis
      try body
      finally {
        s.end = System.nanoTime()
        s.gcMs = gcMillis - gc0
        stack = stack.tail
        parent match {
          case Some(p) =>
            sc.setJobGroup(s"graftbench-${p.id}", p.name, interruptOnCancel = false)
            sc.setLocalProperty(Key, p.id.toString)
          case None =>
            sc.clearJobGroup()
            sc.setLocalProperty(Key, null)
        }
      }
    }

  /** Wait for every posted listener event, so counters are complete. */
  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(sc)

  /** Self time: the span's duration minus the part its children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  /** Counters summed over every span of `op`. */
  def opCounters(op: Long): (Counters, Long) = {
    val c = new Counters
    var gc = 0L
    spans.iterator.filter(_.op == op).foreach { s =>
      c.add(s.c)
      if (s.parent < 0 || byId.get(s.parent).op != op) gc += s.gcMs
    }
    (c, gc)
  }

  def dump(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    spans.iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end},""" +
        f""""self_ms":${selfMs(s)}%.3f,"jobs":${s.c.jobs},"stages":${s.c.stages},""" +
        f""""tasks":${s.c.tasks},"shuffle_read_bytes":${s.c.shuffleRead},""" +
        f""""shuffle_write_bytes":${s.c.shuffleWrite},"input_bytes":${s.c.input},""" +
        f""""spill_bytes":${s.c.spill},"gc_ms":${s.gcMs}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
