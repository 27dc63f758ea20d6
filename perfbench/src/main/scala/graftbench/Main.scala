package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Parsed command line of the benchmark JVM. `work` is a scratch
  * directory the run owns; `fixtures` holds the sql_board tables. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, fixtures: String, cores: Int)

/** Op latencies and failures of one run. An op that throws is counted
  * as attempted and failed, its exception is printed, and it is never
  * timed: an exception path's elapsed time is not an op's cost. */
final class Ops(tracer: Tracer) {
  final case class Sample(kind: String, ms: Double, traced: Boolean)
  val samples = ArrayBuffer.empty[Sample]
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  val kinds = mutable.LinkedHashMap.empty[String, Long]

  /** Time `body`; None if it threw. An untimed op (set-up work) is
    * checked the same way, not sampled. */
  def run(kind: String, timed: Boolean = true)(body: => Unit): Option[Double] = {
    attempted += 1
    kinds(kind) = kinds.getOrElse(kind, 0L) + 1
    val t0 = System.nanoTime()
    try {
      body
      val ms = (System.nanoTime() - t0) / 1e6
      if (timed) samples += Sample(kind, ms, tracer.enabled)
      Some(ms)
    } catch {
      case e: Throwable =>
        fail(kind, e)
        None
    }
  }

  def fail(kind: String, e: Throwable): Unit = {
    failed += 1
    val msg = s"$kind: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    errors += msg
    System.err.println(s"[graftbench] op failed: $msg")
    e.printStackTrace(System.err)
  }

  /** A wrong answer found by a correctness gate: counted as failed. */
  def wrong(kind: String, msg: String): Unit = {
    failed += 1
    errors += s"$kind: wrong answer: $msg"
    System.err.println(s"[graftbench] wrong answer: $kind: $msg")
  }

  def untraced: Seq[Sample] = samples.filterNot(_.traced).toSeq
  /** Untraced latencies of the op kinds starting with `prefix`. */
  def of(prefix: String): Seq[Double] = untraced.filter(_.kind.startsWith(prefix)).map(_.ms)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** Highest percentile that still has at least 10 samples beyond it:
    * (value, percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0, 0)
    else (s(n - 11), 100.0 * (n - 10) / n, 10)
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Heap in use right after a full collection, sampled at the run's
  * checkpoints (outside every timed region). Spark's context cleaner frees
  * shuffle and broadcast state only once a collection has found it
  * unreachable, so collections repeat, a short pause apart, until the
  * heap in use stops shrinking. */
object Heap {
  private var peak = 0.0
  private def usedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  def checkpoint(): Unit = {
    var used, prev = Double.MaxValue
    var rounds = 0
    while (used < prev * 0.99 && rounds < 6 || rounds < 2) {
      prev = used
      System.gc()
      Thread.sleep(200)
      used = usedMb
      rounds += 1
    }
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak
}

/** What a workload hands back besides its op samples: its per-workload
  * report (the metrics named for that workload) and its per-layer metrics. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = ArrayBuffer.empty[String]
}

trait Workload {
  /** One set-up, repeatable: the harness times several and reports the median. */
  def setup(rep: Int): Unit
  /** Untimed work between the set-ups and the timed loop, run once. */
  def warmUp(): Unit = ()
  /** One unit of the timed loop (a pass or a cycle); `unit` counts from 0. */
  def unit(unit: Int): Unit
  /** Correctness gates and derived metrics, outside every timed region. */
  def finish(report: Report): Unit
  /** Drop every scratch artifact. */
  def close(): Unit
  /** Units that must run even past the deadline. */
  def minUnits: Int = 1
}

object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m.getOrElse("fixtures", ""),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(a: Args): SparkSession = {
    val s = graft.Sessions.withGraftConfs(SparkSession.builder()
        .master(s"local[${a.cores}]")
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop cached frames and every non-pinned persisted RDD between ops,
    * blocking, as the repository's board runner does: leaked blocks would
    * otherwise tax whichever op runs next. */
  def sweep(spark: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => graft.llm.SessionMemo.isPinned(r) || keep(r.id))
      .foreach(_.unpersist(true))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a)
    val tracer = new Tracer(spark)
    val ops = new Ops(tracer)
    val report = new Report
    val w: Workload = a.workload match {
      case "sql_board" => new SqlBoard(spark, a, ops, tracer)
      case "connector_roundtrip" => new ConnectorRoundtrip(spark, a, ops, tracer)
      case "index_lifecycle" => new IndexLifecycle(spark, a, ops, tracer, IndexLifecycle.Full, a.trace)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    var code = 0
    try {
      val setups = (0 until 3).map { rep =>
        val t0 = System.nanoTime()
        w.setup(rep)
        (System.nanoTime() - t0) / 1e9
      }
      w.warmUp()
      Heap.checkpoint()
      // a traced run alternates untraced and traced units: the traced minus
      // untraced latency is the tracing overhead of the same work (the
      // traced units run second, on a slightly warmer JVM)
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      val t0 = System.nanoTime()
      var u = 0
      val minUnits = if (a.trace) math.max(2, w.minUnits) else w.minUnits
      while (u < minUnits || System.nanoTime() < deadline) {
        tracer.enabled = a.trace && u % 2 == 1
        w.unit(u)
        u += 1
      }
      tracer.enabled = false
      val loopS = (System.nanoTime() - t0) / 1e9
      Heap.checkpoint()
      tracer.drain()
      w.finish(report)
      if (a.trace) {
        Layers.perOp(tracer, ops, report)
        Layers.sweep(spark, a, ops, tracer, report, a.workload == "index_lifecycle")
        Layers.indexSteps(tracer, report)
        tracer.dump(s"${a.work}/../trace-${a.workload}-${a.seed}.json")
      }
      Heap.checkpoint()
      val e2e = endToEnd(ops, Stats.median(setups))
      Result.write(s"${a.work}/result.json", a, ops, e2e, report, setups, u, loopS)
    } catch {
      case e: Throwable =>
        ops.fail("run", e)
        Result.write(s"${a.work}/result.json", a, ops, Map.empty, report, Nil, 0, 0)
        code = 1
    } finally {
      try w.close() catch { case e: Throwable => System.err.println(s"[graftbench] close: $e") }
      spark.stop()
    }
    // graft's stub server keeps a non-daemon dispatcher: exit explicitly
    System.exit(code)
  }

  /** The workload-agnostic end-to-end metrics every run reports. Op kinds
    * (a query, or an insert or scan at one size and codec) differ in cost
    * by orders of magnitude, so each kind is summarised by its median.
    * `op_geomean_ms` combines the kinds by geometric mean, so every kind
    * weighs the same and a fixed per-op cost shows; `pass_ms` sums them,
    * the time of one pass over every kind, so the costliest kinds (the
    * 400k-row round trips, the slowest queries) weigh the most. */
  def endToEnd(ops: Ops, setupS: Double): Map[String, Double] = {
    val kinds = ops.untraced.groupBy(_.kind).values.toSeq
    require(kinds.nonEmpty, "the timed loop completed no op")
    val ms = kinds.map(k => Stats.median(k.map(_.ms)))
    Map(
      "setup_s" -> setupS,
      "op_geomean_ms" -> Stats.geomean(ms),
      "pass_ms" -> ms.sum,
      "peak_heap_mb" -> Heap.peakMb)
  }
}

object Result {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def str(s: String): String = Json.str(s)
  private def metrics(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")

  def write(path: String, a: Args, ops: Ops, e2e: Map[String, Double], r: Report,
      setups: Seq[Double], units: Int, loopS: Double): Unit = {
    val rt = Runtime.getRuntime
    val json = s"""{"workload": ${str(a.workload)}, "seed": ${a.seed}, "trace": ${a.trace},
      |"attempted": ${ops.attempted}, "failed": ${ops.failed},
      |"errors": ${ops.errors.map(str).mkString("[", ", ", "]")},
      |"e2e": {${e2e.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")}},
      |"report": ${metrics(r.e2e)},
      |"per_layer": ${metrics(r.layer)},
      |"notes": ${r.notes.map(str).mkString("[", ", ", "]")},
      |"setup_reps_s": ${setups.map(num).mkString("[", ", ", "]")},
      |"kinds": {${ops.kinds.map { case (k, v) => s"${str(k)}: $v" }.mkString(", ")}},
      |"units": $units, "loop_s": ${num(loopS)},
      |"env": {"jvm": ${str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))},
      |"cores": ${a.cores}, "max_heap_mb": ${rt.maxMemory / (1024 * 1024)},
      |"spark": ${str(org.apache.spark.SPARK_VERSION)}}}
      |""".stripMargin
    Files.writeString(Paths.get(path), json)
  }
}
