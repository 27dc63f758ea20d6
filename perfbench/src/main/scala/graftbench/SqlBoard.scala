package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The declared query board: each op builds one declared `b_*` row over
  * the seeded fixture tables and consumes its whole result from the
  * row's own plan (a collect, never a `count()` wrapper that Catalyst
  * could prune). A unit of the timed loop is one pass over the board in a
  * fresh seeded order, so every row is measured equally often. */
final class SqlBoard(spark: SparkSession, a: Args, ops: Ops, tracer: Tracer) extends Workload {
  private val board: Seq[String] =
    Files.readAllLines(Paths.get(a.work, "board.txt")).asScala.map(_.trim).filter(_.nonEmpty).toSeq
  private val defs = {
    val all = graft.SparkEntry.allDefs.map(d => d.name -> d).toMap
    val missing = board.filterNot(n => all.get(n).exists(_.oracle.isDefined))
    require(missing.isEmpty, s"board rows without a registered oracle-checked query: ${missing.mkString(", ")}")
    board.map(all)
  }
  private var session: SparkSession = spark
  private val last = mutable.Map.empty[String, (StructType, Array[Row])]
  private val hashes = mutable.Map.empty[String, Long]
  private val rnd = new scala.util.Random(a.seed)

  /** Fresh session, the fixture tables resolved, and the first execution
    * of every board row in it. Every rep does the same work; the first
    * also takes the JVM's code generation and JIT warm-up, which so land
    * here and not in the op latencies. */
  def setup(rep: Int): Unit = {
    session = spark.newSession()
    graft.Tables.all.foreach(t => graft.Tables.t(session, a.fixtures, t).schema)
    defs.foreach(query(_, timed = false))
  }

  def unit(u: Int): Unit = rnd.shuffle(defs).foreach(query(_, timed = true))

  private def query(d: graft.QueryDef, timed: Boolean): Unit = {
    var res: (StructType, Array[Row]) = null
    tracer.nextOp()
    ops.run(d.name, timed) {
      tracer.span(d.name, "harness") {
        val df = tracer.span("query.build", "functions+plans")(d.build(session, a.fixtures))
        val rows = tracer.span("query.exec", "operators")(df.collect())
        res = (df.schema, rows)
      }
    }
    if (res != null) record(d.name, res)
    Main.sweep(session)
  }

  private def record(name: String, res: (StructType, Array[Row])): Unit = {
    val h = res._2.iterator.map(r => RowHash.of(r)).sum
    hashes.get(name) match {
      case Some(prev) if prev != h => ops.wrong(name, "result changed between executions")
      case _ => hashes(name) = h
    }
    last(name) = res
  }

  /** Dump each row's last result for the oracle gate (`scripts/check.py`,
    * run by the launcher once this JVM exits). */
  def finish(r: Report): Unit = {
    val out = s"${a.work}/board_out"
    last.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
    }
    val oracle = defs.filter(d => last.contains(d.name))
      .map(d => Json.str(d.name) + ": " + Json.str(d.oracle.get)).mkString("{", ", ", "}")
    Files.writeString(Paths.get(out, "oracle_sql.json"), oracle)
    val lat = ops.untraced.map(_.ms)
    val (tail, p, beyond) = Stats.tail(lat)
    r.e2e("query_p50_ms") = (Stats.median(lat), "ms")
    r.e2e("query_tail_ms") = (tail, "ms")
    r.notes += f"query_tail_ms is p$p%.1f of ${lat.size} queries ($beyond beyond it)"
    r.e2e("queries_per_s") = (lat.size / (lat.sum / 1000.0), "1/s")
  }

  def close(): Unit = ()
}

/** Order-free hash material for one result row: doubles are rounded to
  * nine decimals, as the oracle gate compares them. */
object RowHash {
  def of(r: Row): Long = {
    var h = 17L
    var i = 0
    while (i < r.length) { h = h * 31 + value(r.get(i)); i += 1 }
    mix(h)
  }
  private def value(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case d: Double => java.lang.Double.hashCode(math.rint(d * 1e9) / 1e9).toLong
    case f: Float => java.lang.Double.hashCode(math.rint(f.toDouble * 1e9) / 1e9).toLong
    case b: Array[Byte] => java.util.Arrays.hashCode(b).toLong
    case s: scala.collection.Seq[_] => s.foldLeft(7L)((h, x) => h * 31 + value(x))
    case m: scala.collection.Map[_, _] => m.iterator.map { case (k, x) => mix(value(k) * 31 + value(x)) }.sum
    case r: Row => of(r)
    case o => o.hashCode.toLong
  }
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
