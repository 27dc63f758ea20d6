package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.connector.{CHHttp, StubCHServer}

/** Seeded synthetic connector tables: Int64, Float64, nullable Int32,
  * variable-length String, a low-cardinality String, Array(Float32) and
  * DateTime64, every value a hash of (seed, row). The low-cardinality
  * column is not marked LowCardinality on the stub: its dictionary
  * encoder (`ArrowCodec.encodeDict`) rejects Array and DateTime64
  * columns, so a marked scan of this table fails. */
object ConnectorTables {
  val Sizes: Seq[Long] = Seq(10000L, 100000L, 400000L)
  val Codecs: Seq[String] = Seq("none", "lz4", "zstd")

  def generate(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def h(k: Int) = xxhash64(col("id"), lit(seed), lit(k))
    val words = array(Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
      .map(lit): _*)
    spark.range(n).select(
      col("id"),
      (pmod(h(1), lit(1000000007L)).cast("double") / 997.0).as("f64"),
      when(pmod(h(2), lit(7L)) === 0, lit(null).cast("int"))
        .otherwise(pmod(h(3), lit(2000000L)).cast("int")).as("ni32"),
      substring(concat(sha2(h(4).cast("string"), 256), sha2(h(5).cast("string"), 256)),
        lit(1), (pmod(h(6), lit(60L)) + 4).cast("int")).as("s"),
      element_at(words, (pmod(h(7), lit(8L)) + 1).cast("int")).as("lc"),
      transform(sequence(lit(1), (pmod(h(8), lit(8L)) + 1).cast("int")),
        i => (pmod(xxhash64(col("id"), lit(seed), i), lit(100000L)).cast("float") / 1000.0f)
          .cast("float")).as("arr"),
      timestamp_micros(lit(1704067200000000L) + pmod(h(9), lit(86400000000L * 30))).as("ts"))
  }

  /** Materialized once per set-up; the returned RDD ids are exempt from
    * the between-op sweep. */
  def materialize(df: DataFrame): (DataFrame, Set[Int]) = {
    val m = df.localCheckpoint()
    (m, m.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet)
  }

  /** Order-free (rows, hash sum) of a frame's rows, in one job. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val schema: StructType = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var hs = 0L
      it.foreach { r => n += 1; hs += RowHash.mix(proj(r).hashCode.toLong) }
      Iterator((n, hs))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  def rows(df: DataFrame): Array[InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).collect()
}

/** Insert a seeded table through `graft-ch` into an in-process stub
  * server, scan every column of every row back over `cores` range
  * partitions, drop it. Sizes and codecs cycle; a unit is one full
  * cycle of the nine (size, codec) round trips. */
final class ConnectorRoundtrip(spark: SparkSession, a: Args, ops: Ops, tracer: Tracer)
    extends Workload {
  import ConnectorTables._
  private var server: StubCHServer = _
  private var tables: Seq[(Long, DataFrame, (Long, Long))] = Nil
  private var keep = Set.empty[Int]
  private var seq = 0

  def setup(rep: Int): Unit = {
    if (server != null) server.stop()
    keep.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
    server = new StubCHServer()
    val made = Sizes.map { n =>
      val (df, ids) = materialize(generate(spark, n, a.seed))
      (n, df, fingerprint(df), ids)
    }
    tables = made.map(t => (t._1, t._2, t._3))
    keep = made.flatMap(_._4).toSet
    // first round trips pay class loading: one per codec here
    Codecs.foreach(c => roundtrip(tables(1), c, timed = false))
  }

  /** The JIT is still compiling the codec and transport paths through the
    * first cycles of a fresh JVM: one untimed cycle. */
  override def warmUp(): Unit = cycle(timed = false)

  def unit(u: Int): Unit = cycle(timed = true)

  private def cycle(timed: Boolean): Unit =
    for (t <- tables; c <- Codecs) roundtrip(t, c, timed)

  private def roundtrip(t: (Long, DataFrame, (Long, Long)), codec: String, timed: Boolean): Unit = {
    val (n, src, expected) = t
    seq += 1
    val table = s"bench_${seq}"
    tracer.nextOp()
    val inserted = ops.run(s"insert/$n/$codec", timed) {
      tracer.span("connector.insert", "connector") {
        val w = tracer.span("query.build", "connector") {
          src.write.format("graft-ch").option("url", server.url).option("table", table)
            .option("compression", codec).mode("append")
        }
        tracer.span("query.exec", "operators")(w.save())
      }
    }
    if (inserted.isDefined) {
      var got = (0L, 0L)
      tracer.nextOp()
      ops.run(s"scan/$n/$codec", timed) {
        tracer.span("connector.scan", "connector") {
          val df = tracer.span("query.build", "connector") {
            spark.read.format("graft-ch").option("url", server.url).option("table", table)
              .option("compression", codec).option("partitionColumn", "id")
              .option("lowerBound", "0").option("upperBound", n.toString)
              .option("numPartitions", a.cores.toString).load()
          }
          got = tracer.span("query.exec", "operators")(fingerprint(df))
        }
      }.foreach { _ =>
        if (got != expected)
          ops.wrong(s"scan/$n/$codec", s"scanned (rows, hash) $got, inserted $expected")
      }
    }
    CHHttp.execute(server.url, s"DROP TABLE $table")
    Main.sweep(spark, keep)
  }

  def finish(r: Report): Unit = {
    def p50(prefix: String) = Stats.median(ops.of(prefix))
    val big = Sizes.last
    r.e2e("insert_rows_per_s") = (big / (p50(s"insert/$big/") / 1000.0), "1/s")
    r.e2e("scan_rows_per_s") = (big / (p50(s"scan/$big/") / 1000.0), "1/s")
    r.e2e("insert_p50_ms") = (p50("insert/"), "ms")
    r.e2e("scan_p50_ms") = (p50("scan/"), "ms")
  }

  def close(): Unit = if (server != null) server.stop()
}
