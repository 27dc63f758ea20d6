package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.SparkSession

import graft.connector.{ArrowCodec, CHHttp, StubCHServer}

/** Per-layer metrics of a traced run. Every traced run reports the same
  * set: the workload's own ops give the planning, job and byte counters
  * per op; a fixed standalone sweep gives the connector layers (codec,
  * framing, HTTP) and, outside index_lifecycle, a small traced index
  * lifecycle gives the index layer. */
object Layers {
  private def median(n: Int)(body: => Unit): Double =
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    })

  /** A failed op or wrong answer of the index sweep counts against the
    * run's own `ops`, as one of its workload's ops would. */
  def sweep(spark: SparkSession, a: Args, ops: Ops, tracer: Tracer, r: Report,
      indexRan: Boolean): Unit = {
    connector(spark, a, r)
    if (!indexRan) {
      val mini = a.copy(work = s"${a.work}/mini")
      val sweepOps = new Ops(tracer)
      val w = new IndexLifecycle(spark, mini, sweepOps, tracer, IndexLifecycle.Mini, measure = true)
      try {
        w.setup(0)
        tracer.enabled = true
        (0 until IndexLifecycle.Mini.minCycles).foreach(w.unit)
        tracer.enabled = false
        tracer.drain()
        val sub = new Report
        w.finish(sub)
        r.layer ++= sub.layer
      } finally {
        w.close()
        ops.attempted += sweepOps.attempted
        ops.failed += sweepOps.failed
        ops.errors ++= sweepOps.errors.map(e => s"index layer sweep: $e")
      }
    }
  }

  /** Standalone connector layers on the seeded 10k/100k/400k tables. */
  private def connector(spark: SparkSession, a: Args, r: Report): Unit = {
    val tables = ConnectorTables.Sizes.map { n =>
      val df = ConnectorTables.generate(spark, n, a.seed)
      (n, df.schema, ConnectorTables.rows(df))
    }
    val (_, schema, rows0) = tables.head
    (1 to 3).foreach(_ => ArrowCodec.decode(ArrowCodec.encode(schema, rows0.iterator)))
    var rows, encMs, decMs = 0.0
    var big: Array[Byte] = null
    tables.foreach { case (n, sch, rs) =>
      var bytes: Array[Byte] = null
      encMs += median(3) { bytes = ArrowCodec.encode(sch, rs.iterator) }
      decMs += median(3) { ArrowCodec.decode(bytes) }
      rows += n
      big = bytes
    }
    r.layer("arrow.encode_rows_per_s") = (rows / (encMs / 1000), "1/s")
    r.layer("arrow.decode_rows_per_s") = (rows / (decMs / 1000), "1/s")
    val n = ConnectorTables.Sizes.last
    val mb = big.length / 1e6
    r.layer("wire.bytes_per_row_none") = (big.length.toDouble / n, "count")
    Seq("lz4", "zstd").foreach { codec =>
      var framed: Array[Byte] = null
      val c = median(3) {
        val bos = new ByteArrayOutputStream()
        val out = CHHttp.wrapOut(bos, codec)
        out.write(big)
        out.close()
        framed = bos.toByteArray
      }
      val d = median(3)(CHHttp.wrapIn(new ByteArrayInputStream(framed), codec).readAllBytes())
      r.layer(s"$codec.compress_mb_per_s") = (mb / (c / 1000), "MB/s")
      r.layer(s"$codec.decompress_mb_per_s") = (mb / (d / 1000), "MB/s")
      r.layer(s"wire.bytes_per_row_$codec") = (framed.length.toDouble / n, "count")
    }
    // HTTP round trip on pre-encoded bytes: the body is drained, not decoded
    val server = new StubCHServer()
    try {
      var i = 0
      val ins = median(3) {
        i += 1
        CHHttp.insertArrow(server.url, s"INSERT INTO http_$i", out => out.write(big))
      }
      val q = median(3)(CHHttp.queryArrow(server.url, s"SELECT * FROM http_$i").readAllBytes())
      (1 to i).foreach(k => CHHttp.execute(server.url, s"DROP TABLE http_$k"))
      r.layer("http.insert_ms") = (ins, "ms")
      r.layer("http.query_ms") = (q, "ms")
    } finally server.stop()
    // the stub's own share of a 400k round trip: decode the insert body,
    // encode the scan response
    r.layer("stub.server_ms") = (median(3) {
      val (sch, rs) = ArrowCodec.decode(big)
      ArrowCodec.encode(sch, rs.iterator)
    }, "ms")
  }

  /** Per-op counters of the workload's traced ops, and the tracing overhead. */
  def perOp(tracer: Tracer, ops: Ops, r: Report): Unit = {
    val traced = tracer.spans.filter(_.parent < 0).map(_.op).distinct.toSeq
    require(traced.nonEmpty, "the traced run recorded no op")
    val per = traced.map(tracer.opCounters)
    def mean(f: ((Counters, Long)) => Double) = per.map(f).sum / per.size
    def spanMs(name: String) =
      traced.map(op => tracer.spans.iterator.filter(s => s.op == op && s.name == name).map(_.ms).sum)
        .sum / traced.size
    val lay = r.layer
    lay("plan.parse_ms") = (mean(_._1.parseMs), "ms")
    lay("plan.analyze_ms") = (mean(_._1.analyzeMs), "ms")
    lay("plan.optimize_ms") = (mean(_._1.optimizeMs), "ms")
    lay("plan.physical_ms") = (mean(_._1.physicalMs), "ms")
    lay("query.build_ms") = (spanMs("query.build"), "ms")
    lay("query.exec_ms") = (spanMs("query.exec"), "ms")
    lay("spark.jobs") = (mean(_._1.jobs.toDouble), "count")
    lay("spark.stages") = (mean(_._1.stages.toDouble), "count")
    lay("spark.tasks") = (mean(_._1.tasks.toDouble), "count")
    lay("spark.shuffle_read_bytes") = (mean(_._1.shuffleRead.toDouble), "bytes")
    lay("spark.shuffle_write_bytes") = (mean(_._1.shuffleWrite.toDouble), "bytes")
    lay("spark.input_bytes") = (mean(_._1.input.toDouble), "bytes")
    lay("spark.spill_bytes") = (mean(_._1.spill.toDouble), "bytes")
    lay("jvm.gc_ms") = (mean(_._2.toDouble), "ms")
    def geo(t: Boolean) = Stats.geomean(ops.samples.filter(_.traced == t).groupBy(_.kind)
      .values.map(k => Stats.median(k.map(_.ms).toSeq)).toSeq)
    lay("trace.overhead_ms") = (geo(true) - geo(false), "ms")
  }

  /** Index-layer step costs, from the spans of whichever lifecycle ran. */
  def indexSteps(tracer: Tracer, r: Report): Unit = {
    val lay = r.layer
    def stepSpans(name: String) = tracer.spans.filter(_.name == name).toSeq
    Seq("append_bm25", "append_ann", "probe_cold_bm25", "probe_cold_ann",
      "probe_warm_bm25", "probe_warm_ann", "compact").foreach { k =>
      val ss = stepSpans(s"index.$k")
      if (ss.nonEmpty) lay(s"index.${k}_ms") = (Stats.median(ss.map(_.ms)), "ms")
    }
    def jobsOf(prefix: String) = {
      val ss = tracer.spans.filter(_.name.startsWith(prefix)).toSeq
      val ops = ss.map(_.op).distinct
      ops.map(op => tracer.opCounters(op)._1).map(c => (c.jobs.toDouble, c.input.toDouble))
    }
    val ap = jobsOf("index.append_")
    if (ap.nonEmpty) lay("index.jobs_per_append") = (ap.map(_._1).sum / ap.size, "count")
    val cp = jobsOf("index.probe_cold_")
    if (cp.nonEmpty) {
      lay("index.jobs_per_probe") = (cp.map(_._1).sum / cp.size, "count")
      lay("index.input_bytes_per_probe") = (cp.map(_._2).sum / cp.size, "bytes")
    }
  }
}
